"""Forced-path oracle lane for the size-adaptive forks.

Every fork picks its small or scale branch through ``io.fits``, and the
sf0.001-sf0.1 fixtures only ever take the small side. Each case fakes
``io.fits`` to return False, which puts every fork on its scale branch,
runs one catalog entry on sf0.001 and compares the result with the
entry's DuckDB oracle. A ``fits("<site>"`` added to the package without a
case here fails :func:`test_every_fork_has_a_forced_case`.

    python -m pytest tests/test_size_forks.py -q
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import __spark_entry__ as entrymod
from check import compare, duck_connect
from nba_data_pipeline_spark import io
from nba_data_pipeline_spark.cachectl import bounded_plan_cache
from tests.conftest import SF_DIR

#: entry -> the ``io.fits`` sites its forced run reaches. Single-row
#: entries are left out (a29/a37/a41 share a36's and ta_weighted_sample's
#: forks): a one-row oracle says too little about a branch.
CASES: dict[str, set[str]] = {
    "a32_weighted_median": {"a32.window"},
    "a36_abc_classification": {"total_order.hint", "total_order.underflow"},
    "a43_rfm_segmentation": {"multi_ntile.hint"},
    "d11_survivor_selection": {"dedup.shingle_cache"},
    "d5_cc_clusters": {"dedup.shingle_cache"},
    "d5_cc_clusters_multipart": {"dedup.shingle_cache", "cc.two_level"},
    "d5_ngram_jaccard_topk": {"dedup.shingle_cache"},
    "d9_prefix_filter_join": {"d9.broadcast"},
    "sky1_pareto_frontier": {"running_extreme.sweep"},
    "ta_weighted_sample": {"total_order.hint", "total_order.underflow"},
    "ta_zipf_fit": {"total_order.hint", "total_order.underflow"},
    "w8_curriculum_deciles": {"multi_ntile.hint"},
}


@pytest.fixture(scope="module")
def duck():
    return duck_connect(SF_DIR)


@pytest.fixture
def forced(monkeypatch) -> set[str]:
    """Fake ``io.fits`` to answer "not small" everywhere; returns the set
    of sites it was asked about."""
    seen: set[str] = set()

    def scale_side(site: str, rows: int | None, limit: int) -> bool:
        seen.add(site)
        return False

    monkeypatch.setattr(io, "fits", scale_side)
    return seen


def test_fits_rule():
    assert io.fits("t", None, 10) is False
    assert io.fits("t", 0, 10) is True
    assert io.fits("t", 10, 10) is True
    assert io.fits("t", 11, 10) is False


@pytest.mark.parametrize("name", sorted(CASES))
def test_forced_scale_branch_matches_oracle(spark, duck, forced, name):
    oracle = entrymod.oracle_sql()[name]
    assert len(duck.sql(oracle).fetchall()) >= 2
    with bounded_plan_cache(spark):
        problems = compare(name, entrymod.queries()[name](spark, SF_DIR), duck.sql(oracle))
    assert forced == CASES[name]
    assert problems == []


def test_every_fork_has_a_forced_case():
    pkg = Path(io.__file__).parent
    src = "\n".join(p.read_text() for p in sorted(pkg.rglob("*.py")))
    sites = set(re.findall(r'\bfits\(\s*"([^"]+)"', src))
    covered = set().union(*CASES.values())
    assert sites - covered == set(), "forks with no forced case"
    assert covered - sites == set(), "cases name forks that no longer exist"
