"""tools/solo_time.py counts every job an entry launches, from any thread.

A streaming entry runs its micro-batch jobs on the stream-execution thread
under the stream's own job group, so the job group set by the caller sees
fewer jobs than actually ran. The harness also has to leave no job group
behind and keep going past an unknown or failing entry."""

import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from solo_time import measure  # noqa: E402

from nba_data_pipeline_spark.plans.registry import load_all  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

STREAM = "s1_stream_ingest_counts"


def _boom(spark, sf_dir):
    raise RuntimeError("boom")


@pytest.fixture(scope="module")
def measured(spark):
    specs = dict(load_all(), boom=SimpleNamespace(fn=_boom))
    # the failing entry runs last, so the job group check below sees what
    # its cleanup left behind
    return measure(spark, specs, [STREAM, "no_such_entry", "boom"], SF_DIR, 2)


def test_counts_stream_jobs_the_callers_group_misses(spark, measured):
    r = measured[STREAM]
    assert len(r["sec"]) == 2 and r["min"] > 0
    group = spark.sparkContext.statusTracker().getJobIdsForGroup(f"solo:{STREAM}:1")
    assert r["jobs"] > len(group) > 0


def test_job_group_unset_after_the_call(spark, measured):
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_unknown_and_failing_entries_record_minus_one(measured):
    assert list(measured) == [STREAM, "no_such_entry", "boom"]
    assert measured["no_such_entry"] == {"sec": [], "min": -1.0, "jobs": -1}
    assert measured["boom"] == {"sec": [], "min": -1.0, "jobs": -1}
