"""Size-adaptive forks whose scale side the sf0.001-sf0.1 fixtures never
reach: the threshold constant is monkeypatched so the scale path runs on
the small fixture, and its rows must equal the default path's."""

from __future__ import annotations

from nba_data_pipeline_spark.cachectl import run_query
from tests.conftest import SF_DIR


def test_a32_bucketed_path_matches_window_path(spark, monkeypatch):
    """a32_weighted_median's crossing-bucket form (taken above
    _A32_WINDOW_MAX_ROWS footer rows) returns the single-window rows."""
    from nba_data_pipeline_spark.plans import analytics

    want = run_query(spark, SF_DIR, "a32_weighted_median")
    monkeypatch.setattr(analytics, "_A32_WINDOW_MAX_ROWS", 0)
    got = run_query(spark, SF_DIR, "a32_weighted_median")
    assert len(want) > 1
    assert got == want
