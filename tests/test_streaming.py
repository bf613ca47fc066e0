"""Structured Streaming tests (SURVEY §2.11 S1-S3): file-source micro-batch
ingest with availableNow (scroll-until-stable), arrival dedupe with
watermark, incremental resume via checkpoint (skip-if-exists F8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from nba_data_pipeline_spark.streaming.polling import (
    read_file_stream,
    run_available_now,
)
from tests.conftest import SF_DIR

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "land"), str(tmp_path / "sink"), str(tmp_path / "ckpt")


def test_available_now_processes_then_stops(spark, dirs):
    import datetime as dt

    land, sink, ckpt = dirs
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    _write_batch(spark, land, [(1, t0, "a"), (2, t0, "b")])

    sdf = read_file_stream(spark, land, SCHEMA)
    run_available_now(sdf, sink, ckpt)
    assert spark.read.parquet(sink).count() == 2

    # second landing + rerun resumes from checkpoint: only new rows appended
    _write_batch(spark, land, [(3, t0, "c")])
    run_available_now(read_file_stream(spark, land, SCHEMA), sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 3
    assert {r.event_id for r in out.collect()} == {1, 2, 3}


def test_arrival_dedupe_with_watermark(spark, dirs):
    import datetime as dt

    land, sink, ckpt = dirs
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # duplicate event_ids landing within the watermark window
    _write_batch(
        spark,
        land,
        [(1, t0, "a"), (1, t0, "dup"), (2, t0, "b"), (2, t0, "dup"), (3, t0, "c")],
    )
    sdf = (
        read_file_stream(spark, land, SCHEMA)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id", "ts"])
    )
    run_available_now(sdf, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 3
    assert {r.event_id for r in out.collect()} == {1, 2, 3}


def test_stability_tracker_stateful(spark, dirs):
    """S3 custom stateful op: cumulative per-key counts carried across
    micro-batches; 'stable' flips true only when a batch adds no rows."""
    import datetime as dt

    from nba_data_pipeline_spark.streaming.polling import stability_tracker

    land, _, ckpt = dirs
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # two files -> two micro-batches (maxFilesPerTrigger=1); key 'a' grows
    # in both batches, key 'b' only lands in the first (stable in batch 2
    # would need a third batch — with update mode 'b' simply isn't re-emitted)
    _write_batch(spark, land, [(1, t0, "a"), (2, t0, "a"), (3, t0, "b")])
    _write_batch(spark, land, [(4, t0, "a")])

    sdf = (
        spark.readStream.format("parquet")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(land)
    )
    tracked = stability_tracker(sdf, key_col="payload")
    q = (
        tracked.writeStream.format("memory")
        .queryName("stab_mem")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("stab_mem").collect()
    a_rows = sorted(
        [(r.prev, r.total, r.stable) for r in rows if r.key == "a"]
    )
    # batch ordering by file listing isn't guaranteed, but cumulative state
    # must show one batch starting from 0 and the other continuing from it,
    # never a stable=True (counts grew in both batches 'a' appeared in)
    assert len(a_rows) == 2
    assert a_rows[0][0] == 0 and a_rows[1][1] == 3
    assert not any(s for _, _, s in a_rows)
    b_rows = [(r.prev, r.total, r.stable) for r in rows if r.key == "b"]
    assert b_rows == [(0, 1, False)]


def test_landing_cache_relands_when_source_changes(spark, tmp_path):
    """``io.landing`` keys on the stamps of every table a landing reads:
    regenerating a table at the same path within a session must produce a
    FRESH landing (a stale landing would silently replay old bytes) — for a
    single-file table, for a directory table whose part file is rewritten
    in place (which leaves the directory's own mtime alone), and for the
    sink trees: snk3 over ``orders``, and snk13 over nation, customer and
    supplier with only ``supplier`` rewritten. An unchanged source reuses
    the landing; after a rewrite the entry matches its DuckDB oracle."""
    import os
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from nba_data_pipeline_spark.plans import sinks
    from nba_data_pipeline_spark.plans.registry import load_all
    from nba_data_pipeline_spark.plans.streaming_plans import _land, _land_jsonl

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src)

    first = _land("tcache", sf_dir, copies=1)
    # identical source -> cached landing dir
    assert _land("tcache", sf_dir, copies=1) == first
    # regenerated source (same path, new mtime) -> fresh landing
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    second = _land("tcache", sf_dir, copies=1)
    assert second != first

    # directory-form events table (s12's JSONL landing reads it)
    dir_sf = str(tmp_path / "sf_dir")
    table_dir = os.path.join(dir_sf, "events.parquet")
    part = os.path.join(table_dir, "part-0.parquet")
    os.makedirs(table_dir)
    events = pq.read_table(f"{SF_DIR}/events.parquet")
    pq.write_table(events, part)
    first = _land_jsonl(dir_sf)
    assert _land_jsonl(dir_sf) == first
    dir_st = os.stat(table_dir)
    pq.write_table(events.slice(0, 10), part)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    os.utime(table_dir, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    second = _land_jsonl(dir_sf)
    assert second != first
    landed = 0
    for name in os.listdir(second):
        with open(os.path.join(second, name)) as fh:
            landed += sum(1 for _ in fh)
    assert landed == 10

    # sink trees over a writable copy of the fixture tables
    sink_sf = str(tmp_path / "sf_sinks")
    os.makedirs(sink_sf)
    tables = ("orders", "nation", "customer", "supplier")
    for t in tables:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", os.path.join(sink_sf, f"{t}.parquet"))

    def oracle_checked_rows(name):
        con = duckdb.connect()
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sink_sf}/{t}.parquet'")
        spec = load_all()[name]
        rel = con.sql(spec.oracle)
        expected = sorted(rel.fetchall())
        got = sorted(
            tuple(r[c] for c in rel.columns) for r in spec.fn(spark, sink_sf).collect()
        )
        assert got and got == expected, name
        return got

    def halve_in_place(table):
        path = os.path.join(sink_sf, f"{table}.parquet")
        tbl = pq.read_table(path)
        st = os.stat(path)
        pq.write_table(tbl.slice(0, tbl.num_rows // 2), path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))

    for name, land, rewritten in (
        ("snk3_sink_modes", sinks._written_root, "orders"),
        ("snk13_bref_stats_tree", sinks._snk13_tree, "supplier"),
    ):
        before = oracle_checked_rows(name)
        first = land(spark, sink_sf)
        assert land(spark, sink_sf) == first, name
        halve_in_place(rewritten)
        assert land(spark, sink_sf) != first, name
        assert oracle_checked_rows(name) != before, name


NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_micros_events_leave_nanos_conf_unset(spark):
    """Reading micros-layout events — batch or as a drained stream — does
    not set the nanos conf on the caller's session."""
    from nba_data_pipeline_spark.io import read_table
    from nba_data_pipeline_spark.plans.streaming_plans import s1_stream_ingest_counts

    spark.conf.unset(NANOS_CONF)
    read_table(spark, SF_DIR, "events")
    assert len(s1_stream_ingest_counts(spark, SF_DIR).collect()) > 1
    assert spark.conf.get(NANOS_CONF, None) is None


def test_nanos_events_match_micros(spark, tmp_path):
    """A TIMESTAMP(NANOS) copy of events yields the same rows as the micros
    original, batch (s6) and through a sentinel landing and stream (s13),
    in a session that has not read nanos events before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nba_data_pipeline_spark.plans.streaming_plans import (
        s6_tumbling_windows,
        s13_stream_outer_join,
    )

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    i = events.schema.get_field_index("ts")
    nanos = events.set_column(i, "ts", events.column(i).cast(pa.timestamp("ns")))
    nanos_dir = tmp_path / "sf_nanos"
    nanos_dir.mkdir()
    pq.write_table(nanos, nanos_dir / "events.parquet", version="2.6")
    assert pq.read_schema(nanos_dir / "events.parquet").field("ts").type == pa.timestamp("ns")
    try:
        for fn in (s13_stream_outer_join, s6_tumbling_windows):
            want = fn(spark, SF_DIR).collect()
            spark.conf.unset(NANOS_CONF)
            got = fn(spark, str(nanos_dir)).collect()
            assert len(want) > 1
            assert got == want
    finally:
        spark.conf.unset(NANOS_CONF)
