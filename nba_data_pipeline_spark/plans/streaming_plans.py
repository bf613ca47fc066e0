"""Event-time windowing catalog queries (SURVEY §2.11 S6).

The reference has no true streams — only polling loops over pre-aggregated
"Last 7/15/30" calendar slices (DEFENSEVSPOSTION.PY:66). Here the engine
gets real event-time windows over ``events``: tumbling, sliding, and
session. These run in batch mode (same operators Structured Streaming
executes incrementally — see nba_data_pipeline_spark/streaming/ for the
readStream path with watermarks), so DuckDB can verify them exactly.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import (
    landing,
    read_events,
    read_table,
    session_tmpdir,
    table_path,
)
from nba_data_pipeline_spark.plans.exact import sql_dsum
from nba_data_pipeline_spark.plans.registry import query
from nba_data_pipeline_spark.streaming.polling import (
    drain,
    read_file_stream,
    run_available_now,
)


def _land(prefix: str, sf_dir: str, copies: int) -> str:
    def build(land_dir: str) -> None:
        for i in range(copies):
            shutil.copy(table_path(sf_dir, "events"), f"{land_dir}/arrival_{i + 1}.parquet")

    return landing(prefix, sf_dir, ("events",), build)


def _write_arrival(df: DataFrame, dst: str, mtime: int) -> None:
    """Write ``df`` as ONE flat parquet file at ``dst`` (the file stream
    source does not recurse into subdirectories) with its mtime pinned, so
    the file source's batch order is deterministic."""
    stage = f"{dst}.stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], dst)
    shutil.rmtree(stage)
    os.utime(dst, (mtime, mtime))


def _stream_events(
    spark: SparkSession, land_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Open a landing of events files as a micro-batch stream with ``ts``
    normalized to session-tz TIMESTAMP (same contract as ``io.read_table``);
    ``max_files_per_trigger`` forces one file per batch."""
    return read_events(
        spark,
        land_dir,
        lambda p: read_file_stream(spark, p, max_files_per_trigger=max_files_per_trigger),
    )


@query(
    "s6_tumbling_windows",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", "DECIMAL(18,2)")} AS total_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
)
def s6_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows — the streaming-native group-by
    (window(ts, '1 day') ≡ incremental state in readStream mode)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "s6_sliding_windows",
    oracle=f"""
WITH contrib AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, value FROM events
  UNION ALL
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) - INTERVAL 1 DAY AS window_start, value
  FROM events
)
SELECT window_start, COUNT(*) AS n_events,
       {sql_dsum("value", "DECIMAL(18,2)")} AS total_value
FROM contrib
GROUP BY window_start
HAVING window_start > TIMESTAMP '2023-12-31 00:00:00'
ORDER BY window_start
""",
)
def s6_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2-day length, 1-day slide): every event lands in two
    windows; expressed with window(ts, '2 days', '1 day'). The oracle
    mirrors via the two shifted day-truncations. Window identity = its
    START; the earliest partial window is excluded on both sides to keep
    the comparison well-defined."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .filter(F.col("window_start") > F.lit("2023-12-31 00:00:00").cast("timestamp"))
        .orderBy("window_start")
    )


@query(
    "s6_session_windows",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def s6_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user via session_window() — the
    stateful streaming operator, verified in batch against a
    gaps-and-islands oracle."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "src_json_props",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def src_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON payload extraction (the reference's metadata
    envelopes, README_NBA_SCRAPER.md:70-99, as an engine op): pull a typed
    field out of the events.props JSON column and aggregate. get_json_object
    stays JVM-side; at scale prefer from_json with an explicit schema so
    the parse happens once per row, not once per path."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "s1_stream_ingest_counts",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value", "DECIMAL(18,2)")} AS total_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
)
def s1_stream_ingest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3+S6 end-to-end as REAL Structured Streaming: land the events
    file into a fresh directory (the scraper's landing folder), readStream
    it as micro-batches, apply a watermark + tumbling event-time counts,
    and drain with trigger(availableNow) — 'process everything landed,
    then stop', the deterministic restatement of scroll-until-stable
    (run_scraper.py:62-134). Complete-mode results equal the batch
    aggregate bit-for-bit, which is exactly what the oracle checks."""

    land = _land("s1", sf_dir, 1)
    sdf = _stream_events(spark, land)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    drain(agg, "s1_stream_counts_mem", land, output_mode="complete")
    return (
        spark.table("s1_stream_counts_mem")
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "s2_stream_arrival_dedupe",
    oracle="""
SELECT event_type, COUNT(*) AS n_unique_events
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def s2_stream_arrival_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (arrival dedupe, outlier_insight_scraper.py:198-207): the scraper
    re-reads overlapping pages and drops records it has already seen. Here
    the events file is landed TWICE (every record arrives in two files —
    replayed micro-batches), readStream applies watermark +
    dropDuplicates(event_id) — the seen-set as bounded streaming state —
    and the per-type counts must equal the batch aggregate over the single
    copy, which is what the oracle checks."""

    land = _land("s2", sf_dir, 2)
    sdf = _stream_events(spark, land)
    deduped = sdf.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_events"))
    drain(agg, "s2_dedupe_mem", land, output_mode="complete")
    return spark.table("s2_dedupe_mem").orderBy("event_type")


@query(
    "s7_stream_static_join",
    oracle=f"""
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       {sql_dsum("e.value", "DECIMAL(18,2)")} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def s7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the standard streaming ENRICHMENT shape: the
    landed event stream joins a static dimension (customer) on the fly,
    then aggregates per segment. Structured Streaming re-reads the static
    side per micro-batch and plans it as a broadcast hash join against
    each batch (the dim is small by definition), so the stateful part of
    the query is only the downstream aggregate. availableNow drains the
    landing directory and the result must equal the batch join bit-for-bit
    — which is what the oracle checks. At 100 TB the static side stays
    broadcast-able (a dim table) or becomes a pre-bucketed side of a
    shuffle join; the stream side never re-shuffles per batch."""

    # Reuses s1's landing key: identical single-copy landing of events.
    land = _land("s1", sf_dir, 1)
    sdf = _stream_events(spark, land)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = sdf.join(F.broadcast(dim), sdf["user_id"] == dim["c_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    drain(agg, "s7_stream_static_mem", land, output_mode="complete")
    return spark.table("s7_stream_static_mem").orderBy("c_mktsegment")


def _land_two_phase(sf_dir: str) -> str:
    """Land events as TWO ordered arrivals: first the full table, then a
    re-poll that returns only ``click``/``view`` rows (the reference's
    polling loop re-reads a page and usually gets a subset of tables).
    mtimes are pinned so the file source's batch order is deterministic."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(land_dir: str) -> None:
        tbl = pq.read_table(table_path(sf_dir, "events"))
        first = os.path.join(land_dir, "arrival_1.parquet")
        second = os.path.join(land_dir, "arrival_2.parquet")
        pq.write_table(tbl, first)
        repoll = pc.or_(
            pc.equal(tbl.column("event_type"), "click"),
            pc.equal(tbl.column("event_type"), "view"),
        )
        pq.write_table(tbl.filter(repoll), second)
        os.utime(first, (1_700_000_000, 1_700_000_000))
        os.utime(second, (1_700_000_100, 1_700_000_100))

    return landing("s3", sf_dir, ("events",), build)


@query(
    "s3_stability_tracker",
    oracle="""
WITH n AS (SELECT event_type, COUNT(*) AS c FROM events GROUP BY event_type)
SELECT event_type AS key, CAST(c AS BIGINT) AS total,
       CAST(0 AS BIGINT) AS prev, FALSE AS stable
FROM n
UNION ALL
SELECT event_type, CAST(2 * c AS BIGINT), CAST(c AS BIGINT), FALSE
FROM n WHERE event_type IN ('click', 'view')
ORDER BY key, total
""",
)
def s3_stability_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: the row-count-stability gate (DEFENSEVSPOSTION.PY:251-309) as a
    CUSTOM STATEFUL streaming operator — ``applyInPandasWithState`` carries
    one long of state per key across micro-batches and emits
    (total, prev, stable) on every arrival. The landing is two ordered
    arrivals (full table, then a click/view-only re-poll;
    ``maxFilesPerTrigger=1`` makes each file its own micro-batch), so the
    emission history is deterministic: batch 1 emits prev=0 for all five
    keys, batch 2 re-emits click/view with prev carried from batch 1 —
    which is exactly what the DuckDB oracle reconstructs from the base
    table. State is one long per key regardless of corpus size; at 100 TB
    the tracker shuffles each micro-batch once on the key and keeps no
    timeline."""

    from nba_data_pipeline_spark.streaming.polling import stability_tracker

    sdf = _stream_events(spark, _land_two_phase(sf_dir), max_files_per_trigger=1)
    tracked = stability_tracker(sdf, key_col="event_type")
    # Cost floor (re-profiled r4, the r3 bench flagged 1.44 s -> 2.79 s):
    # the regression is the SECOND deterministic arrival added in r3 —
    # maxFilesPerTrigger=1 makes the drain two sequential micro-batches,
    # each paying scan + shuffle + Python stateful worker + store commit,
    # so ~2x the one-arrival r2 drain is inherent to the new semantics
    # (prev/stable are only observable across >=2 arrivals). Partition
    # count is NOT the lever at this key cardinality (n=2 measured within
    # noise of n=8; state is five longs), kept at 2 as the honest size.
    drain(tracked, "s3_stability_mem", output_mode="update", state_partitions=2)
    return spark.table("s3_stability_mem").orderBy("key", "total")


@query(
    "s8_stream_stream_join",
    oracle="""
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MIN(date_diff('second', c.ts, p.ts)) AS BIGINT) AS min_gap_s
FROM c JOIN p ON c.user_id = p.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
GROUP BY c.user_id
ORDER BY c.user_id
""",
)
def s8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 (engine capability beyond the reference's poll loops): a REAL
    stream-stream inner join — clicks joined to purchases of the same user
    landing within 10 minutes, the canonical attribution join. Both sides
    are watermarked micro-batch streams; the time-range predicate is what
    lets Spark BOUND the join state (each side's rows expire once the
    other side's watermark passes click_ts + 10 min), which is the entire
    scale story: state is a sliding window of the streams, not their
    history. Joined pairs drain append-mode through availableNow; the
    per-user attribution counts are a batch aggregate over the drained
    pairs, and the oracle recomputes everything from the static table."""
    land = _land("s8", sf_dir, 1)
    sdf_c = _stream_events(spark, land)
    sdf_p = _stream_events(spark, land)
    clicks = (
        sdf_c.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        sdf_p.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
    )
    # Stream-stream join state doubles the per-partition store-commit cost
    # (each side keeps its own store), so the size-derived count matters
    # twice here: n=4 -> 2 measured ~1.5 s off the drain at sf0.1 (min of
    # 3) with identical results.
    drain(pairs, "s8_pairs_mem", land)
    drained = spark.table("s8_pairs_mem")
    return (
        drained.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(
                F.col("p_ts").cast("long") - F.col("c_ts").cast("long")
            ).alias("min_gap_s"),
        )
        .orderBy("user_id")
    )


def s9_batch_state(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
    """s9's per-batch state transition, factored out of the foreachBatch
    handler so its PLAN is testable with plain frames (foreachBatch hands
    the handler an ordinary DataFrame, so this IS the production path):
    aggregate the batch per user, then merge into the previous state by
    union + re-aggregate. Plan contract (tests/test_plan_shapes.py): pure
    hash aggregates with map-side partial combine, no join — O(batch +
    |keys|) per batch."""
    agg = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value_dec"),
    )
    if prev is None:
        return agg
    return (
        prev.unionByName(agg)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value_dec").alias("total_value_dec"),
        )
    )



@query(
    "s9_foreach_batch_upsert",
    oracle=f"""
SELECT user_id,
       CAST(3 * COUNT(*) AS BIGINT) AS n_events,
       CAST(3 * SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def s9_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (engine capability): incremental UPSERT sink via ``foreachBatch``
    — the pattern for maintaining a keyed aggregate table on storage that
    plain file sinks can't express (they only append). Three landed copies
    of the events file arrive as three micro-batches
    (maxFilesPerTrigger=1); each batch aggregates per user and MERGES into
    the persisted state (union + re-aggregate — at real scale a Delta/
    Iceberg MERGE INTO keyed on user_id), writing a new state version per
    batch; batch sums are decimal so merge order can't perturb values.
    The final state table must equal the batch aggregate of all three
    copies — which is what the oracle computes (3× each user's totals).

    Scale shape: per-batch work is one map-side-combined aggregate of the
    batch plus one keyed merge against state — O(batch + |keys|); state
    versions give at-least-once batches idempotent replay (re-running
    batch N overwrites version N derived from version N-1, instead of
    double-counting)."""
    land = _land("s9", sf_dir, 3)
    sdf = _stream_events(spark, land, max_files_per_trigger=1)
    state_root = session_tmpdir("s9_state_")
    latest: dict[str, str] = {}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        prev = spark.read.parquet(latest["path"]) if "path" in latest else None
        out = os.path.join(state_root, f"v{batch_id}")
        s9_batch_state(batch_df, prev).write.mode("overwrite").parquet(out)
        latest["path"] = out

    drain(sdf, "s9", land, foreach_batch=upsert)
    return (
        spark.read.parquet(latest["path"])
        .select(
            "user_id",
            "n_events",
            F.col("total_value_dec").cast("double").alias("total_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# S10: replay dedupe across restamped arrivals (dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------

def _land_restamped(spark: SparkSession, sf_dir: str) -> str:
    """Land events twice: arrival_1 verbatim, arrival_2 with every ts
    shifted +30 minutes — the replayed-feed pathology where the upstream
    re-emits the same records with fresh event stamps (scraper re-runs,
    at-least-once brokers). Both arrivals are written from the
    ``read_table`` frame, so the landing holds one ``ts`` layout."""

    def build(land_dir: str) -> None:
        e = read_table(spark, sf_dir, "events")
        later = e.withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
        _write_arrival(e, f"{land_dir}/arrival_1.parquet", 1_700_000_000)
        _write_arrival(later, f"{land_dir}/arrival_2.parquet", 1_700_000_001)

    return landing("s10", sf_dir, ("events",), build)


@query(
    "s10_dedupe_within_watermark",
    oracle="""
SELECT event_type, COUNT(*) AS n_unique_events
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def s10_dedupe_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: replay dedupe when the replay RESTAMPS event time —
    ``dropDuplicatesWithinWatermark`` (Spark 4): every record arrives
    twice, the second copy +30 min, and the operator treats two same-key
    records as duplicates whenever their event times fall within the
    watermark delay (2 h here). This is the API contract s2's plain
    ``dropDuplicates`` lacks: that one keys state on exact values and
    never expires it; WithinWatermark both tolerates the restamp AND
    evicts each key's state once the watermark passes ts + delay — the
    bounded-state form a 100 TB at-least-once feed needs (state size ∝
    keys per watermark horizon, not keys ever seen). Per-type counts must
    equal the batch aggregate over the single copy — the oracle."""
    land = _land_restamped(spark, sf_dir)
    sdf = _stream_events(spark, land)
    deduped = sdf.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_events")
    )
    drain(agg, "s10_dedupe_mem", land, output_mode="complete")
    return spark.table("s10_dedupe_mem").orderBy("event_type")


# ---------------------------------------------------------------------------
# S11: streaming incremental near-dup — foreachBatch MinHash signature store
# ---------------------------------------------------------------------------


def s11_batch_decisions(bdf, bands, store, arrival: int):
    """s11's per-batch new-vs-duplicate decision, factored out of the
    foreachBatch handler so its PLAN is testable with plain frames.

    Plan contract (tests/test_plan_shapes.py): the vs-store probe is an
    EQUI-join on the short band keys (band_idx, band_key) — the store is
    consulted through its band index, never cross-joined or rescanned per
    candidate — and the within-batch check is the same band-keyed
    self-join with a doc_id order predicate. No cartesian products
    anywhere; per-batch cost is O(batch bands + matching store bands)."""
    from pyspark.sql import functions as _F

    if store is not None:
        vs_store = bands.join(
            store.select("doc_id", "band_idx", "band_key").withColumnRenamed(
                "doc_id", "prior_doc"
            ),
            ["band_idx", "band_key"],
        ).select("doc_id")
    else:
        vs_store = bands.limit(0).select("doc_id")
    within = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (_F.col("a.band_idx") == _F.col("b.band_idx"))
            & (_F.col("a.band_key") == _F.col("b.band_key"))
            & (_F.col("a.doc_id") < _F.col("b.doc_id")),
        )
        .select(_F.col("b.doc_id").alias("doc_id"))
    )
    dups = vs_store.unionByName(within).distinct()
    return (
        bdf.select("doc_id")
        .distinct()
        .join(dups.withColumn("hit", _F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            _F.lit(arrival).alias("arrival_batch"),
            _F.col("hit").isNull().alias("is_new"),
        )
    )


def _s11_band_sql() -> str:
    """Bands CTE over (doc_id, batch, text) docs — 12 md5 minhashes, 4
    bands × 3 rows, the d5b configuration."""
    toks = r"string_split_regex(trim(text), '\s+')"
    shingles = (
        "list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)), "
        "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
    )
    sig = ",\n    ".join(
        f"MIN(md5(concat('{i}:', shingle))) AS mh_{i}" for i in range(12)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, batch, {b} AS band_idx, "
        f"md5(concat_ws('|', mh_{3*b}, mh_{3*b+1}, mh_{3*b+2})) AS band_key FROM sig"
        for b in range(4)
    )
    return f"""
docs AS (SELECT doc_id, CAST(doc_id % 2 AS INT) AS batch, text FROM documents),
t AS (SELECT doc_id, batch, {toks} AS toks FROM docs),
sh AS (SELECT doc_id, batch, unnest({shingles}) AS shingle FROM t),
sig AS (SELECT doc_id, batch, {sig} FROM sh GROUP BY doc_id, batch),
bands AS (
{bands}
)"""


@query(
    "s11_stream_incremental_minhash",
    oracle=f"""
WITH {_s11_band_sql()},
dup AS (
  SELECT DISTINCT b.doc_id
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND (a.batch < b.batch OR (a.batch = b.batch AND a.doc_id < b.doc_id))
)
SELECT d.doc_id, d.batch AS arrival_batch,
       dup.doc_id IS NULL AS is_new
FROM docs d LEFT JOIN dup ON d.doc_id = dup.doc_id
ORDER BY d.doc_id
""",
)
def s11_stream_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: CONTINUOUS near-dup curation — the d5b MinHash index run as a
    stream: documents arrive in two micro-batches (even doc_ids first,
    then odd — file-per-trigger), and a ``foreachBatch`` handler marks
    each document duplicate iff any of its 4 LSH band keys collides with
    an EARLIER-ARRIVAL document (the accumulated signature STORE for
    prior batches; a doc_id-ordered self-join within the batch), then
    appends the batch's signatures to the store — at-least-once-safe
    because the store write is keyed by batch subdirectory (replay
    overwrites, never double-appends). This is the shape of a crawl
    pipeline's dedup tier: signatures persist, each increment joins
    against KBs of index instead of re-scanning the corpus.

    The DuckDB oracle computes the same first-arrival-wins verdicts from
    the full corpus with the identical band construction — streaming
    incrementality must not change a single decision."""
    from pyspark.sql import functions as _F

    from nba_data_pipeline_spark.operators.dedup import minhash_signature
    from nba_data_pipeline_spark.operators.textops import distinct_word_shingles_fast

    # --- land the two arrival files (even parity first; mtimes pin order).
    # Landed once per documents stamp: the two coalesce(1) writes were a
    # fixed ~1 s on EVERY call for identical bytes. Checkpoints/store/output
    # dirs stay fresh per call — only the input landing is reused.
    def build(land_dir: str) -> None:
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        for parity in (0, 1):
            _write_arrival(
                docs.filter(F.col("doc_id") % 2 == parity),
                os.path.join(land_dir, f"arrival_{parity}.parquet"),
                1_700_000_000 + parity,
            )

    land = landing("s11", sf_dir, ("documents",), build)

    store_dir = session_tmpdir("s11_store_")
    out_dir = session_tmpdir("s11_out_")

    # One arrival file = ONE scan partition, which would serialize the
    # shingling/minhash pass on a single core; spread the batch before
    # it, sized to the batch (~half the corpus here), capped at the
    # session's cores. At deep decades the cap wins and the spread equals
    # defaultParallelism.
    from nba_data_pipeline_spark.io import table_row_count

    n_docs = table_row_count(sf_dir, "documents") or 0
    spread = min(
        spark.sparkContext.defaultParallelism, max(2, n_docs // 500)
    )

    def bands_of(bdf):
        sig = bdf.repartition(spread).select(
            "doc_id",
            distinct_word_shingles_fast(_F.col("text")).alias("sh_arr"),
        ).select("doc_id", *minhash_signature(_F.col("sh_arr"), 12))
        structs = [
            _F.struct(
                _F.lit(b).alias("band_idx"),
                _F.md5(
                    _F.concat_ws(
                        "|", *[_F.col(f"mh_{3*b+j}") for j in range(3)]
                    )
                ).alias("band_key"),
            )
            for b in range(4)
        ]
        return sig.select(
            "doc_id", _F.explode(_F.array(*structs)).alias("band")
        ).select("doc_id", "band.band_idx", "band.band_key")

    def handle(bdf, batch_id: int):
        bands = bands_of(bdf).persist()
        # One-parity-per-batch invariant, folded into the SAME action that
        # materializes the bands cache (r11: was a separate bdf-scan job
        # per batch): bands carries doc_id, so min==max of doc_id%2 over
        # bands is the invariant, and this 1-row first() is what computes
        # the persisted bands the decisions/store writes then reuse.
        par = _F.pmod(_F.col("doc_id"), _F.lit(2))
        lo, hi = bands.agg(_F.min(par), _F.max(par)).first()
        if lo is None or lo != hi:
            raise RuntimeError(
                f"s11 expected one arrival file per batch, got {(lo, hi)}"
            )
        arrival = int(lo)
        # Store read is ONE listing path: partition discovery walks the
        # batch=N subdirectories executor-side. The old form globbed every
        # part-file on the driver and passed one path per file — with
        # thousands of accumulated batches that is a per-file request storm
        # at object-store scale (same defect class as the r6
        # src_binaryfile_roundtrip fix). The O(#batch-dirs) scandir below
        # only answers "is the store still empty?" (reading an empty dir
        # raises schema-inference errors) and touches no leaf files.
        has_store = any(
            e.name.startswith("batch=") for e in os.scandir(store_dir)
        )
        store = (
            bdf.sparkSession.read.parquet(store_dir) if has_store else None
        )
        decisions = s11_batch_decisions(bdf, bands, store, arrival)
        # idempotent on replay: each batch owns its subdirectory
        decisions.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={arrival}")
        )
        bands.write.mode("overwrite").parquet(
            os.path.join(store_dir, f"batch={arrival}")
        )
        bands.unpersist()

    # foreachBatch's inner jobs (band build, store join, the two parquet
    # writes) run inside the drain's small-shuffle scope: a KB-scale batch
    # gains nothing from the session's 32-way exchanges, and the store
    # join's task-scheduling floor dominated this entry's wall-clock.
    stream = read_file_stream(spark, land, max_files_per_trigger=1)
    drain(stream, "s11", land, foreach_batch=handle)
    # Single-path read here too; partition discovery adds a `batch` column
    # that the select drops.
    return (
        spark.read.parquet(out_dir)
        .select("doc_id", F.col("arrival_batch").cast("int").alias("arrival_batch"), "is_new")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# S12: custom Python streaming source (polldir) — poll-loop as a DataSource
# ---------------------------------------------------------------------------

_POLL_FILES = 3


def _land_jsonl(sf_dir: str) -> str:
    """Land events as N JSON-lines files (striped by event_id) — the pages
    a polling scraper would drop, one file per poll. Driver-side via
    pyarrow; floats serialize via repr so they round-trip exactly."""
    import json

    import pyarrow.parquet as pq

    def build(land: str) -> None:
        names = ("event_id", "user_id", "event_type", "value")
        tbl = pq.read_table(table_path(sf_dir, "events"), columns=list(names))
        cols = [tbl.column(c).to_pylist() for c in names]
        # Land-then-rename (the polldir source's landing contract): write
        # every file under a temp suffix the reader's *.jsonl filter
        # ignores, then atomically rename — a poll can never observe a
        # half-written file.
        tmp = [os.path.join(land, f"poll_{i}.jsonl.tmp") for i in range(_POLL_FILES)]
        handles = [open(t, "w") for t in tmp]
        try:
            for row in zip(*cols):
                handles[row[0] % _POLL_FILES].write(json.dumps(dict(zip(names, row))) + "\n")
        finally:
            for h in handles:
                h.close()
        for t in tmp:
            os.rename(t, t.removesuffix(".tmp"))

    return landing("s12", sf_dir, ("events",), build)


@query(
    "s12_custom_pystream_source",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       {sql_dsum("value", "DECIMAL(18,2)")} AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def s12_custom_pystream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: the reference's sleep-poll ingestion loop (run_scraper.py) as a
    CUSTOM PYTHON STREAMING DATA SOURCE — Spark 4's DataSource API with a
    ``SimpleDataSourceStreamReader`` whose offsets are the consumed-file
    set, so checkpoint/replay semantics (``readBetweenOffsets``) come from
    the engine instead of a hand-rolled seen-list: events land as three
    JSONL 'polls', ``readStream.format("polldir")`` drains them under
    availableNow, and the per-type aggregate must hash-match the batch
    oracle — proving the source loses nothing, duplicates nothing, and
    round-trips ids, strings, and doubles exactly through its JSON frames.

    With src_html_roundtrip's cascade (batch DataSource) and this source,
    both halves of the reference's scrape loop are first-class engine
    formats a user addresses by name."""
    from nba_data_pipeline_spark.sources.poll_datasource import PollDirDataSource

    land = _land_jsonl(sf_dir)
    try:
        spark.dataSource.register(PollDirDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    sdf = spark.readStream.format("polldir").option("path", land).load()
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    drain(agg, "s12_poll_mem", land, output_mode="complete")
    return spark.table("s12_poll_mem").orderBy("event_type")


def _land_with_sentinel(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Land the events file plus one 'watermark sentinel' file carrying a
    single far-future (+60d) event (user_id = -1). Processed in the same
    batch as the arrival, the sentinel advances the end-of-batch watermark
    past every real row's join window; the engine's no-data micro-batch
    then evicts outer-join state, so every unmatched left row is flushed
    deterministically before the availableNow drain terminates. This is
    the land-a-heartbeat pattern for closing event-time windows on a
    bounded replay of an unbounded stream (r11: was two sentinels + a
    maxFilesPerTrigger=1 batch-per-file drain — same rows out, double the
    fixed per-batch machinery). Both files are written from the
    ``read_table`` frame, so the landing holds one ``ts`` layout; batch
    order is pinned by explicit mtimes, not wall-clock sleeps."""

    def build(land_dir: str) -> None:
        e = read_table(spark, sf_dir, "events")
        _write_arrival(e, f"{land_dir}/arrival_1.parquet", 1_700_000_000)
        # ONE sentinel at +60 days (see s13's drain for the watermark math
        # that makes one enough).
        sent = e.agg(F.max("ts").alias("ts")).select(
            F.lit(-3).cast("long").alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 60 DAYS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("wm_sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        _write_arrival(sent, f"{land_dir}/sentinel_2.parquet", 1_700_000_002)

    return landing(prefix, sf_dir, ("events",), build)


@query(
    "s13_stream_outer_join",
    oracle="""
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
lj AS (
  SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts
  FROM c LEFT JOIN p ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
)
SELECT user_id, CAST(COUNT(p_ts) AS BIGINT) AS n_pairs,
       CAST(COUNT(*) FILTER (WHERE p_ts IS NULL) AS BIGINT) AS n_unmatched
FROM lj GROUP BY user_id
ORDER BY user_id
""",
)
def s13_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: watermarked LEFT OUTER stream-stream join — s8's attribution
    join plus the half the inner join cannot express: clicks that never
    converted, emitted as null-matched rows once the watermark proves no
    purchase can still arrive in their 10-minute window. This is the
    abandonment/non-conversion feed (retargeting, funnel-drop metrics)
    and the hard part of streaming joins: correctness depends on state
    EVICTION, not just matching.

    Scale shape: identical bounded-state story to s8 (the time-range
    predicate lets both sides expire), plus the sentinel-heartbeat landing
    (`_land_with_sentinel`) that closes the final windows on a bounded
    replay — on a true unbounded stream the next real event plays that
    role. The oracle recomputes matched and unmatched counts per user from
    the static table; equality proves no unmatched click was dropped or
    double-emitted by eviction.

    Batch economics (r11): each micro-batch costs ~1 s of fixed machinery
    here (re-planning + state-store load/commit per partition + sink
    collect) regardless of rows, so the drain runs the MINIMUM batches the
    semantics need: one data batch (arrival + the +60d sentinel together —
    matches emit here; the watermark computed at its END covers every real
    click's 10-minute window) and the engine's no-data batch, which
    performs the final eviction and emits the unmatched rows. The no-data
    batch is load-bearing, so the drain pins
    ``spark.sql.streaming.noDataMicroBatches.enabled=true`` (its default)
    explicitly. Was: two sentinels + maxFilesPerTrigger=1 = four batches
    for the same result set (measured 4.4 s -> see OPTIMIZATION_r11.md)."""
    land = _land_with_sentinel(spark, sf_dir, "s13")
    sdf_c = _stream_events(spark, land)
    sdf_p = _stream_events(spark, land)
    # The sentinel rows must flow THROUGH the watermark operator to
    # advance event time (a type filter excluding them would be pushed
    # below the watermark node by the optimizer, and the watermark
    # statistic would never see them) — so each side keeps its sentinels
    # in-stream. They carry user_id = -1, which no real row joins, and
    # the post-drain aggregate filters them out.
    clicks = (
        sdf_c.filter(F.col("event_type").isin("click", "wm_sentinel"))
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        sdf_p.filter(F.col("event_type").isin("purchase", "wm_sentinel"))
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
        "leftOuter",
    )
    prev_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    try:
        drain(pairs, "s13_pairs_mem", land)
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb
        )
    drained = spark.table("s13_pairs_mem").filter(F.col("c_user") >= 0)
    return (
        drained.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("p_ts").alias("n_pairs"),
            F.sum(F.when(F.col("p_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@query(
    "snk9_stream_file_sink",
    oracle="""
SELECT event_type, CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
       CAST(2 * SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type IN ('purchase', 'click')
GROUP BY event_type
ORDER BY event_type
""",
)
def snk9_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK9: the production streaming SINK path — a real parquet file sink
    with checkpointed exactly-once semantics, where every other streaming
    query drains to a memory table. Two landed arrivals stream through an
    append-only projection into a parquet directory; the sink's
    ``_spark_metadata`` transaction log records exactly the files each
    committed batch wrote. The read-back then proves the exactly-once
    contract the hard way: an ORPHAN parquet file (simulating a failed
    task attempt's leftover output) is planted in the directory before
    reading, and the metadata-log-aware batch scan must ignore it — the
    oracle's totals (2× each type from the static table) only match if
    committed files are read exactly once and the orphan not at all.

    Scale shape: the sink writes one file per partition per batch and the
    log is one compact JSON per batch — the standard lake landing pattern;
    downstream compaction is lo2's job. The final aggregate is a
    map-side-combined groupBy over the re-read."""
    land = _land("snk9", sf_dir, 2)
    sdf = _stream_events(spark, land, max_files_per_trigger=1)
    out_dir = session_tmpdir("snk9_out_")
    proj = sdf.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    run_available_now(proj, out_dir, session_tmpdir("snk9_ck_"))
    # Plant an orphan data file the transaction log knows nothing about —
    # the metadata-aware scan must not count it.
    committed = glob.glob(f"{out_dir}/part-*.parquet")
    shutil.copy(committed[0], f"{out_dir}/part-99999-orphan.parquet")
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )
