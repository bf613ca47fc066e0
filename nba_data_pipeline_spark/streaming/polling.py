"""Structured Streaming restatements of the reference's polling loops
(SURVEY §2.11 S1-S5).

Reference semantics → streaming primitives:
  * scroll-until-height-stable ingest loop (run_scraper.py:62-134,
    nba_insights_scraper.py:272-300) → file source + ``availableNow``
    trigger: process everything that has landed, then stop cleanly;
  * seen-set dedupe across batches (outlier_insight_scraper.py:198-207) →
    ``withWatermark`` + ``dropDuplicates`` (bounded state);
  * row-count-stability gate before trusting a table
    (DEFENSEVSPOSTION.PY:251-309) → watermark + pre-commit completeness
    assertion in ``foreachBatch`` (see operators/gates.py);
  * retry-with-backoff (DEFENSEVSPOSTION.PY:629-661) → Spark task retries,
    not an operator.

State discipline for 100 TB streams: every stateful op (dedupe, windowed
agg) carries a watermark so state is evicted; keys are (id, event-time
bucket), never unbounded raw ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_file_stream(
    spark: SparkSession, source_dir: str, schema: StructType, fmt: str = "parquet"
) -> DataFrame:
    """S1: micro-batch ingest from a landing directory (the engine-side twin
    of the scraper's scroll loop — new files are 'scrolled-in' batches)."""
    return spark.readStream.format(fmt).schema(schema).load(source_dir)


def dedupe_on_arrival(
    df: DataFrame, keys: list[str], event_time: str, delay: str = "1 hour"
) -> DataFrame:
    """S2: arrival dedupe with bounded state — duplicates arriving within
    the watermark delay are dropped; state for older keys is evicted."""
    return df.withWatermark(event_time, delay).dropDuplicates([*keys, event_time])


def run_available_now(
    sdf: DataFrame, sink_dir: str, checkpoint_dir: str, fmt: str = "parquet"
) -> None:
    """S1/S3: process everything currently landed, then stop — the
    deterministic 'scroll until stable, then save' loop. Incremental re-runs
    resume from the checkpoint (the engine twin of skip-if-exists F8)."""
    q = (
        sdf.writeStream.format(fmt)
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stability_tracker(sdf: DataFrame, key_col: str = "event_type") -> DataFrame:
    """S3 as a CUSTOM STATEFUL operator (applyInPandasWithState): per key,
    carry the cumulative row count across micro-batches and emit
    (total, prev, stable) each batch — ``stable`` flips true when a batch
    adds no rows for the key, the exact 'row count unchanged → table ready'
    gate of DEFENSEVSPOSTION.PY:251-309 restated as bounded streaming state
    (one long per key; no timeline kept)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        prev = state.get[0] if state.exists else 0
        total = prev
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame(
            [{"key": key[0], "total": total, "prev": prev, "stable": total == prev}]
        )

    return sdf.groupBy(F.col(key_col)).applyInPandasWithState(
        track,
        outputStructType="key string, total long, prev long, stable boolean",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
