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

:func:`read_file_stream` is the one way a landing directory is opened as a
stream, and :func:`drain` is the one availableNow drain path: every
streaming catalog entry (and :func:`run_available_now`) starts its query
through it, naming only its sink.

State discipline for 100 TB streams: every stateful op (dedupe, windowed
agg) carries a watermark so state is evicted; keys are (id, event-time
bucket), never unbounded raw ids.
"""

from __future__ import annotations

import contextlib
import math
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nba_data_pipeline_spark.io import streaming_checkpoint_dir

#: landing dir -> inferred stream schema. Landings are immutable once
#: written, so the schema-inference batch read (one driver job) runs once
#: per landing, not once per stream opened over it.
_LANDING_SCHEMA: dict[str, StructType] = {}

#: target landed bytes per streaming state partition. Stateful operators
#: pay a fixed per-partition per-micro-batch cost (one state-store delta +
#: commit file each, ~10-30 ms here) that dwarfs the data work when the
#: stream is small, so partitions are sized to the stream like any shuffle
#: (guide §2.2's 100 MB-1 GB rule, scaled down one notch because state
#: rows are keys, not payloads).
_STATE_PARTITION_BYTES = 32 << 20


def read_file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1: micro-batch ingest from a landing directory (the engine-side twin
    of the scraper's scroll loop — new files are 'scrolled-in' batches).
    Without ``schema`` the stream takes the landing's own schema from a
    batch read, cached per directory (the landed physical layout has
    shifted across data regenerations, so it is read, not hardcoded);
    ``max_files_per_trigger`` makes each file its own micro-batch."""
    if schema is None:
        if source_dir not in _LANDING_SCHEMA:
            _LANDING_SCHEMA[source_dir] = spark.read.format(fmt).load(source_dir).schema
        schema = _LANDING_SCHEMA[source_dir]
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(source_dir)


@contextlib.contextmanager
def _small_state_shuffle(spark: SparkSession, n: int):
    """Stateful streaming cost here is per-partition state-store commit
    overhead, not data volume: every micro-batch writes one delta + commit
    file per shuffle partition. Dropping 32 -> 8 partitions for the
    streaming aggregation halves wall-clock at sf0.1 (measured 2.5 s ->
    1.35 s). At real scale the partition count must instead match state
    volume — this scoped override models 'size state partitions to the
    stream', which local[32] defaults don't; :func:`_state_partitions`
    derives ``n`` from the landed byte volume."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _state_partitions(land_dir: str, floor: int = 2, cap: int = 32) -> int:
    """State partition count derived from the landed stream volume: enough
    partitions that each holds ≤ _STATE_PARTITION_BYTES of landed input,
    never fewer than ``floor`` (keeps the plan honestly distributed and the
    state store exercised across partitions) and capped at ``cap``.
    Replaces the fixed n=8/n=4 constants, which were tuned to local[32]
    fixture scale: measured at sf0.1, the stream-stream joins drop ~2 s
    (n=4 -> 2, two state stores each) and the streaming aggregates
    ~0.5-1 s (n=8 -> 2) with byte-identical results — partitioning never
    changes aggregate/join values."""
    try:
        total = sum(e.stat().st_size for e in os.scandir(land_dir) if e.is_file())
    except OSError:
        total = 0
    return max(floor, min(cap, math.ceil(total / _STATE_PARTITION_BYTES)))


def drain(
    sdf: DataFrame,
    name: str,
    land_dir: str | None = None,
    *,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
) -> None:
    """Run ``sdf`` under ``trigger(availableNow=True)`` until everything
    landed is processed, then return.

    The sink is a memory table named ``name`` unless ``foreach_batch`` (a
    ``foreachBatch`` handler) or ``path`` (a ``fmt`` file sink) is given.
    The checkpoint is ``checkpoint_dir``, else a fresh
    :func:`io.streaming_checkpoint_dir` — never reused, since availableNow
    against a drained checkpoint would see the files as processed.
    Shuffle partitions are scoped to ``state_partitions``, else sized from
    ``land_dir``'s bytes; with neither the session's setting stands. The
    scope also covers a ``foreachBatch`` handler's inner jobs, which run
    during ``awaitTermination``."""
    w = sdf.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir or streaming_checkpoint_dir(f"{name}_ckpt_")
    )
    if foreach_batch is not None:
        w = w.foreachBatch(foreach_batch)
    elif path is not None:
        w = w.format(fmt).option("path", path)
    else:
        w = w.format("memory").queryName(name)
    if state_partitions is None and land_dir is not None:
        state_partitions = _state_partitions(land_dir)
    scope = (
        contextlib.nullcontext()
        if state_partitions is None
        else _small_state_shuffle(sdf.sparkSession, state_partitions)
    )
    with scope:
        w.trigger(availableNow=True).start().awaitTermination()


def run_available_now(
    sdf: DataFrame, sink_dir: str, checkpoint_dir: str, fmt: str = "parquet"
) -> None:
    """S1/S3: process everything currently landed, then stop — the
    deterministic 'scroll until stable, then save' loop. Incremental re-runs
    resume from the checkpoint (the engine twin of skip-if-exists F8)."""
    drain(sdf, "available_now", path=sink_dir, fmt=fmt, checkpoint_dir=checkpoint_dir)


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
