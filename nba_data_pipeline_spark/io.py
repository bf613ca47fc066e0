"""Table IO: the engine's contract starts at landed data (parquet) and ends
at partitioned sinks, mirroring the reference's landed-JSON trees
(Cleaning_Glass_#1.py:455-495, nba_props_scraper.py:824-860 — see SURVEY §2
SNK1-SNK6) but Spark-native: columnar parquet in, ``partitionBy`` out.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_TMP_ROOT: str | None = None


def session_tmpdir(prefix: str) -> str:
    """mkdtemp under ONE per-process root that is removed at interpreter
    exit. Fixture landings, sink outputs, and streaming checkpoints all
    route through here so a long-lived service doesn't accumulate orphaned
    ``*_landing_``/``*_ckpt_`` directories across catalog runs (they were
    previously leaked one per query per session)."""
    global _TMP_ROOT
    import atexit
    import shutil
    import tempfile

    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="nba_spark_session_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_TMP_ROOT)


_CKPT_ROOT: str | None = None


def streaming_checkpoint_dir(prefix: str) -> str:
    """Checkpoint location for a bounded streaming drain.

    A drained availableNow query's checkpoint is pure coordination
    metadata — offset/commit logs plus state-store deltas, kilobytes —
    yet every micro-batch fsyncs several of these files, so on a
    disk-backed /tmp the per-batch floor is fsync latency, not compute
    (the drains' dominant fixed cost at bench SFs). Route them to tmpfs
    (/dev/shm) when present: the local-mode analog of a production
    cluster's fast statestore volume. Durability is irrelevant here by
    construction — these checkpoints are created fresh per drain and
    never resumed across processes (the module's standing note: reusing
    an availableNow checkpoint against a drained source yields an empty
    batch). Override the root with SPARK_GRAFT_CKPT_DIR; falls back to
    the session tmpdir when no tmpfs exists."""
    global _CKPT_ROOT
    import atexit
    import shutil
    import tempfile

    root = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if root is None and os.path.isdir("/dev/shm"):
        root = "/dev/shm"
    if root is None:
        return session_tmpdir(prefix)
    if _CKPT_ROOT is None:
        _CKPT_ROOT = tempfile.mkdtemp(prefix="nba_spark_ckpt_", dir=root)
        atexit.register(shutil.rmtree, _CKPT_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_CKPT_ROOT)


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Row count from the parquet FOOTER — a driver-side stats probe, no
    Spark job. This is what size-adaptive plans (geo1's output-mass pin,
    running_extreme's small-input cutover) hand to :func:`fits` before
    choosing a strategy: on a warehouse it would be catalog statistics; on
    landed files the footer metadata is the same number for free. Returns
    None when the path isn't footer-readable (remote FS without pyarrow
    access), which :func:`fits` reads as "not small"."""
    try:
        import pyarrow.parquet as pq

        path = table_path(sf_dir, name)
        if os.path.isfile(path):
            return pq.read_metadata(path).num_rows
        if os.path.isdir(path):
            return sum(
                pq.read_metadata(os.path.join(path, f)).num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
    except Exception:
        return None
    return None


def fits(site: str, rows: int | None, limit: int) -> bool:
    """The package's one size seam: True when a known ``rows`` is at most
    ``limit``, so the fork named ``site`` may take its small-input branch.
    An unknown size (``None``, e.g. an unreadable footer) is never small —
    the scale branch is the one that is correct at every size. Callers
    look this up as ``io.fits`` at call time, so patching the attribute
    reaches every fork (``tests/test_size_forks.py`` forces each scale
    branch that way)."""
    return rows is not None and rows <= limit


def table_col_minmax(sf_dir: str, name: str, col: str) -> tuple[int, int] | None:
    """(min, max) of ``col`` from parquet FOOTER statistics — a driver-side
    probe, zero data scan (same discipline as :func:`table_row_count`; on a
    warehouse this is catalog column stats). No catalog entry calls it; it
    stays because the benchmark's traced run (``perfbench/tracing.py``)
    wraps it by name as a footer probe.
    Returns None when any row group lacks statistics for the column."""
    try:
        import pyarrow.parquet as pq

        path = table_path(sf_dir, name)
        files = (
            [path]
            if os.path.isfile(path)
            else [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        )
        lo: int | None = None
        hi: int | None = None
        for f in files:
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return None
        return lo, hi
    except Exception:
        return None


def table_stamp(sf_dir: str, name: str) -> int:
    """Change stamp of a landed table, the key for caches derived from it.
    For a single-file table this is its mtime. For a DIRECTORY table the
    directory's own mtime only moves when entries are added/removed —
    rewriting a part-file in place keeps it — so hash the contained
    files' (name, size, mtime) listing instead; any in-place rewrite
    changes the stamp."""
    p = table_path(sf_dir, name)
    st = os.stat(p)
    if not os.path.isdir(p):
        return st.st_mtime_ns
    h = 0
    for entry in sorted(os.listdir(p)):
        fs = os.stat(os.path.join(p, entry))
        h = hash((h, entry, fs.st_size, fs.st_mtime_ns))
    return h


_LANDINGS: dict[tuple[str, str, tuple[int, ...]], str] = {}


def landing(
    prefix: str, sf_dir: str, tables: tuple[str, ...], build: Callable[[str], None]
) -> str:
    """The package's one landing cache: the fixture directory ``prefix``
    derives from ``tables`` of ``sf_dir``. On a miss ``build`` fills a
    fresh :func:`session_tmpdir`, and the entry is stored only once it
    returns, so a failed build is retried rather than cached.

    The key is ``(prefix, sf_dir, table_stamp of each of tables)``, so
    ``tables`` must name every table ``build`` reads: a table rewritten
    in place then re-lands instead of serving a stale tree. Reuse exists
    because re-landing identical bytes on every call would only
    re-measure the filesystem. Stream checkpoints are never landed here:
    an availableNow query against a drained checkpoint treats the files
    as already processed."""
    key = (prefix, sf_dir, tuple(table_stamp(sf_dir, t) for t in tables))
    if key not in _LANDINGS:
        land_dir = session_tmpdir(f"{prefix}_landing_")
        build(land_dir)
        _LANDINGS[key] = land_dir
    return _LANDINGS[key]


def _ts_is_nanos(path: str) -> bool:
    """Whether the parquet footer of ``path`` (a file, or the first part
    file of a directory) types ``ts`` as TIMESTAMP(NANOS). A path pyarrow
    cannot open (e.g. a remote URI) counts as not nanos; Spark's own read
    then decides."""
    import json

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    try:
        schema = pq.read_metadata(path).schema
    except (OSError, ValueError):
        return False
    if "ts" not in schema.names:
        return False
    logical = schema.column(schema.names.index("ts")).logical_type
    return json.loads(logical.to_json()).get("timeUnit") == "nanoseconds"


def read_events(
    spark: SparkSession,
    path: str,
    reader: Callable[[str], DataFrame] | None = None,
) -> DataFrame:
    """Open an events-shaped parquet file or directory — batch by default,
    or through ``reader`` (a stream reader) — with ``ts`` as session-tz
    TIMESTAMP. The one owner of the ``ts`` layouts events has landed in
    across data regenerations:

    * TIMESTAMP(NANOS), which Spark's reader rejects: read as long under
      ``spark.sql.legacy.parquet.nanosAsLong`` (set only when the footer
      says so — on other layouts the caller's session is left untouched)
      and truncated to micros, as is a plain int64 nanos column;
    * micros with ``isAdjustedToUTC=false``, which Spark 4 infers as
      TIMESTAMP_NTZ: cast to session-tz TIMESTAMP (the session runs UTC,
      so the cast is value-preserving and matches DuckDB's naive reading).
    """
    if _ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (reader or spark.read.parquet)(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one landed table. Plain parquet scan → Catalyst gets pushdown +
    pruning for free; callers must select/filter declaratively. ``events``
    goes through :func:`read_events` for its ``ts`` layouts."""
    if name == "events":
        return read_events(spark, table_path(sf_dir, name))
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every landed table as a temp view so SQL-form queries can
    name them exactly as the DuckDB oracle does."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
