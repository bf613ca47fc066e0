"""Sink round-trip catalog queries (SURVEY §2.10): each entry lands data
through a sink, reads the landed files back and re-aggregates, and its
oracle recomputes the result straight from the source tables — so a hash
match proves the sink persisted everything exactly.

* SNK3 — combined vs by-key JSON sink modes
  (nba_insights_scraper.py:518-575);
* SNK7 — the Excel workbook sink;
* SNK8 — a hive-partitioned parquet sink with a partition-pruned read,
  whose landing dq6 reconciles against its source and j15 joins;
* SNK10 — dynamic partition overwrite;
* SNK11-SNK14 — the reference's literal JSON trees (sinks_ref.py): the
  per-team page tree, the insights tree, the bref stats document and the
  DvP matrix document.

Every fixture lands through :func:`io.landing`, keyed by the stamps of
the tables it reads; SNK10 writes a fresh tree per call because the
overwrite is the thing under test.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import landing, read_table, session_tmpdir
from nba_data_pipeline_spark.plans.registry import query

_PAYLOAD_SCHEMA = (
    "o_orderstatus string, o_orderpriority string, n_orders long, total_cents long"
)


def _payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("total_cents"),
    )


def _written_root(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str) -> None:
        payload = _payload(spark, sf_dir)
        # Combined mode: one logical dataset, one directory. By-key mode:
        # partitionBy writes <root>/by_key/o_orderstatus=<k>/part-*.json —
        # the key leaves the row body and becomes the directory name, which
        # the read-back must reconstitute (that asymmetry is what SNK3
        # actually exercises).
        # coalesce/repartition mirror the reference's file layout exactly —
        # ONE combined file, one file per key — and avoid writing 32 nearly
        # empty part files per mode for a 15-row payload. At real scale the
        # combined coalesce(1) would instead stay partitioned (a single
        # writer is the bottleneck); the by-key repartition(key) is the
        # scale-correct form (one shuffle, writers aligned to partitions).
        payload.coalesce(1).write.mode("overwrite").json(
            os.path.join(root, "combined")
        )
        payload.repartition("o_orderstatus").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).json(os.path.join(root, "by_key"))

    return landing("snk3", sf_dir, ("orders",), build)


@query(
    "snk3_sink_modes",
    oracle="""
WITH agg AS (
  SELECT o_orderstatus,
         COUNT(DISTINCT o_orderpriority) AS n_groups,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS total_cents
  FROM orders GROUP BY o_orderstatus
)
SELECT m.mode, a.o_orderstatus, a.n_groups, a.n_orders, a.total_cents
FROM agg a CROSS JOIN (VALUES ('combined'), ('by_key')) AS m(mode)
ORDER BY m.mode, a.o_orderstatus
""",
)
def snk3_sink_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK3: combined vs by-key sink modes, verified by reading the landed
    JSON back and re-aggregating per mode. Hash-matching the oracle (which
    never touches the files) proves both layouts round-trip the full
    content exactly — per-key counts, group fan-out, and exact integer
    cents survive JSON serialization and partition-column extraction."""
    root = _written_root(spark, sf_dir)
    combined = spark.read.schema(_PAYLOAD_SCHEMA).json(os.path.join(root, "combined"))
    by_key = spark.read.schema(_PAYLOAD_SCHEMA).json(os.path.join(root, "by_key"))

    def manifest(df: DataFrame, mode: str) -> DataFrame:
        return (
            df.groupBy("o_orderstatus")
            .agg(
                F.countDistinct("o_orderpriority").alias("n_groups"),
                F.sum("n_orders").alias("n_orders"),
                F.sum("total_cents").alias("total_cents"),
            )
            .select(F.lit(mode).alias("mode"), "o_orderstatus", "n_groups", "n_orders", "total_cents")
        )

    return (
        manifest(combined, "combined")
        .unionByName(manifest(by_key, "by_key"))
        .orderBy("mode", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# SNK7: Excel workbook sink round-trip
# ---------------------------------------------------------------------------

@query(
    "snk7_xlsx_roundtrip",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def snk7_xlsx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK7: per-status order summary lands as an Excel workbook
    (get_basketball_stats_all_teams_Version6.py:200-210 combined-workbook
    mode), is re-opened from the XML parts, and re-emitted. Hash-matching
    the oracle (which never touches the file) proves header order, cell
    typing, and exact integer cents survive the workbook container.

    The aggregate is distributed; only the workbook write/read is
    driver-side — report-shaped output at dim cardinality (one row per
    order status), which is the only thing this sink accepts by contract
    (its row cap refuses fact-sized frames)."""
    from nba_data_pipeline_spark.sources.xlsx_sink import read_xlsx, write_xlsx

    def build(out_dir: str) -> None:
        summary = (
            read_table(spark, sf_dir, "orders")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
                ).alias("total_cents"),
            )
            .orderBy("o_orderstatus")
        )
        write_xlsx({"order_summary": summary}, os.path.join(out_dir, "orders.xlsx"))

    out_dir = landing("snk7", sf_dir, ("orders",), build)
    header, rows = read_xlsx(os.path.join(out_dir, "orders.xlsx"))["order_summary"]
    # Explicit all-string DDL schema: xlsx cells come back as strings, and
    # relying on inference would turn an empty sheet or an all-None column
    # into an opaque 'cannot infer schema' error instead of a clear cast
    # failure on the typed select below.
    reread = spark.createDataFrame(
        [tuple(r) for r in rows],
        schema=", ".join(f"`{h}` string" for h in header)
    )
    return reread.select(
        F.col("o_orderstatus"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
    ).orderBy("o_orderstatus")


def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Land (once per process per data generation) orders as a
    hive-partitioned parquet dataset, partitionBy(o_orderpriority) — the
    shared fact-side layout for snk8's static-pruning read-back and j15's
    dynamic-partition-pruning join."""

    def build(out_dir: str) -> None:
        (
            read_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.partitionBy("o_orderpriority")
            .mode("overwrite")
            .parquet(os.path.join(out_dir, "orders_by_priority"))
        )

    out_dir = landing("snk8", sf_dir, ("orders",), build)
    return os.path.join(out_dir, "orders_by_priority")


@query(
    "snk8_partitioned_parquet_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def snk8_partitioned_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK8: hive-partitioned PARQUET sink + partition-PRUNED read-back —
    the warehouse-native layout the JSON/CSV/XLSX sinks don't cover:
    orders land once as ``parquet partitionBy(o_orderpriority)`` (a fully
    distributed write — every task writes its own partition files, no
    driver collect), then the query reads the landed dataset back with a
    partition filter and aggregates. The filter resolves against
    DIRECTORY names, not data (``PartitionFilters`` in the scan,
    asserted by pytest), so 3 of 5 partitions are never opened — the
    read-side payoff that justifies partitioned layout at 100 TB, where
    a priority-scoped job touches 40% of the files instead of re-scanning
    the table. The oracle aggregates the original table under the same
    predicate: a hash match proves the round-trip lost nothing and the
    partition column rehydrated exactly (it is stored as a directory
    value, not in the data files)."""
    landed = spark.read.parquet(partitioned_orders_path(spark, sf_dir))
    return (
        landed.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            )
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "dq6_migration_reconciliation",
    oracle="""
WITH chk AS (
  SELECT o_orderpriority AS part,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(concat('0x', substr(md5(concat(
              CAST(o_orderkey AS VARCHAR), ':',
              CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS VARCHAR))), 1, 12)) AS BIGINT))
              % CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS checksum
  FROM orders GROUP BY 1
)
SELECT part, n_rows AS src_rows, n_rows AS dst_rows, checksum AS src_checksum,
       checksum AS dst_checksum, TRUE AS rows_match, TRUE AS checksum_match
FROM chk
ORDER BY part
""",
)
def dq6_migration_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ6: MIGRATION RECONCILIATION — the sign-off audit after any
    rewrite/migration (here: orders vs its hive-partitioned copy from
    snk8's landing): per partition, row counts AND an order-independent
    content checksum (sum of 48-bit md5 slices over the business key +
    integer cents) computed on BOTH sides and compared. A row lost,
    duplicated, or value-corrupted by the rewrite flips exactly one
    partition's flags — the per-partition granularity is what makes the
    repair cheap (re-copy one directory, not the table). The additive
    checksum is commutative, so it needs no sort and partial-aggregates
    map-side; the 48-bit md5 slices accumulate in DECIMAL(38,0) and
    surface mod 2^63, so the checksum is exact and BIGINT-shaped at any
    partition size (the earlier plain-BIGINT sum overflowed at ~30k rows
    per partition — caught by the sf1 oracle sweep).

    The oracle recomputes the source-side audit and pins every flag TRUE
    — the engine-side comparison must find the landed copy identical."""

    def checksum(df: DataFrame, part_col: str) -> DataFrame:
        cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        cents.cast("string"),
                    ).cast("binary")
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        # The 48-bit slices accumulate in DECIMAL(38,0) and surface mod
        # 2^63: below 2^63 the result equals the plain sum (so values are
        # unchanged at the scales already driver-verified), and past it —
        # ~30k rows per partition, where the old BIGINT sum overflowed at
        # sf1 — the modular checksum stays exact at any corpus size. A
        # modular sum is still an order-independent content checksum; the
        # oracle applies the identical reduction on HUGEINT.
        two63 = F.expr("CAST('9223372036854775808' AS DECIMAL(38,0))")
        return df.groupBy(F.col(part_col).alias("part")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.sum(h.cast("decimal(38,0)")) % two63).cast("bigint").alias("checksum"),
        )

    src = checksum(read_table(spark, sf_dir, "orders"), "o_orderpriority")
    dst = checksum(
        spark.read.parquet(partitioned_orders_path(spark, sf_dir)), "o_orderpriority"
    ).select(
        F.col("part").alias("d_part"),
        F.col("n_rows").alias("dst_rows"),
        F.col("checksum").alias("dst_checksum"),
    )
    return (
        src.join(dst, src["part"] == dst["d_part"], "full")
        .select(
            "part",
            F.col("n_rows").alias("src_rows"),
            "dst_rows",
            F.col("checksum").alias("src_checksum"),
            "dst_checksum",
            (F.col("n_rows") == F.col("dst_rows")).alias("rows_match"),
            (F.col("checksum") == F.col("dst_checksum")).alias("checksum_match"),
        )
        .orderBy("part")
    )


@query(
    "snk10_dynamic_partition_overwrite",
    oracle="""
WITH merged AS (
  SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2))
             AS price
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) AS total_price
FROM merged
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def snk10_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK10: dynamic partition overwrite — the lake backfill contract:
    rewriting ONE partition's data replaces exactly that partition and
    leaves every other partition's files untouched (static overwrite mode
    would truncate the whole table — the classic data-loss foot-gun this
    query pins). The full table lands partitioned by priority; then a
    corrected '1-URGENT' slice (every price +1, exact decimal) is written
    with mode=overwrite under partitionOverwriteMode=dynamic; the
    read-back aggregate must equal original-elsewhere + corrected-slice,
    which is what the oracle computes.

    Scale shape: the backfill write shuffles only the corrected slice;
    untouched partitions cost zero I/O; the proof aggregate is one
    partition-pruned re-read. This composes with snk8 (partition-pruned
    reads) and lo2 (compaction) as the partition-lifecycle trio."""
    out_dir = session_tmpdir("snk10_")
    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        "o_orderpriority",
    )
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out_dir)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected = base.filter(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey",
            (F.col("price") + 1).cast("decimal(18,2)").alias("price"),
            "o_orderpriority",
        )
        corrected.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
            out_dir
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast("double").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# SNK11: reference-LITERAL layout tree round-trip (sinks_ref.py)
# ---------------------------------------------------------------------------

_SNK11_DATE = "2026-01-01"


def _snk11_tree(spark: SparkSession, sf_dir: str) -> str:
    from nba_data_pipeline_spark.sinks_ref import write_team_page_tree

    def build(root: str) -> None:
        n = read_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
        c = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_acctbal"
        )
        payload = (
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select(
                F.col("n_name").alias("team"),
                F.element_at(
                    F.array(F.lit("lineups"), F.lit("onoff"), F.lit("players")),
                    (F.col("n_nationkey") % 3).cast("int") + 1,
                ).alias("page"),
                F.col("c_custkey").alias("row_idx"),
                (F.col("c_acctbal").cast("decimal(18,2)") * 100)
                .cast("bigint")
                .alias("cents"),
            )
        )
        write_team_page_tree(
            payload, root, date_str=_SNK11_DATE,
            team_col="team", page_col="page", order_col="row_idx",
        )

    return landing("snk11", sf_dir, ("nation", "customer"), build)


@query(
    "snk11_reference_layout_tree",
    oracle=f"""
WITH base AS (
  SELECT n.n_name AS team,
         CASE CAST(n.n_nationkey % 3 AS INT)
              WHEN 0 THEN 'LINEUPS' WHEN 1 THEN 'ONOFF'
              ELSE 'PLAYERS' END AS page,
         c.c_custkey,
         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT team, page, COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       MIN(c_custkey) AS min_key
FROM base GROUP BY team, page ORDER BY team, page
""",
)
def snk11_reference_layout_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK11: the reference's LITERAL per-team folder tree
    (``<base>/<TEAM>/CLEANINGdaGLASS/<PAGE>_<date>.json``,
    Cleaning_Glass_#1.py:461-495) written by sinks_ref.write_team_page_tree
    and proven by re-reading the pretty-printed documents: the (team, page)
    keys live ONLY in the tree (directory + filename), so the read-back
    must reconstitute them from paths, and every row must survive the
    envelope round-trip — the aggregate hash-matches the base tables.

    Scale shape: the envelope is a grouped aggregate and the staging write
    a partitioned Spark JSON sink (fact-grain work all distributed); the
    layout finalize and this multiLine read-back are one small file per
    (team, page) LEAF — dimension grain, bounded at any corpus size."""
    root = _snk11_tree(spark, sf_dir)
    docs = (
        spark.read.option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .json(root)
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"/([^/]+)/CLEANINGdaGLASS/", 1
            ).alias("team"),
            F.regexp_extract(
                F.col("_metadata.file_path"), r"/([A-Z]+)_\d{4}-\d{2}-\d{2}\.json$", 1
            ).alias("page"),
            F.explode("rows").alias("r"),
        )
    )
    return (
        docs.groupBy("team", "page")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("r.cents").alias("total_cents"),
            F.min("r.row_idx").alias("min_key"),
        )
        .orderBy("team", "page")
    )


# ---------------------------------------------------------------------------
# SNK12: per-team insights tree round-trip (sinks_ref.write_insights_tree)
# ---------------------------------------------------------------------------

def _snk12_tree(spark: SparkSession, sf_dir: str) -> str:
    from nba_data_pipeline_spark.sinks_ref import write_insights_tree

    def build(root: str) -> None:
        n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        c = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_acctbal"
        )
        payload = (
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select(
                F.col("n_name").alias("player_team"),
                F.col("c_custkey").alias("row_idx"),
                (F.col("c_acctbal").cast("decimal(18,2)") * 100)
                .cast("bigint")
                .alias("cents"),
            )
        )
        write_insights_tree(
            payload, root, save_mode="by_team",
            metadata={"scrape_date": "2026-01-01"},
            team_col="player_team", order_col="row_idx",
        )

    return landing("snk12", sf_dir, ("nation", "customer"), build)


@query(
    "snk12_insights_tree",
    oracle="""
WITH base AS (
  SELECT n.n_name AS team, c.c_custkey,
         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT team, COUNT(*) AS n_rows, COUNT(*) AS meta_total,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       MIN(c_custkey) AS min_key
FROM base GROUP BY team ORDER BY team
""",
)
def snk12_insights_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK12: the insights scraper's by-team tree
    (``<base>/<TEAM>/insights.json``, nba_insights_scraper.py:548-573)
    written by sinks_ref.write_insights_tree and proven by re-reading the
    documents: the team key lives ONLY in the folder name, every insight
    row must survive the envelope round-trip (including keeping its own
    player_team field), and each document's narrowed
    ``metadata.total_insights`` must equal its actual row count — the
    aggregate hash-matches the base tables.

    Scale shape: same contract as SNK11 — grouped envelope + partitioned
    staging write are fact-grain distributed; finalize and this multiLine
    read-back touch one small file per TEAM (dimension grain)."""
    root = _snk12_tree(spark, sf_dir)
    docs = (
        spark.read.option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "insights.json")
        .json(root)
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"/([^/]+)/insights\.json$", 1
            ).alias("team_from_path"),
            F.col("metadata.total_insights").alias("meta_total"),
            F.explode("insights").alias("r"),
        )
    )
    return (
        docs.groupBy("team_from_path")
        # the in-row player_team must agree with the folder the row landed
        # in; a mismatch would split the group and break the count hash
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.first("meta_total").alias("meta_total"),
            F.sum("r.cents").alias("total_cents"),
            F.min("r.row_idx").alias("min_key"),
            F.min(
                (F.col("r.player_team") == F.col("team_from_path")).cast("int")
            ).alias("__team_ok"),
        )
        .filter(F.col("__team_ok") == 1)
        .select(
            F.col("team_from_path").alias("team"),
            "n_rows", "meta_total", "total_cents", "min_key",
        )
        .orderBy("team")
    )


# ---------------------------------------------------------------------------
# SNK13: Basketball-Reference per-team stats document round-trip
# (sinks_ref.write_team_stats_tree — the bref CLI's sink)
# ---------------------------------------------------------------------------

def _snk13_tree(spark: SparkSession, sf_dir: str) -> str:
    from nba_data_pipeline_spark.sinks_ref import write_team_stats_tree

    def build(root: str) -> None:
        n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        c = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_acctbal"
        )
        s = read_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        )
        roster = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
            F.col("n_name").alias("team"),
            F.col("c_custkey").alias("row_idx"),
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        advanced = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
            F.col("n_name").alias("team"),
            F.col("s_suppkey").alias("row_idx"),
            (F.col("s_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        write_team_stats_tree(
            [("Roster", roster), ("Advanced", advanced)],
            root, season="2026", team_col="team", order_col="row_idx",
        )

    return landing("snk13", sf_dir, ("nation", "customer", "supplier"), build)


@query(
    "snk13_bref_stats_tree",
    oracle="""
WITH r AS (
  SELECT n.n_name AS team, COUNT(*) AS n_roster,
         CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS roster_cents,
         MIN(c.c_custkey) AS min_roster_key
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), a AS (
  SELECT n.n_name AS team, COUNT(*) AS n_adv,
         CAST(SUM(CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS adv_cents
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT r.team, r.n_roster, r.roster_cents, r.min_roster_key,
       a.n_adv, a.adv_cents
FROM r JOIN a ON r.team = a.team
ORDER BY r.team
""",
)
def snk13_bref_stats_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK13: the Basketball-Reference per-team stats document
    (``<base>/<TEAM>/<TEAM>_<season>_NBA_Stats.json`` with one key per
    table, Basketball_Refrence_alltables.py:264-295) written by
    sinks_ref.write_team_stats_tree — the ``bref`` CLI's sink — and proven
    by re-reading the landed documents: the team key lives only in the
    tree path, BOTH heterogeneous tables must survive the round-trip in
    one document, and per-table counts/sums/min-keys hash-match the base
    tables. Teams present in only one source table are excluded exactly
    like the oracle's inner join.

    Scale shape: per-table grouped envelope + partitionBy staging are
    fact-grain distributed; the finalize and this multiLine read-back
    touch one small document per TEAM (dimension grain, ≤30 leaves)."""
    root = _snk13_tree(spark, sf_dir)
    docs = (
        spark.read.option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*_NBA_Stats.json")
        .json(root)
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"),
                r"/([^/]+)_2026_NBA_Stats\.json$", 1,
            ).alias("team"),
            "Roster", "Advanced",
        )
    )
    return (
        docs.filter(F.col("Roster").isNotNull() & F.col("Advanced").isNotNull())
        .select(
            "team",
            F.size("Roster").cast("bigint").alias("n_roster"),
            F.expr(
                "aggregate(Roster, CAST(0 AS BIGINT), (acc, x) -> acc + x.cents)"
            ).alias("roster_cents"),
            F.expr("array_min(transform(Roster, x -> x.row_idx))").alias(
                "min_roster_key"
            ),
            F.size("Advanced").cast("bigint").alias("n_adv"),
            F.expr(
                "aggregate(Advanced, CAST(0 AS BIGINT), (acc, x) -> acc + x.cents)"
            ).alias("adv_cents"),
        )
        .orderBy("team")
    )


# ---------------------------------------------------------------------------
# SNK14: DvP combined nested document round-trip
# (sinks_ref.write_dvp_matrix_doc — the dvp CLI's sink)
# ---------------------------------------------------------------------------

def _snk14_doc(spark: SparkSession, sf_dir: str) -> str:
    """Build the DIRTY DvP matrix from customer-bucket aggregates, run the
    full pipeline (X11 canonicalization + W1 LA rule → S5 all-or-nothing
    gate → the combined nested document sink), and return the landing root
    holding the document."""
    from nba_data_pipeline_spark.operators.dvp import (
        DVP_ABBREVS,
        DVP_CANONICAL_TEAMS,
        DVP_FULL_NAMES,
        DVP_POSITIONS,
        DVP_TIMEFRAMES,
        dvp_alias_df,
        validate_dvp_rows,
    )
    from nba_data_pipeline_spark.operators.enrich import canonicalize_teams
    from nba_data_pipeline_spark.sinks_ref import write_dvp_matrix_doc

    def build(root: str) -> None:
        b = (
            read_table(spark, sf_dir, "customer")
            .groupBy((F.col("c_custkey") % 30).alias("bi"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("c_custkey").alias("mn"),
                (F.sum("c_custkey") % 100000).alias("sm"),
            )
        )
        pos = spark.createDataFrame(
            [(p, i) for i, p in enumerate(DVP_POSITIONS)], "position string, pi int"
        )
        tf = spark.createDataFrame(
            [(t, i) for i, t in enumerate(DVP_TIMEFRAMES)], "timeframe string, ti int"
        )
        canon_arr = F.array(*[F.lit(c) for c in DVP_CANONICAL_TEAMS])
        city_paren = F.concat(
            F.element_at(canon_arr, (F.col("bi") + 1).cast("int")),
            F.lit(" (14-"), (F.col("bi") % 20).cast("string"), F.lit(")"),
        )
        abbr_arr = F.array(*[F.lit(a) for a in DVP_ABBREVS])
        full_arr = F.array(*[F.lit(n) for n in DVP_FULL_NAMES])
        variant = (F.col("bi") + F.col("pi") + F.col("ti")) % 4
        la_first = DVP_CANONICAL_TEAMS.index("LA Lakers")
        la_second = DVP_CANONICAL_TEAMS.index("LA Clippers")
        team_raw = (
            F.when(F.col("bi") == la_first, F.lit("Los Angeles"))
            .when(F.col("bi") == la_second, F.lit("Los Angeles (22-10)"))
            .when(variant == 0, F.upper(F.element_at(canon_arr, (F.col("bi") + 1).cast("int"))))
            .when(variant == 1, city_paren)
            .when(variant == 2, F.element_at(abbr_arr, (F.col("bi") + 1).cast("int")))
            .otherwise(F.element_at(full_arr, (F.col("bi") + 1).cast("int")))
        )
        raw = (
            b.crossJoin(F.broadcast(pos))
            .crossJoin(F.broadcast(tf))
            .select(
                "position", "timeframe",
                F.col("bi").alias("row_idx"),
                team_raw.alias("team_raw"),
                (F.col("n") + F.col("pi")).cast("string").alias("PTS"),
                ((F.col("mn") + F.col("ti")) % 1000).cast("string").alias("REB"),
                ((F.col("sm") + F.col("pi") * F.col("ti")) % 100000)
                .cast("string").alias("AST"),
                ((F.col("n") + F.col("ti")) % 50).cast("string").alias("3PM"),
                ((F.col("mn") + F.col("pi")) % 97).cast("string").alias("STL"),
                ((F.col("sm") + F.col("ti")) % 89).cast("string").alias("BLK"),
                ((F.col("n") + F.col("pi") + F.col("ti")) % 23)
                .cast("string").alias("TO"),
            )
        )
        canon = canonicalize_teams(
            raw,
            dvp_alias_df(spark),
            team_col="team_raw",
            position_col=["position", "timeframe"],
            row_idx_col="row_idx",
            la_first="LA Lakers",
            la_second="LA Clippers",
        ).persist()
        try:
            validate_dvp_rows(canon)
            write_dvp_matrix_doc(
                canon.select(
                    F.col("team").alias("Team"),
                    F.col("position").alias("Position"),
                    F.col("timeframe").alias("Timeframe"),
                    "PTS", "REB", "AST", "3PM", "STL", "BLK", "TO",
                    "row_idx",
                ),
                root,
                metadata={
                    "source": "bettingpros.com",
                    "url": "https://dvp.example/defense-vs-position",
                    "scraped_at": "2026-01-01T00:00:00",
                },
            )
        finally:
            canon.unpersist()

    return landing("snk14", sf_dir, ("customer",), build)


def _snk14_oracle_sql() -> str:
    from nba_data_pipeline_spark.operators.dvp import (
        DVP_CANONICAL_TEAMS,
        DVP_POSITIONS,
        DVP_TIMEFRAMES,
    )

    canon_sql = "[" + ", ".join(f"'{c}'" for c in DVP_CANONICAL_TEAMS) + "]"
    pos_sql = ", ".join(f"'{p}'" for p in DVP_POSITIONS)
    pi_sql = ", ".join(str(i) for i in range(len(DVP_POSITIONS)))
    tf_sql = ", ".join(f"'{t}'" for t in DVP_TIMEFRAMES)
    ti_sql = ", ".join(str(i) for i in range(len(DVP_TIMEFRAMES)))
    return f"""
WITH b AS (
  SELECT c_custkey % 30 AS bi, COUNT(*) AS n, MIN(c_custkey) AS mn,
         SUM(c_custkey) % 100000 AS sm
  FROM customer GROUP BY 1
),
pos AS (SELECT UNNEST([{pos_sql}]) AS position, UNNEST([{pi_sql}]) AS pi),
tf AS (SELECT UNNEST([{tf_sql}]) AS timeframe, UNNEST([{ti_sql}]) AS ti)
SELECT pos.position, tf.timeframe,
       list_extract({canon_sql}, CAST(bi AS INT) + 1) AS team,
       CAST(n + pi AS VARCHAR) AS pts,
       CAST((mn + ti) % 1000 AS VARCHAR) AS reb,
       CAST((sm + pi * ti) % 100000 AS VARCHAR) AS ast,
       CAST((n + ti) % 50 AS VARCHAR) AS three_pm,
       CAST((mn + pi) % 97 AS VARCHAR) AS stl,
       CAST((sm + ti) % 89 AS VARCHAR) AS blk,
       CAST((n + pi + ti) % 23 AS VARCHAR) AS to_stat
FROM b CROSS JOIN pos CROSS JOIN tf
ORDER BY position, timeframe, team
"""


@query("snk14_dvp_matrix_tree", oracle=_snk14_oracle_sql())
def snk14_dvp_matrix_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK14: the DvP combined nested document
    (``defense_vs_position_all.json`` with ``{metadata, data:{position:
    {timeframe:[rows]}}}``, DEFENSEVSPOSTION.PY:544-572) — the ``dvp``
    CLI's full pipeline proven end to end: a DIRTY 30-team × 5-position ×
    4-timeframe matrix (record parens, alias abbreviations, mascot names,
    and 'Los Angeles' twice per cell) built from customer-bucket
    aggregates, canonicalized (X11 + the W1 ordinal LA rule), gated
    all-or-nothing (S5, :524-541), landed as the single nested document,
    and READ BACK — the oracle computes every cell's canonical team and
    stat strings directly from the same key arithmetic, so alias
    resolution, LA ordering, the gate, and the envelope round-trip must
    all be exact for the hash to match.

    Scale shape: the matrix is dimension grain (600 rows) but its stat
    values aggregate the full customer table, so the distributed stages
    scale with the fact table while the document finalize stays O(20
    leaves)."""
    from nba_data_pipeline_spark.operators.dvp import (
        DVP_POSITIONS,
        DVP_TIMEFRAMES,
    )

    root = _snk14_doc(spark, sf_dir)
    doc = spark.read.option("multiLine", "true").json(
        os.path.join(root, "defense_vs_position_all.json")
    )
    # ONE scan, two explodes (r11, guide §2.4): the readback was a 20-way
    # union with one subtree per (position, timeframe) cell — 20 separate
    # FileScans each re-parsing the whole multiLine JSON document
    # (2.5 → 0.4 s warm at sf0.1, rows identical; every cell row already
    # carries its own Position/Timeframe fields, so stacking the 20 cell
    # arrays into one array-of-arrays loses nothing).
    arr = F.array(
        *[
            F.col(f"data.{p}.`{t}`")
            for p in DVP_POSITIONS
            for t in DVP_TIMEFRAMES
        ]
    )
    out = (
        doc.select(F.explode(arr).alias("cell"))
        .select(F.explode("cell").alias("r"))
        .select(
            F.col("r.Position").alias("position"),
            F.col("r.Timeframe").alias("timeframe"),
            F.col("r.Team").alias("team"),
            F.col("r.PTS").alias("pts"),
            F.col("r.REB").alias("reb"),
            F.col("r.AST").alias("ast"),
            F.col("r.`3PM`").alias("three_pm"),
            F.col("r.STL").alias("stl"),
            F.col("r.BLK").alias("blk"),
            F.col("r.TO").alias("to_stat"),
        )
    )
    return out.orderBy("position", "timeframe", "team")
