"""Join/lookup queries (SURVEY §2.5 J1-J8).

The reference correlates datasets only via dict lookups and containment
matching; the engine supplies real relational joins (Layer B): broadcast dim
enrichment (J1/J2), anti-join completeness (J3), containment theta join
(J4), fact⋈fact equi-join (J6), as-of/latest-snapshot join (J7), semi/anti
selection (J8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import read_table
from nba_data_pipeline_spark.plans.exact import dsum, sql_dsum
from nba_data_pipeline_spark.plans.registry import query


@query(
    "j6_customer_revenue_topk",
    oracle=f"""
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       {sql_dsum("l.l_extendedprice")} AS revenue,
       COUNT(*) AS n_lineitems
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
ORDER BY revenue DESC, c.c_custkey
LIMIT 100
""",
)
def j6_customer_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact⋈dim equi-join chain (J6 — the stats⋈props unification the
    reference's projection model implies, README.md:2) + top-k. lineitem
    shuffles once on orderkey; the aggregate reuses the join partitioning
    where AQE allows; top-k is a TakeOrdered, not a full sort."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            dsum("l_extendedprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(100)
    )


@query(
    "j1_dim_enrichment",
    oracle="""
SELECT s.s_suppkey, s.s_name, n.n_name AS nation_name, r.r_name AS region_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY s.s_suppkey
""",
)
def j1_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast LUT enrichment (J1/J2 — TEAMS/TEAM_ALIASES dict lookups,
    Cleaning_Glass_#1.py:36-67, DEFENSEVSPOSTION.PY:83-116): both dims
    broadcast, zero shuffles."""
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "j3_anti_join_missing",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
ANTI JOIN orders o ON o.o_custkey = c.c_custkey
ORDER BY c.c_custkey
""",
)
def j3_anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join completeness check (J3 — missing-teams detection,
    DEFENSEVSPOSTION.PY:535-537): customers with zero orders."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti").orderBy("c_custkey")
    )


@query(
    "j8_semi_join_selection",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
SEMI JOIN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') o
  ON o.o_custkey = c.c_custkey
ORDER BY c.c_custkey
""",
)
def j8_semi_join_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join selection (J8/F4 — team-membership filters,
    nba_insights_scraper.py:730-734): customers with ≥1 urgent order."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").orderBy("c_custkey")


@query(
    "j4_containment_match",
    oracle="""
WITH kw(keyword) AS (VALUES ('spark'), ('join'), ('window'), ('stream'), ('vector'))
SELECT k.keyword, COUNT(*) AS n_docs, MIN(d.doc_id) AS first_doc
FROM documents d JOIN kw k ON contains(d.text, k.keyword)
GROUP BY k.keyword
ORDER BY k.keyword
""",
)
def j4_containment_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment theta join (J4 — 'team1 in text and team2 in text'
    re-matching, nba_props_scraper.py:1029-1053): broadcast-nested-loop of a
    tiny keyword dim against document text. The dim broadcasts, so the scan
    side streams once — the only sane shape for theta joins at scale."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    kw = spark.createDataFrame(
        [("spark",), ("join",), ("window",), ("stream",), ("vector",)], ["keyword"]
    )
    return (
        d.join(F.broadcast(kw), F.col("text").contains(F.col("keyword")))
        .groupBy("keyword")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("keyword")
    )


@query(
    "j7_asof_latest_event",
    oracle="""
WITH o AS (
  SELECT o_orderkey, o_orderdate, o_custkey % 150 AS user_id FROM orders
), ranked AS (
  SELECT o.o_orderkey, o.o_orderdate, o.user_id, e.event_id, e.event_type, e.value,
         ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                            ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM o JOIN events e ON e.user_id = o.user_id AND e.ts <= o.o_orderdate
)
SELECT o_orderkey, user_id, event_id AS asof_event_id,
       event_type AS asof_event_type, value AS asof_value
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def j7_asof_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J7 — latest scrape ≤ game date, nba_props_scraper.py:837-840):
    for each order, the user's most recent event at or before the order date.
    Implemented as the sorted-union merge (r11 — formerly range-join +
    latest-per-key window, which j14's docstring correctly flagged as
    quadratic per hot key; both inner-asof entries now share the n log n
    union strategy, j16 keeps the broadcast-interval third)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", (F.col("o_custkey") % 150).alias("user_id")
    )
    e = read_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    # Union-merge asof (r11, guide §1.2-1): the range-join form expanded
    # every (order, earlier-event) pair per user — Σ|o_u|·|e_u| rows
    # (~30M at sf0.1) built just to keep rank 1. Interleaving both tables
    # in ONE per-user time order and carrying the latest event forward
    # (last ignorenulls over an unbounded-preceding frame) touches each
    # row once: |o|+|e| rows shuffled, a linear merge per user. Ordering
    # (t, tag, event_id) with events tagged 0 reproduces the join's
    # (ts DESC, event_id DESC, rn=1) pick exactly: at any order row the
    # running last is the max-(ts, event_id) event with ts <= t (ties at
    # t == orderdate sort before the order row via tag; date promotes to
    # midnight timestamp exactly as the old join predicate coerced it).
    # 1.56 -> 0.71 s at sf0.1; at 100 TB this is the standard merge-sorted
    # asof: one exchange of each input, no pair blow-up.
    ev_struct = F.struct("ts", "event_id", "event_type", "value").alias("ev")
    ev = e.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.lit(0).alias("tag"),
        "event_id",
        ev_struct,
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    orows = o.select(
        "user_id",
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None)
        .cast("struct<ts:timestamp,event_id:bigint,event_type:string,value:double>")
        .alias("ev"),
        "o_orderkey",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    lastev = ev.unionByName(orows).withColumn(
        "last_ev", F.last("ev", ignorenulls=True).over(w)
    )
    return (
        lastev.filter((F.col("tag") == 1) & F.col("last_ev").isNotNull())
        .select(
            "o_orderkey",
            "user_id",
            F.col("last_ev.event_id").alias("asof_event_id"),
            F.col("last_ev.event_type").alias("asof_event_type"),
            F.col("last_ev.value").alias("asof_value"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "u1_union_dedupe",
    oracle="""
WITH unioned AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
)
SELECT custkey, COUNT(*) AS n_sources
FROM unioned GROUP BY custkey
ORDER BY custkey
""",
)
def u1_union_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-strategy union with dedupe (U1/U2 — the 4-strategy match
    discovery merged via seen-set, nba_props_scraper.py:174-305): union the
    strategies, then aggregate instead of a driver-side seen-set."""
    o = read_table(spark, sf_dir, "orders")
    s1 = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    s2 = o.filter(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("custkey"))
    return (
        s1.unionByName(s2)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_sources"))
        .orderBy("custkey")
    )


@query(
    "u3_except_missing",
    oracle="""
SELECT n_nationkey, n_name FROM nation
EXCEPT
SELECT n.n_nationkey, n.n_name
FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
ORDER BY n_nationkey
""",
)
def u3_except_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference completeness (U3 — DEFENSEVSPOSTION.PY:535-537):
    nations with no suppliers, via EXCEPT."""
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = read_table(spark, sf_dir, "supplier").select("s_nationkey")
    present = n.join(s, n.n_nationkey == s.s_nationkey).select("n_nationkey", "n_name")
    return n.exceptAll(present).distinct().orderBy("n_nationkey")


@query(
    "u4_intersect_common",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
""",
)
def u4_intersect_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: INTERSECT — nations having both customers and suppliers. Absent
    in the reference (SURVEY §2.9: only membership tests, F4); supplied for
    set-op completeness. Spark plans this as a distinct + left-semi
    hash join — both inputs pre-aggregate to their distinct keys before the
    shuffle, so the exchange moves at most |distinct keys| rows per side."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s).orderBy("nationkey")


@query(
    "u2_multistrategy_union",
    oracle="""
WITH s1 AS (SELECT o_orderkey, 1 AS strategy FROM orders WHERE o_totalprice > 400000),
s2 AS (SELECT o_orderkey, 2 AS strategy FROM orders WHERE o_orderpriority = '1-URGENT'),
s3 AS (SELECT o_orderkey, 3 AS strategy FROM orders WHERE o_orderstatus = 'P'),
u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3),
r AS (SELECT o_orderkey, strategy,
             ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY strategy) AS rn
      FROM u)
SELECT o_orderkey, strategy AS found_by FROM r WHERE rn = 1
ORDER BY o_orderkey
""",
)
def u2_multistrategy_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: multi-strategy discovery union with first-wins dedupe
    (nba_props_scraper.py:174-305 — 4 match-discovery strategies merged
    through a seen-set). Strategy priority becomes an explicit rank so the
    distributed result is deterministic."""
    from pyspark.sql import Window as W

    o = read_table(spark, sf_dir, "orders")
    strategies = [
        o.filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
        .withColumn("strategy", F.lit(1)),
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .withColumn("strategy", F.lit(2)),
        o.filter(F.col("o_orderstatus") == "P")
        .select("o_orderkey")
        .withColumn("strategy", F.lit(3)),
    ]
    u = strategies[0].unionByName(strategies[1]).unionByName(strategies[2])
    w = W.partitionBy("o_orderkey").orderBy("strategy")
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", F.col("strategy").alias("found_by"))
        .orderBy("o_orderkey")
    )


@query(
    "j9_time_range_join",
    oracle="""
WITH o2 AS (
  SELECT o_orderkey, o_custkey,
         DATE '2024-01-02' + CAST(o_orderkey % 29 AS INT) * INTERVAL 1 DAY AS game_date
  FROM orders
)
SELECT o.o_orderkey, COUNT(*) AS n_events_in_window,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS window_value
FROM o2 o
JOIN events e
  ON e.user_id = o.o_custkey % 50
 AND e.ts >= CAST(o.game_date AS TIMESTAMP) - INTERVAL 1 DAY
 AND e.ts <  CAST(o.game_date AS TIMESTAMP)
GROUP BY o.o_orderkey
ORDER BY o.o_orderkey
""",
)
def j9_time_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join (the as-of family's interval sibling): events in the
    24h before each order's game date, correlated on user. The game date is
    derived from the order key so it lands inside the events table's clock
    (orders' own dates predate the events feed — the raw-date variant
    matches nothing and tests nothing).

    Shape: the range predicate alone would leave a 50-key equi-join that
    range-tests every order×event pair inside a user bucket. Binning time
    to days and adding the day to the join key bounds each event to exactly
    two candidate days (a 1-day window), so the join fans out on
    (user, day) — the equi-key-first shape that keeps range joins tractable
    at 100 TB, where the bin width is tuned to the window span."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    o2 = o.withColumn(
        "game_date",
        F.date_add(F.lit("2024-01-02").cast("date"), (F.col("o_orderkey") % 29).cast("int")),
    )
    gts = F.col("game_date").cast("timestamp")
    e2 = e.withColumn(
        "day", F.explode(F.array(F.to_date("ts"), F.date_add(F.to_date("ts"), 1)))
    )
    joined = o2.join(
        e2,
        (e2.user_id == o2.o_custkey % 50)
        & (e2.day == o2.game_date)
        & (e2.ts >= gts - F.expr("INTERVAL 1 DAY"))
        & (e2.ts < gts),
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_events_in_window"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("window_value"),
        )
        .orderBy("o_orderkey")
    )


#: Bucketed tables written this process (names are per-SF; the set guards
#: against both re-writing within a session and trusting a stale warehouse
#: left by an earlier process).
_BUCKETED: set[str] = set()

_N_BUCKETS = 8


def bucketed_layout(
    spark: SparkSession,
    df: DataFrame,
    tname: str,
    key: str,
    sort_cols: list[str] | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Land ``df`` once as an external table bucketed (and sorted) by
    ``key`` and return the table — the maintained-LAYOUT primitive behind
    j10's co-located join and the flagship's exchange-free per-supplier
    window. The write pays the one shuffle a repeated query would
    otherwise pay every run; every later read is bucket-local.

    Written as an EXTERNAL table at an absolute temp path: the default
    managed location lives under spark.sql.warehouse.dir, which resolves
    relative to the launching process's cwd — a cwd the round driver
    controls, not us. A previous process may also have left the table (or
    just its orphaned location) behind; clear both so the write is fresh.
    """
    import shutil
    import tempfile

    if tname not in _BUCKETED:
        loc = f"{tempfile.gettempdir()}/spark_graft_bucketed/{tname}"
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        shutil.rmtree(loc, ignore_errors=True)
        (
            df.write.bucketBy(n_buckets or _N_BUCKETS, key)
            .sortBy(*(sort_cols or [key]))
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(tname)
        )
        _BUCKETED.add(tname)
    return spark.table(tname)


def sf_label(sf_dir: str) -> str:
    import re

    return re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])


def _bucketed(spark: SparkSession, sf_dir: str, table: str, key: str) -> DataFrame:
    return bucketed_layout(
        spark,
        read_table(spark, sf_dir, table),
        f"bkt_{table}_{sf_label(sf_dir)}",
        key,
    )


@query(
    "j10_bucketed_join",
    oracle=f"""
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       {sql_dsum("o.o_totalprice")} AS total_spend
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def j10_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact join — the data-LAYOUT strategy for joins
    that repeat every run at 100 TB: both sides are written once as tables
    bucketed (and sorted) by the join key into the warehouse, so every
    subsequent join of the pair is bucket-to-bucket with ZERO shuffle of
    either side — the physical plan is scan → in-partition sort →
    SortMergeJoin with no Exchange below the join (asserted by
    ``tests/test_plan_shapes.py``); the only shuffle in this query is the
    8-row segment rollup above it. The ``merge`` hint pins SMJ so the demo
    doesn't degenerate to a broadcast at test scale; at 100 TB neither side
    broadcasts and bucket layout is what makes the join local. Bucket
    count is the knob to match cluster parallelism (here 8 for local[32]
    fixtures; production sizes buckets to executors × a small factor)."""
    o = _bucketed(spark, sf_dir, "orders", "o_custkey").select(
        "o_custkey", "o_totalprice"
    )
    c = _bucketed(spark, sf_dir, "customer", "c_custkey").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "j11_salted_skew_join",
    oracle=f"""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum("e.value")} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def j11_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: SALTED skew join — the remedy when a handful of hot join keys
    would pin one reducer (events concentrates ~67 rows per user at
    sf0.01 and the hot-user pattern only worsens with scale; AQE's skew
    split covers sort-merge joins, salting is the hash-join / pre-AQE
    form and composes with bucketing). The big side salts on
    pmod(xxhash64(row), 8); the dim side replicates once per salt value
    via a broadcast cross of range(8) (a BroadcastNestedLoopJoin against
    an 8-row frame, not a cartesian), so the equi-join on (key, salt)
    spreads every hot key over 8 reducers. Join output is identical to
    the unsalted join — which is exactly what the oracle checks — and the
    decimal-summed aggregate is salt-order-proof."""
    from nba_data_pipeline_spark.operators.skew import replicate_broadcast_side

    e = read_table(spark, sf_dir, "events").select("user_id", "value")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    buckets = 8
    big = e.withColumn(
        "__salt", F.pmod(F.xxhash64("user_id", "value"), F.lit(buckets)).cast("int")
    )
    dim = replicate_broadcast_side(c, buckets)
    joined = big.join(
        dim,
        (big["user_id"] == dim["c_custkey"]) & (big["__salt"] == dim["__salt"]),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "j12_bloom_runtime_filter",
    oracle=f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum("o.o_totalprice")} AS total_spend
FROM orders o
WHERE o.o_custkey IN (
    SELECT c_custkey FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7000
)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def j12_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: Bloom RUNTIME FILTER under a selective fact⋈dim semi-join —
    the shuffle-reduction pattern Spark itself injects with
    ``runtime.bloomFilter.enabled``, built here as a first-class
    relational operator (``operators/bloom.py``). The selective customer
    subset packs into a fixed 16 KiB word bitmap via ``bit_or``; orders
    probe it through k=3 broadcast word-joins with native bit-tests (no
    shuffle, no Python), and only the surviving ~few-% reach the exact
    semi-join that removes bloom false positives. At 100 TB the exchange
    under the semi-join carries the bloom survivors instead of the whole
    fact table — the bitmap stays 16 KiB no matter the scale. Exact by
    construction (bloom has no false negatives; the semi-join re-checks
    membership), which is precisely what the bloom-free oracle verifies."""
    from nba_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    cust = (
        read_table(spark, sf_dir, "customer")
        .where((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7000))
        .select("c_custkey")
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    bloom = bloom_build(cust, "c_custkey")
    survivors = bloom_prefilter(orders, "o_custkey", bloom)
    exact = survivors.join(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    )
    return (
        exact.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "cdc_merge_apply",
    oracle="""
WITH latest AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t WHERE rn = 1
), changes AS (
  SELECT user_id AS key,
         CASE event_type WHEN 'error' THEN 'delete'
                         WHEN 'signup' THEN 'upsert'
                         ELSE 'update' END AS action,
         CAST(value AS DECIMAL(18,2)) AS new_bal
  FROM latest
), snap AS (
  SELECT c_custkey AS key, CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey <= 150
)
SELECT COALESCE(s.key, ch.key) AS custkey,
       CAST(CASE WHEN ch.key IS NULL THEN s.acctbal ELSE ch.new_bal END
            AS DOUBLE) AS acctbal,
       CASE WHEN s.key IS NULL THEN 'STREAM' ELSE s.c_mktsegment END
           AS mktsegment,
       CASE WHEN ch.key IS NULL THEN 'kept'
            WHEN s.key IS NULL THEN 'inserted'
            ELSE 'updated' END AS action
FROM snap s FULL OUTER JOIN changes ch ON ch.key = s.key
WHERE COALESCE(ch.action, '') <> 'delete'
  AND NOT (s.key IS NULL AND ch.action = 'update')
ORDER BY custkey
""",
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply — the batch upsert that keeps a warehouse dimension
    current from a change feed: the newest change per key (deterministic
    latest via row_number over (ts, event_id) DESC) is classified
    delete / upsert / update and applied to the snapshot through ONE full
    outer join — exactly the reduction Delta's MERGE INTO compiles to.
    Semantics pinned by the oracle: deletes drop the row, upserts insert
    or overwrite, updates touch only existing keys (an update for an
    absent key is a no-op, not an insert), untouched rows pass through as
    'kept'. Both inputs shuffle once on the merge key and the change feed
    is pre-shrunk to one row per key BEFORE the join (the window runs on
    the feed, never on the snapshot) — at 100 TB the snapshot-side
    shuffle is the cost, and bucketing the snapshot on the key (j10)
    removes even that. Balances are DECIMAL(18,2) end-to-end."""
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    changes = latest.select(
        F.col("user_id").alias("key"),
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "upsert")
        .otherwise("update")
        .alias("action"),
        F.col("value").cast("decimal(18,2)").alias("new_bal"),
    )
    snap = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 150)
        .select(
            F.col("c_custkey").alias("skey"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("acctbal"),
            "c_mktsegment",
        )
    )
    m = snap.join(changes, snap["skey"] == changes["key"], "full_outer")
    return (
        m.where(
            (F.coalesce(F.col("action"), F.lit("")) != "delete")
            & ~(F.col("skey").isNull() & (F.col("action") == "update"))
        )
        .select(
            F.coalesce("skey", "key").alias("custkey"),
            F.when(F.col("key").isNull(), F.col("acctbal"))
            .otherwise(F.col("new_bal"))
            .cast("double")
            .alias("acctbal"),
            F.when(F.col("skey").isNull(), "STREAM")
            .otherwise(F.col("c_mktsegment"))
            .alias("mktsegment"),
            F.when(F.col("key").isNull(), "kept")
            .when(F.col("skey").isNull(), "inserted")
            .otherwise("updated")
            .alias("action"),
        )
        .orderBy("custkey")
    )


@query(
    "j13_incremental_join_maintenance",
    oracle=f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_dsum("l.l_extendedprice")} AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def j13_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: incremental JOIN maintenance — the delta-join identity that
    keeps a materialized join view current without rejoining history:
      Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB
    (a17 is the aggregate half of view maintenance; this is the join
    half). Both tables split at the same logical cut (orders by order
    date, lineitem by ship date), the view is rebuilt as the union of the
    old-view join plus the three delta terms, and the oracle recomputes
    the monolithic join — a hash match proves the identity held row-for-
    row. At 100 TB the three delta terms are each delta-sized on one side
    (ΔA⋈B_old probes the STORED view's build side; only ΔA shuffles), so
    a nightly refresh scans deltas, never the 100 TB history — the
    difference between an hourly view and an impossible one. Each term
    shuffles on the same orderkey, so AQE coalesces them into one
    exchange footprint per side."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    cut = "1996-01-01"
    a_old = o.filter(F.col("o_orderdate") < cut)
    a_new = o.filter(F.col("o_orderdate") >= cut)
    b_old = l.filter(F.col("l_shipdate") < cut)
    b_new = l.filter(F.col("l_shipdate") >= cut)

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_orderkey"] == b["l_orderkey"]).select(
            "o_orderpriority", "l_extendedprice"
        )

    view = (
        j(a_old, b_old)          # the stored view
        .unionByName(j(a_new, b_old))   # ΔA ⋈ B_old
        .unionByName(j(a_old, b_new))   # A_old ⋈ ΔB
        .unionByName(j(a_new, b_new))   # ΔA ⋈ ΔB
    )
    return (
        view.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# J14: as-of join with tolerance, via the sorted-union trick (no range join)
# ---------------------------------------------------------------------------


@query(
    "j14_asof_tolerance_union",
    oracle="""
WITH t AS (
  SELECT o_orderkey, CAST(o_custkey % 150 AS BIGINT) AS user_id,
         o_orderdate AS t FROM orders
),
q0 AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events
),
q AS (SELECT user_id, ts, event_id, value FROM q0 WHERE rn = 1)
SELECT t.o_orderkey, t.user_id,
       CASE WHEN q.ts >= t.t - INTERVAL 7 DAY THEN q.event_id END AS asof_event_id,
       CASE WHEN q.ts >= t.t - INTERVAL 7 DAY THEN q.value END AS asof_value,
       CASE WHEN q.ts >= t.t - INTERVAL 7 DAY
            THEN CAST(date_diff('second', q.ts, t.t) AS BIGINT) END AS lag_s
FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND q.ts <= t.t
ORDER BY t.o_orderkey
""",
)
def j14_asof_tolerance_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14: backward as-of join WITH TOLERANCE (pandas merge_asof
    semantics, the shape the reference needs for 'latest odds scrape
    within a week of tip-off', nba_props_scraper.py:837-840): for every
    order, the user's most recent event at-or-before the order date,
    nulled out when it is staler than 7 days.

    Spark-first shape — the SORTED-UNION trick, not a range join: tag
    quotes kind=0 and trades kind=1, union them, and one window per
    user_id ordered by (ts, kind) makes ``last(value, ignorenulls)`` at
    each trade row exactly the as-of match. ONE shuffle, ONE sort, zero
    join fan-out — where a range-join form would expand every order × all
    earlier events of the user before keeping rank 1 (quadratic per hot
    key at 100 TB; the union plan is n log n and is also precisely the
    watermarked stream-stream state shape — j7 adopted it too in r11).
    Equal-ts quotes are deduped to
    the max event_id first so both engines' as-of pick is deterministic;
    the DuckDB oracle uses its native ASOF LEFT JOIN with a post-hoc
    tolerance CASE."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 150).cast("bigint").alias("user_id"),
        F.col("o_orderdate").alias("t"),
    )
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    rn = F.row_number().over(
        W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    )
    q = ev.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    quotes = q.select(
        "user_id",
        F.col("ts").alias("ots"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.col("ts").alias("q_ts"),
        F.col("event_id").alias("q_event_id"),
        F.col("value").alias("q_value"),
    )
    trades = o.select(
        "user_id",
        F.col("t").alias("ots"),
        F.lit(1).alias("kind"),
        "o_orderkey",
        F.lit(None).cast("timestamp").alias("q_ts"),
        F.lit(None).cast("bigint").alias("q_event_id"),
        F.lit(None).cast("double").alias("q_value"),
    )
    u = quotes.unionByName(trades)
    wlast = (
        W.partitionBy("user_id")
        .orderBy("ots", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = (
        u.withColumn("asof_ts", F.last("q_ts", ignorenulls=True).over(wlast))
        .withColumn("asof_id", F.last("q_event_id", ignorenulls=True).over(wlast))
        .withColumn("asof_v", F.last("q_value", ignorenulls=True).over(wlast))
        .filter(F.col("kind") == 1)
    )
    fresh = F.col("asof_ts") >= F.col("ots") - F.expr("INTERVAL 7 DAYS")
    return carried.select(
        "o_orderkey",
        "user_id",
        F.when(fresh, F.col("asof_id")).alias("asof_event_id"),
        F.when(fresh, F.col("asof_v")).alias("asof_value"),
        F.when(
            fresh, (F.unix_timestamp("ots") - F.unix_timestamp("asof_ts")).cast("bigint")
        ).alias("lag_s"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# J15: dynamic partition pruning against the hive-partitioned sink
# ---------------------------------------------------------------------------

_DPP_CLASS = {  # priority → SLA class (the dim side of the pruning join)
    "1-URGENT": "hot",
    "2-HIGH": "hot",
    "3-MEDIUM": "warm",
    "4-NOT SPECIFIED": "cold",
    "5-LOW": "cold",
}


@query(
    "j15_dynamic_partition_pruning",
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
def j15_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15: DYNAMIC partition pruning — the fact side's partition filter is
    not in the query text at all: the fact is the hive-partitioned orders
    dataset (snk8's layout), the dim is a tiny priority→SLA-class table
    filtered to class='hot', and Catalyst inserts a runtime subquery on
    the fact's o_orderpriority directory column from the dim join's
    broadcast (``dynamicpruning`` in the plan, asserted by pytest). This
    is the mechanism that makes star-schema scans cheap at 100 TB when
    the pruning predicate lives in a dimension — static PartitionFilters
    (snk8) can't see it, so without DPP the scan opens every partition
    and the join discards 60% of the rows after IO.

    Only the 'hot' directories are opened; the aggregate then matches the
    statically-predicated oracle bit-for-bit."""
    from nba_data_pipeline_spark.plans.sinks import partitioned_orders_path

    landed = spark.read.parquet(partitioned_orders_path(spark, sf_dir))
    dim = spark.createDataFrame(
        [(k, v) for k, v in _DPP_CLASS.items()], "priority string, sla_class string"
    )
    joined = landed.join(
        F.broadcast(dim.filter(F.col("sla_class") == "hot")),
        landed["o_orderpriority"] == F.col("priority"),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "sql_q3_shipping_priority",
    oracle="""
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 20
""",
)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL entry point (TPC-H Q3 shape): the same SQL text a user of
    any warehouse would write runs verbatim through ``spark.sql`` over
    registered views — no DataFrame translation — proving the engine's
    SQL front end is a first-class surface, not a sidecar (every other
    catalog entry exercises the DataFrame builder; a reference user
    migrating hand-written SQL needs THIS path). The revenue expression
    is decimal-summed per the exact.py discipline; Catalyst still gets
    the same optimizations (both joins reorder, the segment filter pushes
    into the customer scan, the aggregate partials map-side) because SQL
    and DataFrame meet in the same logical plan.

    The one semantic wrinkle SQL text adds: identifier case and ANSI
    resolution are the parser's job — the view registration pins names to
    the landed schema."""
    from nba_data_pipeline_spark.io import register_views

    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT o.o_orderkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# J16: point-in-time (PIT) join against an SCD2 version dimension
# ---------------------------------------------------------------------------


@query(
    "j16_point_in_time_join",
    oracle="""
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events WHERE user_id % 20 = 0
), ch AS (
  SELECT user_id, ts, event_id, event_type FROM e
  WHERE prev IS NULL OR prev <> event_type
), versions AS (
  SELECT user_id,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version,
         event_type AS state,
         ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM ch
), facts AS (
  SELECT o_orderkey, CAST(o_custkey % 150 AS BIGINT) AS user_id,
         o_orderdate AS t
  FROM orders WHERE (o_custkey % 150) % 20 = 0
)
SELECT f.o_orderkey, f.user_id, v.version, v.state
FROM facts f LEFT JOIN versions v
  ON v.user_id = f.user_id
 AND v.valid_from <= f.t
 AND (v.valid_to IS NULL OR f.t < v.valid_to)
ORDER BY f.o_orderkey
""",
)
def j16_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16: POINT-IN-TIME dimension join — enrich each fact with the SCD2
    version (w9's interval build) that was valid AT THE FACT'S OWN
    timestamp, never a later one: the feature-store/warehouse correctness
    rule that prevents time-travel leakage (training a model on attributes
    that didn't exist yet — the reference joins latest-snapshot dims,
    ctg_export_league.py:300-307, which silently leaks).

    The physical plan is the SECOND as-of strategy in the catalog, chosen
    by dimension size: j7/j14 sorted-union (fact-sized sides), and here
    BROADCAST-interval —
    an SCD2 dim is dim-cardinality × change-rate, so the whole version
    table broadcasts and the fact table is enriched with ZERO shuffle
    (validity intervals partition time per key, so each fact matches at
    most one version — no post-join dedupe). Facts older than their
    key's first version surface as NULLs, pinned by the LEFT join on
    both engines."""
    wv = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 20 == 0)
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(wv))
    )
    versions = (
        e.where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            F.col("user_id").alias("v_user"),
            F.row_number().over(wv).cast("int").alias("version"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wv).alias("valid_to"),
        )
    )
    facts = (
        read_table(spark, sf_dir, "orders")
        .where((F.col("o_custkey") % 150) % 20 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 150).cast("bigint").alias("user_id"),
            F.col("o_orderdate").alias("t"),
        )
    )
    joined = facts.join(
        F.broadcast(versions),
        (F.col("v_user") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("t"))
        & (F.col("valid_to").isNull() | (F.col("t") < F.col("valid_to"))),
        "left",
    )
    return joined.select("o_orderkey", "user_id", "version", "state").orderBy(
        "o_orderkey"
    )


@query(
    "j17_null_safe_join",
    oracle="""
WITH l AS (
  SELECT o_orderkey,
         CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey % 50 END AS k
  FROM orders
),
r AS (
  SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_custkey % 50 END AS k,
         CAST(COUNT(*) AS BIGINT) AS n_dim
  FROM customer GROUP BY 1
)
SELECT CASE WHEN l.k IS NULL THEN '(null)' ELSE 'keyed' END AS key_class,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(r.n_dim) AS BIGINT) AS matched_dim_rows
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
GROUP BY 1
ORDER BY 1
""",
)
def j17_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17: NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM) — the
    semantics fork every pipeline with nullable business keys hits: a
    standard equi-join silently DROPS all NULL-keyed rows (NULL = NULL is
    unknown), while the reference's pandas merges MATCH NaN keys to each
    other — so a faithful port needs the null-safe operator, made
    explicit here rather than discovered in a row-count regression. Every
    7th order key and every 11th dim key is nulled; the null-keyed
    populations must join each other (the '(null)' output row) and the
    rest join normally.

    Plan note: `<=>` remains a hash-joinable key (NULL hashes as a
    value) — this is NOT a fallback to nested-loop; same shuffle shape as
    a plain equi-join, which is why choosing it is free at 100 TB."""
    l = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 7 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("o_custkey") % 50)
        .alias("k"),
    )
    r = (
        read_table(spark, sf_dir, "customer")
        .select(
            F.when(F.col("c_custkey") % 11 == 0, F.lit(None).cast("bigint"))
            .otherwise(F.col("c_custkey") % 50)
            .alias("rk")
        )
        .groupBy("rk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dim"))
    )
    joined = l.join(r, F.col("k").eqNullSafe(F.col("rk")))
    return (
        joined.groupBy(
            F.when(F.col("k").isNull(), "(null)").otherwise("keyed").alias("key_class")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("n_dim").cast("bigint").alias("matched_dim_rows"),
        )
        .orderBy("key_class")
    )


_J18_WEEK_DAYS = 7


@query(
    "j18_interval_overlap_join",
    oracle="""
WITH iv AS (
  SELECT o_orderkey AS id, o_custkey AS k,
         CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + CAST((o_orderkey % 5 + 1) AS INT) AS e
  FROM orders
)
SELECT a.k AS custkey, a.id AS o1, b.id AS o2,
       CAST(date_diff('day', GREATEST(a.s, b.s), LEAST(a.e, b.e)) + 1 AS BIGINT)
           AS overlap_days
FROM iv a JOIN iv b
  ON a.k = b.k AND a.id < b.id AND a.s <= b.e AND b.s <= a.e
ORDER BY custkey, o1, o2
""",
)
def j18_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J18: interval-overlap self-join — find all pairs of same-customer
    order windows that overlap in time (order date .. date + a small
    deterministic duration). The temporal-conflict primitive behind
    double-booking detection, overlapping-session audits, and time-range
    dedupe; the reference's only temporal logic is scalar date compares
    (DAILYRESULTSTRACKER.PY class), never pairwise.

    Scale shape: the naive form is a theta join (quadratic per key). Here
    each interval is exploded to the ~1-2 week-grid cells it touches and
    candidates come from an EQUI-join on (key, week-cell) — candidate mass
    is Σ per-cell occupancy², i.e. proportional to true temporal locality,
    not to |intervals|². Pairs spanning two shared cells are deduplicated
    with row_number()==1 before the exact overlap predicate verifies each
    candidate. Grid width should sit near the typical interval length:
    wider cells raise false candidates, narrower cells raise replication.
    The DuckDB oracle brute-forces the theta join, proving the grid path
    loses no pair."""
    iv = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_custkey").alias("k"),
            F.to_date("o_orderdate").alias("s"),
            F.date_add(
                F.to_date("o_orderdate"),
                (F.col("o_orderkey") % 5 + 1).cast("int"),
            ).alias("e"),
        )
    )
    cells = iv.select(
        "id",
        "k",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(
                    F.datediff("s", F.lit("1970-01-01").cast("date"))
                    / _J18_WEEK_DAYS
                ),
                F.floor(
                    F.datediff("e", F.lit("1970-01-01").cast("date"))
                    / _J18_WEEK_DAYS
                ),
            )
        ).alias("cell"),
    )
    a = cells.select(
        F.col("k"),
        F.col("cell"),
        F.col("id").alias("o1"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = cells.select(
        F.col("k"),
        F.col("cell"),
        F.col("id").alias("o2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    cand = (
        a.join(b, ["k", "cell"])
        .filter(F.col("o1") < F.col("o2"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("k", "o1", "o2").orderBy("cell")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        cand.filter((F.col("s1") <= F.col("e2")) & (F.col("s2") <= F.col("e1")))
        .select(
            F.col("k").alias("custkey"),
            "o1",
            "o2",
            (
                F.datediff(
                    F.least("e1", "e2"), F.greatest("s1", "s2")
                )
                + 1
            )
            .cast("long")
            .alias("overlap_days"),
        )
        .orderBy("custkey", "o1", "o2")
    )


@query(
    "u5_snapshot_diff_report",
    oracle="""
WITH a AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price,
         o_orderpriority AS priority
  FROM orders
),
b AS (
  SELECT k,
         CASE WHEN k % 13 = 0 THEN 'X' ELSE status END AS status,
         CASE WHEN k % 7 = 0 THEN ROUND(price + 1.5, 2) ELSE price END
             AS price,
         priority
  FROM a WHERE k % 97 <> 0
  UNION ALL
  SELECT k + 10000000, 'N', 1.0, '1-URGENT' FROM a WHERE k % 89 = 0
),
joined AS (
  SELECT COALESCE(a.k, b.k) AS k,
         a.k IS NULL AS added, b.k IS NULL AS removed,
         a.k IS NOT NULL AND b.k IS NOT NULL
             AND a.status = b.status AND a.price = b.price
             AND a.priority = b.priority AS same,
         CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN
           TRIM(CONCAT(
             CASE WHEN a.status <> b.status THEN 'status ' ELSE '' END,
             CASE WHEN a.price <> b.price THEN 'price ' ELSE '' END,
             CASE WHEN a.priority <> b.priority THEN 'priority ' ELSE '' END))
         ELSE '' END AS changed_cols
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT CASE WHEN added THEN 'added' WHEN removed THEN 'removed'
            WHEN same THEN 'same' ELSE 'changed' END AS status,
       changed_cols, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM joined
GROUP BY 1, 2
ORDER BY status, changed_cols
""",
)
def u5_snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: snapshot diff report (the dbt-audit-helper / data-diff class):
    two table versions full-outer-joined on the business key, every row
    classified added / removed / changed / same, with the changed rows
    further grouped by WHICH column set drifted — the reconciliation
    artifact cdc_merge_apply consumes as its input diff and dq6 checks
    only at checksum granularity. Version B is derived in-plan with
    deterministic mutations (deletes, inserts, two overlapping update
    classes) so every status and several changed-column combinations are
    exercised and oracle-checked.

    Scale shape: one full outer join on the key (shuffle both sides,
    AQE-coalesced) and a map-side-combined rollup on the tiny
    (status × changed-set) grain; per-column flags are codegen string
    concatenation, no per-column joins. At lake scale, partition-level
    dq6 checksums prune identical partitions before this row-level diff
    runs — the two operators compose into the standard two-tier
    reconciliation."""
    a = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("priority"),
    )
    b = (
        a.filter(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(F.col("k") % 13 == 0, "X").otherwise(F.col("status")).alias(
                "status"
            ),
            F.when(F.col("k") % 7 == 0, F.round(F.col("price") + 1.5, 2))
            .otherwise(F.col("price"))
            .alias("price"),
            "priority",
        )
        .unionByName(
            a.filter(F.col("k") % 89 == 0).select(
                (F.col("k") + 10000000).alias("k"),
                F.lit("N").alias("status"),
                F.lit(1.0).alias("price"),
                F.lit("1-URGENT").alias("priority"),
            )
        )
    )
    aj = a.select(
        F.col("k").alias("ak"),
        F.col("status").alias("a_status"),
        F.col("price").alias("a_price"),
        F.col("priority").alias("a_priority"),
    )
    bj = b.select(
        F.col("k").alias("bk"),
        F.col("status").alias("b_status"),
        F.col("price").alias("b_price"),
        F.col("priority").alias("b_priority"),
    )
    j = aj.join(bj, F.col("ak") == F.col("bk"), "full_outer")
    both = F.col("ak").isNotNull() & F.col("bk").isNotNull()
    same = (
        both
        & (F.col("a_status") == F.col("b_status"))
        & (F.col("a_price") == F.col("b_price"))
        & (F.col("a_priority") == F.col("b_priority"))
    )
    changed_cols = F.when(
        both,
        F.trim(
            F.concat(
                F.when(F.col("a_status") != F.col("b_status"), "status ").otherwise(""),
                F.when(F.col("a_price") != F.col("b_price"), "price ").otherwise(""),
                F.when(
                    F.col("a_priority") != F.col("b_priority"), "priority "
                ).otherwise(""),
            )
        ),
    ).otherwise("")
    status = (
        F.when(F.col("ak").isNull(), "added")
        .when(F.col("bk").isNull(), "removed")
        .when(same, "same")
        .otherwise("changed")
    )
    return (
        j.select(status.alias("status"), changed_cols.alias("changed_cols"))
        .groupBy("status", "changed_cols")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("status", "changed_cols")
    )


# ---------------------------------------------------------------------------
# SQL surface, continued: TPC-H Q5 and Q18 shapes
# ---------------------------------------------------------------------------


@query(
    "sql_q5_local_supplier_volume",
    oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
              AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
""",
)
def sql_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL entry point #2 (TPC-H Q5 shape): local-supplier volume —
    revenue per nation where the customer and the supplier sit in the
    SAME nation of one region, over one order-date year. The canonical
    SIX-WAY join-ordering stress test: two fact tables (orders,
    lineitem), two mid dims (customer, supplier), two tiny dims (nation,
    region), a selective dim predicate (r_name) that must prune through
    two hops, and the c_nationkey = s_nationkey CYCLE edge that gives
    optimizers a choice of join trees — exactly the shape Catalyst's
    cost-based reordering + AQE exist for, and the first query a
    migrating warehouse user will paste in.

    Runs verbatim through ``spark.sql`` over registered views (the SQL
    front-end surface sql_q3 established). Scale notes: the date filter
    pushes into the orders scan as a parquet predicate; nation/region
    (and at real scale supplier) resolve as broadcast joins under AQE's
    size estimates; the revenue aggregate is 5 groups of decimal partial
    sums (exact.py discipline) so the 2-fact shuffle is the only real
    data movement."""
    from nba_data_pipeline_spark.io import register_views

    register_views(
        spark,
        sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                      AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
        ORDER BY revenue DESC, nation
        """
    )


#: Q18 quantity threshold — 84 qualifying orders at sf0.01 (TPC-H's own 300
#: would leave 46; 280 keeps the sf0.001 result non-empty too).
_Q18_QTY = 280


@query(
    "sql_q18_large_volume_customer",
    oracle=f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
       CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > {_Q18_QTY}
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY total_cents DESC, o.o_orderkey
LIMIT 100
""",
)
def sql_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL entry point #3 (TPC-H Q18 shape): large-volume customers —
    orders whose total line quantity clears a threshold, with their
    customer. The canonical AGGREGATE-SUBQUERY shape: an IN predicate
    over a grouped HAVING on the same fact table, which a naive engine
    runs as two full scans plus a distinct — and a good one rewrites to
    a semi-join against the pre-aggregated keys (Spark compiles the IN
    to LeftSemi, and the lineitem aggregate partials map-side on
    l_orderkey, the table's natural clustering).

    Determinism: the top-100 cut orders on (total_cents DESC,
    o_orderkey) — the price is carried as exact cents so the LIMIT
    boundary can't move on a float ulp; sum_qty is a sum of doubles
    holding small integers, exact well past 2^53."""
    from nba_data_pipeline_spark.io import register_views

    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        f"""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
               CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING SUM(l_quantity) > {_Q18_QTY}
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice
        ORDER BY total_cents DESC, o.o_orderkey
        LIMIT 100
        """
    )
