"""Relational data-mining catalog queries (MB/SKY/MI families): frequent
itemset pairs, Pareto-frontier skyline, and categorical mutual information.

The reference's analytics layer stops at one-shot groupbys (team season
aggregates, e.g. Cleaning_Glass_#1.py's per-team frames); this module adds
the classic mining shapes a curation/analytics engine needs on top of the
same tables — each expressed so the heavy step is a pruned equi-join or a
single window pass, never an all-pairs product.

Float discipline: every reported ratio (lift, PMI, MI) is ROUND()ed on both
engines so summation-order noise cannot leak into the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import read_table
from nba_data_pipeline_spark.operators.totalorder import (
    bounded_window,
    running_extreme,
)
from nba_data_pipeline_spark.plans.registry import ROUND_DIGITS, query

#: Apriori thresholds for mb1 — pruning singles below MIN_ITEM_SUPPORT
#: shrinks the self-join input BEFORE the pair expansion (the apriori
#: monotonicity lemma: no pair can beat its rarest member's support).
MIN_ITEM_SUPPORT = 5
MIN_PAIR_SUPPORT = 3


@query(
    "mb1_frequent_pairs",
    oracle=f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
sup1 AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY 1),
freq AS (SELECT l_partkey, s FROM sup1 WHERE s >= {MIN_ITEM_SUPPORT}),
fitems AS (SELECT i.l_orderkey, i.l_partkey FROM items i
           JOIN freq f ON f.l_partkey = i.l_partkey),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(COUNT(*) AS BIGINT) AS support
  FROM fitems a JOIN fitems b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items)
SELECT p.p1, p.p2, p.support,
       ROUND(CAST(p.support AS DOUBLE) * n.n_orders / (f1.s * f2.s),
             {ROUND_DIGITS}) AS lift
FROM pairs p
JOIN freq f1 ON f1.l_partkey = p.p1
JOIN freq f2 ON f2.l_partkey = p.p2
CROSS JOIN n
WHERE p.support >= {MIN_PAIR_SUPPORT}
ORDER BY p.support DESC, p.p1, p.p2
""",
)
def mb1_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MB1: market-basket frequent-pair mining with apriori pruning — the
    co-purchase primitive (Agrawal & Srikant 1994) the reference's matchup
    co-occurrence dicts approximate row-at-a-time.

    Scale shape: (1) distinct (order, item) — one shuffle with map-side
    combine; (2) apriori prune drops items below MIN_ITEM_SUPPORT *before*
    the pair expansion, so the self-join input is the frequent subset only;
    (3) the pair join is an equi-join on orderkey — candidate mass is
    Σ k_i² over per-basket frequent-item counts, never |items|²; (4) pair
    counts map-side-combine again. A basket with k frequent items emits
    k(k-1)/2 pairs, so pathological mega-baskets are the one skew risk —
    cap k upstream (or salt orderkey) if baskets are unbounded.
    Lift = support·N / (s1·s2) reported rounded."""
    # Persist ONLY the part-grain frequent-item table (it feeds three
    # broadcasts: the apriori prune and both lift joins — uncached, its
    # 1.8B-row support aggregate would re-run per broadcast). The
    # fact-grain relations stay UNPERSISTED: the distinct's exchange is
    # reused by every downstream consumer (sup1, both pair-join sides, the
    # basket count all read the same shuffle files), and the pair
    # self-join's two sides canonicalize to one exchange. At sf300 the two
    # former fact-grain persists were ~58 GB of cache on a box whose whole
    # scratch budget is less than that — cache the contraction, never the
    # fact (the r10 d5_cc/d5_minhash discipline).
    items = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sup1 = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    freq = sup1.filter(F.col("s") >= MIN_ITEM_SUPPORT).persist()
    fitems = items.join(F.broadcast(freq.select("l_partkey")), "l_partkey")
    a = fitems.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1")
    )
    b = fitems.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_PAIR_SUPPORT)
    )
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    f1 = freq.select(F.col("l_partkey").alias("p1"), F.col("s").alias("s1"))
    f2 = freq.select(F.col("l_partkey").alias("p2"), F.col("s").alias("s2"))
    return (
        pairs.join(F.broadcast(f1), "p1")
        .join(F.broadcast(f2), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "support",
            F.round(
                F.col("support").cast("double")
                * F.col("n_orders")
                / (F.col("s1") * F.col("s2")),
                ROUND_DIGITS,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), "p1", "p2")
    )


@query(
    "sky1_pareto_frontier",
    oracle="""
WITH s AS (
  SELECT p_partkey, p_retailprice, p_size,
         MAX(p_size) OVER (
           ORDER BY p_retailprice ASC, p_size DESC, p_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
  FROM part
)
SELECT p_partkey, p_retailprice, p_size
FROM s WHERE cm IS NULL OR p_size > cm
ORDER BY p_retailprice, p_partkey
""",
)
def sky1_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKY1: 2-D Pareto skyline (minimize price, maximize size) via the
    sort + running-max sweep (Borzsonyi et al. 2001's block-nested-loop
    collapses to O(n log n) in 2-D): after sorting by (price asc, size
    desc), a row survives iff its size strictly exceeds the running max of
    every strictly-better-sorted row — equal-(price,size) duplicates keep
    exactly the min-partkey representative.

    Scale shape: the exclusive running max rides
    ``operators/totalorder.running_extreme`` — order-space sampled cuts,
    one hash shuffle, per-bucket window, broadcast prefix maxima — so no
    stage ever holds more than one bucket, AT ANY price distribution.
    The r8 sf10 sweep retired the previous $100-price-band prefilter: the
    fixture's whole price range fits in ONE band ([900, 999.9]), so the
    "candidate sliver" was silently the entire table at every SF and the
    guarded single-task sweep hit its cap at 2M rows. Sampled cuts have no
    such degenerate case — a one-band distribution just fills buckets
    evenly — so both the cap and the prefilter are gone."""
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    order = [
        ("p_retailprice", "asc"), ("p_size", "desc"), ("p_partkey", "asc"),
    ]
    # footer-stats probe feeds the size-adaptive cutover without a count
    # job: ≤100k parts sweep in one audited task, above that the sampled-
    # cut bucketed machinery takes over (the sf10+ shape)
    from nba_data_pipeline_spark.io import table_row_count

    s = running_extreme(
        p, order, "p_size", "cm", agg="max",
        known_count=table_row_count(sf_dir, "part"),
    )
    return (
        s.filter(F.col("cm").isNull() | (F.col("p_size") > F.col("cm")))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


#: mi1's fixpoint scale — log terms quantized to 1e-9-scaled BIGINTs at
#: cell level (the ta_nb_train_classify trick), so the window total is an
#: exact integer sum: summation order can't move it, and ROUND(x, 4) can't
#: land on opposite sides of a half-way boundary between engines (the r5
#: driver hash failure).
_MI_SCALE = 10**9

@query(
    "mi1_mutual_information",
    oracle=f"""
WITH joint AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM orders GROUP BY 1, 2
),
mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM joint GROUP BY 1),
my AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM joint GROUP BY 1),
n AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM joint),
cells AS (
  SELECT j.x, j.y, j.n_xy,
         CAST(ROUND(ln(CAST(j.n_xy AS DOUBLE) * n.n / (mx.n_x * my.n_y))
                    * {_MI_SCALE}) AS BIGINT) AS pmi_s,
         CAST(ROUND(CAST(j.n_xy AS DOUBLE) / n.n
                    * ln(CAST(j.n_xy AS DOUBLE) * n.n / (mx.n_x * my.n_y))
                    * {_MI_SCALE}) AS BIGINT) AS contrib_s
  FROM joint j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
)
SELECT x, y, n_xy, pmi_s, contrib_s AS mi_contrib_s,
       CAST(SUM(contrib_s) OVER () AS BIGINT) AS mi_total_s
FROM cells
ORDER BY x, y
""",
)
def mi1_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI1: mutual information between two categorical columns (order
    priority × order status) — the feature-dependence / leakage-audit
    primitive of a training-data pipeline (is a proposed split column
    independent of the label?). Per-cell PMI and MI contribution plus the
    total MI repeated on every row, all rounded.

    Scale shape: one groupBy over the fact table collapses it to the
    contingency table (|X|·|Y| rows — dimension-bounded, here ≤ 15);
    marginals and the total are re-aggregates OF THE CELLS, not of the
    facts, so the fact table is scanned exactly once regardless of scale.
    The final window runs over the tiny cell table (declared bounded).

    Determinism: pmi/contrib are quantized to 1e-9-scaled BIGINTs per cell
    (each is one deterministic IEEE ln/mul/round of identical integer
    operands on both engines), so mi_total_s is an exact integer sum —
    invariant to summation order, the r5 hash-failure mode."""
    joint = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    mx = joint.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = joint.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    n = joint.agg(F.sum("n_xy").alias("n"))
    ratio = F.col("n_xy").cast("double") * F.col("n") / (
        F.col("n_x") * F.col("n_y")
    )
    scale = F.lit(float(_MI_SCALE))
    cells = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "x",
            "y",
            "n_xy",
            F.round(F.log(ratio) * scale).cast("long").alias("pmi_s"),
            F.round(
                F.col("n_xy").cast("double") / F.col("n") * F.log(ratio) * scale
            )
            .cast("long")
            .alias("mi_contrib_s"),
        )
    )
    return cells.select(
        "x",
        "y",
        "n_xy",
        "pmi_s",
        "mi_contrib_s",
        F.sum("mi_contrib_s")
        .over(bounded_window(anchor="x"))
        .cast("long")
        .alias("mi_total_s"),
    ).orderBy("x", "y")


@query(
    "mb2_sequential_patterns",
    oracle=f"""
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
),
firsts AS (
  SELECT user_id, event_type, ts, event_id FROM ranked WHERE rn = 1
),
seq AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM firsts a JOIN firsts b
    ON a.user_id = b.user_id AND a.event_type <> b.event_type
   AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
  GROUP BY 1, 2
),
base AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM firsts GROUP BY 1
)
SELECT s.antecedent, s.consequent, s.support,
       ROUND(CAST(s.support AS DOUBLE) / b.n_users, {ROUND_DIGITS})
           AS confidence
FROM seq s JOIN base b ON b.event_type = s.antecedent
ORDER BY s.support DESC, s.antecedent, s.consequent
""",
)
def mb2_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MB2: sequential-pattern mining over first occurrences — for every
    ordered pair of event types, how many users did A strictly before B,
    with confidence P(B later | A) (the length-2 core of AprioriAll,
    Agrawal & Srikant ICDE'95). The temporal sibling of mb1's unordered
    co-occurrence and a30's consecutive-step Markov transitions: this one
    sees A→…→B across any gap, which is what funnel designers actually
    ask.

    Scale shape: (1) first occurrences via row_number()==1 inside
    (user, type) windows — per-series partitions, one shuffle; (2) the
    pair join is an equi-join on user_id whose per-user candidate mass is
    |alphabet|² — bounded by the TYPE alphabet (here ≤ 5·4), never by
    event volume; (3) support counts and the per-type user base are
    map-side-combined aggregates of the firsts table (|users|·|types|
    rows, already contracted). The strict (ts, event_id) lexicographic
    order makes 'before' total, so ties cannot flip the counts between
    engines."""
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    firsts = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    a = firsts.select(
        "user_id",
        F.col("event_type").alias("antecedent"),
        F.col("ts").alias("ts_a"),
        F.col("event_id").alias("id_a"),
    )
    b = firsts.select(
        "user_id",
        F.col("event_type").alias("consequent"),
        F.col("ts").alias("ts_b"),
        F.col("event_id").alias("id_b"),
    )
    seq = (
        a.join(b, "user_id")
        .filter(
            (F.col("antecedent") != F.col("consequent"))
            & (
                (F.col("ts_a") < F.col("ts_b"))
                | ((F.col("ts_a") == F.col("ts_b")) & (F.col("id_a") < F.col("id_b")))
            )
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    base = firsts.groupBy(F.col("event_type").alias("antecedent")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    return (
        seq.join(F.broadcast(base), "antecedent")
        .select(
            "antecedent",
            "consequent",
            "support",
            F.round(
                F.col("support").cast("double") / F.col("n_users"), ROUND_DIGITS
            ).alias("confidence"),
        )
        .orderBy(F.desc("support"), "antecedent", "consequent")
    )
