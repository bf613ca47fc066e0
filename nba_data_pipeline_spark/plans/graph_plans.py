"""Graph-analytics queries (G family): iterative algorithms as repeated
relational passes — the class the reference approximates with one-shot
pandas groupbys (team-level season aggregates) but can never iterate.

Float discipline for iteration: PageRank is normally a float fixpoint,
which no cross-engine oracle can hash. Here every score is a BIGINT in
units of 1e-12 (SCALE), damping is the exact rational 85/100 applied as
``(85 * pr) div (100 * deg)`` in floor integer division, and the teleport
term is ``(15 * SCALE) div (100 * N)`` — so three unrolled iterations are
bit-exact on both engines, and the ranking they induce equals the float
ranking to well past the distinguishable-mass level."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import read_table
from nba_data_pipeline_spark.operators.graph_iter import (
    bfs_kernel,
    fold_contracted,
    hits_kernel,
    pagerank_kernel,
    sssp_kernel,
)
from nba_data_pipeline_spark.operators.totalorder import bounded_window
from nba_data_pipeline_spark.plans.registry import ROUND_DIGITS, query

_SCALE = 1_000_000_000_000

_SQL_ITER = """
{out} AS MATERIALIZED (
  SELECT n.n, base.b + COALESCE(s.contrib, 0) AS pr
  FROM nodes n
  CROSS JOIN (SELECT (15 * {scale}) // (100 * COUNT(*)) AS b FROM nodes) base
  LEFT JOIN (
    SELECT e.v AS n, CAST(SUM((85 * p.pr) // (100 * d.d)) AS BIGINT) AS contrib
    FROM edges e JOIN {inp} p ON p.n = e.u JOIN deg d ON d.u = e.u
    GROUP BY e.v
  ) s ON s.n = n.n
)"""


@query(
    "g1_pagerank_trade",
    oracle=f"""
WITH eo AS (
  SELECT o.o_orderkey, c.c_nationkey AS u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ls AS (
  SELECT l.l_orderkey, s.s_nationkey AS v
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
), edges AS MATERIALIZED (
  SELECT DISTINCT eo.u, ls.v FROM eo JOIN ls ON ls.l_orderkey = eo.o_orderkey
  WHERE eo.u <> ls.v
), nodes AS (
  SELECT u AS n FROM edges UNION SELECT v FROM edges
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
), pr0 AS (
  SELECT n, {_SCALE} // (SELECT COUNT(*) FROM nodes) AS pr FROM nodes
),{_SQL_ITER.format(out="pr1", inp="pr0", scale=_SCALE)},{_SQL_ITER.format(out="pr2", inp="pr1", scale=_SCALE)},{_SQL_ITER.format(out="pr3", inp="pr2", scale=_SCALE)}
SELECT na.n_name AS nation, CAST(pr3.pr AS BIGINT) AS pr_scaled,
       CAST(ROW_NUMBER() OVER (ORDER BY pr3.pr DESC, na.n_name) AS INT) AS pr_rank
FROM pr3 JOIN nation na ON na.n_nationkey = pr3.n
ORDER BY pr_rank
""",
)
def g1_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: PageRank (3 damped iterations) over the nation-level trade
    graph — customer-nation → supplier-nation edges mined from the
    orders⋈customer and lineitem⋈supplier fact joins. The expensive part
    IS the edge mining (a real fact⋈fact join that shuffles once on
    orderkey); the iteration then runs on the contracted graph (≤ N²
    nation pairs), so each of the 3 rounds is a broadcast-sized join —
    the standard shape for iterative graph algorithms on Spark: contract
    first, iterate on the summary, never loop over the facts. Scores are
    integer-exact (module docstring) so the 3-round fixpoint hashes
    identically on both engines. At 100 TB the edge-mining join dominates
    and parallelizes; the per-round cost is invariant in data size (node
    count is the dimension cardinality)."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    eo = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.col("c_nationkey").alias("u"))
    )
    ls = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", F.col("s_nationkey").alias("v"))
    )
    # Contract-then-iterate, fused (r11): the fact⋈fact mining stays the
    # one distributed stage; the 3-round integer fixpoint then runs as a
    # SINGLE mapInPandas task over the ≤ N² nation-pair summary
    # (operators/graph_iter.py — exact same recurrence, bit-equal). The
    # previous relational unroll cost ~3 scheduler round-trips per round
    # (broadcast build + join + agg on ≤25-row frames) plus an eager
    # checkpoint and a node-count job — ~2.3 s of fixed machinery at
    # sf0.1, invariant in data size.
    edges = (
        eo.join(ls, eo["o_orderkey"] == ls["l_orderkey"])
        .where(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    pr = fold_contracted(edges, pagerank_kernel, "n long, pr long")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = pr.join(
        F.broadcast(nation), pr["n"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("pr").cast("long").alias("pr_scaled"),
    )
    # nation-grain leaderboard (25 rows) — bounded by construction
    wr = bounded_window(F.desc("pr_scaled"), "nation", anchor="nation")
    return out.withColumn(
        "pr_rank", F.row_number().over(wr).cast("int")
    ).orderBy("pr_rank")


# ---------------------------------------------------------------------------
# G2: triangle counting with degree-ordered orientation
# ---------------------------------------------------------------------------


@query(
    "g2_triangle_count",
    oracle="""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0
),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (SELECT DISTINCT u, v FROM pairs),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
members AS (
  SELECT a AS node FROM tri UNION ALL
  SELECT b FROM tri UNION ALL
  SELECT c FROM tri
),
deg AS (
  SELECT u AS node, COUNT(*) AS d
  FROM (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)
  GROUP BY 1
)
SELECT m.node AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles,
       CAST(MIN(d.d) AS BIGINT) AS degree
FROM members m JOIN deg d ON d.node = m.node
GROUP BY m.node
ORDER BY n_triangles DESC, p_partkey
LIMIT 20
""",
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: TRIANGLE counting over the part co-order graph (parts that share
    an order are adjacent — the 'bought together' graph the reference's
    matchup co-occurrence heuristics gesture at): top-20 parts by the
    number of triangles they close, with degree. Triangles are the
    community-density primitive (clustering coefficient, spam/bot
    detection, feature for graph ML).

    Spark-first shape — DEGREE-ORDERED ORIENTATION (the MapReduce
    node-iterator of Suri & Vassilvitskii, WWW'11): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher
    one, making the neighbor lists that drive the wedge join
    O(sqrt(m))-bounded, so wedge volume is O(m^1.5) worst-case instead of
    sum-of-deg² — the hub that closes the most triangles never enumerates
    its own quadratic wedge set. Wedges (a→b, a→c) close iff edge (b→c)
    exists: one equi-join against the oriented edge list. The oracle
    brute-forces the a<b<c id-ordered form — orientation must not change
    a single count. Members explode ×3, then a map-side partial count.

    At 100 TB: edges persist as a bucketed table on u; the wedge join and
    the closing probe both co-locate on that bucketing (no re-shuffle),
    and AQE's skew split handles residual hot vertices."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        # 1-in-5 part sample keeps the demo graph at ~50k edges (the full
        # co-order graph at sf0.1 is 1.2M edges with sum-deg² ≈ 3e8 —
        # legitimate work, wrong cost for a catalog entry; the filter is
        # pushed to the parquet scan on both engines)
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    edges = pairs.distinct().persist()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): u' = smaller endpoint under that order
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select("o.s", "o.t")
        .persist()
    )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")))
        .select(
            F.col("e1.s").alias("a"), F.col("e1.t").alias("b"), F.col("e2.t").alias("c")
        )
    )
    # the closing edge (b,c) may be oriented either way in e; probe the
    # canonical (min,max) form against a symmetric-canonical edge view
    canon = e.select(
        F.least("s", "t").alias("x"), F.greatest("s", "t").alias("y")
    )
    tri = wedges.join(
        canon,
        (F.least("b", "c") == F.col("x")) & (F.greatest("b", "c") == F.col("y")),
    ).select("a", "b", "c")
    # one explode, not three union branches: each union arm re-ran the
    # wedge join + closing probe (the expensive stages — e's cache covers
    # only the edge list, not the joins above it)
    members = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return (
        members.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .join(deg, "node")
        .select(
            F.col("node").alias("p_partkey"),
            "n_triangles",
            F.col("d").cast("bigint").alias("degree"),
        )
        .orderBy(F.desc("n_triangles"), "p_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# G3: BFS shortest-hop levels (frontier expansion)
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4  # ≥ trade-graph diameter; pytest pins convergence


@query(
    "g3_bfs_levels",
    oracle="""
WITH RECURSIVE eo AS (
  SELECT o.o_orderkey, c.c_nationkey AS u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ls AS (
  SELECT l.l_orderkey, s.s_nationkey AS v
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
), edir AS (
  SELECT DISTINCT eo.u, ls.v FROM eo JOIN ls ON ls.l_orderkey = eo.o_orderkey
  WHERE eo.u <> ls.v
), edges AS MATERIALIZED (
  SELECT u, v FROM edir UNION SELECT v, u FROM edir
), bfs AS (
  SELECT CAST(0 AS BIGINT) AS n, 0 AS lvl
  UNION ALL
  SELECT DISTINCT e.v AS n, bfs.lvl + 1 AS lvl
  FROM bfs JOIN edges e ON e.u = bfs.n
  WHERE bfs.lvl < 6
), dist AS (
  SELECT n, MIN(lvl) AS lvl FROM bfs GROUP BY n
)
SELECT na.n_name AS nation, CAST(dist.lvl AS INT) AS hops
FROM dist JOIN nation na ON na.n_nationkey = dist.n
ORDER BY hops, nation
""",
)
def g3_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: BFS shortest-hop levels from nation 0 over the (symmetrized)
    trade graph — the FRONTIER-EXPANSION iteration class (reachability,
    dependency closure, blast-radius queries), complementing g1's
    fixpoint-score class and g2's enumeration class. Spark runs the
    textbook distributed BFS: keep a (node, dist) table, expand the
    frontier through one equi-join per round, keep MIN(dist) — rounds
    unrolled to the graph's diameter bound, each a join + aggregate the
    optimizer pipelines; the DuckDB oracle computes the same levels with
    a RECURSIVE CTE, so the unrolled plan must reach the recursive
    fixpoint exactly.

    At 100 TB: the frontier join is the same contract as g1's contribution
    join — bucketed edges make every round shuffle-free on the edge side;
    rounds are bounded by diameter, and each round's frontier is
    MIN-deduped so state never exceeds |V|."""
    eo = (
        read_table(spark, sf_dir, "orders")
        .join(
            read_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", F.col("c_nationkey").alias("u"))
    )
    ls = (
        read_table(spark, sf_dir, "lineitem")
        .join(
            read_table(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("l_orderkey", F.col("s_nationkey").alias("v"))
    )
    edir = (
        eo.join(ls, ls["l_orderkey"] == eo["o_orderkey"])
        .select("u", "v")
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Contract-then-iterate, fused (r11): the mining join is the one
    # distributed stage; symmetrize + the 6 unrolled frontier rounds run
    # as ONE mapInPandas task over the ≤ N² directed nation pairs
    # (operators/graph_iter.py, recurrence bit-equal to the relational
    # unroll). The previous loop paid an eager checkpoint + a join + an
    # aggregate job PER ROUND on ≤25-row frames — fixed machinery,
    # invariant in data size.
    dist = fold_contracted(
        edir, lambda df: bfs_kernel(df, _BFS_ROUNDS), "n long, lvl int"
    )
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        dist.join(nation, dist["n"] == nation["n_nationkey"])
        .select(F.col("n_name").alias("nation"), F.col("lvl").cast("int").alias("hops"))
        .orderBy("hops", "nation")
    )


_G4_INF = 10**9
_G4_ROUNDS = 4

_G4_SQL_ITER = """
{out} AS MATERIALIZED (
  SELECT d.n, LEAST(d.dist, COALESCE(m.best, {inf})) AS dist
  FROM {inp} d
  LEFT JOIN (
    SELECT e.v AS n, MIN(p.dist + e.w) AS best
    FROM edges e JOIN {inp} p ON p.n = e.u
    WHERE p.dist < {inf}
    GROUP BY e.v
  ) m ON m.n = d.n
)"""


@query(
    "g4_weighted_sssp",
    oracle=f"""
WITH eo AS (
  SELECT o.o_orderkey, c.c_nationkey AS u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ls AS (
  SELECT l.l_orderkey, s.s_nationkey AS v,
         CAST(l.l_quantity AS INT) % 9 + 1 AS w
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
), dedges AS MATERIALIZED (
  SELECT eo.u, ls.v, CAST(MIN(ls.w) AS BIGINT) AS w
  FROM eo JOIN ls ON ls.l_orderkey = eo.o_orderkey
  WHERE eo.u <> ls.v
  GROUP BY eo.u, ls.v
), edges AS MATERIALIZED (
  SELECT u, v, MIN(w) AS w FROM (
    SELECT u, v, w FROM dedges UNION ALL SELECT v AS u, u AS v, w FROM dedges
  ) GROUP BY u, v
), nodes AS (
  SELECT DISTINCT u AS n FROM edges
), d0 AS (
  SELECT n, CASE WHEN n = 0 THEN 0 ELSE {_G4_INF} END AS dist FROM nodes
),{",".join(_G4_SQL_ITER.format(out=f"d{i + 1}", inp=f"d{i}", inf=_G4_INF) for i in range(_G4_ROUNDS))}
SELECT na.n_name AS nation, CAST(d{_G4_ROUNDS}.dist AS BIGINT) AS dist,
       CAST(ROW_NUMBER() OVER (ORDER BY d{_G4_ROUNDS}.dist, na.n_name) AS INT)
           AS closeness_rank
FROM d{_G4_ROUNDS} JOIN nation na ON na.n_nationkey = d{_G4_ROUNDS}.n
WHERE d{_G4_ROUNDS}.dist < {_G4_INF}
ORDER BY closeness_rank
""",
)
def g4_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: weighted single-source shortest paths (4 Bellman-Ford
    rounds) over the nation trade graph, edge weight = the cheapest
    quantity-derived lead-time proxy observed on any connecting order
    line. Completes the graph-algorithm triad's metric axis: g1 scores
    (fixpoint), g3 hops (unweighted reachability), g4 weighted distance.

    Integer discipline: weights and distances are exact BIGINTs (INF as a
    literal), so a fixed number of unrolled relaxation rounds is bit-equal
    on both engines regardless of convergence — the oracle runs the same
    4 rounds, not a fixpoint.

    Scale shape — same contract-then-iterate story as g1: the one
    expensive stage is mining weighted edges from the fact⋈fact join
    (shuffles once on orderkey, MIN-combines map-side); relaxation then
    runs on the contracted nation graph (≤ N² dimension-bounded rows) as
    4 broadcast-sized join+min rounds. On a graph whose
    contracted form did NOT fit a task, each round is the standard
    edge-partitioned join+min — still shuffle-bounded, no frontier
    materialization needed because Bellman-Ford relaxes all edges."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    eo = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("o_orderkey").alias("ok"), F.col("c_nationkey").alias("u"))
    )
    ls = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("s_nationkey").alias("v"),
            (F.col("l_quantity").cast("int") % 9 + 1).alias("w"),
        )
    )
    dedges = (
        eo.join(ls, "ok")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").cast("long").alias("w"))
    )
    # Contract-then-iterate, fused (r11): the fact aggregation is the one
    # distributed stage; symmetrize + MIN-merge + the 4 unrolled
    # relaxation rounds run as ONE mapInPandas task over the ≤ N²
    # MIN-weighted nation pairs (operators/graph_iter.py, recurrence
    # bit-equal to the relational unroll). The previous loop paid an
    # eager checkpoint + a broadcast + a join + an aggregate PER ROUND on
    # ≤25-row frames — fixed machinery, invariant in data size.
    dist = fold_contracted(
        dedges, lambda df: sssp_kernel(df, _G4_ROUNDS, _G4_INF), "n long, dist long"
    )
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    # nation-grain leaderboard (25 rows) — bounded by construction
    wr = bounded_window("dist", "n_name", anchor="n_name")
    return (
        dist.filter(F.col("dist") < _G4_INF)
        .join(F.broadcast(nation), F.col("n") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("dist").cast("long").alias("dist"),
            F.row_number().over(wr).cast("int").alias("closeness_rank"),
        )
        .orderBy("closeness_rank")
    )


_G5_K = 3
_G5_ROUNDS = 3

_G5_SQL_ROUND = """
deg{r} AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT e.u AS n FROM sym e
    JOIN s{p} a ON a.n = e.u JOIN s{p} b ON b.n = e.v
  ) GROUP BY n
),
s{r} AS MATERIALIZED (SELECT n FROM deg{r} WHERE d >= {k}),
out{r} AS (
  SELECT {r} AS round,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s{r}) AS n_survivors,
         (SELECT CAST(COUNT(*) / 2 AS BIGINT) FROM (
            SELECT e.u FROM sym e
            JOIN s{r} a ON a.n = e.u JOIN s{r} b ON b.n = e.v
         )) AS n_core_edges
)"""


@query(
    "g5_kcore_peel",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0
),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (SELECT DISTINCT u, v FROM pairs),
sym AS MATERIALIZED (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
s0 AS (SELECT DISTINCT u AS n FROM sym),
{",".join(_G5_SQL_ROUND.format(r=r, p=r - 1, k=_G5_K) for r in range(1, _G5_ROUNDS + 1))}
SELECT * FROM ({" UNION ALL ".join(f"SELECT * FROM out{r}" for r in range(1, _G5_ROUNDS + 1))})
ORDER BY round
""",
)
def g5_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: k-core decomposition by iterative peeling (k=3, 3 unrolled
    rounds) over the part co-order graph — the graph-DENSITY class beside
    g1 (scores), g2 (enumeration), g3/g4 (distance): repeatedly drop
    nodes with degree < k among survivors; what remains is the dense
    backbone (community seeds, spam-farm detection, the dedup-cluster
    "hub" filter). Per-round survivor and induced-edge counts come back,
    so the oracle checks the whole peeling trajectory, not just the
    fixpoint.

    Scale shape: the same contract as every G entry — mine edges once
    (fact⋈fact, checkpointed), then each peel is one induced-subgraph
    semi-join + a map-side-combined degree count on the contracted edge
    table; survivor sets shrink monotonically so rounds get cheaper. A
    fixed round budget keeps both engines bit-equal whether or not the
    fixpoint is reached (the true core needs O(peeling-depth) rounds)."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    sym = (
        # explode-symmetrize (not union-of-flip): the union form ran the
        # orderkey self-join + distinct once per branch — see g3 (r11)
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint()
    )
    # Peel over the SHRINKING induced edge set (r11, guide §1.2-1): since
    # surv_r ⊆ surv_{r-1}, inducing by surv_r over the previous round's
    # induced graph equals inducing over full sym — so each round joins
    # cur (monotonically shrinking), never the full symmetric edge list,
    # and the pinned cur serves BOTH this round's core-edge count and the
    # next round's degree pass (the old form computed that same induced
    # subgraph twice: once eagerly for the next survivor set, once lazily
    # for core_edges in the final plan). Degrees need no distinct-node
    # seed: every node of cur has degree ≥ 1 and nodes outside cur have
    # degree 0 < k, so groupBy(u) over cur IS the survivor test. The pins
    # are LAZY (eager=False): an eager pin per frame put 6 sequential
    # driver jobs on the wall (measured 2.4-2.6 s in-suite class); the
    # lazy chain materializes the whole peel in dependency order under
    # the final action and later consumers read the checkpoint blocks
    # (steady 1.4-1.8 s, byte-identical results). The survivor sets are
    # broadcast explicitly: a lazy pin has no size at planning time, so
    # AQE planned sort-merge joins and re-planned them to broadcast at run
    # time depending on which query stages had already finished. The warm
    # job count wandered 26-29 at sf0.1 on local[4] (a stable 26 with
    # AQE's runtime broadcast conversion off); with the hint the plan is
    # fixed at 20 jobs every run.
    cur = sym
    out = None
    for r in range(1, _G5_ROUNDS + 1):
        deg = cur.groupBy(F.col("u").alias("n")).agg(
            F.count(F.lit(1)).alias("d")
        )
        surv = (
            deg.filter(F.col("d") >= _G5_K)
            .select("n")
            .localCheckpoint(eager=False)
        )
        cur = (
            cur.join(F.broadcast(surv.select(F.col("n").alias("u"))), "u")
            .join(F.broadcast(surv.select(F.col("n").alias("v"))), "v")
            .localCheckpoint(eager=False)
        )
        row = (
            surv.agg(F.count(F.lit(1)).alias("n_survivors"))
            .crossJoin(
                F.broadcast(
                    cur.agg(
                        (F.count(F.lit(1)) / 2).cast("long").alias("n_core_edges")
                    )
                )
            )
            .select(
                F.lit(r).alias("round"),
                F.col("n_survivors").cast("long"),
                "n_core_edges",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# G6: degree assortativity + average-nearest-neighbor-degree curve
# ---------------------------------------------------------------------------


@query(
    "g6_degree_assortativity",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0
),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (SELECT DISTINCT u, v FROM pairs),
sym AS MATERIALIZED (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
ep AS (
  SELECT du.d AS d_src, dv.d AS d_dst
  FROM sym s JOIN deg du ON du.node = s.u JOIN deg dv ON dv.node = s.v
),
r AS (SELECT corr(d_src, d_dst) AS assortativity FROM ep)
SELECT d_src AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_endpoints,
       ROUND(AVG(CAST(d_dst AS DOUBLE)), {ROUND_DIGITS}) AS avg_nn_degree,
       ROUND(ANY_VALUE(r.assortativity), {ROUND_DIGITS}) AS assortativity
FROM ep CROSS JOIN r
GROUP BY d_src
ORDER BY d_src
""",
)
def g6_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: degree assortativity (Newman 2002, Phys. Rev. Lett. 89) and the
    k_nn(k) average-nearest-neighbor-degree curve over the part co-order
    graph -- the hub-mixing diagnostic that decides whether g1/g2-style
    algorithms face a hub-to-hub core (assortative, worst case for the
    wedge joins) or a star-like periphery (disassortative). One number
    summarizes what a degree-distribution histogram cannot: who connects
    to whom.

    Spark-first shape: edges are mined exactly like g2 (equi-join on
    orderkey, distinct), symmetrized with a unionAll; degrees are one
    map-side-combined count; the endpoint-degree pairing is two shuffle
    joins co-partitioned on the node key (deg is |V|-sized -- at 100 TB
    it stays a regular join, no broadcast assumption); corr and the
    per-degree means are mergeable-moment aggregates of the pair list.
    The 1-row corr result rides back on a broadcast cross join. Nothing
    in the plan holds more than |E| rows, and the only global state is
    six correlation moments."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    # persist the mined edge list (it feeds both symmetrize branches —
    # uncached, the orderkey self-join ran once per downstream consumer)
    # and the endpoint-degree pairs (they feed the corr scalar AND the
    # per-degree rollup).
    edges = pairs.distinct().persist()
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ep = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("d").alias("d_src")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("d_dst")), "v")
        .select("d_src", "d_dst")
        .persist()
    )
    r = ep.agg(F.corr("d_src", "d_dst").alias("assortativity"))
    return (
        ep.crossJoin(F.broadcast(r))
        .groupBy(F.col("d_src").alias("degree"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_endpoints"),
            F.round(F.avg(F.col("d_dst").cast("double")), ROUND_DIGITS).alias(
                "avg_nn_degree"
            ),
            F.round(F.any_value("assortativity"), ROUND_DIGITS).alias(
                "assortativity"
            ),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# G7: clustering-coefficient distribution + transitivity
# ---------------------------------------------------------------------------


#: G7's hub-exclusion knob: the analysis runs on the subgraph induced by
#: nodes whose degree is ≤ this cap. Wedge mass is thereby bounded by
#: cap²·|nodes| at ANY corpus size (the standard cap-and-report practice
#: for clustering statistics on skewed graphs); the oracle applies the
#: identical cap. At sf0.1 this excludes 48 of 4000 nodes (max degree 54).
_G7_DEGREE_CAP = 40


@query(
    "g7_clustering_coefficient",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0
),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges0 AS MATERIALIZED (SELECT DISTINCT u, v FROM pairs),
deg0 AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node, v FROM edges0 UNION ALL SELECT v, u FROM edges0)
  GROUP BY 1
),
keep AS (SELECT node FROM deg0 WHERE d <= {_G7_DEGREE_CAP}),
edges AS MATERIALIZED (
  SELECT u, v FROM edges0
  JOIN keep ku ON ku.node = edges0.u
  JOIN keep kv ON kv.node = edges0.v
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
members AS (
  SELECT a AS node FROM tri UNION ALL
  SELECT b FROM tri UNION ALL
  SELECT c FROM tri
),
tcount AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM members GROUP BY 1
),
deg AS (
  SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)
  GROUP BY 1
),
nodes AS (
  SELECT deg.node, deg.d, COALESCE(tcount.t, 0) AS t
  FROM deg LEFT JOIN tcount USING (node)
  WHERE deg.d >= 2
),
gstats AS (
  SELECT ROUND(AVG(2.0 * t / (d * (d - 1))), {ROUND_DIGITS}) AS avg_cc,
         ROUND(SUM(t) * 1.0 / SUM(d * (d - 1) / 2), {ROUND_DIGITS})
             AS transitivity
  FROM nodes
)
SELECT CAST(LEAST(9, (20 * t) // (d * (d - 1))) AS INT) AS cc_bin,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       ROUND(AVG(2.0 * t / (d * (d - 1))), {ROUND_DIGITS}) AS bin_avg_cc,
       ANY_VALUE(gstats.avg_cc) AS avg_cc,
       ANY_VALUE(gstats.transitivity) AS transitivity
FROM nodes CROSS JOIN gstats
GROUP BY 1
ORDER BY cc_bin
""",
)
def g7_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: local clustering-coefficient distribution (Watts & Strogatz
    1998) over the part co-order graph, plus the global average cc and
    the transitivity ratio (Σtriangle-memberships / Σwedges — equal to
    3T/wedges since each triangle contributes three memberships). g2
    names the top triangle-closers; this reports the SHAPE of local
    density — the small-world diagnostic that tells a dedup/community
    pipeline whether cluster closure (D6) will produce tight cliques or
    loose chains.

    Spark-first shape: the fact table CONTRACTS to the distinct edge list
    first (dimension-scale here: 4k nodes / 48k edges at sf0.1), and the
    hub cap (_G7_DEGREE_CAP, mirrored in the oracle) bounds wedge mass by
    cap²·|nodes| at any corpus size. The contracted edge lists are
    repartitioned small and lazily localCheckpointed: without that, every
    re-derivation of the oriented edges spawned 64-task shuffle stages and
    STAGE SCHEDULING, not wedge volume, was the measured cost (12.3 s warm
    → 3.4 s at sf0.1). Triangles per node reuse g2's degree-ordered
    orientation (wedge mass O(m^1.5)-bounded); every node with d ≥ 2
    enters via a LEFT join from the degree table so zero-triangle nodes
    count in every bin and in both global ratios. The cc histogram bin
    is the INTEGER (20·t) div (d(d−1)) — floor(10·cc) computed in exact
    integer arithmetic, so binning cannot disagree across engines; only
    the reported averages are floating and they are rounded. Everything
    after the wedge join is node-grain contraction. The degree/keep
    broadcasts are node-grain — dimension-bounded for this co-order
    graph; for a fact-scale node set drop the hints and let AQE choose."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    edges0 = pairs.distinct().repartition(8).localCheckpoint(eager=False)
    # Degrees via explode (one lineage leg over the checkpoint, not a
    # union of two selects), and ONE broadcast build per table: the keep
    # and degree broadcasts are joined twice under different conditions,
    # but aliasing a single broadcast() frame leaves the two
    # BroadcastExchange children plan-identical, so ReuseExchange builds
    # each once (4 broadcast-build jobs → 2). deg additionally feeds the
    # node-grain presentation leg, so it is pinned small.
    deg0 = (
        edges0.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    keep = F.broadcast(deg0.filter(F.col("d") <= _G7_DEGREE_CAP).select("node"))
    edges = (
        edges0.join(keep.alias("ku"), F.col("u") == F.col("ku.node"))
        .join(keep.alias("kv"), F.col("v") == F.col("kv.node"))
        .select("u", "v")
    )
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .repartition(8)
        .localCheckpoint(eager=False)
    )
    degb = F.broadcast(deg)
    e = (
        edges.join(degb.alias("dut"), F.col("u") == F.col("dut.node"))
        .join(degb.alias("dvt"), F.col("v") == F.col("dvt.node"))
        .withColumn("du", F.col("dut.d"))
        .withColumn("dv", F.col("dvt.d"))
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select("o.s", "o.t")
        .repartition(8)
        .localCheckpoint(eager=False)
    )
    wedges = (
        e.alias("e1")
        .join(
            e.alias("e2"),
            (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("a"), F.col("e1.t").alias("b"), F.col("e2.t").alias("c")
        )
    )
    canon = e.select(
        F.least("s", "t").alias("x"), F.greatest("s", "t").alias("y")
    )
    tri = wedges.join(
        canon,
        (F.least("b", "c") == F.col("x")) & (F.greatest("b", "c") == F.col("y")),
    ).select("a", "b", "c")
    tcount = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    nodes = (
        deg.filter(F.col("d") >= 2)
        .join(tcount, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce("t", F.lit(0).cast("bigint")).alias("t"),
        )
    )
    cc = 2.0 * F.col("t") / (F.col("d") * (F.col("d") - 1))
    glob = nodes.agg(
        F.round(F.avg(cc), ROUND_DIGITS).alias("avg_cc"),
        F.round(
            F.sum("t") * 1.0 / F.sum(F.col("d") * (F.col("d") - 1) / 2),
            ROUND_DIGITS,
        ).alias("transitivity"),
    )
    return (
        nodes.crossJoin(F.broadcast(glob))
        .groupBy(
            F.expr("least(9, (20 * t) div (d * (d - 1)))")
            .cast("int")
            .alias("cc_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.round(F.avg(cc), ROUND_DIGITS).alias("bin_avg_cc"),
            F.any_value("avg_cc").alias("avg_cc"),
            F.any_value("transitivity").alias("transitivity"),
        )
        .orderBy("cc_bin")
    )


# ---------------------------------------------------------------------------
# G8: HITS hubs & authorities (unnormalized, integer-exact)
# ---------------------------------------------------------------------------


@query(
    "g8_hits_hubs_authorities",
    oracle="""
WITH eo AS (
  SELECT o.o_orderkey, c.c_nationkey AS u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ls AS (
  SELECT l.l_orderkey, s.s_nationkey AS v
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
), edges AS MATERIALIZED (
  SELECT DISTINCT eo.u, ls.v FROM eo JOIN ls ON ls.l_orderkey = eo.o_orderkey
  WHERE eo.u <> ls.v
), nodes AS (
  SELECT u AS n FROM edges UNION SELECT v FROM edges
), h1 AS (  -- h1(u) = sum over out-edges of a0(v)=1, i.e. outdegree
  SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS h FROM edges GROUP BY 1
), a1 AS (  -- a1(v) = sum of h1 over in-neighbors
  SELECT e.v AS n, CAST(SUM(h1.h) AS BIGINT) AS a
  FROM edges e JOIN h1 ON h1.n = e.u GROUP BY 1
), h2 AS (  -- h2(u) = sum of a1 over out-neighbors
  SELECT e.u AS n, CAST(SUM(a1.a) AS BIGINT) AS h
  FROM edges e JOIN a1 ON a1.n = e.v GROUP BY 1
), a2 AS (  -- a2(v) = sum of h2 over in-neighbors
  SELECT e.v AS n, CAST(SUM(h2.h) AS BIGINT) AS a
  FROM edges e JOIN h2 ON h2.n = e.u GROUP BY 1
)
SELECT na.n_name AS nation,
       COALESCE(h2.h, 0) AS hub_score,
       COALESCE(a2.a, 0) AS auth_score,
       CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(h2.h, 0) DESC, na.n_name)
            AS INT) AS hub_rank,
       CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(a2.a, 0) DESC, na.n_name)
            AS INT) AS auth_rank
FROM nodes
JOIN nation na ON na.n_nationkey = nodes.n
LEFT JOIN h2 ON h2.n = nodes.n
LEFT JOIN a2 ON a2.n = nodes.n
ORDER BY auth_rank
""",
)
def g8_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: HITS hubs & authorities (Kleinberg, JACM 1999) on the directed
    customer-nation → supplier-nation trade graph (same edge mining as
    g1_pagerank_trade). PageRank answers "who is important"; HITS splits
    that into "who points at the important" (hubs — big importer nations)
    vs "who is pointed at" (authorities — big supplier nations), the
    asymmetry a one-score centrality cannot express.

    Integer-exact iteration: HITS normally renormalizes each round by an
    L2 norm (unhashable across engines). Normalization is a positive
    scalar, so it never changes the RANKING — we run the UNNORMALIZED
    recurrence from a0=1 (h1 = outdeg; a1 = Σ_in h1; h2 = Σ_out a1;
    a2 = Σ_in h2: pure BIGINT path counts, bit-exact on both engines)
    and report scores plus both rankings. Two full mutual-reinforcement
    rounds on a 25-node nation graph is past the rank-stability point.

    Spark-first shape: edge mining is two fact joins + DISTINCT at
    nation-pair grain (≤ 25×24 rows); each HITS half-step is one
    broadcast join of the tiny score frame against the edge list plus a
    map-side-combined SUM — at 100 TB the fact scans dominate and the
    iteration itself stays dim-sized. No floats anywhere."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    eo = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.col("c_nationkey").alias("u"))
    )
    ls = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", F.col("s_nationkey").alias("v"))
    )
    edges = (
        eo.join(ls, eo["o_orderkey"] == ls["l_orderkey"])
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    # Contract-then-iterate, fused (r11): the mining join is the one
    # distributed stage; both HITS mutual-reinforcement rounds run as ONE
    # mapInPandas task over the ≤ 25×24 nation pairs
    # (operators/graph_iter.py, recurrence bit-equal to the four
    # relational half-steps, which each cost a broadcast + join + agg
    # round-trip — fixed machinery, invariant in data size).
    scores = fold_contracted(
        edges, hits_kernel, "n long, hub_score long, auth_score long"
    )
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    scored = (
        scores.join(F.broadcast(nation), scores["n"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "hub_score",
            "auth_score",
        )
    )
    return scored.select(
        "nation",
        "hub_score",
        "auth_score",
        # nation-grain leaderboards (25 rows) — bounded by construction
        F.row_number()
        .over(bounded_window(F.desc("hub_score"), "nation", anchor="nation"))
        .cast("int")
        .alias("hub_rank"),
        F.row_number()
        .over(bounded_window(F.desc("auth_score"), "nation", anchor="nation"))
        .cast("int")
        .alias("auth_rank"),
    ).orderBy("auth_rank")


# ---------------------------------------------------------------------------
# G9: Adamic-Adar link prediction (common-neighbor scoring)
# ---------------------------------------------------------------------------

#: Intermediate-node degree cap for g9's wedge enumeration. Hubs are both
#: the wedge-mass blowup (a degree-d node emits d(d-1)/2 candidate pairs)
#: and the LEAST informative common neighbors (their Adamic-Adar weight
#: 1/ln d is the smallest) — pruning them is the standard scalable AA
#: approximation and here it is part of the DEFINITION both engines share,
#: so the oracle stays exact.
_G9_DEG_CAP = 64


@query(
    "g9_adamic_adar_links",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 5 = 0
),
cpairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (SELECT DISTINCT u, v FROM cpairs),
adj AS MATERIALIZED (SELECT u AS z, v AS nb FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
mid AS (
  SELECT adj.z, adj.nb, deg.d FROM adj JOIN deg USING (z)
  WHERE deg.d <= {_G9_DEG_CAP}
),
wedges AS (
  SELECT a.nb AS u, b.nb AS w, a.z, a.d
  FROM mid a JOIN mid b ON a.z = b.z AND a.nb < b.nb
),
cand AS (
  SELECT wg.u, wg.w,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         ROUND(SUM(1.0 / LN(wg.d)), {{rd}}) AS aa_score
  FROM wedges wg
  LEFT JOIN edges e ON e.u = wg.u AND e.v = wg.w
  WHERE e.u IS NULL
  GROUP BY wg.u, wg.w
)
SELECT u, w, n_common, aa_score
FROM cand
ORDER BY n_common DESC, u, w
LIMIT 20
""".replace("{rd}", str(ROUND_DIGITS)),
)
def g9_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: Adamic-Adar link prediction (Adamic & Adar, Social Networks
    2003) over the part co-order graph — for part pairs NOT yet bought
    together, score how likely the link is by their common neighbors,
    weighting each shared neighbor z by 1/ln(deg(z)) (rare co-purchase
    partners are stronger evidence than ubiquitous ones). The
    "customers who bought X also bought Y" primitive, and the classic
    graph-ML feature the reference's co-occurrence dicts cannot rank.

    Spark-first shape: (1) symmetric adjacency from the distinct edge
    set; (2) HUB CAP — intermediates with deg > _G9_DEG_CAP are dropped
    BEFORE the wedge self-join, bounding wedge mass at cap²·|nodes|
    instead of Σdeg² (and those hubs carry the smallest AA weight, so
    the cap removes the most mass for the least signal — the standard
    scalable-AA move, and part of the shared definition so the oracle
    is exact, not approximate); (3) wedge equi-join on z with u < w
    canonicalization; (4) LEFT ANTI probe against the edge list keeps
    only non-adjacent pairs (we predict NEW links); (5) one grouped SUM.
    Ranking and the top-20 cut use the integer n_common with a unique
    (u, w) tiebreak so no float ulp can move the boundary; aa_score is
    reported ROUND()ed. At 100 TB the adjacency buckets on z and the
    wedge join co-locates on that bucketing."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    cpairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    )
    edges = cpairs.distinct().persist()
    adj = edges.select(F.col("u").alias("z"), F.col("v").alias("nb")).unionAll(
        edges.select(F.col("v").alias("z"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # persist the capped adjacency: it feeds BOTH sides of the wedge
    # self-join, and without the cache the degree aggregate + hub-cap
    # join run twice (edges alone being cached doesn't cover them).
    mid = adj.join(deg.filter(F.col("d") <= _G9_DEG_CAP), "z").persist()
    wedges = (
        mid.alias("a")
        .join(
            mid.alias("b"),
            (F.col("a.z") == F.col("b.z")) & (F.col("a.nb") < F.col("b.nb")),
        )
        .select(
            F.col("a.nb").alias("u"),
            F.col("b.nb").alias("w"),
            F.col("a.z").alias("z"),
            F.col("a.d").alias("d"),
        )
    )
    non_adjacent = wedges.join(
        edges.withColumnRenamed("u", "eu").withColumnRenamed("v", "ev"),
        (F.col("u") == F.col("eu")) & (F.col("w") == F.col("ev")),
        "left_anti",
    )
    return (
        non_adjacent.groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("d"))), ROUND_DIGITS).alias("aa_score"),
        )
        .orderBy(F.desc("n_common"), "u", "w")
        .limit(20)
    )
