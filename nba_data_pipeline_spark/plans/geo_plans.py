"""Spatial queries (GEO family): grid-bucketed distance joins — the
blocking pattern for "find everything near X" at scale (geo points,
UI-coordinate dedupe, any 2-D embedding). The reference has no spatial
operators; this family exists because a curation engine meets
coordinates the moment documents carry geotags or layout positions, and
the naive formulation (all-pairs distance) is the canonical scale
killer.

Coordinates are synthesized deterministically from md5(custkey) (the
same cross-engine hash discipline as a25's KMV sketch — a multiplicative
congruential map was tried first and produced a degenerate 1-D lattice
with ZERO near pairs), and distances stay squared-integer — no floats
anywhere, so the oracle match is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import read_table, table_row_count
from nba_data_pipeline_spark.plans.registry import query

#: World is a 10 000 x 10 000 integer grid; the query radius equals the
#: cell edge, so every true neighbor of a point sits in its 3x3 cell
#: neighborhood — the invariant the candidate join relies on.
GRID = 10_000
RADIUS = 150
RADIUS2 = RADIUS * RADIUS


@query(
    "geo1_grid_distance_join",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey AS k,
         CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
              AS BIGINT) % {GRID} AS x,
         CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6))
              AS BIGINT) % {GRID} AS y
  FROM customer
)
SELECT a.k AS k1, b.k AS k2,
       CAST((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
FROM pts a JOIN pts b ON a.k < b.k
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {RADIUS2}
ORDER BY k1, k2
""",
)
def geo1_grid_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO1: all pairs of points within RADIUS, via uniform-grid blocking
    (the fixed-grid spatial join of Patel & DeWitt SIGMOD'96): each point
    lands in one RADIUS-sized cell; the LEFT side replicates into its 3x3
    cell neighborhood; candidates are an equi-join on the cell key; the
    exact squared distance then filters. Because a true neighbor can be
    at most one cell away, recall is exactly 100% — the oracle
    brute-forces all pairs and must agree pair-for-pair.

    Scale shape: replication is a constant 5x on one side only — the
    home cell plus the four lexicographically-FORWARD neighbors
    (1,-1),(1,0),(1,1),(0,1). For two points in the same cell the home
    replica meets the home row and k1 < k2 kills the mirror; for two
    points in adjacent cells exactly one of the two offset directions is
    forward, so the pair is generated exactly once with no key condition
    (least/greatest normalizes the output columns). That is the standard
    half-plane halving of the 3x3 plan: candidate mass drops from
    9·n·density to 5·n·density with recall still exactly 100%. The join
    is a plain shuffle equi-join on the cell id; candidate mass is linear
    in n at fixed density, never n² (when density itself grows with the
    corpus — a fixed world tiled with more points — OUTPUT mass grows as
    n·density and no algorithm beats output size; see BENCH_sf1.md).
    Skewed cells (hot spots) split under AQE like any hot join key; at
    planetary scale swap the uniform grid for a space-filling-curve
    bucketing (lo1's Z-order) with the same join shape. Squared-integer
    distance — no sqrt, no floats, bit-exact across engines."""
    h = F.md5(F.col("c_custkey").cast("string").cast("binary"))
    pts = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % GRID).alias("x"),
        (F.conv(F.substring(h, 7, 6), 16, 10).cast("bigint") % GRID).alias("y"),
    )
    cx = (F.col("x") / RADIUS).cast("long")
    cy = (F.col("y") / RADIUS).cast("long")
    # right side: home cell only
    right = pts.select(
        F.col("k").alias("kb"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        (cx * 1000 + cy).alias("cell"),
    )
    # left side: replicate into the home cell + the four lexicographically
    # FORWARD neighbors only (half-plane halving of the 3x3 plan)
    offsets = F.array(
        *[
            (cx + dx) * 1000 + (cy + dy)
            for dx, dy in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
        ]
    )
    left = pts.select(
        F.col("k").alias("ka"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        (cx * 1000 + cy).alias("home"),
        F.explode(offsets).alias("cell"),
    )
    d2 = (F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2")) + (
        F.col("y1") - F.col("y2")
    ) * (F.col("y1") - F.col("y2"))
    # same-cell pairs: the home replica meets the home row, ka < kb kills
    # the mirror. Cross-cell pairs: exactly one offset direction is
    # forward, so the pair arrives once with no key condition.
    emit = (F.col("home") == F.col("cell")) & (F.col("ka") < F.col("kb")) | (
        F.col("home") != F.col("cell")
    )
    # PIN the join's partition count (r8 sf10 finding): the shuffle INPUT
    # is small (5n rows), so AQE coalesces the join to a handful of
    # partitions — but the join OUTPUT explodes to n·density candidate
    # pairs inside those few tasks (2.5e9 at the 100x tiling → one-task
    # stragglers measured in hours). An explicit numPartitions repartition
    # is exempt from AQE coalescing, so per-task candidate mass stays
    # bounded regardless of how small the pre-join bytes look. A
    # footer-stats probe (zero Spark jobs; catalog statistics on a
    # warehouse) sizes it from the candidate estimate (points are
    # md5-uniform over ~(GRID/RADIUS)^2 cells, so 5·n²/cells is tight),
    # floored at the session parallelism. Small inputs pin too: the plain
    # AQE plan measured no faster at sf0.01 (0.40 vs 0.40 s) or sf0.1
    # (0.59 vs 0.42 s).
    n_cells = (-(-GRID // RADIUS)) ** 2
    n_pts = table_row_count(sf_dir, "customer") or 0
    est_candidates = 5 * n_pts * n_pts // n_cells
    target_per_task = 20_000_000
    par = left.sparkSession.sparkContext.defaultParallelism
    shuffle_n = max(-(-est_candidates // target_per_task), par)
    left = left.repartition(shuffle_n, "cell")
    right = right.repartition(shuffle_n, "cell")
    return (
        left.join(right, "cell")
        .filter(emit & (d2 <= RADIUS2))
        .select(
            F.least("ka", "kb").alias("k1"),
            F.greatest("ka", "kb").alias("k2"),
            d2.cast("bigint").alias("dist2"),
        )
        .orderBy("k1", "k2")
    )


@query(
    "geo2_density_smooth",
    oracle=f"""
WITH pts AS (
  SELECT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
              AS BIGINT) % {GRID} AS x,
         CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6))
              AS BIGINT) % {GRID} AS y
  FROM customer
),
cells AS (
  SELECT x // {RADIUS} AS cx, y // {RADIUS} AS cy,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM pts GROUP BY 1, 2
),
offs AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM (SELECT UNNEST([-1, 0, 1]) AS d) dx,
       (SELECT UNNEST([-1, 0, 1]) AS d) dy
),
sm AS (
  SELECT a.cx + o.dx AS cx, a.cy + o.dy AS cy, a.n_points
  FROM cells a CROSS JOIN offs o
)
SELECT c.cx, c.cy, c.n_points,
       CAST(SUM(sm.n_points) AS BIGINT) AS smoothed_3x3
FROM cells c JOIN sm ON sm.cx = c.cx AND sm.cy = c.cy
GROUP BY c.cx, c.cy, c.n_points
ORDER BY c.cx, c.cy
""",
)
def geo2_density_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEO2: grid density with 3x3 box-kernel smoothing — the hotspot /
    heatmap primitive over the same md5-derived point field as geo1. Raw
    per-cell counts flicker at sparse scales; the box-smoothed count is
    what density-based pruning (only probe ANN cells above a density
    floor) and load forecasting (pre-split hot regions before the geo1
    join) actually consume.

    Spark-first stencil shape: points contract to CELL grain first
    (map-side-combined groupBy — the stream never reaches the stencil),
    then each occupied cell SCATTERS its count to its 9 neighbors
    (explode of a constant 9-element offset array) and the scatter
    re-aggregates on the cell key. Scatter-then-gather via equi-join is
    the distributed convolution idiom: work is 9·|occupied cells|
    regardless of point count, and the same plan runs any kernel by
    swapping the offset array. Empty neighbor cells are never
    materialized (inner join back to occupied cells only). All counts
    integer — no float surface at all."""
    h = F.md5(F.col("c_custkey").cast("string").cast("binary"))
    pts = read_table(spark, sf_dir, "customer").select(
        (F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % GRID).alias("x"),
        (F.conv(F.substring(h, 7, 6), 16, 10).cast("bigint") % GRID).alias("y"),
    )
    cells = (
        pts.select(
            F.expr(f"x div {RADIUS}").alias("cx"),
            F.expr(f"y div {RADIUS}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    scatter = cells.select(
        "n_points", F.explode(offsets).alias("o"), "cx", "cy"
    ).select(
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
        F.col("n_points").alias("contrib"),
    )
    smoothed = scatter.groupBy("cx", "cy").agg(
        F.sum("contrib").cast("bigint").alias("smoothed_3x3")
    )
    return (
        cells.join(smoothed, ["cx", "cy"])
        .select("cx", "cy", "n_points", "smoothed_3x3")
        .orderBy("cx", "cy")
    )
