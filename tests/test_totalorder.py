"""Property tests for the distributed total-order primitive
(operators/totalorder.py) — the VERDICT r4 item-1 machinery.

The reference for every property is a driver-side Python sort of the same
rows (no Spark window involved), so a wrong offset, a bad cut comparison
(direction / null placement), or any bucket-boundary inconsistency between
the stats and data branches would surface as a rank/cum mismatch here."""

from __future__ import annotations

import random

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nba_data_pipeline_spark.operators.totalorder import (
    bounded_window,
    ntile_from_rank,
    total_order,
)


def _mkdf(spark, n=997, seed=7, with_nulls=False):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        x = rng.randrange(50)  # heavy ties
        g = "g1" if rng.random() < 0.7 else "g2"  # skewed groups
        w = rng.randrange(1, 100)
        xv = None if (with_nulls and rng.random() < 0.05) else x
        rows.append((i, xv, g, w))
    return spark.createDataFrame(rows, "key int, x int, grp string, w int"), rows


def _expected_rank(rows, desc=False):
    # total order (x, key), nulls first on asc / last on desc (Spark default)
    def sk(r):
        null = r[1] is None
        v = 0 if r[1] is None else r[1]
        if desc:
            return (null, -v, r[0])
        return (not null, v, r[0])

    return {r[0]: i + 1 for i, r in enumerate(sorted(rows, key=sk))}


def test_rank_matches_reference_across_partitionings(spark):
    df, rows = _mkdf(spark)
    exp = _expected_rank(rows)
    for k in (1, 3, 16, 2000):  # 2000 > n: empty partitions
        got = {
            r["key"]: r["rnk"]
            for r in total_order(
                df, ["x", "key"],
                rank_col="rnk", num_partitions=k,
            ).collect()
        }
        assert got == exp, f"num_partitions={k}"


def test_rank_desc_and_nulls(spark):
    df, rows = _mkdf(spark, with_nulls=True)
    exp = _expected_rank(rows, desc=True)
    got = {
        r["key"]: r["rnk"]
        for r in total_order(
            df, [("x", "desc"), "key"],
            rank_col="rnk", num_partitions=7,
        ).collect()
    }
    assert got == exp


def test_rank_is_permutation_and_n(spark):
    df, rows = _mkdf(spark, n=500)
    out = total_order(
        df, ["x", "key"],
        rank_col="rnk", n_col="n", num_partitions=9,
    ).collect()
    assert sorted(r["rnk"] for r in out) == list(range(1, 501))
    assert {r["n"] for r in out} == {500}


def test_cum_and_totals_match_reference(spark):
    df, rows = _mkdf(spark, n=400)
    srt = sorted(rows, key=lambda r: (r[1], r[0]))
    run, exp_cum = 0, {}
    for r in srt:
        run += r[3]
        exp_cum[r[0]] = run
    out = total_order(
        df, ["x", "key"],
        rank_col="rnk", cum={"cw": "w"}, totals={"tw": "w"}, n_col="n",
        num_partitions=5,
    ).collect()
    exp_rank = _expected_rank(rows)
    for r in out:
        assert r["cw"] == exp_cum[r["key"]]
        assert r["tw"] == run
        assert r["n"] == 400
        assert r["rnk"] == exp_rank[r["key"]]


def test_part_cols_rank_and_n(spark):
    df, rows = _mkdf(spark, n=600)
    out = total_order(
        df, ["x", "key"],
        part_cols=["grp"], rank_col="rnk", n_col="n", cum={"cw": "w"},
        num_partitions=6,
    ).collect()
    for g in ("g1", "g2"):
        grows = sorted(
            (r for r in rows if r[2] == g), key=lambda r: (r[1], r[0])
        )
        exp = {r[0]: i + 1 for i, r in enumerate(grows)}
        run, expc = 0, {}
        for r in grows:
            run += r[3]
            expc[r[0]] = run
        sub = [r for r in out if r["grp"] == g]
        assert {r["key"]: r["rnk"] for r in sub} == exp
        assert {r["key"]: r["cw"] for r in sub} == expc
        assert {r["n"] for r in sub} == {len(grows)}


def test_ntile_matches_spark_ntile(spark):
    for n, k in ((997, 10), (43, 5), (7, 10), (100, 10), (9, 3)):
        df = spark.range(n).select(F.col("id").alias("key"))
        ranked = total_order(
            df, ["key"], rank_col="rnk", n_col="n",
            num_partitions=4,
        ).withColumn("tile", ntile_from_rank(F.col("rnk"), F.col("n"), k))
        ref = df.select(
            "key",
            F.ntile(k)
            .over(bounded_window(F.col("key").asc(), anchor="key"))
            .alias("tile"),
        )
        got = {r["key"]: r["tile"] for r in ranked.collect()}
        exp = {r["key"]: r["tile"] for r in ref.collect()}
        assert got == exp, f"n={n} k={k}"


def test_plan_has_no_unpartitioned_window_and_one_range_exchange(spark):
    from tools.planaudit import unpartitioned_window_specs

    df, _ = _mkdf(spark, n=300)
    out = total_order(
        df, ["x", "key"],
        rank_col="rnk", num_partitions=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert unpartitioned_window_specs(plan) == []

    out2 = total_order(
        df, ["x", "key"],
        cum={"cw": "w"}, num_partitions=8,
    )
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan2
    assert unpartitioned_window_specs(plan2) == []


def test_bounded_window_partitioned_and_wgl(spark):
    from tools.planaudit import unpartitioned_window_specs

    df, _ = _mkdf(spark, n=300)
    ranked = df.withColumn(
        "rn",
        F.row_number().over(
            bounded_window(F.col("x").desc(), F.col("key").asc(), anchor="key")
        ),
    )
    topk = ranked.filter(F.col("rn") <= 5)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert unpartitioned_window_specs(plan) == []
    assert "WindowGroupLimit" in plan  # map-side partial top-k preserved
    # semantics identical to the unpartitioned window
    got = [(r["key"], r["rn"]) for r in topk.orderBy("rn").collect()]
    ref = (
        df.withColumn(
            "rn",
            F.row_number().over(W.orderBy(F.col("x").desc(), F.col("key").asc())),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("rn")
        .collect()
    )
    assert got == [(r["key"], r["rn"]) for r in ref]


# ---------------------------------------------------------------------------
# running_extreme (r8): the distribution-independent sweep primitive that
# replaced sky1's value-banded prefilter (which the sf10 sweep showed never
# pruned — the fixture's whole price range fits one $100 band).
# ---------------------------------------------------------------------------


def _re_reference(spark, df, order_exprs, value_col, agg):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    fagg = F.max if agg == "max" else F.min
    w = (
        W.orderBy(*order_exprs)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return df.withColumn("cm_ref", fagg(F.col(value_col)).over(w))


def test_running_extreme_matches_global_window(spark):
    import random

    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.totalorder import running_extreme

    rng = random.Random(13)
    rows = [
        (i, round(rng.uniform(900.0, 999.9), 2), rng.randint(1, 50))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "pk long, price double, size int")
    order = [("price", "asc"), ("size", "desc"), ("pk", "asc")]
    order_exprs = [F.asc("price"), F.desc("size"), F.asc("pk")]
    # known_count above/below the cutover exercises BOTH the single-task
    # sweep (small path) and the sampled-cut bucketed machinery (deep path)
    for agg in ("max", "min"):
        for forced_n in (500, 10**9):
            got = running_extreme(
                df, order, "size", "cm", agg=agg, num_partitions=7,
                known_count=forced_n,
            )
            ref = _re_reference(spark, df, order_exprs, "size", agg)
            merged = got.join(ref.select("pk", "cm_ref"), "pk")
            bad = merged.filter(
                ~(
                    (F.col("cm").isNull() & F.col("cm_ref").isNull())
                    | (F.col("cm") == F.col("cm_ref"))
                )
            ).count()
            assert bad == 0, (
                f"agg={agg} known_count={forced_n}: {bad} rows diverge "
                "from the SQL frame"
            )


def test_running_extreme_degenerate_single_value_order(spark):
    """The sky1 failure mode: EVERY row shares the leading order value.
    Sampled cuts must still spread rows over buckets and the exclusive
    running max must match the single-task frame exactly."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.operators.totalorder import running_extreme

    rows = [(i, 950.0, (i * 37) % 50 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "pk long, price double, size int")
    order = [("price", "asc"), ("size", "desc"), ("pk", "asc")]
    # force the bucketed path — the degenerate distribution is exactly what
    # the sampled cuts must survive
    got = running_extreme(
        df, order, "size", "cm", num_partitions=8, known_count=10**9
    )
    ref = _re_reference(
        spark, df, [F.asc("price"), F.desc("size"), F.asc("pk")], "size", "max"
    )
    merged = got.join(ref.select("pk", "cm_ref"), "pk")
    bad = merged.filter(
        ~(
            (F.col("cm").isNull() & F.col("cm_ref").isNull())
            | (F.col("cm") == F.col("cm_ref"))
        )
    ).count()
    assert bad == 0
    # exactly one row (the global first in the order) sees NULL
    assert got.filter(F.col("cm").isNull()).count() == 1


def test_running_extreme_no_unpartitioned_window(spark):
    """The plan must never move all rows to one task: planaudit's R4
    detector finds no empty-partition-spec window in the physical plan."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
        ),
    )
    from planaudit import unpartitioned_window_specs

    from nba_data_pipeline_spark.operators.totalorder import running_extreme

    df = spark.range(100).selectExpr("id AS pk", "id % 7 AS v")
    # both paths must pass R4: the small path's bounded_window is the
    # audited constant-keyed spec, the bucketed path partitions by bucket
    for forced_n in (100, 10**9):
        got = running_extreme(
            df, [("v", "asc"), ("pk", "asc")], "v", "cm", known_count=forced_n
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition" in plan  # the windows are really there
        assert unpartitioned_window_specs(plan) == []


def test_ntile_exact_matches_spark_ntile(spark):
    """multi_ntile_exact's boundary-selection tiles must equal F.ntile over
    the same total order, for several k and bucket counts, with nulls."""
    from nba_data_pipeline_spark.operators.totalorder import multi_ntile_exact

    df, _rows = _mkdf(spark, n=499, with_nulls=True)
    got = multi_ntile_exact(
        df,
        [
            ([("x", "asc"), ("key", "asc")], 5, "t_asc"),
            ([("x", "desc"), ("key", "asc")], 7, "t_desc"),
            ([("w", "asc"), ("key", "asc")], 3, "t_w"),
        ],
        num_partitions=8,
    )
    exp = (
        df.withColumn(
            "e_asc",
            F.ntile(5).over(bounded_window(F.asc("x"), F.asc("key"), anchor="key")),
        )
        .withColumn(
            "e_desc",
            F.ntile(7).over(bounded_window(F.desc("x"), F.asc("key"), anchor="key")),
        )
        .withColumn(
            "e_w",
            F.ntile(3).over(bounded_window(F.asc("w"), F.asc("key"), anchor="key")),
        )
        .select("key", "e_asc", "e_desc", "e_w")
    )
    j = got.join(exp, "key")
    bad = j.filter(
        (F.col("t_asc") != F.col("e_asc"))
        | (F.col("t_desc") != F.col("e_desc"))
        | (F.col("t_w") != F.col("e_w"))
    ).count()
    assert bad == 0


def test_ntile_exact_small_and_degenerate_frames(spark):
    """n < k_tiles (some tiles empty), k_tiles=1, and a single-bucket cut
    list must all match F.ntile semantics exactly."""
    from nba_data_pipeline_spark.operators.totalorder import ntile_exact

    df = spark.createDataFrame([(i, i % 2) for i in range(3)], "key int, x int")
    got = {
        r["key"]: r["t"]
        for r in ntile_exact(
            df, [("x", "asc"), ("key", "asc")], 5, tile_col="t", num_partitions=4
        ).collect()
    }
    exp = {
        r["key"]: r["e"]
        for r in df.withColumn(
            "e",
            F.ntile(5).over(bounded_window(F.asc("x"), F.asc("key"), anchor="key")),
        ).collect()
    }
    assert got == exp
    one = ntile_exact(
        df, ["key"], 1, tile_col="t", num_partitions=4
    ).collect()
    assert all(r["t"] == 1 for r in one)


def test_small_hint_bounded_path_matches_machinery(spark):
    """small_hint_rows <= TOTAL_ORDER_SMALL_ROWS must route to the bounded
    single-task sweep and produce IDENTICAL rank/cum/totals/n and NTILE
    values as the sampled-cut machinery (hint absent), including desc
    orders, nulls and part_cols."""
    from nba_data_pipeline_spark.operators.totalorder import (
        TOTAL_ORDER_SMALL_ROWS,
        multi_ntile_exact,
    )

    df, _rows = _mkdf(spark, n=700, with_nulls=True)
    assert 700 <= TOTAL_ORDER_SMALL_ROWS
    kw = dict(
        rank_col="rnk", cum={"cw": "w"}, totals={"tw": "w"}, n_col="n"
    )
    # machinery path: small k so the sample does NOT underflow (32*4 < 700)
    base = {
        r["key"]: (r["rnk"], r["cw"], r["tw"], r["n"])
        for r in total_order(
            df, [("x", "desc"), "key"], num_partitions=4, **kw
        ).collect()
    }
    hinted = {
        r["key"]: (r["rnk"], r["cw"], r["tw"], r["n"])
        for r in total_order(
            df, [("x", "desc"), "key"], small_hint_rows=700, **kw
        ).collect()
    }
    assert hinted == base
    # the hinted plan must carry no sampled-cut machinery (no broadcast join)
    plan = total_order(
        df, [("x", "desc"), "key"], small_hint_rows=700, **kw
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan

    # part_cols variant
    base_p = {
        r["key"]: (r["rnk"], r["n"])
        for r in total_order(
            df, ["x", "key"], part_cols=["grp"], rank_col="rnk",
            n_col="n", num_partitions=4,
        ).collect()
    }
    hint_p = {
        r["key"]: (r["rnk"], r["n"])
        for r in total_order(
            df, ["x", "key"], part_cols=["grp"], rank_col="rnk",
            n_col="n", small_hint_rows=700,
        ).collect()
    }
    assert hint_p == base_p

    # multi_ntile_exact: hinted bounded sweep == boundary-selection tiles
    specs = [
        ([("x", "asc"), ("key", "asc")], 5, "t1"),
        ([("w", "desc"), ("key", "asc")], 7, "t2"),
    ]
    base_t = {
        r["key"]: (r["t1"], r["t2"])
        for r in multi_ntile_exact(df, specs, num_partitions=4).collect()
    }
    hint_t = {
        r["key"]: (r["t1"], r["t2"])
        for r in multi_ntile_exact(
            df, specs, small_hint_rows=700
        ).collect()
    }
    assert hint_t == base_t


def test_sample_underflow_routes_to_bounded_path(spark):
    """With no hint, a frame smaller than the sample limit is detected from
    the sample itself and produces identical values (the k=2000 case in
    test_rank_matches_reference_across_partitionings also covers ranks)."""
    df, rows = _mkdf(spark, n=200)
    # limit = 32*32 = 1024 > 200 -> underflow -> bounded sweep
    got = {
        r["key"]: (r["rnk"], r["cw"])
        for r in total_order(
            df, ["x", "key"], rank_col="rnk", cum={"cw": "w"},
            num_partitions=32,
        ).collect()
    }
    srt = sorted(rows, key=lambda r: (r[1], r[0]))
    run, exp = 0, {}
    for i, r in enumerate(srt):
        run += r[3]
        exp[r[0]] = (i + 1, run)
    assert got == exp
