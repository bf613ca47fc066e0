"""Sampled-pair oracle for the two sf10 value gaps.

``d5_embedding_cosine_neardup`` and ``sim_lsh_neardup_pairs`` are the only
catalog entries whose full DuckDB oracle is inherently quadratic in the
corpus (per-pair ``list_dot_product`` folds): at the 100x tiling (200k
vectors) the exact replay needs ~10^9-10^10 list folds and cannot finish,
while the engine's BLAS path takes seconds. This tool closes the value gap
the way BENCH_sf1.md's round-7 section promised: verify a DETERMINISTIC
md5-selected sample of the result EXACTLY, in both directions:

* d5_embedding_cosine_neardup —
  - row-count parity: |engine output| == |documents semi-join embeddings|;
  - for K sampled doc_ids, DuckDB recomputes the doc's true canonical_id
    by scanning ALL lower-id vectors (the one-hop min-pointer definition),
    so a sampled row is verified against the complete neighbor set, not
    just the edge the engine claimed. Covers both failure directions:
    a false edge moves canonical_id down, a missed edge moves it up (or
    flips is_survivor).
* sim_lsh_neardup_pairs —
  - precision: K_P engine-emitted pairs (lowest md5(id_a||'_'||id_b))
    re-verified — same bucket under the 4-plane contract, exact cosine
    equal to the emitted value and >= threshold;
  - recall: for K_A sampled anchor vectors, DuckDB recomputes the anchor's
    FULL expected pair set (bucket the whole corpus, cosine vs every
    same-bucket partner) and the engine's pairs touching those anchors
    must match it EXACTLY as a set — a dropped or phantom pair fails.

Selection is md5 over the id rendered as a string — identical bytes in
Spark and DuckDB — so both engines agree on the sample with no RNG and no
wall clock. Sample sizes keep the DuckDB side linear: K (anchors) x N
folds instead of N^2.

Usage:
    python tools/sampled_check.py --sf sf10 [--docs 96] [--pairs 512] [--anchors 48]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import canon, duck_connect, resolve_sf  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from nba_data_pipeline_spark.session import get_spark  # noqa: E402

_COS = (
    "list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * "
    "sqrt(list_dot_product(b.e, b.e)))"
)


def _rows_to_set(rows, cols):
    return {tuple(canon(r[c]) for c in cols) for r in rows}


def _duck_to_set(rel, cols):
    names = rel.columns
    idx = [names.index(c) for c in cols]
    return {tuple(canon(row[i]) for i in idx) for row in rel.fetchall()}


def check_d5_embedding(spark, con, sf_dir: str, k_docs: int) -> list[str]:
    problems: list[str] = []
    qs = entrymod.queries()
    eng = qs["d5_embedding_cosine_neardup"](spark, sf_dir)

    # Row-count parity: one cheap COUNT on each side.
    n_eng = eng.count()
    n_exp = con.sql(
        "SELECT COUNT(*) FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id"
    ).fetchone()[0]
    if n_eng != n_exp:
        problems.append(f"row count: engine={n_eng} expected={n_exp}")

    # Deterministic doc sample (DuckDB picks; Spark filters by the id list).
    ids = [
        r[0]
        for r in con.sql(
            f"""
            SELECT d.doc_id FROM documents d
            JOIN embeddings e ON e.vec_id = d.doc_id
            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id LIMIT {k_docs}
            """
        ).fetchall()
    ]
    id_list = ",".join(str(i) for i in ids)
    cols = ["doc_id", "lang", "canonical_id", "is_survivor"]
    got = _rows_to_set(
        eng.filter(eng["doc_id"].isin(ids)).collect(), cols
    )
    want = _duck_to_set(
        con.sql(
            f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            anchors AS (SELECT vec_id AS d, e AS de FROM v
                        WHERE vec_id IN ({id_list})),
            nbr AS (
              SELECT a.d, MIN(b.vec_id) AS canon
              FROM anchors a JOIN v b ON b.vec_id < a.d
              WHERE list_dot_product(a.de, b.e) /
                    (sqrt(list_dot_product(a.de, a.de)) *
                     sqrt(list_dot_product(b.e, b.e))) >= 0.4
              GROUP BY a.d
            )
            SELECT a.d AS doc_id, doc.lang,
                   COALESCE(n.canon, a.d) AS canonical_id,
                   (a.d = COALESCE(n.canon, a.d)) AS is_survivor
            FROM anchors a
            JOIN documents doc ON doc.doc_id = a.d
            LEFT JOIN nbr n ON n.d = a.d
            """
        ),
        cols,
    )
    if got != want:
        problems.append(
            f"sampled rows differ; engine-only={sorted(got - want)[:3]} "
            f"oracle-only={sorted(want - got)[:3]}"
        )
    return problems


def check_sim_lsh(
    spark, con, sf_dir: str, k_pairs: int, k_anchors: int
) -> list[str]:
    problems: list[str] = []
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.plans.similarity import (
        _SQL_BUCKET_BITS,
    )

    qs = entrymod.queries()
    eng = qs["sim_lsh_neardup_pairs"](spark, sf_dir)
    cols = ["id_a", "id_b", "bucket", "cosine_sim"]

    # _SQL_BUCKET_BITS references both ``e`` and ``embedding`` (the plane
    # weights derive their dim from the vector itself), same as the full
    # oracle's v CTE.
    duck_base = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                  CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
bkt AS (SELECT vec_id, e, {_SQL_BUCKET_BITS} AS bucket FROM v)
"""

    # --- precision: engine's lowest-md5 pairs, re-verified from raw data ---
    samp = (
        eng.orderBy(
            F.md5(
                F.concat_ws("_", F.col("id_a"), F.col("id_b")).cast("binary")
            ),
            "id_a",
            "id_b",
        )
        .limit(k_pairs)
        .collect()
    )
    if not samp:
        problems.append("precision sample empty — engine emitted no pairs?")
        return problems
    got_pairs = _rows_to_set(samp, cols)
    pair_list = ",".join(f"({r['id_a']},{r['id_b']})" for r in samp)
    want_pairs = _duck_to_set(
        con.sql(
            duck_base
            + f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
                   {_COS} AS cosine_sim
            FROM bkt a JOIN bkt b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE (a.vec_id, b.vec_id) IN ({pair_list})
              AND {_COS} >= 0.25
            """
        ),
        cols,
    )
    if got_pairs != want_pairs:
        problems.append(
            f"precision: {len(got_pairs - want_pairs)} emitted pairs fail "
            f"re-verification, e.g. {sorted(got_pairs - want_pairs)[:2]}"
        )

    # --- recall: full expected pair set for sampled anchors, exact match ---
    anchors = [
        r[0]
        for r in con.sql(
            f"""SELECT vec_id FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                LIMIT {k_anchors}"""
        ).fetchall()
    ]
    a_list = ",".join(str(a) for a in anchors)
    got_anchor = _rows_to_set(
        eng.filter(
            F.col("id_a").isin(anchors) | F.col("id_b").isin(anchors)
        ).collect(),
        cols,
    )
    want_anchor = _duck_to_set(
        con.sql(
            duck_base
            + f"""
            SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS id_a,
                   GREATEST(a.vec_id, b.vec_id) AS id_b, a.bucket,
                   {_COS} AS cosine_sim
            FROM bkt a JOIN bkt b
              ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
            WHERE a.vec_id IN ({a_list}) AND {_COS} >= 0.25
            """
        ),
        cols,
    )
    if got_anchor != want_anchor:
        problems.append(
            f"recall: anchor pair sets differ; engine-only="
            f"{sorted(got_anchor - want_anchor)[:2]} oracle-only="
            f"{sorted(want_anchor - got_anchor)[:2]}"
        )
    elif not want_anchor:
        problems.append("recall sample vacuous — no expected pairs for anchors")
    else:
        print(f"  (recall: {len(want_anchor)} anchor pairs matched exactly)")
    return problems


def check_geo1(spark, con, sf_dir: str, k_pairs: int, k_anchors: int) -> list[str]:
    """geo1_grid_distance_join: at 100x the fixed-world density makes the
    OUTPUT itself ~n·density ≈ 8×10^8 pairs and the brute-force oracle
    ~10^12 comparisons — the third oracle-cost-bound entry. Point coords
    are a pure function of the key (md5), so both directions verify
    without any join on the oracle side beyond one linear scan."""
    problems: list[str] = []
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.plans.geo_plans import GRID, RADIUS2

    qs = entrymod.queries()
    eng = qs["geo1_grid_distance_join"](spark, sf_dir)
    cols = ["k1", "k2", "dist2"]

    pts_cte = f"""
WITH pts AS (
  SELECT c_custkey AS k,
         CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6))
              AS BIGINT) % {GRID} AS x,
         CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6))
              AS BIGINT) % {GRID} AS y
  FROM customer
)
"""

    # --- recall: complete expected neighbor set for sampled anchors ---
    anchors = [
        r[0]
        for r in con.sql(
            f"""SELECT c_custkey FROM customer
                ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
                LIMIT {k_anchors}"""
        ).fetchall()
    ]
    a_list = ",".join(str(a) for a in anchors)
    got = _rows_to_set(
        eng.filter(
            F.col("k1").isin(anchors) | F.col("k2").isin(anchors)
        ).collect(),
        cols,
    )
    want = _duck_to_set(
        con.sql(
            pts_cte
            + f"""
            SELECT DISTINCT LEAST(a.k, b.k) AS k1, GREATEST(a.k, b.k) AS k2,
                   CAST((a.x - b.x) * (a.x - b.x)
                        + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
            FROM pts a JOIN pts b ON a.k <> b.k
            WHERE a.k IN ({a_list})
              AND (a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y) <= {RADIUS2}
            """
        ),
        cols,
    )
    if got != want:
        problems.append(
            f"recall: anchor neighbor sets differ; engine-only="
            f"{sorted(got - want)[:2]} oracle-only={sorted(want - got)[:2]}"
        )
    elif not want:
        problems.append("recall sample vacuous — no neighbors for anchors")
    else:
        print(f"  (recall: {len(want)} anchor pairs matched exactly)")

    # --- precision: engine's lowest-md5 pairs, distances recomputed ---
    samp = (
        eng.orderBy(
            F.md5(F.concat_ws("_", "k1", "k2").cast("binary")), "k1", "k2"
        )
        .limit(k_pairs)
        .collect()
    )
    if not samp:
        problems.append("precision sample empty")
        return problems
    got_pairs = _rows_to_set(samp, cols)
    # VALUES table of the sampled pairs equi-joined to pts twice — a plain
    # `pts a JOIN pts b ON a.k < b.k` with the tuple-IN as a filter is a
    # 10^12-candidate inequality join at 100x (measured: 40+ min of driver
    # CPU before this rewrite; equi-joins answer in milliseconds).
    pair_values = ",".join(f"({r['k1']},{r['k2']})" for r in samp)
    want_pairs = _duck_to_set(
        con.sql(
            pts_cte
            + f""",
            sampled(k1, k2) AS (SELECT * FROM (VALUES {pair_values}))
            SELECT s.k1, s.k2,
                   CAST((a.x - b.x) * (a.x - b.x)
                        + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
            FROM sampled s
            JOIN pts a ON a.k = s.k1
            JOIN pts b ON b.k = s.k2
            WHERE s.k1 < s.k2
              AND (a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y) <= {RADIUS2}
            """
        ),
        cols,
    )
    if got_pairs != want_pairs:
        problems.append(
            f"precision: {len(got_pairs - want_pairs)} emitted pairs fail "
            f"re-verification, e.g. {sorted(got_pairs - want_pairs)[:2]}"
        )
    return problems


def check_d5_cc(spark, con, sf_dir: str, k_pairs: int, k_anchors: int) -> list[str]:
    """d5_cc_clusters_multipart at oracle-bound SFs (the fifth-decade class
    member found by the sf100 probe): the full DuckDB oracle's recursive
    walk over the 5M-doc graph spilled past the box's disk while the engine
    finished in ~2.5 min. Verified instead as three exact pieces:

    1. CLOSURE, exactly and in FULL: the near-dup edge set is tiny even at
       1000x (~256k rows — the subgraph, not the corpus), so a driver-side
       union-find over the engine's own edges recomputes every label and
       cluster_size; the engine's 5M-row output must match row-for-row.
       This is the part the recursive CTE was paying unboundedly for.
    2. Edge PRECISION, sampled: lowest-md5 engine edges re-verified in
       DuckDB — exact Jaccard from raw text must be >= 0.5.
    3. Edge RECALL, complete-per-anchor: for sampled docs, DuckDB
       recomputes the doc's ENTIRE qualifying neighbor set (its shingles
       against the full corpus — linear, one anchor-restricted join); the
       engine edge set restricted to those anchors must equal it exactly.
    """
    problems: list[str] = []
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.io import read_table
    from nba_data_pipeline_spark.plans.dedup import _SQL_SH_REL, cc_edges

    # Same edge construction as the entry (plans/dedup.py cc_edges): the
    # hashed-shingle equi-join, its shingle relation persisted only up to
    # the footer-count cutover — so the checker mines edges exactly the
    # way the entry does.
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    edges_df = cc_edges(sf_dir, d)
    edges = edges_df.toPandas()

    # --- 1. closure: exact union-find over the engine's edges -------------
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for s_, d_ in zip(edges["src"].tolist(), edges["dst"].tolist()):
        rs, rd = find(int(s_)), find(int(d_))
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    qs = entrymod.queries()
    got = qs["d5_cc_clusters_multipart"](spark, sf_dir).toPandas()
    comp_expect = got["doc_id"].map(lambda x: find(int(x)))
    bad_label = got[comp_expect != got["component_id"]]
    if len(bad_label):
        problems.append(
            f"closure: {len(bad_label)} of {len(got)} labels differ from the "
            f"exact union-find (e.g. {bad_label.head(3).to_dict('records')})"
        )
    sizes = comp_expect.value_counts()
    bad_size = got[got["cluster_size"] != comp_expect.map(sizes)]
    if len(bad_size):
        problems.append(f"closure: {len(bad_size)} cluster_size values differ")

    # --- 2. precision: sampled engine edges re-checked from raw text ------
    key = edges.apply(
        lambda r: hashlib.md5(f"{r.src}_{r.dst}".encode()).hexdigest(), axis=1
    )
    samp = edges.loc[key.sort_values().index[:k_pairs]]
    ids = sorted(set(samp["src"]) | set(samp["dst"]))
    id_list = ",".join(str(i) for i in ids)
    pair_list = ",".join(f"({r.src},{r.dst})" for r in samp.itertuples())
    ok_pairs = {
        (int(a), int(b))
        for a, b in con.sql(
            _SQL_SH_REL.replace(
                "FROM documents", f"FROM documents WHERE doc_id IN ({id_list})"
            )
            + f"""
            SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            JOIN sz x ON a.doc_id = x.doc_id JOIN sz y ON b.doc_id = y.doc_id
            WHERE (a.doc_id, b.doc_id) IN ({pair_list})
            GROUP BY a.doc_id, b.doc_id, x.sz, y.sz
            HAVING CAST(COUNT(*) AS DOUBLE) / (x.sz + y.sz - COUNT(*)) >= 0.5
            """
        ).fetchall()
    }
    missing = [
        (int(r.src), int(r.dst))
        for r in samp.itertuples()
        if (int(r.src), int(r.dst)) not in ok_pairs
    ]
    if missing:
        problems.append(
            f"precision: {len(missing)}/{len(samp)} sampled engine edges "
            f"fail the exact >= 0.5 recheck (e.g. {missing[:3]})"
        )

    # --- 3. recall: complete expected edge set for sampled anchors --------
    anchors = [
        r[0]
        for r in con.sql(
            f"""
            SELECT doc_id FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {k_anchors}
            """
        ).fetchall()
    ]
    a_list = ",".join(str(a) for a in anchors)
    want = {
        (int(a), int(b))
        for a, b in con.sql(
            _SQL_SH_REL
            + f"""
            , anchor_sh AS (SELECT * FROM sh WHERE doc_id IN ({a_list}))
            SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id)
            FROM anchor_sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            JOIN sz x ON a.doc_id = x.doc_id JOIN sz y ON b.doc_id = y.doc_id
            GROUP BY 1, 2, x.sz, y.sz
            HAVING CAST(COUNT(*) AS DOUBLE) / (x.sz + y.sz - COUNT(*)) >= 0.5
            """
        ).fetchall()
    }
    a_set = set(anchors)
    got_anchor = {
        (int(r.src), int(r.dst))
        for r in edges.itertuples()
        if int(r.src) in a_set or int(r.dst) in a_set
    }
    if got_anchor != want:
        problems.append(
            f"recall: anchor edge sets differ — engine-only="
            f"{sorted(got_anchor - want)[:3]} expected-only="
            f"{sorted(want - got_anchor)[:3]} "
            f"(engine {len(got_anchor)} vs expected {len(want)})"
        )
    return problems


def check_mb1(spark, con, sf_dir: str, k_pairs: int, k_anchors: int) -> list[str]:
    """mb1_frequent_pairs at oracle-bound SFs: at sf100 the full DuckDB
    apriori replay (pair self-join over 600M basket-item rows) spilled
    past the box's disk while the engine finished. Verified instead as:

    1. PRECISION, sampled: lowest-md5 engine pairs get exact support and
       lift recomputed in DuckDB from a part-restricted basket scan (the
       item supports and the global basket count are single linear
       aggregates; the pair count touches only the sampled parts' rows).
    2. RECALL, complete-per-anchor: for md5-sampled FREQUENT parts,
       DuckDB recomputes the part's ENTIRE qualifying pair set (its
       baskets are support(part) rows — replica-local, tiny — so the
       partner expansion is linear); the engine rows touching those
       anchors must equal it exactly, supports and lifts included.
    """
    problems: list[str] = []
    import hashlib

    from nba_data_pipeline_spark.plans.mining_plans import (
        MIN_ITEM_SUPPORT,
        MIN_PAIR_SUPPORT,
    )
    from nba_data_pipeline_spark.plans.registry import ROUND_DIGITS

    qs = entrymod.queries()
    eng = qs["mb1_frequent_pairs"](spark, sf_dir).toPandas()
    if not len(eng):
        return ["engine emitted no pairs"]

    # Every query below restricts lineitem to a bounded part/basket list
    # BEFORE any distinct or join: the first version of this checker built
    # the full 600M-row DISTINCT basket-item relation as a CTE and DuckDB
    # spilled it past the box's disk — the exact failure mode the sampled
    # oracle exists to avoid. The one full-table pass left is n_orders
    # (a single COUNT DISTINCT, ~1 GB of hash state).
    n_orders = con.sql(
        "SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem"
    ).fetchone()[0]

    def restricted_sup(parts_csv: str) -> str:
        return f"""
sup1 AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS s
  FROM lineitem WHERE l_partkey IN ({parts_csv}) GROUP BY 1
)"""

    # --- 1. precision ------------------------------------------------------
    key = eng.apply(
        lambda r: hashlib.md5(f"{r.p1}_{r.p2}".encode()).hexdigest(), axis=1
    )
    samp = eng.loc[key.sort_values().index[:k_pairs]]
    parts = sorted(set(samp["p1"]) | set(samp["p2"]))
    p_list = ",".join(str(p) for p in parts)
    pair_list = ",".join(f"({r.p1},{r.p2})" for r in samp.itertuples())
    want = {
        (int(a), int(b), int(s), float(lift))
        for a, b, s, lift in con.sql(
            f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey IN ({p_list})
),
{restricted_sup(p_list)}
            SELECT a.l_partkey, b.l_partkey, CAST(COUNT(*) AS BIGINT) AS support,
                   ROUND(CAST(COUNT(*) AS DOUBLE) * {n_orders}
                         / (ANY_VALUE(f1.s) * ANY_VALUE(f2.s)), {ROUND_DIGITS})
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            JOIN sup1 f1 ON f1.l_partkey = a.l_partkey
            JOIN sup1 f2 ON f2.l_partkey = b.l_partkey
            WHERE (a.l_partkey, b.l_partkey) IN ({pair_list})
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    got = {
        (int(r.p1), int(r.p2), int(r.support), float(r.lift))
        for r in samp.itertuples()
    }
    if got - want:
        problems.append(
            f"precision: {len(got - want)}/{len(samp)} sampled engine pairs "
            f"fail the exact recheck (e.g. {sorted(got - want)[:2]})"
        )

    # --- 2. recall ---------------------------------------------------------
    # Anchor selection stays unbiased (md5 over ALL part ids, engine not
    # consulted) but avoids a full sup1: take a generous md5-ordered
    # window of parts, compute THEIR supports, keep the frequent ones.
    window = [
        r[0]
        for r in con.sql(
            f"""
            SELECT DISTINCT l_partkey FROM lineitem
            ORDER BY md5(CAST(l_partkey AS VARCHAR)), l_partkey
            LIMIT {20 * k_anchors}
            """
        ).fetchall()
    ]
    w_list = ",".join(str(p) for p in window)
    sup_w = dict(
        con.sql(
            f"""
            SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
            FROM lineitem WHERE l_partkey IN ({w_list}) GROUP BY 1
            """
        ).fetchall()
    )
    anchors = [p for p in window if sup_w.get(p, 0) >= MIN_ITEM_SUPPORT][
        :k_anchors
    ]
    if len(anchors) < k_anchors:
        problems.append(
            f"recall: only {len(anchors)} frequent anchors in the "
            f"{20 * k_anchors}-part md5 window — widen the window"
        )
    a_list = ",".join(str(a) for a in anchors)
    want_pairs = {
        (int(a), int(b), int(s), float(lift))
        for a, b, s, lift in con.sql(
            f"""
WITH anchor_items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey IN ({a_list})
),
partners AS (
  SELECT DISTINCT l.l_orderkey, l.l_partkey FROM lineitem l
  WHERE l.l_orderkey IN (SELECT l_orderkey FROM anchor_items)
),
sup1 AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS s
  FROM lineitem
  WHERE l_partkey IN (SELECT l_partkey FROM partners)
  GROUP BY 1
)
            -- COUNT(DISTINCT basket): an anchor-anchor pair matches in both
            -- directions (a=p, b=q and a=q, b=p) and plain COUNT(*) would
            -- double its support
            -- MIN(f1.s * f2.s), not ANY_VALUE(f1.s)*ANY_VALUE(f2.s): an
            -- anchor-anchor pair groups rows from BOTH orientations under
            -- one (LEAST, GREATEST) key, and two independent ANY_VALUEs may
            -- sample different orientations (s_p*s_p). The product itself is
            -- orientation-invariant, so MIN over it is exact.
            SELECT LEAST(a.l_partkey, b.l_partkey),
                   GREATEST(a.l_partkey, b.l_partkey),
                   CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS support,
                   ROUND(CAST(COUNT(DISTINCT a.l_orderkey) AS DOUBLE)
                         * {n_orders}
                         / MIN(f1.s * f2.s), {ROUND_DIGITS})
            FROM anchor_items a JOIN partners b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
            JOIN sup1 f1 ON f1.l_partkey = a.l_partkey
            JOIN sup1 f2 ON f2.l_partkey = b.l_partkey
            WHERE f1.s >= {MIN_ITEM_SUPPORT} AND f2.s >= {MIN_ITEM_SUPPORT}
            GROUP BY 1, 2
            HAVING COUNT(DISTINCT a.l_orderkey) >= {MIN_PAIR_SUPPORT}
            """
        ).fetchall()
    }
    a_set = set(anchors)
    got_anchor = {
        (int(r.p1), int(r.p2), int(r.support), float(r.lift))
        for r in eng.itertuples()
        if int(r.p1) in a_set or int(r.p2) in a_set
    }
    if got_anchor != want_pairs:
        problems.append(
            f"recall: anchor pair sets differ — engine-only="
            f"{sorted(got_anchor - want_pairs)[:2]} expected-only="
            f"{sorted(want_pairs - got_anchor)[:2]} "
            f"(engine {len(got_anchor)} vs expected {len(want_pairs)})"
        )
    return problems


def check_d5_minhash(
    spark, con, sf_dir: str, k_pairs: int, k_anchors: int
) -> list[str]:
    """d5_minhash_lsh_pairs at oracle-bound SFs (the sixth-decade find):
    the full oracle's signature aggregate — 12 MIN(md5(seed:shingle))
    per doc over the whole unnested corpus — overshot DuckDB's memory
    cap to 77 GB at 15 M docs and the kernel OOM-killed the process
    (memory_limit does not bound every operator). Sampled form, exact in
    both directions and fully INDEPENDENT of the engine's artifacts:

    * precision — K lowest-md5 engine pairs re-verified restricted: the
      two docs' shingle sets, exact Jaccard (value-equal, ≥ 0.4), AND a
      shared band key under the 12-hash/4-band contract, all recomputed
      from raw text for just those docs;
    * recall — for K anchor docs, the anchor-restricted shingle join
      against the full corpus finds EVERY Jaccard-qualifying neighbor
      (one streaming pass, small build side — the d5_cc recall shape,
      NOT the blown-up full-corpus signature aggregate); band keys are
      then recomputed restricted to anchors ∪ neighbors only, and the
      engine's pairs touching the anchors must equal the qualifying
      band-sharing set exactly — a dropped or phantom pair fails."""
    problems: list[str] = []
    import hashlib

    from nba_data_pipeline_spark.plans.dedup import (
        _SQL_BANDS,
        _SQL_SH_REL,
        _SQL_SIG,
        _SQL_SHINGLES,
        _TOKS,
    )

    qs = entrymod.queries()
    eng = qs["d5_minhash_lsh_pairs"](spark, sf_dir).toPandas()

    def restricted_bands(id_list: str) -> str:
        return (
            _SQL_SH_REL.replace(
                "FROM documents", f"FROM documents WHERE doc_id IN ({id_list})"
            )
            + f""",
sig AS (SELECT doc_id, {_SQL_SIG} FROM sh GROUP BY doc_id),
bands AS (
{_SQL_BANDS}
)"""
        )

    # --- 1. precision ------------------------------------------------------
    if len(eng):
        key = eng.apply(
            lambda r: hashlib.md5(f"{r.id_a}_{r.id_b}".encode()).hexdigest(),
            axis=1,
        )
        samp = eng.loc[key.sort_values().index[:k_pairs]]
        ids = sorted(set(samp["id_a"]) | set(samp["id_b"]))
        id_list = ",".join(str(i) for i in ids)
        pair_list = ",".join(f"({r.id_a},{r.id_b})" for r in samp.itertuples())
        want = _duck_to_set(
            con.sql(
                restricted_bands(id_list)
                + f""",
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
bandhit AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT i.id_a, i.id_b,
       CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) AS jaccard
FROM inter i
JOIN sz x ON x.doc_id = i.id_a JOIN sz y ON y.doc_id = i.id_b
JOIN bandhit h ON h.id_a = i.id_a AND h.id_b = i.id_b
WHERE (i.id_a, i.id_b) IN ({pair_list})
  AND CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.4
""",
            ),
            ["id_a", "id_b", "jaccard"],
        )
        got = {
            tuple(canon(v) for v in (r.id_a, r.id_b, r.jaccard))
            for r in samp.itertuples()
        }
        if got - want:
            problems.append(
                f"precision: {len(got - want)}/{len(samp)} sampled engine "
                f"pairs fail the exact recheck (e.g. {sorted(got - want)[:2]})"
            )

    # --- 2. recall ---------------------------------------------------------
    anchors = [
        r[0]
        for r in con.sql(
            f"""
            SELECT doc_id FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {k_anchors}
            """
        ).fetchall()
    ]
    a_list = ",".join(str(a) for a in anchors)
    # qualifying neighbors: one streaming pass of the full shingle unnest
    # against the small anchor build side; sz restricted via semi-join
    qual = con.sql(
        f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM t),
anchor_sh AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id IN ({a_list})
),
cand AS MATERIALIZED (
  -- MATERIALIZED (the g1 lesson): referenced twice below; each CTE
  -- re-expansion would re-stream the full corpus shingle unnest
  SELECT a.doc_id AS aid, b.doc_id AS bid, COUNT(*) AS inter
  FROM anchor_sh a JOIN sh b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
needed AS (
  SELECT DISTINCT bid AS doc_id FROM cand
  UNION SELECT DISTINCT aid FROM cand
),
szr AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh
  WHERE doc_id IN (SELECT doc_id FROM needed) GROUP BY 1
)
SELECT c.aid, c.bid,
       CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) AS jaccard
FROM cand c JOIN szr x ON x.doc_id = c.aid JOIN szr y ON y.doc_id = c.bid
WHERE CAST(c.inter AS DOUBLE) / (x.sz + y.sz - c.inter) >= 0.4
"""
    ).fetchall()
    # band keys recomputed for anchors + qualifying neighbors only
    part_ids = sorted({int(r[0]) for r in qual} | {int(r[1]) for r in qual})
    expected = set()
    if part_ids:
        pid_list = ",".join(str(i) for i in part_ids)
        shares_band = {
            (int(a), int(b))
            for a, b in con.sql(
                restricted_bands(pid_list)
                + """
SELECT DISTINCT a.doc_id, b.doc_id FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
"""
            ).fetchall()
        }
        for aid, bid, jac in qual:
            lo, hi = (int(aid), int(bid)) if aid < bid else (int(bid), int(aid))
            if (lo, hi) in shares_band:
                expected.add((lo, hi, canon(float(jac))))
    a_set = set(anchors)
    got_anchor = {
        (int(r.id_a), int(r.id_b), canon(float(r.jaccard)))
        for r in eng.itertuples()
        if int(r.id_a) in a_set or int(r.id_b) in a_set
    }
    if got_anchor != expected:
        problems.append(
            f"recall: anchor pair sets differ — engine-only="
            f"{sorted(got_anchor - expected)[:2]} expected-only="
            f"{sorted(expected - got_anchor)[:2]} "
            f"(engine {len(got_anchor)} vs expected {len(expected)})"
        )
    return problems


def check_flagship(
    spark, con, sf_dir: str, k_supps: int,
    entry: str = "flagship_hitrate_last10",
) -> list[str]:
    """flagship_hitrate_last10 joins the sampled-oracle set at sf300: the
    full DuckDB oracle sorts the whole lineitem⋈orders stream through one
    window (~90 GB spill at 1.8 B rows — past the box, the defect-10
    class). Sampled form, exact in both directions:

    * structure — exactly one output row per supplier with ≥1 lineitem
      (count parity both ways);
    * global rank — hit_rank is a total order (DESC hit_rate, ASC
      suppkey), so re-sorting the ENGINE's own output must reproduce
      1..N exactly (every rank value checked, driver-side);
    * sampled values — K md5-chosen suppliers' rolling_avg_qty /
      hit_rate / s_name recomputed EXACTLY by DuckDB from raw
      lineitem⋈orders restricted to those suppliers (predicate pushdown
      keeps it linear in K·rows-per-supplier). The rank column is covered
      by (2) once the sampled hit_rates are proven, because rank is a
      pure function of the hit_rate ordering.

    ``entry`` selects which flagship twin supplies the ENGINE side —
    ``flagship_hitrate_bucketed`` runs the identical contract over the
    maintained bucketed layout (the exchange-free window over the
    one-shot layout build, verified sampled)."""
    problems: list[str] = []
    qs = entrymod.queries()
    eng = qs[entry](spark, sf_dir).toPandas()

    n_supp = con.sql(
        "SELECT COUNT(DISTINCT l_suppkey) FROM lineitem"
    ).fetchone()[0]
    if len(eng) != n_supp:
        problems.append(
            f"row count: engine={len(eng)} expected(suppliers w/ items)={n_supp}"
        )
    if eng["s_suppkey"].nunique() != len(eng):
        problems.append("duplicate suppliers in engine output")

    srt = eng.sort_values(
        ["hit_rate", "s_suppkey"], ascending=[False, True]
    ).reset_index(drop=True)
    bad_rank = (srt["hit_rank"] != srt.index + 1).sum()
    if bad_rank:
        problems.append(
            f"rank: {bad_rank}/{len(srt)} rows disagree with the total order "
            "recomputed from the engine's own hit_rates"
        )

    ids = [
        r[0]
        for r in con.sql(
            f"""
            SELECT s_suppkey FROM supplier
            ORDER BY md5(CAST(s_suppkey AS VARCHAR)), s_suppkey
            LIMIT {k_supps}
            """
        ).fetchall()
    ]
    id_list = ",".join(str(i) for i in ids)
    cols = ["s_suppkey", "s_name", "rolling_avg_qty", "hit_rate"]
    want = _duck_to_set(
        con.sql(
            f"""
WITH li AS (
  SELECT l.l_suppkey, CAST(l.l_quantity AS DECIMAL(18,2)) AS q,
         o.o_orderdate, l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_suppkey IN ({id_list})
),
ranked AS (
  SELECT l_suppkey, q,
         ROW_NUMBER() OVER (
           PARTITION BY l_suppkey
           ORDER BY o_orderdate DESC, l_orderkey DESC, l_linenumber DESC
         ) AS rn
  FROM li
)
SELECT r.l_suppkey AS s_suppkey, s.s_name,
       CAST(SUM(r.q) AS DOUBLE) / COUNT(*) AS rolling_avg_qty,
       CAST(SUM(CASE WHEN r.q > 25 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS hit_rate
FROM ranked r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rn <= 10
GROUP BY r.l_suppkey, s.s_name
"""
        ),
        cols,
    )
    sub = eng[eng["s_suppkey"].isin(ids)]
    got = {tuple(canon(row[c]) for c in cols) for _, row in sub.iterrows()}
    if got != want:
        problems.append(
            f"sampled values differ — engine-only={sorted(got - want)[:2]} "
            f"expected-only={sorted(want - got)[:2]} "
            f"(engine {len(got)} vs expected {len(want)})"
        )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="sf10")
    ap.add_argument("--docs", type=int, default=96)
    ap.add_argument("--pairs", type=int, default=512)
    ap.add_argument("--anchors", type=int, default=48)
    ap.add_argument("--only", default=None, help="run just this entry")
    args = ap.parse_args()
    sf_dir = resolve_sf(args.sf)
    print(f"# sampled oracle at {sf_dir}", flush=True)

    # Deep-decade session sizing, mirroring tools/check.py: zstd shuffle
    # (the mb1 sf300 staging build ran out of disk under this harness's
    # lz4 default while the same plan fit zstd'd) and a 48g heap past 30x.
    import re as _re

    m = _re.search(r"sf(\d+)$", sf_dir)
    decade = int(m.group(1)) if m else 0
    if decade >= 30 and not os.environ.get("SPARK_DRIVER_MEMORY"):
        os.environ["SPARK_DRIVER_MEMORY"] = "48g"
    extra = {"spark.io.compression.codec": "zstd"} if decade >= 30 else {}
    spark = get_spark(
        "sampled_check",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        extra_conf=extra,
    )
    con = duck_connect(sf_dir)
    failed = []
    entries = [
        ("d5_embedding_cosine_neardup", lambda: check_d5_embedding(spark, con, sf_dir, args.docs)),
        ("sim_lsh_neardup_pairs", lambda: check_sim_lsh(spark, con, sf_dir, args.pairs, args.anchors)),
        ("geo1_grid_distance_join", lambda: check_geo1(spark, con, sf_dir, args.pairs, args.anchors)),
        ("d5_cc_clusters_multipart", lambda: check_d5_cc(spark, con, sf_dir, args.pairs, args.anchors)),
        ("mb1_frequent_pairs", lambda: check_mb1(spark, con, sf_dir, args.pairs, args.anchors)),
        ("flagship_hitrate_last10", lambda: check_flagship(spark, con, sf_dir, max(args.anchors, 64))),
        ("flagship_hitrate_bucketed", lambda: check_flagship(spark, con, sf_dir, max(args.anchors, 64), entry="flagship_hitrate_bucketed")),
        ("d5_minhash_lsh_pairs", lambda: check_d5_minhash(spark, con, sf_dir, args.pairs, args.anchors)),
    ]
    if args.only:
        entries = [e for e in entries if e[0] == args.only]
        if not entries:
            raise SystemExit(f"unknown --only {args.only!r}")
    for name, fn in entries:
        t0 = time.time()
        try:
            problems = fn()
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION: {type(e).__name__}: {e}"]
        spark.catalog.clearCache()
        status = "OK " if not problems else "FAIL"
        print(f"{status} {name} (sampled, {time.time() - t0:.1f}s)", flush=True)
        for p in problems:
            print(f"     {p}")
        if problems:
            failed.append(name)
    print(f"\n{len(entries) - len(failed)}/{len(entries)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
