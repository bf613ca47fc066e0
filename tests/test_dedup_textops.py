"""Unit tests: dedup operators + text ops on tiny controlled docs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nba_data_pipeline_spark.operators.dedup import (
    jaccard_pairs,
    keep_first,
    shingle_sets,
)
from nba_data_pipeline_spark.operators.textops import (
    doc_fingerprint,
    predict_lang,
    token_count_bpe,
    token_count_ws,
    word_shingles,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
            (4, "ab"),  # fewer than 3 tokens -> no shingles
        ],
        ["doc_id", "text"],
    )


def test_word_shingles_edges(docs):
    out = {r.doc_id: r.sh for r in docs.select(
        "doc_id", word_shingles(F.col("text")).alias("sh")).collect()}
    assert out[1][0] == "the quick brown"
    assert len(out[1]) == 7
    assert out[4] == []


# Texts where whitespace handling decides the k-grams: Spark and the DuckDB
# oracle both trim spaces only and split on ASCII ``\s+``, so a leading tab
# or trailing newline is an empty token and U+00A0 (NBSP) is not a break.
TOKENIZER_EDGE_TEXTS = [
    "double  spaced words here now",
    "inner\ttab splits these words apart",
    "\tfoo bar baz",
    "foo bar baz\n",
    "one two\r\nthree four five",
    "  leading and trailing spaces  ",
    "two words",
    "exactly three words",
    "a b c a b c a b c d e f g h",
    "",
    "p\u00a0q r s",
    "café déjà vu über straße naïve à la carte",
    "alpha  beta\tgamma delta\n epsilon zeta eta theta iota kappa lambda",
]


def test_shingles_and_winnow_match_oracle_tokenization(spark):
    """distinct_word_shingles_fast and winnow_minima_fast against DuckDB
    running the oracle expressions: the shingle set of ``_SQL_SHINGLES``
    (its grams in document order, first occurrence kept) and the
    ta_winnow_fingerprint CTEs' fingerprints in window order."""
    import duckdb

    from nba_data_pipeline_spark.operators.textops import (
        distinct_word_shingles_fast,
        winnow_minima_fast,
    )
    from nba_data_pipeline_spark.plans import dedup as dedup_plans
    from nba_data_pipeline_spark.plans.registry import load_all

    rows = list(enumerate(TOKENIZER_EDGE_TEXTS))
    got = {
        r.doc_id: (r.sh, r.fp)
        for r in spark.createDataFrame(rows, "doc_id long, text string")
        .select(
            "doc_id",
            distinct_word_shingles_fast(F.col("text")).alias("sh"),
            winnow_minima_fast(F.col("text")).alias("fp"),
        )
        .collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    shingles = dedup_plans._SQL_SHINGLES
    assert shingles.startswith("list_distinct(") and shingles.endswith(")")
    grams = shingles[len("list_distinct(") : -1]
    sh_oracle = {
        d: (set(sh), list(dict.fromkeys(g)))
        for d, sh, g in con.execute(
            f"WITH t AS (SELECT doc_id, {dedup_plans._TOKS} AS toks FROM documents) "
            f"SELECT doc_id, {shingles}, {grams} FROM t"
        ).fetchall()
    }
    # the oracle's own CTEs up to its fingerprint set ``fp``
    winnow_sql = load_all()["ta_winnow_fingerprint"].oracle
    ctes = winnow_sql[: winnow_sql.index("freq AS (")].rstrip().rstrip(",")
    fp_oracle: dict[int, list[str]] = {}
    for d, wmin in con.execute(
        f"{ctes} SELECT doc_id, wmin FROM win JOIN fp USING (doc_id, wmin) "
        "GROUP BY doc_id, wmin ORDER BY doc_id, MIN(pos)"
    ).fetchall():
        fp_oracle.setdefault(d, []).append(wmin)

    for d, text in rows:
        sh, fp = got[d]
        want_set, want_order = sh_oracle[d]
        assert set(sh) == want_set and sh == want_order, (text, sh, want_order)
        assert fp == fp_oracle.get(d, []), (text, fp, fp_oracle.get(d))
    # the edge set is not vacuous: fingerprints exist, and the tab/NBSP
    # cases keep the oracle's tokens
    assert sum(len(fp) for _, fp in got.values()) >= 5
    shingles_of = {text: got[d][0] for d, text in rows}
    assert shingles_of["\tfoo bar baz"] == [" foo bar", "foo bar baz"]
    assert shingles_of["p\u00a0q r s"] == ["p\u00a0q r s"]


def test_shingles_and_winnow_of_null_text_are_empty(spark):
    from nba_data_pipeline_spark.operators.textops import (
        distinct_word_shingles_fast,
        winnow_minima_fast,
    )

    row = (
        spark.createDataFrame([(1, None)], "doc_id long, text string")
        .select(
            distinct_word_shingles_fast(F.col("text")).alias("sh"),
            winnow_minima_fast(F.col("text")).alias("fp"),
        )
        .first()
    )
    assert row.sh == [] and row.fp == []


def test_jaccard_pairs(docs):
    sh = shingle_sets(docs)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(sh).collect()}
    # docs 1,2 share 6 of 7 shingles each -> jaccard 6/8
    assert abs(pairs[(1, 2)] - 6 / 8) < 1e-12
    assert (1, 3) not in pairs


def test_jaccard_pairs_hashed_sz_fast_path(docs):
    """r11: hashed_shingle_sets carries the per-doc distinct-shingle count
    map-side, and jaccard_pairs folds |A|/|B| into the intersection groupBy
    (no size aggregate, no join-backs). The fast path must agree with the
    string-relation fallback exactly, and the plan must evaluate the
    shingling once (the size+explode duplication regression)."""
    from nba_data_pipeline_spark.operators.dedup import hashed_shingle_sets

    sh_h = hashed_shingle_sets(docs)
    assert set(sh_h.columns) == {"doc_id", "sz", "sh_h"}
    # shingling is a Catalyst expression, and size() beside explode() must
    # not clone it (e.g. into an inferred size(...) > 0 filter)
    plan = sh_h._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0
    assert plan.count("regexp_extract_all") == 1
    # sz == the doc's distinct shingle count on every exploded row
    sizes = {
        (r.doc_id, r.sz) for r in sh_h.select("doc_id", "sz").distinct().collect()
    }
    assert sizes == {(1, 7), (2, 7), (3, 4)}  # doc 4 has no shingles
    fast = {
        (r.id_a, r.id_b): (r.inter, r.sz_a, r.sz_b, r.jaccard)
        for r in jaccard_pairs(sh_h).collect()
    }
    slow = {
        (r.id_a, r.id_b): (r.inter, r.sz_a, r.sz_b, r.jaccard)
        for r in jaccard_pairs(shingle_sets(docs)).collect()
    }
    assert fast == slow and (1, 2) in fast


def test_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b"), ("j", 9, "z")],
        ["key", "ord", "val"],
    )
    out = {r.key: r.val for r in keep_first(df, ["key"], ["ord"]).collect()}
    assert out == {"k": "a", "j": "z"}


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta alpha")], ["doc_id", "text"]
    )
    fps = [r.fp for r in df.select(doc_fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_token_counts(docs):
    row = docs.filter(F.col("doc_id") == 1).select(
        token_count_ws(F.col("text")).alias("ws"),
        token_count_bpe(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert row.ws == 9
    assert row.bpe == 9


def test_predict_lang_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der hund und die katze ist"),
         (3, "el perro y la casa es que")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang for r in df.select(
        "doc_id", predict_lang(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "es"


def test_connected_components_spans_partitions(spark):
    """A 40-node chain hash-sharded over 4 partitions must still collapse
    to one component (labels = min id), proving the contraction rounds
    merge across partition boundaries — the 100 TB path of the operator."""
    from nba_data_pipeline_spark.operators.graph import connected_components

    rows = [(i, i + 1) for i in range(39)] + [(100, 101), (101, 102)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    # finish_threshold=0 forbids the hybrid single-task finishing round, so
    # this exercises the pure sharded-contraction loop to its own fixpoint
    got = {
        r.doc_id: r.component_id
        for r in connected_components(
            edges, num_partitions=4, finish_threshold=0
        ).collect()
    }
    assert all(got[i] == 0 for i in range(40))
    assert got[100] == got[101] == got[102] == 100
    # the default hybrid cutover must reach the same fixpoint
    got2 = {
        r.doc_id: r.component_id
        for r in connected_components(edges, num_partitions=4).collect()
    }
    assert got2 == got


def test_connected_components_undirected_and_empty(spark):
    from nba_data_pipeline_spark.operators.graph import connected_components

    # reversed edge direction must not matter
    edges = spark.createDataFrame([(5, 2), (2, 9)], "src long, dst long")
    got = {
        r.doc_id: r.component_id
        for r in connected_components(edges, num_partitions=1).collect()
    }
    assert got == {2: 2, 5: 2, 9: 2}
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
