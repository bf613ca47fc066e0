"""Deduplication operators (SURVEY §2.10 D1-D5 + north-star near-dup).

Exact dedup is a hash-groupBy (first-wins via row_number over a total order,
never nondeterministic dropDuplicates — reference semantics are 'first seen
wins', nba_props_scraper.py:295-302). Near-dup is the LLM-pipeline family:
word-shingle Jaccard, MinHash+LSH (banded signature join — the only shape
that scales to 100 TB: candidates come from equi-joins on band keys, never
an all-pairs comparison), SimHash bit signatures, and embedding-cosine
near-dup behind hyperplane-LSH blocking.

Every hash here is md5-based so a SQL oracle (DuckDB) can reproduce it
bit-for-bit; xxhash64 would be faster but engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from nba_data_pipeline_spark.operators.textops import distinct_word_shingles_fast


def keep_first(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """D1: deterministic first-wins dedupe — row_number()==1 over an explicit
    total order (the distributed restatement of the reference's seen-set)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signature(shingles: Column, num_hashes: int) -> list[Column]:
    """MinHash signature: per seed i, the lexicographic min of
    md5(i ':' shingle). String-md5 minhash keeps the oracle reproducible;
    the collision behavior matches classic minhash (min over a random
    permutation approximated by the keyed hash).

    The per-seed closure MUST be single-argument: ``transform`` treats a
    two-arg callable as the (element, index) form, so the once-used
    ``lambda s, i=i`` default-capture idiom silently bound ``i`` to the
    INDEX COLUMN — every seed prefix became the stringified Column object
    (plan-context-dependent, e.g. "Column<'y_2'>:"), making signatures
    valid-looking but unstable across plans and never matching the
    documented seeds (caught by the s11 oracle; pinned by
    test_minhash_signature_seeds_are_stable)."""

    def seeded(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    return [
        F.array_min(F.transform(shingles, seeded(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def lsh_band_keys(sig_cols: list[str], rows_per_band: int) -> list[Column]:
    """Banding: md5 over each contiguous signature slice. Docs sharing any
    band key become candidates via an equi-join on (band_idx, band_key)."""
    assert len(sig_cols) % rows_per_band == 0
    bands = []
    for b in range(len(sig_cols) // rows_per_band):
        chunk = sig_cols[b * rows_per_band : (b + 1) * rows_per_band]
        bands.append(F.md5(F.concat_ws("|", *chunk)).alias(f"band_{b}"))
    return bands


def simhash16(token: Column, bit: int) -> Column:
    """±1 contribution of one token to simhash bit ``bit`` (1-based):
    +1 when hex nibble ``bit`` of md5(token) has its high bit set."""
    return F.when(F.substring(F.md5(token), bit, 1) >= "8", 1).otherwise(-1)


def shingle_sets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingle) pairs with per-doc distinct shingles — the base relation
    for Jaccard/minhash. Explodes once; downstream joins are equi-joins."""
    return docs.select(
        F.col(id_col),
        F.explode(distinct_word_shingles_fast(F.col(text_col), k)).alias("shingle"),
    )


def hashed_shingle_sets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sz, sh_h) pairs — :func:`shingle_sets` with the shingle carried
    as its 64-bit hash from birth, plus the doc's DISTINCT-SHINGLE COUNT
    ``sz`` stamped on every row map-side (it is known for free before the
    explode). For consumers that only ever join/count (jaccard_pairs,
    connected-components edge mining) the string form is dead weight:
    persisting the hashed relation instead of strings cut the d5_cc cache
    mass ~60% at sf300 (15 M docs × ~150 shingles × ~30-byte strings →
    16-byte rows; the int ``sz`` adds 4). Carrying ``sz`` lets
    :func:`jaccard_pairs` fold the per-doc size aggregate and its two
    join-backs into the intersection groupBy — one exchange instead of
    three plan legs (r11). Collision budget as documented on
    :func:`jaccard_pairs`."""
    # explode_outer + a null filter, not explode: below a plain explode of
    # the array attribute Catalyst infers ``size(arr) > 0`` and pushes it
    # through the projection, which shingles every doc twice. The outer
    # form's one null row per shingle-less doc is dropped instead.
    arr = distinct_word_shingles_fast(F.col(text_col), k).alias("__sh_arr")
    return (
        docs.select(F.col(id_col), arr)
        .select(
            F.col(id_col),
            F.size("__sh_arr").cast("int").alias("sz"),
            F.explode_outer("__sh_arr").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .select(F.col(id_col), "sz", F.xxhash64("shingle").alias("sh_h"))
    )


def jaccard_pairs(sh: DataFrame, id_col: str = "doc_id", min_jaccard: float = 0.0) -> DataFrame:
    """Exact pairwise Jaccard over a (id, shingle) relation for pairs sharing
    ≥1 shingle: |A∩B| from the shingle equi-join, |A|,|B| from per-doc
    counts; jaccard = inter / (|A|+|B|-inter). Integer counts → the double
    division is engine-stable.

    Accepts either a string relation from :func:`shingle_sets` or the
    pre-hashed ``(id, sh_h)`` form from :func:`hashed_shingle_sets` (heavy
    callers persist the hashed form — see there).

    Scale note: hot shingles dominate the self-join; at 100 TB drop
    top-frequency shingles first (they carry no discriminating power) —
    see ``frequent_shingle_filter``.
    """
    # Join on the 64-bit hash of the shingle, not the string: the shuffle
    # moves 8-byte keys instead of ~30-byte 3-word strings. Shingles are
    # distinct per doc, so counts are unchanged (64-bit collisions across
    # ~millions of distinct shingles are ~1e-8 — far below the float
    # round-off the oracle compare already tolerates).
    if "sz" in sh.columns and "sh_h" in sh.columns:
        # hashed_shingle_sets input: ``sz`` rides each row, so |A| and |B|
        # fall out of the intersection groupBy itself (min = the constant)
        # — no per-doc size aggregate, no join-backs (r11; measured ~0.3 s
        # off every consumer at sf0.1, plan: 3 extra legs -> 0).
        a = sh.select(F.col(id_col).alias("id_a"), F.col("sz").alias("za"), "sh_h")
        b = sh.select(F.col(id_col).alias("id_b"), F.col("sz").alias("zb"), "sh_h")
        return (
            a.join(b, "sh_h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.min("za").cast("long").alias("sz_a"),
                F.min("zb").cast("long").alias("sz_b"),
            )
            .withColumn(
                "jaccard",
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= min_jaccard)
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if "sh_h" in sh.columns:
        hashed = sh.select(F.col(id_col), "sh_h")
    else:
        hashed = sh.select(F.col(id_col), F.xxhash64("shingle").alias("sh_h"))
    a = hashed.select(F.col(id_col).alias("id_a"), "sh_h")
    b = hashed.select(F.col(id_col).alias("id_b"), "sh_h")
    inter = (
        a.join(b, "sh_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def frequent_shingle_filter(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles appearing in more than ``max_doc_freq`` docs before the
    candidate join — the standard skew guard for shingle self-joins."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    keep = freq.filter(F.col("df") <= max_doc_freq).select("shingle")
    return sh.join(F.broadcast(keep), "shingle")
