"""Dedup catalog queries (SURVEY §2.10 D1-D5): exact first-wins, prefix-key
dedupe, n-gram Jaccard pairs, MinHash+LSH candidate generation, SimHash
signatures. All md5-keyed so the DuckDB oracle reproduces every hash
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nba_data_pipeline_spark import io
from nba_data_pipeline_spark.io import read_table, table_row_count
from nba_data_pipeline_spark.operators.dedup import (
    hashed_shingle_sets,
    jaccard_pairs,
    keep_first,
    lsh_band_keys,
    minhash_signature,
    shingle_sets,
    simhash16,
)
from nba_data_pipeline_spark.operators.graph import connected_components
from nba_data_pipeline_spark.operators.similarity import cosine_pairs_blocked
from nba_data_pipeline_spark.operators.textops import ws_tokens
from nba_data_pipeline_spark.plans.registry import query

_TOKS = r"string_split_regex(trim(text), '\s+')"
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
)
_SQL_SH_REL = f"""
  WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
  sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM t),
  sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
"""


@query(
    "d1_first_wins_dedup",
    oracle="""
SELECT l_orderkey, l_suppkey AS first_suppkey, l_quantity AS first_quantity,
       n_lines
FROM (
  SELECT l_orderkey, l_suppkey, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_suppkey, l_partkey) AS rn,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
  FROM lineitem
) WHERE rn = 1
ORDER BY l_orderkey
""",
)
def d1_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: first-wins dedupe by identifier (nba_props_scraper.py:295-302
    seen-set) as row_number over an explicit arrival order."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey", "l_quantity"
    )
    from pyspark.sql import Window as W

    counted = li.withColumn(
        "n_lines", F.count(F.lit(1)).over(W.partitionBy("l_orderkey"))
    )
    return (
        keep_first(counted, ["l_orderkey"], ["l_linenumber", "l_suppkey", "l_partkey"])
        .select(
            "l_orderkey",
            F.col("l_suppkey").alias("first_suppkey"),
            F.col("l_quantity").alias("first_quantity"),
            "n_lines",
        )
        .orderBy("l_orderkey")
    )


@query(
    "d2_prefix_dedup",
    oracle="""
SELECT substring(text, 1, 80) AS prefix_key, COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_doc
FROM documents
GROUP BY prefix_key
ORDER BY prefix_key
""",
)
def d2_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: content-prefix dedupe key (first 80 chars, run_scraper.py:124-134):
    group on the prefix, keep the lowest id."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.substring("text", 1, 80).alias("prefix_key"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
        .orderBy("prefix_key")
    )


@query(
    "d5_ngram_jaccard_topk",
    oracle=f"""
{_SQL_SH_REL},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) AS jaccard
FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
ORDER BY jaccard DESC, id_a, id_b
LIMIT 50
""",
)
def d5_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5a: exact n-gram (3-word-shingle) Jaccard — top-50 most-similar doc
    pairs. Candidates come from the shingle equi-join (pairs sharing ≥1
    shingle), never all-pairs; at 100 TB add the frequent-shingle skew
    filter (operators/dedup.py).

    The (doc, shingle) relation is persisted: it feeds the per-doc size
    aggregate and both sides of the candidate join, and without the cache
    the shingling pass re-runs per consumer (at 100 TB this is a staging
    parquet write instead)."""
    # single-row-group table: shuffle raw text once so the
    # shingling/tokenize pass runs at session parallelism, not in the
    # scan's lone task (same rationale as text_plans._docs_wide)
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = _hashed_shingles_adaptive(sf_dir, d)
    return (
        jaccard_pairs(sh)
        .select("id_a", "id_b", "jaccard")
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(50)
    )


#: the hashed-shingle relation is persisted while the documents footer row
#: count is at most this — the cache is kilobytes-to-low-GB there and
#: strictly an optimization; past it the shingle pass streams.
HASHED_SHINGLE_PERSIST_DOCS = 2_000_000


def _hashed_shingles_adaptive(sf_dir: str, d):
    """hashed_shingle_sets over ``d``, persisted only while the footer
    row count says the cache is an optimization rather than a liability
    (an unreadable footer counts as a liability). Past the cutover the
    streaming shingle pass re-runs per consumer — exchange reuse already
    shares the expensive join-side exchange."""
    sh = hashed_shingle_sets(d)
    n_docs = table_row_count(sf_dir, "documents")
    if io.fits("dedup.shingle_cache", n_docs, HASHED_SHINGLE_PERSIST_DOCS):
        sh = sh.persist()
    return sh


def cc_edges(sf_dir: str, d: DataFrame, min_jaccard: float = 0.5) -> DataFrame:
    """Near-dup edge mining for the D6 closure entries: exact Jaccard ≥
    ``min_jaccard`` over hashed 3-word shingles, as (src, dst) with
    src < dst — one shingle equi-join (``jaccard_pairs``) over the
    footer-gated shingle relation
    (``_hashed_shingles_adaptive``). The any-shared-shingle fan-out is the
    candidate generator and the whole graph fits one shuffle."""
    sh = _hashed_shingles_adaptive(sf_dir, d)
    pairs = jaccard_pairs(sh, min_jaccard=min_jaccard)
    return pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))


_NUM_HASHES = 12
_ROWS_PER_BAND = 3
_SQL_SIG = ",\n    ".join(
    f"MIN(md5(concat('{i}:', shingle))) AS mh_{i}" for i in range(_NUM_HASHES)
)
_SQL_BANDS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_idx, "
    f"md5(concat_ws('|', mh_{3*b}, mh_{3*b+1}, mh_{3*b+2})) AS band_key FROM sig"
    for b in range(_NUM_HASHES // _ROWS_PER_BAND)
)


@query(
    "d5_minhash_lsh_pairs",
    oracle=f"""
{_SQL_SH_REL},
sig AS (
  SELECT doc_id, {_SQL_SIG}
  FROM sh GROUP BY doc_id
),
bands AS (
{_SQL_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) AS jaccard
FROM cand c
JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sz x ON c.id_a = x.doc_id JOIN sz y ON c.id_b = y.doc_id
WHERE CAST(i.inter AS DOUBLE) / (x.sz + y.sz - i.inter) >= 0.4
ORDER BY c.id_a, c.id_b
""",
)
def d5_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5b: MinHash+LSH near-dup detection — 12 md5 minhashes, 4 bands × 3
    rows; candidates from the band-key equi-join, then exact-Jaccard
    verification at ≥0.4. This is the 100 TB shape: signature computation is
    a single pass, candidate generation is an equi-join on short keys, and
    the expensive verify runs only on candidates."""
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # repartition ahead of the shingling pass so it isn't pinned to
        # the scan's single row-group task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    from nba_data_pipeline_spark.operators.textops import distinct_word_shingles_fast

    # No shingle cache: the corpus pass STREAMS into the signature
    # projection and the verify re-shingles only the LSH-filtered
    # CANDIDATE docs — tiny relative to the corpus. A cached (doc_id,
    # sh_arr) relation grows with the corpus and measured no faster
    # (sf0.01 0.76 vs 0.80 s, sf0.1 2.06 vs 2.18 s, within run spread).
    # Signatures straight off the arrays (array_min over transform): the
    # same min-of-md5 per seed, computed per-row in codegen — no explode
    # and no groupBy shuffle. (The r2 explode+agg form re-shuffled every
    # shingle row just to re-group what the array already groups; that was
    # the d5_minhash bench regression.)
    sig = d.select(
        "doc_id", distinct_word_shingles_fast(F.col("text")).alias("sh_arr")
    ).select("doc_id", *minhash_signature(F.col("sh_arr"), _NUM_HASHES))
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws("|", *[F.col(f"mh_{3*b+j}") for j in range(_ROWS_PER_BAND)])
            ).alias("band_key"),
        )
        for b in range(_NUM_HASHES // _ROWS_PER_BAND)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")
    a = bands.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
    b = bands.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify ONLY the candidates: exact Jaccard with array_intersect over
    # the pair's two shingle sets — no second all-pairs shingle join. (The
    # SQL oracle computes inter via the generic join; values identical.)
    # The candidate set is LSH-filtered and therefore tiny relative to the
    # corpus — broadcast it (and the cand-sized intermediate) so the
    # corpus is never shuffled for the verify. Semi-join the raw corpus
    # down to the docs that appear in some pair and re-shingle JUST those.
    # cand is consumed three times (two id semi-joins + the pair attach) —
    # checkpoint so the sig/band lineage runs once; tiny, pair ids only.
    cand = cand.localCheckpoint(eager=False)
    sh_a = d.join(
        F.broadcast(cand.select(F.col("id_a").alias("doc_id")).distinct()),
        "doc_id",
    ).select(
        F.col("doc_id").alias("id_a"),
        distinct_word_shingles_fast(F.col("text")).alias("sh_a"),
    )
    sh_b = d.join(
        F.broadcast(cand.select(F.col("id_b").alias("doc_id")).distinct()),
        "doc_id",
    ).select(
        F.col("doc_id").alias("id_b"),
        distinct_word_shingles_fast(F.col("text")).alias("sh_b"),
    )
    with_a = sh_a.join(F.broadcast(cand), "id_a")
    with_b = sh_b.join(F.broadcast(with_a), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        with_b.withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= 0.4)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


_SQL_SIMHASH_BITS = " || ".join(
    f"(CASE WHEN SUM(CASE WHEN substring(md5(tok), {b}, 1) >= '8' THEN 1 ELSE -1 END) > 0 "
    f"THEN '1' ELSE '0' END)"
    for b in range(1, 17)
)


@query(
    "d5_simhash_signatures",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t),
sig AS (
  SELECT doc_id, {_SQL_SIMHASH_BITS} AS simhash16
  FROM tok GROUP BY doc_id
)
SELECT simhash16, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc
FROM sig GROUP BY simhash16
ORDER BY simhash16
""",
)
def d5_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5c: SimHash — 16-bit majority signature over distinct-token md5
    nibbles; identical signatures = near-dup buckets. One explode + one
    aggregate; bit arithmetic stays JVM-side."""
    # single-row-group table: shuffle raw text once so the
    # shingling/tokenize pass runs at session parallelism, not in the
    # scan's lone task (same rationale as text_plans._docs_wide)
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Project md5(token) ONCE, then derive all 16 bit contributions from
    # substrings of that hash attribute — as 16 agg expressions over the
    # raw token each would re-run md5 (no CSE across aggregate exprs).
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(ws_tokens(F.col("text")))).alias("tok")
    ).select("doc_id", F.md5("tok").alias("h"))
    bit_cols = [
        F.when(
            F.sum(F.when(F.substring("h", b, 1) >= "8", 1).otherwise(-1)) > 0, "1"
        ).otherwise("0")
        for b in range(1, 17)
    ]
    sig = tok.groupBy("doc_id").agg(F.concat(*bit_cols).alias("simhash16"))
    return (
        sig.groupBy("simhash16")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc"))
        .orderBy("simhash16")
    )


@query(
    "d3_full_row_distinct",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus, l_tax, l_quantity
FROM lineitem
ORDER BY l_returnflag, l_linestatus, l_tax, l_quantity
""",
)
def d3_full_row_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: whole-record containment dedupe (nba_props_scraper.py:666-680 —
    `if prop_data not in all_props`, O(n²) in the reference) as a hash
    DISTINCT over the full projection: O(n) with map-side partial dedup."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus", "l_tax", "l_quantity")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "l_tax", "l_quantity")
    )


@query(
    "d4_content_hash_dedup",
    oracle="""
WITH keyed AS (SELECT doc_id, md5(text) AS content_id FROM documents)
SELECT content_id, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc
FROM keyed GROUP BY content_id
HAVING COUNT(*) > 1
ORDER BY content_id
""",
)
def d4_content_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: content-hash identity dedupe (nba_insights_scraper.py:508-510 —
    the md5 surrogate id doubles as the dedup key). Groups of exact-dup
    documents surface as content_ids with n_docs > 1."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_id"))
        .groupBy("content_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("content_id")
    )


_COS_THRESHOLD = 0.4
_SQL_PAIR_COS = (
    "list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * "
    "sqrt(list_dot_product(b.e, b.e)))"
)


@query(
    "d5_embedding_cosine_neardup",
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE {_SQL_PAIR_COS} >= {_COS_THRESHOLD}
),
canon AS (
  SELECT v.vec_id AS doc_id, COALESCE(MIN(p.id_a), v.vec_id) AS canonical_id
  FROM v LEFT JOIN pairs p ON p.id_b = v.vec_id
  GROUP BY v.vec_id
)
SELECT d.doc_id, d.lang, c.canonical_id,
       (d.doc_id = c.canonical_id) AS is_survivor
FROM documents d JOIN canon c ON d.doc_id = c.doc_id
ORDER BY d.doc_id
""",
)
def d5_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 (north-star): embedding-cosine near-dup dedup over ``documents``.

    Exact all-pairs cosine >= 0.4 defines near-dup edges; each document's
    canonical_id is the smallest id among its lower-id neighbors (one-hop
    min-pointer — deterministic and SQL-expressible, unlike full transitive
    closure). Survivors keep their own id. This is the exact baseline; the
    100 TB path blocks candidates first (``sim_lsh_neardup_pairs``) so the
    pair join is an equi-join on bucket instead of all-pairs.

    Pair mining runs through ``cosine_pairs_blocked``: a block-pair
    (triangle) join — vectors hash into B blocks, each unordered block pair
    becomes one task mining its two sub-blocks with a BLAS matmul,
    borderline cosines re-scored with the oracle's exact sequential fold.
    Fully distributed except one bounded sizing job: building the plan runs
    a single exact COUNT over the pruned input (a driver scalar) to pick
    the adaptive block count; all pair data stays executor-side
    (``cosine_pairs_blas``, the broadcast variant, remains the per-bucket
    verifier for bucket-sized inputs).
    """
    v = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Footer count instead of the sizing COUNT job (geo1 probe
    # discipline): the input is the unfiltered embeddings table, so the
    # parquet footer count IS the exact count — the one bounded sizing
    # job this docstring used to carve out disappears.
    pairs = cosine_pairs_blocked(
        v, _COS_THRESHOLD, known_count=table_row_count(sf_dir, "embeddings")
    )
    canon = (
        v.select("vec_id")
        .join(
            pairs.select(F.col("id_b").alias("vec_id"), "id_a"), "vec_id", "left"
        )
        .groupBy("vec_id")
        .agg(F.min("id_a").alias("min_neighbor"))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.coalesce("min_neighbor", "vec_id").alias("canonical_id"),
        )
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        docs.join(canon, "doc_id")
        .withColumn("is_survivor", F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "lang", "canonical_id", "is_survivor")
        .orderBy("doc_id")
    )


_SQL_CC_ORACLE = f"""
WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM t),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM inter
  JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
  WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
),
comp AS (SELECT node AS doc_id, MIN(comp) AS component_id FROM walk GROUP BY node)
SELECT c.doc_id, c.component_id,
       CAST(COUNT(*) OVER (PARTITION BY c.component_id) AS BIGINT) AS cluster_size
FROM comp c
ORDER BY c.doc_id
"""


@query("d5_cc_clusters", oracle=_SQL_CC_ORACLE)
def d5_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5e: near-dup CLUSTERS — transitive closure over Jaccard >= 0.5 edges
    (each doc's component_id = smallest doc_id reachable through near-dup
    links). The one-hop min-pointer in ``d5_embedding_cosine_neardup``
    under-merges chains (a~b, b~c but a!~c); production dedup keeps ONE
    representative per connected component, so the closure is the operator
    that actually decides survivors.

    Spark-first shape: edges from the shingle equi-join (never all-pairs);
    closure via ``operators/graph.connected_components`` — iterated
    per-partition union-find with edge contraction. The near-dup subgraph
    is a tiny fraction of the corpus, so it runs single-partition here and
    the loop exits after ONE DSU pass (replacing the former min-label
    propagation loop: diameter+1 shuffle-join rounds at ~1.3 s each →
    one mapInPandas pass, measured ~2 s off this query). At 100 TB the
    subgraph shards across partitions and the same operator converges in
    O(log P) contraction rounds — see ``operators/graph.py``. DuckDB
    verifies via a recursive CTE reaching the same fixpoint.
    """
    # single-row-group table: shuffle raw text once so the
    # shingling/tokenize pass runs at session parallelism, not in the
    # scan's lone task (same rationale as text_plans._docs_wide)
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    edges = cc_edges(sf_dir, d)
    # DSU treats edges as undirected — no symmetrize union needed.
    labels = connected_components(edges, num_partitions=1)
    from pyspark.sql import Window as W

    full = d.select("doc_id").join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", "doc_id").alias("component_id")
    )
    return (
        full.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(W.partitionBy("component_id")),
        )
        .select("doc_id", "component_id", "cluster_size")
        .orderBy("doc_id")
    )


@query("d5_cc_clusters_multipart", oracle=_SQL_CC_ORACLE)
def d5_cc_clusters_multipart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5e at the CLUSTER-SCALE setting: identical semantics (and oracle) to
    ``d5_cc_clusters`` but the closure runs ``connected_components`` with
    ``num_partitions=4`` — the sharded-DSU path a 100 TB near-dup subgraph
    actually takes. With the documents footer count as ``node_bound``, any
    corpus up to 500k documents (4 × n_docs within the operator's
    ``finish_threshold``) takes the TWO-LEVEL form: four parallel local
    DSUs, then one single-task DSU over their pointer rows. Catalog-level
    proof that the sharded local pass plus the pointer-row merge reaches
    the same fixpoint the recursive-CTE oracle computes (the 1-partition
    variant exercises only the single-pass fast path). Past the bound
    (sf30 and up) the general contraction loop runs instead."""
    # single-row-group table: shuffle raw text once so the
    # shingling/tokenize pass runs at session parallelism, not in the
    # scan's lone task (same rationale as text_plans._docs_wide)
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    edges = cc_edges(sf_dir, d)
    # node_bound: every graph node is a doc_id, so the documents footer
    # count bounds the per-partition pointer table. Below the threshold
    # the closure is the TWO-LEVEL sharded DSU (4 parallel local DSUs,
    # one single-task merge over the pointer rows — still the
    # multi-partition path this entry exists to prove, with zero joins
    # and zero driver actions); past it (sf30+, where 4×n_docs outgrows
    # one task's DSU budget) the general contraction loop runs.
    labels = connected_components(
        edges, num_partitions=4, node_bound=table_row_count(sf_dir, "documents")
    )
    from pyspark.sql import Window as W

    full = d.select("doc_id").join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", "doc_id").alias("component_id")
    )
    return (
        full.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(W.partitionBy("component_id")),
        )
        .select("doc_id", "component_id", "cluster_size")
        .orderBy("doc_id")
    )


@query(
    "d8_crossdoc_ngram_coverage",
    oracle=f"""
{_SQL_SH_REL},
freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id, COUNT(*) AS n_shingles,
         COUNT(*) FILTER (WHERE f.df > 1) AS dup_shingles
  FROM sh s JOIN freq f USING (shingle)
  GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, dup_shingles,
       CAST(dup_shingles AS DOUBLE) / n_shingles AS dup_coverage,
       (CAST(dup_shingles AS DOUBLE) / n_shingles) >= 0.5 AS is_mostly_dup
FROM per_doc
ORDER BY doc_id
""",
)
def d8_crossdoc_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: cross-document duplicate-span coverage — for each document, the
    fraction of its distinct 3-word shingles that also occur in at least one
    OTHER document (the RefinedWeb/Dolma "duplicated n-gram fraction"
    signal; high coverage = boilerplate or template spam even when no single
    pair crosses a Jaccard threshold). Shape: one explode, one
    map-side-combined shingle-frequency aggregate, one equi-join back on the
    8-byte shingle hash, one per-doc aggregate — linear in corpus size, no
    pairwise work at all, which is what makes this the cheapest cross-doc
    dup signal at 100 TB. Shingles are distinct per doc, so per-doc
    frequency equals document frequency."""
    # single-row-group table: shuffle raw text once so the
    # shingling/tokenize pass runs at session parallelism, not in the
    # scan's lone task (same rationale as text_plans._docs_wide)
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = shingle_sets(d)
    # Hash the shingle once: the frequency aggregate and the join back both
    # shuffle 8-byte keys instead of ~20-byte strings (same discipline as
    # jaccard_pairs; collisions are ~1e-8 at corpus scale). Persisted —
    # two consumers, one shingling pass.
    hashed = sh.select("doc_id", F.xxhash64("shingle").alias("sh_h")).persist()
    freq = hashed.groupBy("sh_h").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        hashed.join(freq, "sh_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("df") > 1, 1)).alias("dup_shingles"),
        )
    )
    cov = F.col("dup_shingles").cast("double") / F.col("n_shingles")
    return per_doc.select(
        "doc_id", "n_shingles", "dup_shingles",
        cov.alias("dup_coverage"),
        (cov >= 0.5).alias("is_mostly_dup"),
    ).orderBy("doc_id")


@query(
    "ta_decontaminate",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM t),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
  WHERE s.doc_id % 97 <> 0
  GROUP BY s.doc_id
)
SELECT doc_id, n_shared FROM hits WHERE n_shared >= 5
ORDER BY doc_id
""",
)
def ta_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination — the LLM-pipeline op that removes training
    documents overlapping a held-out benchmark. Docs with doc_id % 97 == 0
    stand in for the eval set; a training doc is contaminated when it shares
    >= 5 distinct 3-word shingles with ANY eval document.

    Scale shape: the eval side is small by construction (benchmarks are
    thousands of documents, not billions), so its distinct-shingle set
    BROADCASTS and contamination is a map-side hash join against the
    training shingle stream — one scan of the corpus, no shuffle on the big
    side beyond the per-doc count. This is the canonical asymmetric-join
    decontamination used by production training pipelines."""
    # single-row-group table: shuffle raw text once so the
    # shingling/tokenize pass runs at session parallelism, not in the
    # scan's lone task (same rationale as text_plans._docs_wide)
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = shingle_sets(d)
    eval_sh = (
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
        .orderBy("doc_id")
    )


# One-bit flips of a 16-char bit string: variant i is the signature with
# bit i inverted. The Hamming-1 index of Manku et al.'s simhash dedup —
# a signature's neighbors at distance exactly 1 are precisely the
# signatures matching one of its 16 flip variants, so neighbor search is
# an EQUI-join on short keys, never a pairwise Hamming scan.
def _flip16(col, i: int):
    return F.concat(
        F.substring(col, 1, i - 1),
        F.when(F.substring(col, i, 1) == "1", "0").otherwise("1"),
        F.substring(col, i + 1, 16 - i),
    )


_SQL_FLIP16 = (
    "substring({c}, 1, {im1}) || "
    "(CASE WHEN substring({c}, {i}, 1) = '1' THEN '0' ELSE '1' END) || "
    "substring({c}, {ip1}, {rest})"
)


@query(
    "d5_simhash_hamming_neighbors",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t),
sig AS (
  SELECT doc_id, {_SQL_SIMHASH_BITS} AS sh FROM tok GROUP BY doc_id
),
g AS (
  SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS canonical_doc
  FROM sig GROUP BY sh
),
flips AS (
  SELECT g.sh, u.flipped FROM g, UNNEST([{", ".join(
      _SQL_FLIP16.format(c="g.sh", i=i, im1=i - 1, ip1=i + 1, rest=16 - i)
      for i in range(1, 17))}]) AS u(flipped)
),
nb AS (
  SELECT f.sh,
         CAST(COUNT(*) AS BIGINT) AS n_neighbor_sigs,
         CAST(SUM(g2.n_docs) AS BIGINT) AS n_neighbor_docs
  FROM flips f JOIN g g2 ON g2.sh = f.flipped
  GROUP BY f.sh
)
SELECT g.sh AS simhash16, g.n_docs, g.canonical_doc,
       COALESCE(nb.n_neighbor_sigs, 0) AS n_neighbor_sigs,
       COALESCE(nb.n_neighbor_docs, 0) AS n_neighbor_docs
FROM g LEFT JOIN nb ON nb.sh = g.sh
ORDER BY simhash16
""",
)
def d5_simhash_hamming_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5c': SimHash Hamming-1 NEIGHBOR index — the scale-correct form of
    "which docs are one signature bit apart": collapse docs to DISTINCT
    signatures first (the hamming-0 clusters, linear in corpus size),
    then find each signature's distance-1 neighbors by equi-joining its
    16 one-bit FLIP variants against the signature set (Manku et al.'s
    permuted-probe simhash index, flip-indexed for d=1). Output is one
    row per distinct signature with its doc count, canonical doc, and
    neighbor mass — NEVER a pair list: this corpus's largest duplicate
    cluster holds >1000 identical signatures at sf0.1, so any
    emit-all-pairs formulation is quadratic in cluster size (~10^6 rows
    and 30+ s measured) while this one is |sigs|×16 join probes (~10^4).
    The same collapse-then-index shape is what a 100 TB dedup runs:
    signature dimension ≪ corpus, neighbor edges feed the d6 closure.
    The flip expression is shared SQL text on both engines."""
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(ws_tokens(F.col("text")))).alias("tok")
    ).select("doc_id", F.md5("tok").alias("h"))
    bit_cols = [
        F.when(
            F.sum(F.when(F.substring("h", b, 1) >= "8", 1).otherwise(-1)) > 0, "1"
        ).otherwise("0")
        for b in range(1, 17)
    ]
    sig = tok.groupBy("doc_id").agg(F.concat(*bit_cols).alias("sh"))
    g = sig.groupBy("sh").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("canonical_doc"),
    ).persist()
    flips = g.select(
        "sh", F.explode(F.array(*[_flip16(F.col("sh"), i) for i in range(1, 17)])).alias("flipped")
    )
    g2 = g.select(F.col("sh").alias("flipped"), F.col("n_docs").alias("nb_docs"))
    nb = (
        flips.join(g2, "flipped")
        .groupBy("sh")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbor_sigs"),
            F.sum("nb_docs").cast("long").alias("n_neighbor_docs"),
        )
    )
    return (
        g.join(nb, "sh", "left")
        .select(
            F.col("sh").alias("simhash16"),
            "n_docs",
            "canonical_doc",
            F.coalesce("n_neighbor_sigs", F.lit(0)).alias("n_neighbor_sigs"),
            F.coalesce("n_neighbor_docs", F.lit(0)).alias("n_neighbor_docs"),
        )
        .orderBy("simhash16")
    )


# ---------------------------------------------------------------------------
# D9: PPJoin-style prefix-filtered set-similarity join
# ---------------------------------------------------------------------------

_PF_T_NUM, _PF_T_DEN = 1, 2  # Jaccard threshold t = 1/2, kept rational

#: d9's verify-join strategy crossover: docset tables up to this many docs
#: broadcast (~1 KB/doc of sorted hash arrays → hundreds of MB, the
#: measured-fast path through sf10's 500k docs); past it the driver-side
#: broadcast build OOMs (measured at the sf30 probe's 1.5M docs) and both
#: sides hash-partition on the doc id instead.
_D9_BROADCAST_DOCS = 600_000


@query(
    "d9_prefix_filter_join",
    oracle=f"""
{_SQL_SH_REL},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       CAST(x.sz AS BIGINT) AS size_a, CAST(y.sz AS BIGINT) AS size_b,
       CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) AS jaccard
FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
WHERE inter * {_PF_T_DEN} >= (x.sz + y.sz - inter) * {_PF_T_NUM}
ORDER BY id_a, id_b
""",
)
def d9_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: set-similarity self-join with PREFIX FILTERING (PPJoin family,
    Xiao et al., "Efficient Similarity Joins for Near Duplicate Detection",
    WWW'08) — all doc pairs whose 3-shingle-set Jaccard ≥ 1/2, candidates
    generated from shingle PREFIXES only. Order every doc's shingles by
    global rarity (document frequency asc, shingle asc); a doc of size L
    needs only its first L - ceil(t·L) + 1 shingles indexed: if
    J(A,B) ≥ t the two prefixes provably share a shingle (pigeonhole over
    the ≥ ceil(t·|A|) intersection shingles — the last-prefix-token
    argument of the PPJoin lemma), so joining prefixes loses nothing,
    while the oracle's join-on-ANY-shared-shingle candidate set is the
    full d5-style fan-out. A symmetric length filter (t·|A| ≤ |B| ≤ |A|/t)
    prunes further; survivors are verified with an exact intersection
    count, and the rational-compare threshold (inter·den ≥ union·num)
    keeps the predicate integer-exact on both engines.

    Scale shape: the prefix relation is one row_number window per doc,
    candidates come from an equi-join on globally-rare keys (halving the
    indexed tokens cuts join fan-out superlinearly — the hottest half of
    every doc's shingles is never indexed), and exact verification touches
    only surviving pairs. This is the linear-ish plan for million-doc
    corpora where the any-shingle join pays for every hot shingle."""
    from pyspark.sql.window import Window as W

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # Shingles carried as 64-bit hashes everywhere past this point (8-byte
    # shuffle keys; per-doc-distinct, so counts are unchanged — the same
    # collision budget jaccard_pairs documents).
    sh = shingle_sets(d).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    ).persist()
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # ONE groupBy-doc_id pass yields the rarity order, the set size, the
    # prefix slice AND the verify array: array_sort over struct(df, h)
    # orders each doc's shingles by (df asc, h asc) — exactly the
    # row_number window this replaces (h is per-doc distinct, so the key
    # is unique) — and the docset the verify joins need is the same array
    # stripped of df. The window shuffle + the separate docsets
    # aggregation (a second full shuffle of the shingle relation, run
    # TWICE more as the two non-identical broadcast builds) collapse into
    # this single exchange.
    per_doc = (
        sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("rk"))
        .select(
            "doc_id",
            F.size("rk").alias("sz"),
            F.expr("transform(rk, x -> x.h)").alias("hs"),
        )
        .persist()
    )
    # prefix length for t = num/den: L - ceil(L*num/den) + 1
    # (integer ceil: (L*num + den - 1) div den)
    plen = F.expr(
        f"sz - ((sz * {_PF_T_NUM} + {_PF_T_DEN} - 1) div {_PF_T_DEN}) + 1"
    )
    prefix = (
        per_doc.select(
            "doc_id",
            "sz",
            F.posexplode(F.slice("hs", F.lit(1), plen)),
        )
        .withColumnRenamed("col", "h")
        .select("doc_id", "h", "sz", (F.col("pos") + 1).alias("pos"))
    )
    # POSITIONAL filter (PPJoin §3.2, same paper): a qualifying pair needs
    # inter >= alpha = ceil(t/(1+t) * (|A|+|B|)), and any shared prefix
    # token at positions (pa, pb) bounds inter <= 1 + min(|A|-pa, |B|-pb)
    # — both sets have only that many tokens left at or after the match.
    # A pair with J >= t passes at its FIRST shared prefix token, so
    # filtering each matched row by the bound loses nothing, while pairs
    # whose only shared prefix tokens sit too LATE to ever reach alpha
    # never enter the candidate set. At the sf100 (1000x) probe this is
    # the difference between a verify intermediate that fits scratch and
    # one that doesn't: the array-carrying exchange downstream is
    # |candidates| x the docset payload, and the payload (random 64-bit
    # hashes) is incompressible — pruning candidates is the only lever.
    # Integer-exact for t=num/den: 1+min >= ceil(num*(sa+sb)/(num+den))
    # <=> (1+min)*(num+den) >= num*(sa+sb).
    pos_bound = (
        (1 + F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")))
        * (_PF_T_NUM + _PF_T_DEN)
        >= (F.col("a.sz") + F.col("b.sz")) * _PF_T_NUM
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # symmetric length filter for t=num/den: den*min_sz >= num*max_sz
            & (F.col("a.sz") * _PF_T_DEN >= F.col("b.sz") * _PF_T_NUM)
            & (F.col("b.sz") * _PF_T_DEN >= F.col("a.sz") * _PF_T_NUM)
            & pos_bound,
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sz").alias("size_a"),
            F.col("b.sz").alias("size_b"),
        )
        .distinct()
    )
    # Verify with per-doc sorted hash arrays: two joins bring both sets to
    # the pair; array_intersect counts exactly — per-pair O(|doc|)
    # map-side work with NO fan-out join (the pair × shingle expansion
    # this replaced measured ~10× slower at sf0.1). The join STRATEGY is
    # ADAPTIVE on one bounded count (the cosine_pairs_blocked sizing
    # discipline): below _D9_BROADCAST_DOCS the docset table broadcasts
    # (the measured-fast path; the explicit repartition keeps the verify
    # stage at session parallelism — AQE coalesces the small post-distinct
    # exchange to 2-3 partitions and would run the intersections nearly
    # serially); above it, both sides hash-partition on the doc id (two
    # shuffle joins) — the r8 sf30 (300×) probe measured the broadcast
    # variant OOMing the driver at 1.5M docsets (~GBs per broadcast),
    # exactly the crossover this docstring used to only predict.
    docsets = per_doc.select("doc_id", "hs")
    paired = cand.repartition(
        spark.sparkContext.defaultParallelism, "id_a", "id_b"
    )
    side_a = docsets.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("hs_a"))
    side_b = docsets.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("hs_b"))
    # Broadcast decision from the parquet FOOTER count (geo1 probe
    # discipline): |docsets| ≤ |documents| exactly (one row per doc with
    # ≥1 shingle), so the footer count is a sound upper bound and the
    # old docsets.count() — a full extra aggregate pass over the
    # persisted shingle relation at DataFrame-construction time — buys
    # nothing; unreadable footer stats take the shuffle path. Measured at
    # sf0.1: one fewer job, ~0.5 s off the entry; the sf30/sf100
    # shuffle-hash crossover unchanged (footer count ≥ true count can
    # only flip TOWARD the conservative shuffle path, and only in the
    # sliver between the two counts).
    n_docsets = table_row_count(sf_dir, "documents")
    if io.fits("d9.broadcast", n_docsets, _D9_BROADCAST_DOCS):
        side_a, side_b = F.broadcast(side_a), F.broadcast(side_b)
    else:
        # Shuffled HASH join, not sort-merge: the streamed side of these
        # two joins is the candidate relation carrying a ~0.4 KB sorted
        # docset array per row, and SMJ would SORT that array-laden stream
        # (the sf100 probe measured the sorter spilling ~45 GB past the
        # exchange files — over a node's disk budget — on ~10^8
        # candidates). Hashing builds on the slim docset side (|docs|/P
        # rows per task) and streams the fat side with no sort at all;
        # the verify stays one exchange per join key.
        side_a, side_b = side_a.hint("shuffle_hash"), side_b.hint("shuffle_hash")
    inter = (
        paired.join(side_a, "id_a")
        .join(side_b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    union_sz = F.col("size_a") + F.col("size_b") - F.col("inter")
    return (
        inter.filter(F.col("inter") * _PF_T_DEN >= union_sz * _PF_T_NUM)
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            (F.col("inter").cast("double") / union_sz).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# D10: LSH quality evaluation — candidate precision/recall vs exact truth
# ---------------------------------------------------------------------------


@query(
    "d10_lsh_recall_eval",
    oracle=f"""
{_SQL_SH_REL},
sig AS (
  SELECT doc_id, {_SQL_SIG}
  FROM sh GROUP BY doc_id
),
bands AS (
{_SQL_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.id_a, i.id_b
  FROM inter i JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
  WHERE i.inter * 2 >= (x.sz + y.sz - i.inter)
),
m AS (
  SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
         CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
         CAST((SELECT COUNT(*) FROM cand c JOIN truth t
               ON c.id_a = t.id_a AND c.id_b = t.id_b) AS BIGINT) AS tp
)
SELECT n_truth, n_cand, tp,
       n_cand - tp AS fp, n_truth - tp AS fn,
       CAST(tp AS DOUBLE) / n_cand AS precision,
       CAST(tp AS DOUBLE) / n_truth AS recall
FROM m
""",
)
def d10_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: LSH quality EVALUATION — measure the 12-hash / 4-band MinHash
    index (d5b's exact configuration) against exact Jaccard ≥ 1/2 ground
    truth: candidate-set precision and recall, the two numbers that
    actually tune (bands, rows) at scale (the S-curve says r=3,b=4 gives
    ~97% recall at J=0.5 — this query MEASURES it on the corpus instead
    of trusting the formula; sim_recall_eval does the same for IVF).
    Running the evaluation entirely inside the engine is the point: truth
    from the shingle equi-join + rational threshold, candidates from the
    band join, metrics from one count-join — no exported notebooks.

    At 100 TB the truth side is the expensive half; production runs it on
    a sampled stratum and extrapolates — same plan, sampled input."""
    from nba_data_pipeline_spark.operators.dedup import (
        jaccard_pairs as _jp,
    )
    from nba_data_pipeline_spark.operators.textops import (
        distinct_word_shingles_fast,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = (
        d.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", distinct_word_shingles_fast(F.col("text")).alias("sh_arr"))
        .persist()
    )
    sh = docs.select("doc_id", F.explode("sh_arr").alias("shingle"))
    # persist both pair sets: each feeds its count AND the tp join, and
    # without the cache the expensive halves (the shingle self-join for
    # truth, the band join for candidates) run twice.
    truth = (
        _jp(sh)
        .filter(F.col("inter") * 2 >= F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .select("id_a", "id_b")
        .persist()
    )
    sig = docs.select("doc_id", *minhash_signature(F.col("sh_arr"), 12))
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws("|", *[F.col(f"mh_{3*b+j}") for j in range(3)])
            ).alias("band_key"),
        )
        for b in range(4)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")
    cand = (
        bands.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
        .join(
            bands.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .persist()
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    tp = (
        cand.join(truth, ["id_a", "id_b"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("tp"))
    )
    m = n_truth.crossJoin(n_cand).crossJoin(tp)
    return m.select(
        "n_truth",
        "n_cand",
        "tp",
        (F.col("n_cand") - F.col("tp")).alias("fp"),
        (F.col("n_truth") - F.col("tp")).alias("fn"),
        (F.col("tp").cast("double") / F.col("n_cand")).alias("precision"),
        (F.col("tp").cast("double") / F.col("n_truth")).alias("recall"),
    )


# ---------------------------------------------------------------------------
# D11: survivor selection — quality-argmax representative per near-dup cluster
# ---------------------------------------------------------------------------


@query(
    "d11_survivor_selection",
    oracle=f"""
WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM t),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM inter
  JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
  WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.5
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
),
comp AS (SELECT node AS doc_id, MIN(comp) AS component_id FROM walk GROUP BY node),
ranked AS (
  SELECT c.component_id, c.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.component_id) AS csize
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT component_id, CAST(csize AS BIGINT) AS cluster_size,
       doc_id AS survivor_doc, CAST(n_chars AS BIGINT) AS survivor_chars,
       CAST(csize - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
ORDER BY component_id
""",
)
def d11_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11: SURVIVOR SELECTION — the decision step after clustering
    (d5_cc_clusters stops at labels): keep, per near-dup component, the
    HIGHEST-QUALITY member (longest document here — the keep-the-most-
    complete-copy policy; any quality score drops in) rather than the
    naive lowest-id. Lowest-id keeps whichever copy crawled first — often
    the truncated one; quality-argmax is what production curation ships
    (deduplicated corpora keep canonical/longest variants). Output: one
    row per cluster with the survivor and the drop count; the doc_id
    tiebreak keeps equal-quality picks deterministic.

    Shape: shingle-equi-join edges → union-find closure (single partition
    here; the finish_threshold hybrid at scale) → one broadcast-sized
    label table joined back to the doc features → one argmax window per
    component. The oracle replays the closure as a recursive CTE and the
    same argmax."""
    from pyspark.sql import Window as W

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # persisted in the 8-byte hashed form — see hashed_shingle_sets
    sh = _hashed_shingles_adaptive(sf_dir, d.select("doc_id", "text"))
    edges = jaccard_pairs(sh, min_jaccard=0.5).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = connected_components(edges)
    full = d.select("doc_id", "n_chars").join(
        F.broadcast(labels), "doc_id", "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce("component_id", "doc_id").alias("component_id"),
    )
    wc = W.partitionBy("component_id")
    ranked = full.select(
        "component_id",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(wc.orderBy(F.desc("n_chars"), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wc).alias("csize"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("csize").cast("bigint").alias("cluster_size"),
            F.col("doc_id").alias("survivor_doc"),
            F.col("n_chars").cast("bigint").alias("survivor_chars"),
            (F.col("csize") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("component_id")
    )


_D12_K = 4  # duplicated-span shingle width (tokens)


@query(
    "d12_dupspan_rewrite",
    oracle=f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks) - {_D12_K - 1}, 0)))
             AS start
  FROM d
),
sh AS (
  SELECT doc_id, start,
         array_to_string(list_slice(toks, start, start + {_D12_K - 1}), ' ')
             AS shingle
  FROM starts
),
dup AS (SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) >= 2),
occ AS (SELECT s.doc_id, s.start FROM sh s JOIN dup USING (shingle)),
cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(generate_series(start, start + {_D12_K - 1})) AS pos
    FROM occ
  )
),
tok AS (
  SELECT doc_id, t.token, t.pos FROM (
    SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
    FROM d
  ) t(doc_id, token, pos)
),
kept AS (
  SELECT t.doc_id, t.token, t.pos FROM tok t
  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
  WHERE c.pos IS NULL
),
clean AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS cleaned,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(len(d.toks) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed,
       ROUND(COALESCE(c.n_kept, 0) * 1.0 / len(d.toks), 4) AS kept_ratio,
       md5(COALESCE(c.cleaned, '')) AS cleaned_md5
FROM d LEFT JOIN clean c USING (doc_id)
ORDER BY d.doc_id
""",
)
def d12_dupspan_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12: cross-document duplicated-SPAN removal — the ExactSubstr idea
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): instead of dropping whole near-duplicate documents (d5/d11),
    excise every token span that also appears verbatim in another
    document, keeping the unique remainder. d8 measures this duplication;
    this operator performs the REWRITE, returning per-doc removal stats
    plus an md5 of the cleaned text (which the oracle reproduces
    byte-for-byte, proving the reassembly — not just the counts).

    Scale shape (suffix-array-free formulation): spans are detected as
    k-token shingles with cross-doc df ≥ 2 — a map-side-combined groupBy,
    never pairwise doc comparison; occurrences come back via an equi-join
    on the shingle; covered positions explode each occurrence to k
    (doc, pos) rows and distinct-collapse; the rewrite is one anti-join
    on (doc, pos) plus an ordered per-doc reassembly. Every stage is
    linear in corpus tokens × k. The true suffix-array algorithm finds
    maximal spans ≥ k with the same output for spans ≥ 2k-1; the shingle
    form trades that tightness for pure relational ops."""
    from pyspark.sql import Window as W

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", ws_tokens(F.col("text")).alias("toks"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    k = _D12_K
    starts_arr = F.when(
        F.expr("size(toks)") >= k,
        F.expr(f"sequence(1, size(toks) - {k - 1})"),
    ).otherwise(F.expr("array()").cast("array<int>"))
    # xxhash64 contraction of each shingle (the dedup-lane discipline:
    # 8-byte keys instead of k-token strings).
    sh = d.select(
        "doc_id",
        "toks",
        F.explode(starts_arr).alias("start"),
    ).select(
        "doc_id",
        "start",
        F.xxhash64(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("start"), k))
        ).alias("sh_h"),
    )
    # Cross-doc df >= 2 ⟺ min(doc_id) ≠ max(doc_id) within the shingle
    # group — one window pass over ONE shuffle of the 16-byte occurrence
    # rows (r11, guide §2.4): the previous groupBy-countDistinct + join-back
    # consumed the shingle stream twice and needed an unconditional
    # token-grain persist to avoid re-deriving it.
    wdup = W.partitionBy("sh_h")
    occ = (
        sh.select(
            "doc_id",
            "start",
            (
                F.min("doc_id").over(wdup) != F.max("doc_id").over(wdup)
            ).alias("is_dup"),
        )
        .where("is_dup")
        .select("doc_id", "start")
    )
    # Rewrite per doc with native array ops on the UNEXPLODED token rows
    # (r11, guide §2.3 "shuffle keys and metadata instead of payloads"):
    # covered spans travel as one int array per doc; the token payload is
    # never exploded through a shuffle. Replaces the (doc, pos)-grain
    # anti-join + collect_list reassembly (two token-grain exchanges).
    spans = occ.groupBy("doc_id").agg(F.collect_set("start").alias("starts"))
    cov = F.array_distinct(
        F.flatten(F.expr(f"transform(starts, s -> sequence(s, s + {k - 1}))"))
    )
    keptarr = F.expr(
        "filter(transform(toks, (t, i) -> struct(t AS tk, i + 1 AS p)),"
        " s -> NOT array_contains(cov, s.p))"
    )
    return (
        d.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            "toks",
            F.coalesce(cov, F.expr("array()").cast("array<int>")).alias("cov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            keptarr.alias("keptarr"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.size("keptarr")).cast("long").alias("n_removed"),
            F.round(
                F.size("keptarr") * F.lit(1.0) / F.col("n_tokens"), 4
            ).alias("kept_ratio"),
            F.md5(
                F.concat_ws(
                    " ", F.expr("transform(keptarr, s -> s.tk)")
                ).cast("binary")
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )
