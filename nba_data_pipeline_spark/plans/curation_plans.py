"""Round-3 training-data-curation catalog queries (north-star LLM-pipeline
ops beyond the r1/r2 ta_* suite): token-entropy quality, per-domain quota
sampling, Bloom-filter URL blocklisting, UTF-8/control-char sanitization,
train-vs-eval contamination audit matrix, exact-substring (chunk)
boilerplate detection, winnowing (MOSS) fingerprints, and a BPE
tokenizer-training merge round.

Every query follows the house determinism rules (registry docstring):
aliased columns on both sides, decimal-summed floating aggregates, md5-only
hashes so the DuckDB oracle reproduces every bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nba_data_pipeline_spark.io import read_table, table_row_count
from nba_data_pipeline_spark.operators.textops import ws_tokens
from nba_data_pipeline_spark.operators.totalorder import (
    bounded_window,
    total_order,
)
from nba_data_pipeline_spark.plans.registry import pinned_sort, query

_TOKS = r"string_split_regex(trim(text), '\s+')"


# ---------------------------------------------------------------------------
# ta_entropy_quality — token-entropy + type/token ratio quality signal
# ---------------------------------------------------------------------------


@query(
    "ta_entropy_quality",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
cnt AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,18)))
              AS DECIMAL(38,18)) AS s
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens, v AS n_types,
       ROUND(ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / n, 4) AS token_entropy,
       ROUND(CAST(v AS DOUBLE) / n, 4) AS ttr,
       (ROUND(ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / n, 4) < 3.0)
         AS low_entropy
FROM agg ORDER BY doc_id
""",
)
def ta_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-entropy quality scoring — the information-density companion to
    the Gopher ratio rules: repetitive/templated spam shows low Shannon
    entropy over its token distribution even when length and stopword
    ratios look fine. Emits per-doc token entropy (nats), type/token
    ratio, and the low-entropy flag.

    Shape: one explode → one (doc, token) count aggregate → one per-doc
    aggregate; linear, map-side combinable, no joins. The per-(doc,token)
    c·ln(c) terms are decimal-summed (``plans/exact.py`` discipline) so the
    entropy is order-independent and engine-exact; the flag compares the
    ROUNDED value so engines can't disagree at the threshold boundary."""
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # single-row-group table: shuffle raw text once so the explode and
        # the first aggregate run at session parallelism (same rationale as
        # text_plans._docs_wide)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cnt = (
        d.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(
            (F.col("c") * F.log(F.col("c").cast("double"))).cast("decimal(38,18)")
        ).alias("s"),
    )
    entropy = F.round(
        F.log(F.col("n").cast("double")) - F.col("s").cast("double") / F.col("n"), 4
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        entropy.alias("token_entropy"),
        F.round(F.col("v").cast("double") / F.col("n"), 4).alias("ttr"),
        (entropy < 3.0).alias("low_entropy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ta_domain_quota_sample — per-source quota sampling
# ---------------------------------------------------------------------------


@query(
    "ta_domain_quota_sample",
    oracle="""
SELECT source, doc_id, CAST(rn AS INT) AS quota_rank
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 10
ORDER BY source, quota_rank
""",
)
def ta_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling — the anti-domination guard of web-corpus
    curation: cap every source (domain) at N documents, chosen by a
    deterministic hash order so the sample is stable across runs and
    engines (a seeded RAND() would differ per engine/partitioning).

    Shape: one window per source over the md5 order — a single shuffle on
    the domain key. At 100 TB the heavy-domain partitions are exactly the
    quota targets; rank-truncating at N bounds every partition's output,
    and AQE's skew split handles the scan side."""
    d = read_table(spark, sf_dir, "documents").select("source", "doc_id")
    from pyspark.sql import Window as W

    order_key = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = W.partitionBy("source").orderBy(order_key, "doc_id")
    return (
        d.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= 10)
        .select("source", "doc_id", "quota_rank")
        .orderBy("source", "quota_rank")
    )


# ---------------------------------------------------------------------------
# ta_bloom_url_dedup — Bloom-filter URL blocklist membership
# ---------------------------------------------------------------------------

_BLOOM_K = 3  # hash functions; bit id = first hex byte-pair of md5(seed:url)


@query(
    "ta_bloom_url_dedup",
    oracle=f"""
WITH urls AS (
  SELECT doc_id,
         concat('https://', source, '.example/p',
                CAST(doc_id % 40 AS VARCHAR)) AS url
  FROM documents
),
blocked AS (SELECT DISTINCT url FROM urls WHERE doc_id % 7 = 0),
bits AS (
  SELECT DISTINCT bit FROM (
    {" UNION ALL ".join(f"SELECT substr(md5(concat('{i}:', url)), 1, 3) AS bit FROM blocked" for i in range(_BLOOM_K))}
  )
)
SELECT u.doc_id, u.url,
       TRUE AS bloom_hit,
       bl.url IS NOT NULL AS is_blocked,
       bl.url IS NULL AS false_positive
FROM urls u
{chr(10).join(f"JOIN bits b{i} ON substr(md5(concat('{i}:', u.url)), 1, 3) = b{i}.bit" for i in range(_BLOOM_K))}
LEFT JOIN blocked bl ON u.url = bl.url
ORDER BY u.doc_id
""",
)
def ta_bloom_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter URL blocklisting — the first gate of a crawl-curation
    pipeline: probe every candidate URL against a compact bit-set built
    from the blocklist, drop the hits, and audit the false-positive rate
    (here m=4096 bits, k=3 md5-derived hash functions, bit ids are hex
    byte-pairs so both engines address the same bits with no int parsing).

    Spark-first shape: the bit set is blocklist-sized-capped-at-m and
    BROADCASTS (in production it's literally a bitmap in a broadcast
    variable; relationally it's a broadcast semi-join per hash function —
    same plan class either way). Probing is k map-side joins on 2-char
    keys; the big URL stream is never shuffled. The query returns every
    bloom hit with its exact-membership verdict — the measured FP rate is
    what sizes m at 100 TB (m/n ≈ 9.6 bits/key → ~1% FP)."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example/p"),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("url"),
    )
    blocked = urls.filter(F.col("doc_id") % 7 == 0).select("url").distinct()

    def bit(i: int, col):
        return F.substring(F.md5(F.concat(F.lit(f"{i}:"), col).cast("binary")), 1, 3)

    bits = None
    for i in range(_BLOOM_K):
        b = blocked.select(bit(i, F.col("url")).alias("bit"))
        bits = b if bits is None else bits.unionByName(b)
    bits = bits.distinct()

    probed = urls
    for i in range(_BLOOM_K):
        probed = probed.join(
            F.broadcast(bits.withColumnRenamed("bit", f"b{i}")),
            bit(i, F.col("url")) == F.col(f"b{i}"),
            "left",
        )
    bloom_hit = F.least(
        *[F.col(f"b{i}").isNotNull() for i in range(_BLOOM_K)]
    )
    is_blocked = F.col("blk").isNotNull()
    return (
        probed.join(
            F.broadcast(blocked.withColumnRenamed("url", "blk")),
            probed["url"] == F.col("blk"),
            "left",
        )
        .select(
            "doc_id",
            "url",
            bloom_hit.alias("bloom_hit"),
            is_blocked.alias("is_blocked"),
            (bloom_hit & ~is_blocked).alias("false_positive"),
        )
        .filter(F.col("bloom_hit"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ta_utf8_sanitize — control-char / mojibake cleanup
# ---------------------------------------------------------------------------

# Deterministic dirt injection (both engines build the same dirty string):
# docs get a BEL+SOH+US control prefix, a U+FFFD replacement-char suffix,
# both, or stay clean, keyed on doc_id. The control class deliberately
# excludes NUL (embedded NUL handling differs across engines) and the
# replacement char is matched as a LITERAL in both regexes — RE2 (DuckDB)
# and Java regex disagree on \\uFFFD escape syntax.
_CTRL = "\x07\x01\x1f"
_REPL = "��"
_CTRL_RE = "[\\x01-\\x1F\\x7F]"


@query(
    "ta_utf8_sanitize",
    oracle=f"""
WITH dirty AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 4 = 0 THEN concat(chr(7), chr(1), chr(31), text)
           WHEN doc_id % 4 = 1 THEN concat(text, chr(65533), chr(65533))
           WHEN doc_id % 4 = 2
             THEN concat(chr(7), chr(1), chr(31), text, chr(65533), chr(65533))
           ELSE text
         END AS raw
  FROM documents
),
clean AS (
  SELECT doc_id, raw,
         trim(regexp_replace(regexp_replace(raw, '{_CTRL_RE}|�', '', 'g'),
                             '\\s+', ' ', 'g')) AS text_clean
  FROM dirty
)
SELECT doc_id,
       CAST(length(raw) AS INT) AS raw_len,
       CAST(length(text_clean) AS INT) AS clean_len,
       CAST(length(raw) - length(regexp_replace(raw, '{_CTRL_RE}', '', 'g'))
            AS INT) AS n_ctrl,
       CAST(length(raw) - length(regexp_replace(raw, '�', '', 'g'))
            AS INT) AS n_replacement,
       (length(raw) - length(regexp_replace(raw, '�', '', 'g'))) > 0
         AS had_mojibake,
       md5(text_clean) AS clean_hash
FROM clean
ORDER BY doc_id
""",
)
def ta_utf8_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 sanitization — the decode-cleanup pass every web corpus needs:
    strip C0/C1 control characters, drop U+FFFD replacement characters
    (the fingerprint of a mis-decoded byte stream), re-collapse whitespace,
    and report what was removed so upstream fetchers can be audited.
    Mojibake here = any replacement char present.

    The dirty input is synthesized deterministically from doc_id (both
    engines build identical strings), so the oracle hash-checks the CLEANED
    text itself (md5), not just the counts. All native regexp_replace —
    JVM-side, no UDFs, linear scan shape."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit(_CTRL), F.col("text")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.col("text"), F.lit(_REPL)))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(_CTRL), F.col("text"), F.lit(_REPL)),
        )
        .otherwise(F.col("text"))
    )
    dirty = d.select("doc_id", raw.alias("raw"))
    strip_ctrl = F.regexp_replace(F.col("raw"), _CTRL_RE, "")
    strip_repl = F.regexp_replace(F.col("raw"), "�", "")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), f"{_CTRL_RE}|�", ""),
            r"\s+",
            " ",
        )
    )
    return dirty.select(
        "doc_id",
        F.length("raw").alias("raw_len"),
        F.length(clean).alias("clean_len"),
        (F.length("raw") - F.length(strip_ctrl)).alias("n_ctrl"),
        (F.length("raw") - F.length(strip_repl)).alias("n_replacement"),
        ((F.length("raw") - F.length(strip_repl)) > 0).alias("had_mojibake"),
        F.md5(clean.cast("binary")).alias("clean_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ta_contamination_overlap — train×eval overlap audit matrix
# ---------------------------------------------------------------------------

_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(toks)-1, 1)), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
)


@query(
    "ta_contamination_overlap",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM t)
SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM sh tr JOIN sh ev ON tr.shingle = ev.shingle
WHERE ev.doc_id % 97 = 0 AND tr.doc_id % 97 <> 0
GROUP BY 1, 2
HAVING COUNT(*) >= 3
ORDER BY train_doc, eval_doc
""",
)
def ta_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination audit MATRIX — where ``ta_decontaminate`` answers
    "which training docs do I drop", this answers the reviewer's question
    "which eval item leaked into which training doc, and how badly": one
    row per (train_doc, eval_doc) pair sharing ≥3 distinct 3-word
    shingles, the artifact attached to an eval-integrity report.

    Shape: the eval shingle side is benchmark-sized, so it BROADCASTS and
    the pair aggregate is a map-side join + one (train,eval)-key aggregate
    — the corpus-side stream is scanned once, never self-joined. (The pair
    matrix is bounded by contamination itself: |pairs| ≤ hits, ≪ corpus.)"""
    from nba_data_pipeline_spark.operators.dedup import shingle_sets

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = shingle_sets(d)
    ev = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .withColumnRenamed("doc_id", "eval_doc")
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .withColumnRenamed("doc_id", "train_doc")
        .join(F.broadcast(ev), "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .orderBy("train_doc", "eval_doc")
    )


# ---------------------------------------------------------------------------
# ta_dup_line_prefix — exact-substring (chunk) boilerplate detection
# ---------------------------------------------------------------------------

_CHUNK = 8  # tokens per non-overlapping chunk


@query(
    "ta_dup_line_prefix",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(toks) / {_CHUNK}.0) AS INT)),
                i -> concat_ws(' ', list_slice(toks, i*{_CHUNK} + 1,
                                               i*{_CHUNK} + {_CHUNK})))) AS chunk
  FROM t
),
df AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY chunk
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) FILTER (WHERE d.n_docs > 1) AS BIGINT) AS n_dup_chunks,
       ROUND(CAST(COUNT(*) FILTER (WHERE d.n_docs > 1) AS DOUBLE) / COUNT(*), 4)
         AS dup_chunk_ratio
FROM chunks c JOIN df d USING (chunk)
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
)
def ta_dup_line_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring boilerplate detection (the chunked approximation of
    RefinedWeb/Lee-et-al exact-substring dedup): split every document into
    non-overlapping 8-token chunks ("lines"), count each chunk's document
    frequency corpus-wide, and report per-document how much of it is
    verbatim text shared with other documents — headers, footers,
    templates that per-pair Jaccard never surfaces.

    Shape: one chunking pass (native slice/transform — no explode of
    overlapping shingles, so the relation is |tokens|/8 rows), one chunk
    document-frequency aggregate, one equi-join back, one per-doc
    aggregate. Linear end-to-end; the suffix-array version of this op
    needs a global sort, the chunked one only hash shuffles."""
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = ws_tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / float(_CHUNK)).cast("int")
    # guard: sequence(0, -1) would be DESCENDING [0,-1], not empty
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_arr = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i * _CHUNK + 1, _CHUNK)),
    )
    chunks = d.select("doc_id", F.explode(chunk_arr).alias("chunk"))
    dfreq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.count(F.when(F.col("n_docs") > 1, 1))
    return (
        chunks.join(dfreq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 4).alias(
                "dup_chunk_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ta_winnow_fingerprint — winnowing (rolling-window) document fingerprints
# ---------------------------------------------------------------------------

_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # k-gram hashes per winnowing window


@query(
    "ta_winnow_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
kg AS (
  SELECT doc_id,
         CAST(unnest(range(1, greatest(len(toks) - {_WIN_K - 2}, 1))) AS INT)
           AS pos,
         unnest(list_transform(range(1, greatest(len(toks) - {_WIN_K - 2}, 1)),
                i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS h,
         len(toks) - {_WIN_K - 1} AS n_kgrams
  FROM t
),
win AS (
  SELECT doc_id, n_kgrams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS wmin,
         pos
  FROM kg
),
fp AS (
  SELECT DISTINCT doc_id, n_kgrams, wmin
  FROM win WHERE pos <= n_kgrams - {_WIN_W - 1}
),
freq AS (SELECT wmin, COUNT(*) AS df FROM fp GROUP BY wmin)
SELECT f.doc_id,
       CAST(MAX(f.n_kgrams) AS BIGINT) AS n_kgrams,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(COUNT(*) FILTER (WHERE q.df > 1) AS BIGINT) AS n_shared_fp
FROM fp f JOIN freq q USING (wmin)
GROUP BY f.doc_id
ORDER BY f.doc_id
""",
)
def ta_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every 3-token k-gram, slide a window of 4 hashes over
    each document, keep the window MINIMUM — a position-robust fingerprint
    set whose size is ~2/(w+1) of the k-grams, with the guarantee that any
    shared run of w+k-1 tokens yields at least one shared fingerprint.
    The per-doc shared-fingerprint count against the rest of the corpus is
    the plagiarism/boilerplate signal exact-substring chunking misses when
    boundaries shift by a token.

    Spark-first shape: the per-document rolling pass (k-gram md5 sequence →
    window minima → distinct) is one Catalyst expression
    (``winnow_minima_fast``: one regex pass for the k-grams, the md5 array
    bound once per row, the least hash of each window); fingerprint
    document-frequency is one window count on the 32-hex key. Everything
    is linear and shuffle-bounded by the fingerprint relation, which
    winnowing already shrank ~2.5x."""
    from nba_data_pipeline_spark.operators.textops import winnow_minima_fast

    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    fp = d.select(
        "doc_id",
        (F.size(ws_tokens(F.col("text"))) - (_WIN_K - 1)).cast("bigint").alias(
            "n_kgrams"
        ),
        F.explode(winnow_minima_fast(F.col("text"), _WIN_K, _WIN_W)).alias("wmin"),
    )
    # df via COUNT OVER (PARTITION BY wmin), not aggregate + join-back
    # (r11, guide §4.4/§2.4): referencing fp from both the freq aggregate
    # and the join runs the winnowing pass twice, once per subtree. The
    # window shuffles fp by wmin once — the same bytes the join form pays
    # at scale once freq outgrows the broadcast threshold, minus the
    # second winnowing pass. If fingerprint df ever turns heavy-tailed
    # (corpus-wide boilerplate), split the hot keys with a salted
    # two-phase count before the window (guide §2.5).
    wdf = fp.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("wmin")))
    return (
        wdf.groupBy("doc_id")
        .agg(
            F.max("n_kgrams").cast("bigint").alias("n_kgrams"),
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.count(F.when(F.col("df") > 1, 1)).alias("n_shared_fp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ta_bpe_merge_round — one BPE tokenizer-training merge round
# ---------------------------------------------------------------------------


@query(
    "ta_bpe_merge_round",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOKS}) AS word FROM documents),
wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
pairs AS (
  SELECT substr(word, CAST(unnest(range(1, greatest(length(word), 1))) AS INT), 2)
           AS pair,
         freq
  FROM wf WHERE length(word) >= 2
),
pc AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
       FROM pairs GROUP BY pair)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT) AS rank,
       pair, pair_count
FROM pc
ORDER BY pair_count DESC, pair
LIMIT 20
""",
)
def ta_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training merge round: corpus word frequencies →
    frequency-weighted adjacent-symbol-pair counts → the top-20 merge
    candidates (the pair a BPE trainer would fuse next, with the
    deterministic lexicographic tie-break real trainers need for
    reproducible vocabularies). Iterating this op IS BPE training; the
    engine runs each round as two map-side-combined aggregates.

    Scale shape: pair counting aggregates over the DISTINCT-WORD table
    (vocabulary-sized, orders of magnitude below the corpus) weighted by
    word frequency — the standard trick that makes corpus-scale BPE
    training cheap; adjacent pairs are 2-char substrings via a native
    column-position transform, JVM-side, no UDF."""
    d = (
        read_table(spark, sf_dir, "documents")
        .select("text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    wf = (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    n_pairs = F.length("word") - 1
    idx = F.when(n_pairs >= 1, F.sequence(F.lit(1), n_pairs)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = wf.select(
        "freq",
        F.explode(
            F.transform(idx, lambda i: F.substr(F.col("word"), i, F.lit(2)))
        ).alias("pair"),
    )
    pc = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    # BOUNDED frame: |distinct 2-char shingles| is alphabet^2-bounded, so
    # the top-20 rank is an audited single-task sort (bounded_window) —
    # and InferWindowGroupLimit keeps the pre-exchange side a map-side
    # partial top-20 anyway.
    w = bounded_window(F.desc("pair_count"), F.col("pair"), anchor="pair")
    return (
        pc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
        .select("rank", "pair", "pair_count")
        .orderBy(F.desc("pair_count"), "pair")
    )


# ---------------------------------------------------------------------------
# Weight-proportional systematic sampling
# ---------------------------------------------------------------------------

_WS_TARGET = 50  # target sample size


@query(
    "ta_weighted_sample",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
),
cum AS (
  SELECT doc_id, source, w,
         CAST(SUM(w) OVER (ORDER BY ord, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(w) OVER () AS BIGINT) AS total
  FROM w
),
stepped AS (
  SELECT doc_id, source, w, cum,
         GREATEST(total // {_WS_TARGET}, 1) AS step
  FROM cum
)
SELECT doc_id, source, w, cum,
       CAST(cum // step - (cum - w) // step AS BIGINT) AS multiplicity
FROM stepped
WHERE cum // step > (cum - w) // step
ORDER BY doc_id
""",
)
def ta_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional SYSTEMATIC sampling — the deterministic sampler
    a token-budgeted pretraining mix needs: each document's inclusion
    probability is proportional to its size (n_chars here; tokens in
    production), with zero RNG state. Lay the docs on a line in a
    hash-shuffled order (md5(doc_id) — the same deterministic permutation
    ta_global_shuffle_shard uses), take running character positions, and
    select every document whose interval (cum-w, cum] covers a multiple of
    step = total_weight/target. All-integer selection (cum//step
    comparisons), so both engines agree bit-for-bit; oversized documents
    legitimately win multiplicity > 1 (reported — a repeat in an
    epoch-mix sense), and expected sample size = total//step ≈ target
    with at-most-1 deviation per stratum.

    Scale shape: the running sum rides the distributed total-order
    primitive (operators/totalorder.py): sampled bucket cuts over the md5
    permutation, ONE hash shuffle, per-bucket local prefix sums plus
    broadcast per-bucket offsets — no single-reducer stage, and the
    corpus total arrives from the same tiny stats frame instead of an
    unbounded global window. Everything after it is map-side. Versus A-ES
    exponential-jump sampling, systematic needs no floating pow/log —
    which is exactly what keeps the cross-engine hash stable."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("w"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("ord"),
    )
    cum = total_order(
        d, ["ord", "doc_id"], cum={"cum": "w"}, totals={"total": "w"},
        # document-grain frame: exactly the documents footer count
        small_hint_rows=table_row_count(sf_dir, "documents"),
    ).select("doc_id", "source", "w", "cum", "total")
    stepped = cum.withColumn(
        "step", F.greatest(F.expr(f"total div {_WS_TARGET}"), F.lit(1).cast("bigint"))
    )
    sel = stepped.filter(
        F.expr("cum div step") > F.expr("(cum - w) div step")
    )
    return sel.select(
        "doc_id",
        "source",
        "w",
        "cum",
        (F.expr("cum div step") - F.expr("(cum - w) div step"))
        .cast("bigint")
        .alias("multiplicity"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE tokenizer APPLY: greedy ranked-merge encoding
# ---------------------------------------------------------------------------

#: (left, right) merge rules in rank order — the learned artifact a
#: ta_bpe_merge_round-style trainer emits, pinned as a literal so both
#: engines carry the identical table.
_BPE_MERGES: list[tuple[str, str]] = [
    ("j", "o"),
    ("i", "n"),
    ("jo", "in"),
    ("s", "c"),
    ("sc", "a"),
    ("h", "a"),
    ("e", "r"),
    ("o", "r"),
    ("a", "n"),
    ("c", "o"),
]


def _bpe_pat(a: str, b: str) -> tuple[str, str]:
    """Boundary-safe (pattern, replacement): tokens are '|'-delimited on
    BOTH sides, so a pair match can never span a token boundary."""
    return f"|{a}|{b}|", f"|{a}{b}|"


def _bpe_case_sql() -> str:
    whens = []
    for a, b in _BPE_MERGES:
        pat, rep = _bpe_pat(a, b)
        whens.append(
            f"WHEN position('{pat}' IN seq) > 0 THEN replace(seq, '{pat}', '{rep}')"
        )
    return "CASE " + " ".join(whens) + " ELSE seq END"


@query(
    "ta_bpe_encode",
    oracle=f"""
WITH RECURSIVE wf AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest({_TOKS}) AS word FROM documents
  ) GROUP BY word
),
init AS (
  SELECT word, freq,
         '|' || array_to_string(list_transform(range(1, length(word) + 1),
                                               i -> word[i]), '|') || '|' AS seq
  FROM wf
),
enc AS (
  SELECT word, freq, seq FROM init
  UNION ALL
  SELECT word, freq, nxt FROM (
    SELECT word, freq, seq, {_bpe_case_sql()} AS nxt FROM enc
  ) WHERE nxt <> seq
)
SELECT word, freq, seq AS encoded,
       CAST(length(seq) - length(replace(seq, '|', '')) - 1 AS BIGINT) AS n_pieces
FROM enc
WHERE {_bpe_case_sql()} = seq
ORDER BY word
""",
)
def ta_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY — the inference half of ta_bpe_merge_round's
    training round: encode every vocabulary word by greedily applying a
    ranked merge table to its character sequence (apply the lowest-rank
    merge present — all occurrences, left-to-right — then rescan from
    rank 1, until fixpoint: the exact `tokenizers`-style BPE encode loop).
    The Spark side runs the loop in an Arrow-batched pandas UDF over the
    DISTINCT vocabulary — encode once per word, never per occurrence,
    which is the production shape (vocab ≪ corpus; a broadcast join fans
    the encodings back to tokens when needed). The DuckDB oracle replays
    the identical greedy recursion as a RECURSIVE CTE whose step is a
    rank-ordered CASE/replace chain, terminating at the same fixpoint —
    both sides share boundary-safe '|token|' patterns so a merge can
    never span pieces.

    At 100 TB the UDF cost is |vocab| × |merges| string scans — O(MBs) —
    and the corpus-side work is one broadcast equi-join; no Python ever
    touches the fact table."""
    merges = [_bpe_pat(a, b) for a, b in _BPE_MERGES]

    @F.pandas_udf("string")
    def encode(words: pd.Series) -> pd.Series:
        def one(w: str) -> str:
            seq = "|" + "|".join(w) + "|"
            changed = True
            while changed:
                changed = False
                for pat, rep in merges:
                    if pat in seq:
                        seq = seq.replace(pat, rep)
                        changed = True
                        break
            return seq

        return words.map(one)

    d = read_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    enc = wf.withColumn("encoded", encode(F.col("word")))
    out = enc.select(
        "word",
        "freq",
        "encoded",
        (
            F.length("encoded")
            - F.length(F.regexp_replace("encoded", r"\|", ""))
            - 1
        )
        .cast("bigint")
        .alias("n_pieces"),
    )
    # pinned: the range sampling would re-run the Arrow BPE-encode lane
    return pinned_sort(out, "word")


# ---------------------------------------------------------------------------
# URL canonicalization — the crawl-dedup key builder
# ---------------------------------------------------------------------------


@query(
    "ta_url_canonicalize",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         concat('HTTPS://WWW.', source, '.Example.com:443/Path',
                CAST(doc_id % 20 AS VARCHAR),
                '/?utm_source=feed&id=', CAST(doc_id % 40 AS VARCHAR),
                '&utm_campaign=x&ref=tw#frag') AS url
  FROM documents
),
canon AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(lower(url), '#.*$', ''),
               '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
             '[?&]$', ''),
           '^https://www\\.([^/:]+):443', 'https://\\1') AS curl
  FROM raw
)
SELECT curl, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keeper_doc
FROM canon
GROUP BY curl
ORDER BY curl
""",
)
def ta_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the dedup-key builder that runs before any
    crawl-level dedup (ta_bloom_url_dedup probes keys; this makes the
    keys): lowercase, drop the fragment, strip tracking parameters
    (utm_*, ref), trim dangling separators, and fold the scheme-default
    port + www prefix — so the five surface forms of one resource
    collapse to one canonical key, then group to (canonical → count,
    keeper). All four rules are native regexp_replace passes (no UDF,
    whole-stage codegen); the synthesized messy URLs exercise every rule
    on every row.

    Scale shape: map-only key derivation + one map-side-combining
    aggregate on the canonical key — the linear pre-pass that makes exact
    URL dedup an equi-grouping at 100 TB."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.col("source"),
            F.lit(".Example.com:443/Path"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit("/?utm_source=feed&id="),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("&utm_campaign=x&ref=tw#frag"),
        ).alias("url"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), r"#.*$", ""),
                r"(utm_[a-z]+|ref)=[^&]*&?",
                "",
            ),
            r"[?&]$",
            "",
        ),
        r"^https://www\.([^/:]+):443",
        r"https://$1",
    )
    return (
        raw.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .orderBy("curl")
    )


@query(
    "ta_readability_forcast",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
),
syl AS (
  SELECT doc_id, w,
         len(regexp_extract_all(w, '[aeiouy]+')) AS s
  FROM tok
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_syllables,
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_mono,
         CAST(SUM(CASE WHEN s >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_complex
  FROM syl GROUP BY 1
)
SELECT doc_id, n_words, n_syllables,
       ROUND(CAST(n_syllables AS DOUBLE) / n_words, 4) AS syll_per_word,
       ROUND(CAST(n_complex AS DOUBLE) / n_words, 4) AS complex_frac,
       ROUND(20.0 - 15.0 * n_mono / n_words, 4) AS forcast_grade
FROM agg
ORDER BY doc_id
""",
)
def ta_readability_forcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TA: readability profiling — per-document syllable statistics and
    the FORCAST grade level (Caylor et al. 1973: grade = 20 − N/10 with N
    the monosyllabic words per 150-word sample, i.e. 20 − 15·mono_frac).
    FORCAST is chosen deliberately: it is the one classical readability
    formula defined WITHOUT sentence counts, which matches both this
    corpus (no punctuation) and real training-data shards (code, tables,
    OCR dumps — exactly where Flesch/Kincaid go undefined). Syllables
    use the standard vowel-group heuristic ([aeiouy]+ runs), identical
    regex semantics on both engines.

    A curation pipeline thresholds on these beside the Gopher rules
    (ta_gopher_quality): complex_frac and syllables/word catch
    gibberish and boilerplate that pure length/stopword rules miss.

    Scale shape: tokenize-explode, one regexp per token inside codegen,
    then a map-side-combinable groupBy back to document grain — the
    same contraction lane as every ta_* scorer; no joins, no windows,
    nothing global."""
    tok = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("w"))
    )
    syl = tok.select(
        "doc_id",
        F.size(F.regexp_extract_all("w", F.lit("[aeiouy]+"), 0)).alias("s"),
    )
    agg = syl.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("s").cast("bigint").alias("n_syllables"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mono"),
        F.sum(F.when(F.col("s") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_complex"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_syllables",
        F.round(
            F.col("n_syllables").cast("double") / F.col("n_words"), 4
        ).alias("syll_per_word"),
        F.round(
            F.col("n_complex").cast("double") / F.col("n_words"), 4
        ).alias("complex_frac"),
        F.round(
            20.0 - 15.0 * F.col("n_mono") / F.col("n_words"), 4
        ).alias("forcast_grade"),
    ).orderBy("doc_id")


@query(
    "ta_zipf_fit",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
),
freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY 1),
ranked AS (
  SELECT w, f,
         CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w) AS BIGINT) AS r
  FROM freq
),
pts AS (SELECT w, f, r, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
        FROM ranked),
fit AS (
  SELECT (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
             / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS slope,
         AVG(y) - (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
             / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) * AVG(x) AS icept,
         corr(x, y) AS r_xy
  FROM pts
)
SELECT r AS rank, w AS token, f AS freq,
       ROUND(x, 4) AS ln_rank, ROUND(y, 4) AS ln_freq,
       ROUND(fit.slope, 4) AS zipf_slope,
       ROUND(fit.icept, 4) AS intercept,
       ROUND(fit.r_xy * fit.r_xy, 4) AS r2
FROM pts CROSS JOIN fit
WHERE r <= 20
ORDER BY r
""",
)
def ta_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TA: Zipf's-law fit over the corpus unigram frequency spectrum —
    log-log OLS of frequency against rank (Zipf 1949), reported with the
    top-20 ranks and the fit's slope/intercept/R². Corpus linguists and
    data curators read the slope as a fingerprint: natural text sits near
    −1; templated/boilerplate-heavy corpora flatten, spam/generated text
    steepens — a cheap drift alarm on every crawl increment beside
    ta_ngram_novelty.

    Scale shape: the token stream contracts to VOCABULARY grain in one
    map-side-combined groupBy; ranking runs on the distributed
    total-order primitive (vocab is fact-scaled once n-grams enter — a
    single-task sort would not survive it), with the contracted table
    localCheckpointed so the cut-sample, stats, and rank passes share
    one aggregation. The OLS moments (Σx, Σy, Σxy, Σx² — all mergeable)
    reduce over the ranked rows; the 1-row fit rides back on a broadcast
    cross join. OLS in closed form — no iteration, no ML library."""
    tok = read_table(spark, sf_dir, "documents").select(
        F.explode(ws_tokens(F.col("text"))).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    pts = total_order(
        freq, [("f", "desc"), "w"], rank_col="r", materialize=True
    ).select(
        "w",
        "f",
        "r",
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    fit = pts.agg(
        slope.alias("slope"),
        (F.avg("y")).alias("my"),
        (F.avg("x")).alias("mx"),
        F.corr("x", "y").alias("r_xy"),
    ).select(
        "slope",
        (F.col("my") - F.col("slope") * F.col("mx")).alias("icept"),
        "r_xy",
    )
    return (
        pts.filter(F.col("r") <= 20)
        .crossJoin(F.broadcast(fit))
        .select(
            F.col("r").alias("rank"),
            F.col("w").alias("token"),
            F.col("f").alias("freq"),
            F.round("x", 4).alias("ln_rank"),
            F.round("y", 4).alias("ln_freq"),
            F.round("slope", 4).alias("zipf_slope"),
            F.round("icept", 4).alias("intercept"),
            F.round(F.col("r_xy") * F.col("r_xy"), 4).alias("r2"),
        )
        .orderBy("rank")
    )
