"""Distributed total-order primitives: exact global rank / NTILE / prefix
sums WITHOUT a single-partition window.

Spark executes ``Window.orderBy(...)`` with no partition spec by moving the
ENTIRE input into one task (``WindowExec`` logs "No Partition Defined ...
Moving all data to a single partition"). That is fine for a 25-row nation
frame and fatal for a 100 TB fact table. This module gives every caller an
honest choice between exactly two postures, and ``tools/planaudit.py`` (R4)
rejects any plan that still carries a bare unpartitioned window:

* :func:`total_order` — the scale path, a deterministic two-pass rank:

  1. a fixed-size uniform sample (top ``SAMPLE_PER_BUCKET×k`` rows by
     ``xxhash64`` — a TakeOrderedAndProject, fully parallel, bounded
     driver collect) yields ``k-1`` order-space CUT tuples, embedded as
     literal lexicographic comparisons;
  2. every row's BUCKET id is then a pure projection (count of cuts ≤ its
     key), so the per-bucket local rank / running sums (one hash exchange
     + in-partition sort, all buckets in parallel) and the tiny per-bucket
     count/sum frame (map-side combined aggregate) agree on partition
     boundaries BY CONSTRUCTION — no reliance on exchange reuse, AQE
     behavior, or the nondeterministically-seeded range sampler (an
     earlier ``repartitionByRange + spark_partition_id`` draft was killed
     by exactly that: the two DAG branches sampled different boundaries
     and the offsets went off by one at a partition edge — caught by
     tests/test_totalorder.py);
  3. per-bucket counts/sums are prefix-summed over the ``k``-row stats
     frame and broadcast back, so ``global = local + offset[bucket]``.

  Total cost: one full shuffle of the payload + two column-pruned passes
  (sample, stats). Every stage is whole-stage-codegen relational algebra;
  no stage ever holds more than one bucket of one group.

* :func:`bounded_window` — the audited single-task path, for frames whose
  cardinality is BOUNDED BY CONSTRUCTION (a dimension, an alphabet, a
  calendar, an optimizer-limited top-k). Physically identical to an
  unpartitioned window (all rows hash to one partition), but the partition
  key is an explicit constant-valued expression, which (a) declares the
  boundedness decision at the call site instead of leaving it an accident,
  (b) stays visible to audit: planaudit R4 distinguishes it from a bare
  global window, and (c) keeps ``InferWindowGroupLimit`` working, so a
  ``filter(rank <= k)`` on top still computes map-side partial top-k before
  the (tiny) exchange — verified on pyspark 4.1.2. The key is
  ``length(cast(anchor as string)) % 1`` because Catalyst 4.x constant-folds
  literal partition keys back to the warning-emitting empty spec; an
  attribute-anchored expression is not foldable, and ``coalesce(.., 0)``
  keeps it single-valued under NULLs.

Determinism contract (what keeps the oracle hashes stable):

* callers pass a TOTAL order — plain column names with an optional
  direction, including a unique tiebreaker; null placement follows
  Spark's sort defaults (asc → NULLS FIRST, desc → NULLS LAST) and the
  cut comparisons encode the identical rule;
* the driver-side sample sort only SELECTS cut tuples — a bad selection
  can unbalance buckets but can never corrupt a rank, because bucket
  membership is decided by the Spark-side comparison expressions, which
  mirror the window's own sort order column-for-column;
* ``materialize=True`` localCheckpoints the input first — for inputs with
  expensive lineage (a join/aggregate feeding the rank) so the sample,
  stats, and data passes share one computation. Use it when the input is
  already contracted (customer/part/vocab grain); leave it off for plain
  scan-projections where re-reading pruned parquet is cheaper than a
  persist.

Reference parity: the reference engine sorts whole result sets on one node
(e.g. DEFENSEVSPOSTION.PY:152-178 pandas sort_values over the full frame);
this module is the distributed re-expression demanded by VERDICT r4 item 1.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window as W, WindowSpec
from pyspark.sql import functions as F

from nba_data_pipeline_spark import io

__all__ = [
    "TOTAL_ORDER_SMALL_ROWS",
    "bounded_window",
    "multi_ntile_exact",
    "multi_order_cuts",
    "ntile_exact",
    "ntile_from_rank",
    "total_order",
]

_BKT = "__to_bkt"
_CNT = "__to_cnt"
_OFF = "__to_off"
_LPOS = "__to_lpos"

#: sample rows collected per requested bucket; 32k-row ceiling at k=1024.
SAMPLE_PER_BUCKET = 32

#: below this many input rows the sampled-cut machinery's extra build jobs
#: (sample collect + stats aggregate + broadcast-offset join — each a real
#: Spark job at ~0.13 s scheduling floor, measured) cost more than the
#: audited single-task :func:`bounded_window` sweep, which at this size is
#: one task sorting ≤ ~250k narrow rows (~0.3 s measured). The same
#: count-then-branch posture as RUNNING_EXTREME_SMALL_ROWS below and d9's
#: broadcast→shuffle verify crossover. The bound arrives two ways: callers
#: pass ``small_hint_rows`` from parquet-footer/catalog stats (the geo1
#: probe discipline — e.g. a customer-grain aggregate is bounded by the
#: customer table's footer row count), and the cut-sample job detects
#: UNDERFLOW for free (it collects ≤ SAMPLE_PER_BUCKET×k rows; returning
#: fewer proves the frame is exactly that small — e.g. ta_zipf's 31-word
#: vocabulary). Both tests go through :func:`io.fits`. Both paths compute
#: identical values: the bounded sweep is the same row_number/prefix-sum
#: algebra over the same total order.
TOTAL_ORDER_SMALL_ROWS = 250_000

OrderSpec = Sequence[str | tuple[str, str]]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def bounded_window(*order: Column | str, anchor: Column | str) -> WindowSpec:
    """WindowSpec for an audited BOUNDED frame (see module docstring).

    ``anchor`` is any column available to the window (used only to build a
    non-foldable constant partition key). With no ``order`` columns the
    spec is partition-only (whole-frame aggregates)."""
    a = _col(anchor)
    key = F.coalesce(F.length(a.cast("string")), F.lit(0)) % 1
    spec = W.partitionBy(key)
    if order:
        spec = spec.orderBy(*[_col(c) for c in order])
    return spec


def _ceil_div(a: Column, b: Column) -> Column:
    """ceil(a / b) for positive integral columns, in exact integer ops."""
    num = a + b - 1
    return ((num - (num % b)) / b).cast("bigint")


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact SQL NTILE(k) from a 1-based exact rank and the frame size n.

    Standard semantics (Spark and DuckDB agree): with q = n div k and
    r = n mod k, the first r tiles hold q+1 rows, the rest q. Pure integer
    arithmetic — property-tested against ``F.ntile``."""
    nn = n.cast("bigint")
    rk = rank.cast("bigint")
    q = ((nn - (nn % k)) / k).cast("bigint")
    r = nn % k
    boundary = (q + 1) * r
    in_first = _ceil_div(rk, q + 1)
    # Guarded divisor: when n < k, q == 0 and every row has rk <= boundary,
    # so the otherwise-branch value is unused — but ANSI mode (or any
    # refactor that evaluates both branches) must never see a divide-by-zero.
    in_rest = r + _ceil_div(rk - boundary, F.greatest(q, F.lit(1)))
    return F.when(rk <= boundary, in_first).otherwise(in_rest).cast("int")


def _total_order_bounded(
    df: DataFrame,
    info: Sequence[tuple[str, str]],
    part: Sequence[str],
    rank_col: str | None,
    cum: Mapping[str, str],
    totals: Mapping[str, str],
    n_col: str | None,
) -> DataFrame:
    """Small-frame twin of :func:`total_order`: the same rank / inclusive
    prefix-sum / whole-frame algebra over the same total order, as plain
    window expressions over the audited :func:`bounded_window` (or the
    caller's ``part_cols``). One exchange, zero build-time jobs. Only
    reached when the frame is proven ≤ TOTAL_ORDER_SMALL_ROWS."""
    anchor = info[0][0]
    if part:
        whole: WindowSpec = W.partitionBy(*part)
        ow = whole.orderBy(*_order_exprs(info))
    else:
        whole = bounded_window(anchor=anchor)
        ow = bounded_window(*_order_exprs(info), anchor=anchor)
    ocw = ow.rowsBetween(W.unboundedPreceding, W.currentRow)
    cols = [F.col(c) for c in df.columns]
    if rank_col:
        cols.append(F.row_number().over(ow).cast("bigint").alias(rank_col))
    for out, src in cum.items():
        cols.append(F.sum(F.col(src)).over(ocw).alias(out))
    for out, src in totals.items():
        cols.append(F.sum(F.col(src)).over(whole).alias(out))
    if n_col:
        cols.append(F.count(F.lit(1)).over(whole).cast("bigint").alias(n_col))
    return df.select(*cols)


def _multi_ntile_bounded(
    df: DataFrame,
    specs: Sequence[tuple[OrderSpec, int, str]],
    infos: Sequence[Sequence[tuple[str, str]]],
) -> DataFrame:
    """Small-frame twin of :func:`multi_ntile_exact`: exact NTILE(k) per
    metric as ``ntile_from_rank(row_number, n, k)`` over the audited
    :func:`bounded_window`. All metrics share one single-partition exchange
    (same anchored key); each metric adds one in-partition sort. Zero
    build-time jobs. Identical tiles by construction — ntile_from_rank is
    the property-tested standard-semantics NTILE."""
    anchor = infos[0][0][0]
    whole = bounded_window(anchor=anchor)
    n = F.count(F.lit(1)).over(whole)
    cols = [F.col(c) for c in df.columns]
    for (_, k_tiles, tile_col), info in zip(specs, infos):
        rn = F.row_number().over(
            bounded_window(*_order_exprs(info), anchor=anchor)
        )
        cols.append(ntile_from_rank(rn, n, k_tiles).alias(tile_col))
    return df.select(*cols)


def multi_ntile_exact(
    df: DataFrame,
    specs: Sequence[tuple[OrderSpec, int, str]],
    *,
    num_partitions: int | None = None,
    small_hint_rows: int | None = None,
) -> DataFrame:
    """Attach exact ``NTILE(k)`` columns over one or more total orders
    WITHOUT ranking any row — the boundary-selection plan:

    1. exact per-(metric, bucket) counts for ALL metrics in ONE map-side-
       combined aggregate (each row contributes one tiny (metric, bucket)
       struct per metric — the shuffle is ≤ metrics×k rows, never the
       data);
    2. each metric's ``k_tiles-1`` global boundary POSITIONS follow from
       pure integer arithmetic on its counts (standard NTILE sizes: with
       q = n div k and r = n mod k the first r tiles hold q+1 rows), and
       each position lands in exactly one bucket at a known local offset;
    3. the boundary TUPLES are selected by sorting ONLY the (≤ k_tiles-1)
       buckets that contain a boundary — a filtered window over a few
       percent of the frame per metric — and collected (bounded);
    4. every row's tile is then ``1 + #(boundaries strictly below it)`` —
       a pure projection of k_tiles-1 literal lexicographic compares per
       metric, so ALL tile columns ride one downstream pass.

    The full frame is never globally sorted and never re-shuffled. This is
    what replaced a43's three chained :func:`total_order` ranks (sf300,
    45M customers: 514 s un-pinned / 439 s with the AQE-exempt partition
    pin → the boundary plan's handful of bounded passes).

    ``specs`` is a sequence of ``(order, k_tiles, tile_col)``. Ties cannot
    straddle tiles because callers pass TOTAL orders (unique tiebreaker),
    mirroring the NTILE determinism contract of the module.

    .. note:: BUILD-TIME JOBS — the bucket-count aggregate and the
       per-metric boundary-select collects run real Spark jobs at
       DataFrame construction time (same caveat as :func:`total_order`'s
       cut sample). Callers whose input has expensive lineage should
       localCheckpoint it first so these bounded passes share one
       computation.
    """
    if not specs:
        raise ValueError("multi_ntile_exact: no specs")
    for _, k_tiles, _ in specs:
        if k_tiles < 1:
            raise ValueError("k_tiles must be >= 1")
    infos = [_norm_order(order) for order, _, _ in specs]
    k = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if io.fits("multi_ntile.hint", small_hint_rows, TOTAL_ORDER_SMALL_ROWS):
        return _multi_ntile_bounded(df, specs, infos)
    orders = [order for order, _, _ in specs]
    cuts, exact_n = _multi_order_cuts_probe(df, orders, k)
    if io.fits("multi_ntile.underflow", exact_n, TOTAL_ORDER_SMALL_ROWS):
        # the sample returned the whole frame — its exact size is known
        # for free and it is small; take the bounded sweep instead of
        # the stats + per-metric boundary jobs
        return _multi_ntile_bounded(df, specs, infos)
    bkts = [_bucket_expr(c, inf) for c, inf in zip(cuts, infos)]
    # one pass, all metrics: explode to (metric, bucket) micro-structs —
    # the partial aggregate collapses them to ≤ metrics×k rows map-side
    mb = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("m"), b.alias("b"))
                for i, b in enumerate(bkts)
            ]
        )
    ).alias("mb")
    stats = (
        df.select(mb)
        .groupBy(F.col("mb.m").alias("m"), F.col("mb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias(_CNT))
        .collect()
    )
    counts: list[dict] = [{} for _ in specs]
    for row in stats:
        counts[row["m"]][row["b"]] = row[_CNT]
    n = sum(counts[0].values())

    def metric_boundaries(i: int):
        """Locate + collect metric i's boundary tuples (one bounded job)."""
        _, k_tiles, _ = specs[i]
        info = infos[i]
        q, r = divmod(n, k_tiles)
        targets = [j * q + min(j, r) for j in range(1, k_tiles)]
        ordered_bkts = sorted(counts[i])
        pairs: list[tuple[int, int]] = []
        for p in targets:
            off = 0
            for b in ordered_bkts:
                if off + counts[i][b] >= p:
                    pairs.append((b, p - off))
                    break
                off += counts[i][b]
        want = sorted({b for b, _ in pairs})
        names = [c for c, _ in info]
        lw = W.partitionBy(_BKT).orderBy(*_order_exprs(info))
        sel: Column = F.lit(False)
        for b, lp in sorted(set(pairs)):
            sel = sel | ((F.col(_BKT) == b) & (F.col(_LPOS) == lp))
        brows = (
            df.withColumn(_BKT, bkts[i])
            .filter(F.col(_BKT).isin(*want))
            .withColumn(_LPOS, F.row_number().over(lw))
            .filter(sel)
            .select(_BKT, _LPOS, *names)
            .collect()
        )
        by_pos = {
            (row[_BKT], row[_LPOS]): tuple(row[c] for c in names)
            for row in brows
        }
        return [by_pos[p] for p in pairs]

    # The per-metric boundary-select jobs are independent bounded scans —
    # submit them from threads so the scheduler overlaps them (wall = the
    # slowest job, not the sum; Spark's FIFO scheduler interleaves tasks
    # from concurrent jobs fine at these sizes).
    live = [
        i
        for i, (_, k_tiles, _) in enumerate(specs)
        if n > 0 and k_tiles > 1
    ]
    if len(live) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(live)) as pool:
            found = dict(zip(live, pool.map(metric_boundaries, live)))
    else:
        found = {i: metric_boundaries(i) for i in live}

    out = df
    for i, ((order, k_tiles, tile_col), info) in enumerate(zip(specs, infos)):
        if n == 0 or k_tiles == 1:
            out = out.withColumn(
                tile_col, (F.lit(1) if n else F.lit(None)).cast("int")
            )
            continue
        tile = F.lit(1)
        for cut in found[i]:
            tile = tile + _cut_cmp_row(cut, info, strict=True).cast("int")
        out = out.withColumn(tile_col, tile.cast("int"))
    return out


def ntile_exact(
    df: DataFrame,
    order: OrderSpec,
    k_tiles: int,
    *,
    tile_col: str,
    num_partitions: int | None = None,
    small_hint_rows: int | None = None,
) -> DataFrame:
    """Single-metric form of :func:`multi_ntile_exact`."""
    return multi_ntile_exact(
        df,
        [(order, k_tiles, tile_col)],
        num_partitions=num_partitions,
        small_hint_rows=small_hint_rows,
    )


def _norm_order(order: OrderSpec) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    for o in order:
        if isinstance(o, str):
            out.append((o, "asc"))
        else:
            name, d = o
            d = d.lower()
            if d not in ("asc", "desc"):
                raise ValueError(f"direction must be asc/desc, got {d!r}")
            out.append((name, d))
    return out


def _order_exprs(info: Sequence[tuple[str, str]]) -> list[Column]:
    return [
        F.col(n).asc() if d == "asc" else F.col(n).desc() for n, d in info
    ]


def _py_sort_key(info: Sequence[tuple[str, str]]):
    """Driver-side sort key mirroring Spark's (asc NULLS FIRST / desc
    NULLS LAST) order, for cut SELECTION only (see module docstring)."""

    class _Rev:
        # __eq__ matters, not just __lt__: Python tuple comparison consults
        # the NEXT element only when the current ones are EQUAL, so without
        # it a desc key with tied values (zipfy frequencies, repeated
        # prices) would stop the compare at the tie and never reach the
        # tiebreaker — the cut list would come out not-fully-sorted. That
        # costs tree balance / cut dedup, never rank correctness (see
        # _bucket_expr), but the sort should simply be right. NaN stays
        # NaN-ish: NaN != NaN, so ties-with-NaN don't advance to the
        # tiebreaker — same as Spark's sort treating NaN as a largest
        # value, close enough for cut SELECTION (cuts are advisory).
        __slots__ = ("v",)

        def __init__(self, v):
            self.v = v

        def __lt__(self, other):  # descending compare
            return other.v < self.v

        def __eq__(self, other):
            return self.v == other.v

    def key(row):
        ks = []
        for i, (_, d) in enumerate(info):
            v = row[i]
            if d == "asc":
                ks.append((v is not None, v if v is not None else 0))
            else:
                ks.append((v is None, _Rev(v) if v is not None else 0))
        return ks

    return key


def _cut_cmp_row(
    cut, info: Sequence[tuple[str, str]], *, strict: bool
) -> Column:
    """Literal lexicographic ``cut <= row`` (or strict ``cut < row``) under
    the window's sort order."""
    le: Column = F.lit(not strict)
    for (name, d), cv in reversed(list(zip(info, cut))):
        col = F.col(name)
        if cv is None:
            if d == "asc":  # null sorts first
                lt = col.isNotNull()
                eq = col.isNull()
            else:  # desc: null sorts last — nothing after it
                lt = F.lit(False)
                eq = col.isNull()
        else:
            lit = F.lit(cv)
            eq = col.isNotNull() & (col == lit)
            if d == "asc":
                lt = col.isNotNull() & (lit < col)
            else:
                lt = col.isNull() | (col < lit)
        le = lt | (eq & le)
    return le


def _bucket_expr(cuts, info: Sequence[tuple[str, str]]) -> Column:
    # Non-foldable zero base (anchored on the leading key) so that even a
    # cut-less single bucket keeps a real partition expression — Catalyst
    # folds a literal one away, reintroducing the single-partition warning.
    lead = F.col(info[0][0])
    base: Column = F.coalesce(F.length(lead.cast("string")), F.lit(0)) % 1

    # BINARY SEARCH over the sorted cuts, not a sum of all k-1 compares:
    # bucket id = #{cuts <= row}. CORRECTNESS does not actually require
    # the cut list to be sorted — the WHEN-tree is monotone in the
    # per-cut `cut <= row` predicate vector, so a mis-ordered cut only
    # unbalances the tree (some rows take longer paths), never changes
    # #{cuts <= row}. _cuts_from_rows sorts them (including through desc
    # ties — _Rev.__eq__) so the tree stays balanced and adjacent
    # duplicate cuts dedupe, giving the ~log2(k) evaluated
    # tuple-compares per row where the old sum form evaluated
    # all k-1. Measured at sf100 (15M customer rows, k=32): the
    # bucket-histogram pass dropped ~4x. Expression SIZE is unchanged
    # (every compare appears once in the tree) — only the evaluated path
    # shortens — so codegen behavior is no worse than the sum form.
    def tree(lo: int, hi: int) -> Column:
        # bucket index within cuts[lo:hi): lo + #{i in [lo,hi) : cut_i <= row}
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            _cut_cmp_row(cuts[mid], info, strict=False), tree(mid + 1, hi)
        ).otherwise(tree(lo, mid))

    return base + tree(0, len(cuts))


def _sample_rows(df: DataFrame, names: Sequence[str], k: int):
    """Fixed-size uniform sample of the key columns, collected to the driver.

    TakeOrderedAndProject by xxhash64 over the key columns: parallel,
    deterministic, bounded (SAMPLE_PER_BUCKET*k rows to the driver)."""
    return (
        df.select(*names)
        .orderBy(F.xxhash64(*[F.col(n) for n in names]))
        .limit(SAMPLE_PER_BUCKET * k)
        .collect()
    )


def _underflow_rows(samp, k: int) -> int | None:
    """The frame's exact row count when the bounded sample came back under
    its ``SAMPLE_PER_BUCKET×k`` limit (the TakeOrderedAndProject saw every
    row), else None."""
    return len(samp) if len(samp) < SAMPLE_PER_BUCKET * k else None


def _cuts_from_rows(samp, info: Sequence[tuple[str, str]], k: int):
    """Select k-1 order-space cut tuples from sampled rows (driver-side)."""
    if not samp:
        return []
    rows = sorted((tuple(r) for r in samp), key=_py_sort_key(info))
    cuts = []
    for j in range(1, k):
        c = rows[(j * len(rows)) // k]
        if not cuts or c != cuts[-1]:
            cuts.append(c)
    return cuts


def _collect_cuts(df: DataFrame, info: Sequence[tuple[str, str]], k: int):
    names = [n for n, _ in info]
    return _cuts_from_rows(_sample_rows(df, names, k), info, k)


def multi_order_cuts(
    df: DataFrame,
    orders: Sequence[OrderSpec],
    *,
    num_partitions: int | None = None,
) -> list[list[tuple]]:
    """Cut tuples for SEVERAL total orders over the same frame from ONE
    sample job.

    :func:`total_order` pays one bounded sample pass per invocation; a plan
    that ranks the same frame by three different keys (a43's R/F/M NTILEs)
    would pay three full input passes for what is one uniform sample. This
    helper collects a single xxhash64-ordered sample over the UNION of the
    key columns and selects each ordering's cuts from it driver-side; feed
    the results to ``total_order(..., cuts=...)``. Sample quality is
    unchanged — the hash sample is uniform in every ordering's key space."""
    k = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cuts, _ = _multi_order_cuts_probe(df, orders, k)
    return cuts


def _multi_order_cuts_probe(
    df: DataFrame, orders: Sequence[OrderSpec], k: int
) -> tuple[list[list[tuple]], int | None]:
    """:func:`multi_order_cuts` plus the free smallness probe: when the
    bounded sample comes back UNDER its limit, the frame's exact row count
    is the sample length (the TakeOrderedAndProject saw every row) —
    returned as ``exact_n`` so callers can cut over to the bounded sweep
    without any extra job. ``None`` means the frame is at least limit-sized."""
    infos = [_norm_order(o) for o in orders]
    names: list[str] = []
    for inf in infos:
        for n, _ in inf:
            if n not in names:
                names.append(n)
    samp = _sample_rows(df, names, k)
    exact_n = _underflow_rows(samp, k)
    pos = {n: i for i, n in enumerate(names)}
    out = []
    for inf in infos:
        proj = [tuple(row[pos[n]] for n, _ in inf) for row in samp]
        out.append(_cuts_from_rows(proj, inf, k))
    return out, exact_n


def total_order(
    df: DataFrame,
    order: OrderSpec,
    *,
    part_cols: Sequence[str] = (),
    rank_col: str | None = None,
    cum: Mapping[str, str] | None = None,
    totals: Mapping[str, str] | None = None,
    n_col: str | None = None,
    num_partitions: int | None = None,
    materialize: bool = False,
    cuts: Sequence[tuple] | None = None,
    pin: bool = False,
    small_hint_rows: int | None = None,
) -> DataFrame:
    """Attach exact global-order columns to ``df`` with no single-partition
    stage.

    Parameters
    ----------
    order : total-order columns — names or (name, "asc"/"desc") tuples;
        include a unique tiebreaker.
    part_cols : optional grouping columns — rank/cums restart per group
        (groups share the one shuffle; offsets are per (group, bucket)).
    rank_col : name for the 1-based exact rank (ROW_NUMBER over ``order``).
    cum : {out_name: src_col} running sums INCLUSIVE of the current row.
    totals : {out_name: src_col} whole-frame (or per-group) sums, attached
        to every row via the same tiny broadcast (replaces the
        unbounded-to-unbounded global window).
    n_col : name for the frame (or group) row count.
    num_partitions : bucket count; defaults to defaultParallelism.
    materialize : localCheckpoint the input first — set when the input has
        expensive lineage (a join/aggregate) so the sample/stats/data
        passes share one computation.
    cuts : precomputed cut tuples (from :func:`multi_order_cuts`) — skips
        this invocation's sample job entirely. Cut QUALITY only affects
        bucket balance, never rank correctness (bucket membership is decided
        by the Spark-side comparisons), so any cut list sampled from the
        same frame is valid.
    small_hint_rows : an UPPER BOUND on the input's row count from catalog
        stats (parquet footer counts — the geo1 probe discipline). At or
        below :data:`TOTAL_ORDER_SMALL_ROWS` the rank/cum/totals algebra
        runs as one audited :func:`bounded_window` sweep with ZERO
        build-time jobs (no sample, no stats pass, no broadcast join) —
        identical values, single-task execution that a ≤250k-row frame
        sorts in ~0.3 s. Independently, the cut-sample job detects
        underflow (sample smaller than its limit ⇒ the frame is exactly
        that small) and takes the same path for free — so e.g. a 31-row
        vocabulary never pays the machinery even with no hint. Ignored
        when ``pin=True`` (pin callers are by definition at fact scale).
    pin : insert an explicit ``repartition(num_partitions, bucket, part)``
        before the per-bucket window. An explicit numPartitions repartition
        is exempt from AQE coalescing — without it AQE byte-targets the
        window's hash exchange (64 MB partitions), which at skinny-row
        fact-scale collapses k buckets into a fraction of the executor
        pool and idles cores across every sequential window stage (the a43
        sf300 finding: 30 M × 40 B rows → 18 partitions on 32 cores).
        Leave off for small frames, where AQE's coalescing is the right
        call; callers should derive the decision (and ``num_partitions``)
        from footer row counts — the geo1 pattern
        (plans/geo_plans.py:129-142).

    .. note:: BUILD-TIME JOB — the cut-sample collect (and the lazy
       localCheckpoint when ``materialize=True``) runs a real Spark job at
       DataFrame *construction* time, one bounded
       ``SAMPLE_PER_BUCKET×k``-row TakeOrderedAndProject over the pruned
       key columns. Plan-only tooling (planaudit, plan-fingerprint tests)
       therefore pays one input pass per migrated query; callers that
       build plans they never execute should know they pay it too.
    """
    cum = dict(cum or {})
    totals = dict(totals or {})
    if not (rank_col or cum or totals or n_col):
        raise ValueError("total_order: nothing requested")
    info = _norm_order(order)
    k = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = list(part_cols)

    if not pin and io.fits(
        "total_order.hint", small_hint_rows, TOTAL_ORDER_SMALL_ROWS
    ):
        # stats-bounded frame: the bounded sweep needs no sample job and
        # no materialize checkpoint (it reads the input exactly once)
        return _total_order_bounded(
            df, info, part, rank_col, cum, totals, n_col
        )

    if materialize:
        df = df.localCheckpoint(eager=False)

    if cuts is None:
        names = [n for n, _ in info]
        samp = _sample_rows(df, names, k)
        if not pin and io.fits(
            "total_order.underflow", _underflow_rows(samp, k), TOTAL_ORDER_SMALL_ROWS
        ):
            # the sample returned the whole frame (see
            # _multi_order_cuts_probe): it is exactly this small, and the
            # checkpoint it just materialized feeds the bounded sweep
            return _total_order_bounded(
                df, info, part, rank_col, cum, totals, n_col
            )
        cuts = _cuts_from_rows(samp, info, k)
    tagged = df.withColumn(_BKT, _bucket_expr(cuts, info))
    if pin:
        # AQE-exempt exchange: both the window branch and the stats
        # aggregate read this one shuffle (reuse), each bucket lands whole
        # in exactly one of k partitions, and the partition count cannot be
        # byte-coalesced below the executor pool (see param doc).
        tagged = tagged.repartition(k, F.col(_BKT), *[F.col(c) for c in part])

    lw = W.partitionBy(_BKT, *part).orderBy(*_order_exprs(info))
    lcw = lw.rowsBetween(W.unboundedPreceding, W.currentRow)
    local_cols = []
    if rank_col:
        local_cols.append(F.row_number().over(lw).cast("bigint").alias(_LPOS))
    for out, src in cum.items():
        local_cols.append(F.sum(F.col(src)).over(lcw).alias(f"__to_l_{out}"))
    local = tagged.select("*", *local_cols)

    # Tiny branch: one row per (bucket, group) — num_partitions × |groups|.
    sum_srcs = sorted({*cum.values(), *totals.values()})
    aggs = [F.count(F.lit(1)).cast("bigint").alias(_CNT)]
    for src in sum_srcs:
        aggs.append(F.sum(F.col(src)).alias(f"__to_s_{src}"))
    stats = tagged.groupBy(_BKT, *part).agg(*aggs)

    if part:
        excl = (
            W.partitionBy(*part).orderBy(_BKT)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        whole = W.partitionBy(*part)
    else:
        excl = bounded_window(_BKT, anchor=_BKT).rowsBetween(
            W.unboundedPreceding, -1
        )
        whole = bounded_window(anchor=_BKT)

    off_cols = [
        F.coalesce(F.sum(_CNT).over(excl), F.lit(0)).cast("bigint").alias(_OFF)
    ]
    if n_col:
        off_cols.append(F.sum(_CNT).over(whole).cast("bigint").alias(n_col))
    for out, src in cum.items():
        off_cols.append(F.sum(f"__to_s_{src}").over(excl).alias(f"__to_o_{out}"))
    for out, src in totals.items():
        off_cols.append(F.sum(f"__to_s_{src}").over(whole).alias(out))
    offs = stats.select(_BKT, *part, *off_cols)

    joined = local.join(F.broadcast(offs), [_BKT, *part])

    out_cols = [F.col(c) for c in df.columns]
    if rank_col:
        out_cols.append((F.col(_LPOS) + F.col(_OFF)).alias(rank_col))
    for out in cum:
        out_cols.append(
            (F.col(f"__to_l_{out}") + F.coalesce(F.col(f"__to_o_{out}"), F.lit(0)))
            .alias(out)
        )
    for out in totals:
        out_cols.append(F.col(out))
    if n_col:
        out_cols.append(F.col(n_col))
    return joined.select(*out_cols)


#: below this many input rows the two-pass sampled-cut machinery costs more
#: than it saves (sample job + stats agg + broadcast join ≈ 3 extra jobs):
#: cut over to the audited single-task bounded_window sweep, which at this
#: size is one task over ≤ ~100k rows — the same count-then-branch pattern
#: as d9's broadcast→shuffle verify crossover (plans/dedup.py).
RUNNING_EXTREME_SMALL_ROWS = 100_000


def running_extreme(
    df: DataFrame,
    order: OrderSpec,
    value_col: str,
    out_col: str,
    *,
    agg: str = "max",
    num_partitions: int | None = None,
    known_count: int | None = None,
) -> DataFrame:
    """Attach the EXCLUSIVE running max/min of ``value_col`` over a total
    order — ``MAX(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING TO 1
    PRECEDING)`` — with no single-partition stage, for any distribution.

    Same two-pass structure as :func:`total_order` (sampled cuts → bucket
    projection → per-bucket window + broadcast per-bucket offsets), but the
    offset is the PREFIX EXTREME of the strictly-earlier buckets instead of
    a prefix count: a row's exclusive running extreme is
    ``extreme(prefix_extreme(previous buckets), local exclusive extreme)``.
    The first row of the whole order gets NULL, mirroring the SQL frame.

    This is the distribution-independent primitive for sweep-style
    dominance scans (2-D skylines, high-watermarks): unlike a value-banded
    prefilter, bucket boundaries come from the order-space sample, so a
    degenerate value distribution (all rows in one band) just yields evenly
    filled buckets instead of defeating the pruning. One bounded sample
    job + one hash shuffle of the payload + a k-row stats aggregate.

    Size-adaptive: one bounded ``count()`` first — at or below
    :data:`RUNNING_EXTREME_SMALL_ROWS` the whole input is one comfortable
    task, so the sweep runs as a single audited ``bounded_window`` frame
    and skips the sample/stats/broadcast jobs entirely (VERDICT r8: sky1
    paid 6.5× at sf0.1 for machinery only the deep decades need). Callers
    that already know the size pass ``known_count`` to skip the count job."""
    if agg not in ("max", "min"):
        raise ValueError(f"agg must be max/min, got {agg!r}")
    fagg = F.max if agg == "max" else F.min
    info = _norm_order(order)
    n_rows = known_count if known_count is not None else df.count()
    if io.fits("running_extreme.sweep", n_rows, RUNNING_EXTREME_SMALL_ROWS):
        anchor = info[0][0]
        sweep = bounded_window(*_order_exprs(info), anchor=anchor).rowsBetween(
            W.unboundedPreceding, -1
        )
        return df.withColumn(out_col, fagg(F.col(value_col)).over(sweep))
    k = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cuts = _collect_cuts(df, info, k)
    tagged = df.withColumn(_BKT, _bucket_expr(cuts, info))

    lw = (
        W.partitionBy(_BKT)
        .orderBy(*_order_exprs(info))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = tagged.withColumn("__re_local", fagg(F.col(value_col)).over(lw))

    stats = tagged.groupBy(_BKT).agg(fagg(F.col(value_col)).alias("__re_bext"))
    excl = bounded_window(_BKT, anchor=_BKT).rowsBetween(W.unboundedPreceding, -1)
    offs = stats.select(_BKT, fagg("__re_bext").over(excl).alias("__re_prev"))

    joined = local.join(F.broadcast(offs), _BKT)
    # greatest/least skip NULLs (return the extreme of the non-null args),
    # which is exactly the frame semantics: NULL only when no earlier row.
    combine = F.greatest if agg == "max" else F.least
    return joined.select(
        *[F.col(c) for c in df.columns],
        combine(F.col("__re_local"), F.col("__re_prev")).alias(out_col),
    )
