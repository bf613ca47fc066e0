"""Distributed connected components via iterated per-partition union-find.

Each round hash-partitions the edge list, runs a path-compressing DSU
(disjoint-set union) inside each partition (``mapInPandas``, Arrow-batched
— NOT a driver collect), and contracts every edge to its endpoints' local
roots; edges whose endpoints landed in the same local component vanish, so
the graph shrinks geometrically and components that span partitions merge
in O(log P) rounds — exactly 1 round when the caller coalesces a small
near-dup subgraph to one partition. A node's final label is the
composition of its per-round root pointers, which equals the component
MINIMUM id because every local union keeps the smaller root.

This is the join-free alternative to iterative min-label propagation
(round count = cluster diameter, one shuffle join per round) and to
large-star/small-star (O(log n) rounds, two joins per round): same
fixpoint, but each round here is one Python pass over the edges plus one
contraction join, and near-dup graphs — tiny, shallow — finish in one.

Reference semantics: transitive closure over near-dup links decides the
one-survivor-per-cluster rule (the closure the reference's pairwise
de-dup scripts approximate; see SURVEY §2 D6).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nba_data_pipeline_spark import io

__all__ = ["connected_components"]


def _dsu_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One partition's union-find: stream every Arrow batch of (src, dst)
    edges into a path-compressing DSU keeping the smaller id as root, then
    emit one (node, root) row per node seen in this partition."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for s, t in zip(pdf["src"], pdf["dst"]):
            s, t = int(s), int(t)
            parent.setdefault(s, s)
            parent.setdefault(t, t)
            rs, rt = find(s), find(t)
            if rs != rt:
                parent[max(rs, rt)] = min(rs, rt)
    if parent:
        yield pd.DataFrame(
            {"node": list(parent), "root": [find(k) for k in parent]}
        )


def connected_components(
    edges: DataFrame,
    num_partitions: int = 1,
    max_rounds: int = 16,
    finish_threshold: int = 2_000_000,
    node_bound: int | None = None,
) -> DataFrame:
    """Labels every node of the undirected ``edges`` graph (columns
    ``src``, ``dst``, integral ids) with ``component_id`` = the smallest id
    reachable from it. Edges are treated as undirected — callers need NOT
    pre-symmetrize (that would double the edge rows for nothing).

    ``num_partitions`` sizes each round's DSU state: every partition holds
    its share of edges plus one dict entry per touched node, so pick
    ``|E| / edges_per_task_budget`` at cluster scale (the near-dup
    subgraph of a 100 TB corpus is ≪ the corpus but still sharded); 1 is
    right for the small-subgraph path where one task's memory holds the
    whole graph and the loop exits after a single round. ``max_rounds``
    bounds the contraction at O(log num_partitions) + diameter slack;
    hitting it raises rather than silently mislabeling.

    ``finish_threshold`` is the hybrid cutover every production CC job
    has: once a round's contracted conflict graph has at most this many
    edges it fits one task's DSU budget, so the next round runs on ONE
    partition — exact fixpoint in a single pass — instead of paying
    further O(log P) sharded rounds of scheduling for a residual graph
    that is already tiny. Size it to edges-per-task at cluster scale.

    ``node_bound``: a caller-known upper bound on the graph's node count
    (e.g. the parquet footer row count of the table the ids come from —
    the same hint discipline as ``totalorder.small_hint_rows``). When
    ``node_bound * num_partitions <= finish_threshold`` the whole
    per-partition pointer table provably fits one task, so the loop
    collapses to the TWO-LEVEL form: one sharded local-DSU pass, then one
    single-task DSU over the pointer rows *treated as edges*. A (node,
    root) pointer is an edge of the node's component, and every original
    edge (s, t) in partition p was locally merged there (root_p(s) ==
    root_p(t)), so s and t stay connected through the shared root —
    connectivity over the pointer rows equals connectivity over the
    input, and the second DSU's min-root labels are the exact component
    minima. Zero joins, zero persists, zero driver actions: the whole
    closure is one lazy lineage the caller's action materializes. Past
    the bound (or with no hint) the general contraction loop runs
    unchanged.
    """
    labels: DataFrame | None = None
    g = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    spark = edges.sparkSession
    if num_partitions == 1:
        # One partition holds the WHOLE graph, so a single DSU pass is
        # exact by construction — skip the contraction join and its
        # convergence action entirely (each is a scheduled stage that
        # costs more than the tiny graph itself on the small-subgraph
        # path this branch serves).
        # repartition, not coalesce: coalesce(1) would fold the caller's
        # upstream stage (e.g. the shingle equi-join) into one task.
        return g.repartition(1).mapInPandas(
            _dsu_partition, "node long, root long"
        ).select(
            F.col("node").alias("doc_id"), F.col("root").alias("component_id")
        )
    pointer_rows = None if node_bound is None else node_bound * num_partitions
    if io.fits("cc.two_level", pointer_rows, finish_threshold):
        # Two-level fast path (see docstring): sharded local DSU, then one
        # single-task DSU over the pointer rows as edges. repartition(1),
        # not coalesce(1): the level-2 exchange is what keeps level 1
        # running as num_partitions parallel tasks (coalesce would fold
        # them into the one finishing task).
        m = g.repartition(num_partitions, "src").mapInPandas(
            _dsu_partition, "node long, root long"
        )
        return (
            m.select(F.col("node").alias("src"), F.col("root").alias("dst"))
            .repartition(1)
            .mapInPandas(_dsu_partition, "node long, root long")
            .select(
                F.col("node").alias("doc_id"),
                F.col("root").alias("component_id"),
            )
        )
    # Caches from the PREVIOUS round must outlive the current round's label
    # materialization: this round's g is recomputed from them when persisted.
    prev_caches: list[DataFrame] = []
    cur_parts = num_partitions
    sharded_rounds = 0
    while True:
        if cur_parts == 1:
            # The finishing round: the residual conflict graph is the
            # PREVIOUS round's persisted contraction and fits one task by
            # the cutover test, so a single DSU pass over it is the exact
            # fixpoint. coalesce(1), not repartition(1): folding the read
            # of the cached blocks into one task skips a whole exchange,
            # and there is no un-materialized upstream stage left to
            # accidentally serialize (r11 — this round previously paid the
            # generic round body's repartition + two persists for frames
            # with exactly one consumer each).
            m1 = (
                g.coalesce(1)
                .mapInPandas(_dsu_partition, "node long, root long")
                .groupBy("node")
                .agg(F.min("root").alias("root"))
            )
            relabeled = (
                labels.join(m1, labels["component_id"] == m1["node"], "left")
                .select(
                    "doc_id",
                    F.coalesce("root", "component_id").alias("component_id"),
                )
                .persist()
            )
            relabeled.count()
            labels.unpersist()
            labels = relabeled
            break
        g = g.repartition(cur_parts, "src").persist()
        m = g.mapInPandas(_dsu_partition, "node long, root long").persist()
        # A node whose edges hash to several partitions gets one (node, root)
        # row PER partition. The contraction join below needs all of them
        # (the root-combinations are what carry cross-partition links into
        # the next round), but the LABEL table must stay one row per node —
        # duplicates would multiply through each round's relabel join and
        # inflate downstream per-component counts. min(root) is itself a
        # valid pointer (every root of a node lies in the node's component),
        # and any non-minimal root still has contracted edges, so it keeps
        # appearing as a node of a later round's m until the relabel walks
        # it down to the component minimum.
        m1 = m.groupBy("node").agg(F.min("root").alias("root"))
        old_labels = labels
        if labels is None:
            labels = m1.select(
                F.col("node").alias("doc_id"), F.col("root").alias("component_id")
            ).persist()
        else:
            labels = (
                old_labels.join(m1, old_labels["component_id"] == m1["node"], "left")
                .select(
                    "doc_id",
                    F.coalesce("root", "component_id").alias("component_id"),
                )
                .persist()
            )
        g_round = g
        # Contract: rewrite both endpoints to their local roots; intra-
        # component edges become self-loops and drop out, so the next
        # round's graph only carries the conflicts BETWEEN partitions.
        # (m, not the deduped m1: a node's root-combinations across
        # partitions are what link its local trees together next round.)
        g = (
            g_round.join(m.withColumnsRenamed({"node": "src", "root": "rs"}), "src")
            .join(m.withColumnsRenamed({"node": "dst", "root": "rd"}), "dst")
            .select(F.col("rs").alias("src"), F.col("rd").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .persist()
        )
        sharded_rounds += 1
        # Materialize labels FIRST: this one action computes this round's
        # g and m into their caches and pins the relabel result while they
        # are hot (without it the final collect would replay every round's
        # joins — measured ~6x slower). The contraction count then runs
        # over cached inputs and doubles as the emptiness/cutover probe.
        # (r11 note: submitting the two counts as concurrent driver-thread
        # jobs — guide §2.6 — was measured and REVERTED: before anything
        # is cached the two jobs race to compute the same un-materialized
        # upstream, and the duplicated work cost far more than the saved
        # job latency. §2.6 overlap pays off for independent lineages, not
        # for two actions over one cold cache.)
        labels.count()
        n_conflict = g.count()
        if old_labels is not None:
            old_labels.unpersist()
        for c in prev_caches:
            c.unpersist()
        prev_caches = [g_round, m, g]
        if n_conflict == 0:
            break
        if n_conflict <= finish_threshold:
            # The next iteration is the 1-partition finishing round, exact
            # by construction, so it runs OUTSIDE the max_rounds budget: a
            # graph that shrinks below the threshold on the very last
            # sharded round must still finish, not raise.
            cur_parts = 1
            continue
        if sharded_rounds >= max_rounds:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
    for c in prev_caches:
        c.unpersist()
    if labels is None:  # edgeless graph: no nodes to label
        return spark.createDataFrame([], "doc_id long, component_id long")
    return labels
