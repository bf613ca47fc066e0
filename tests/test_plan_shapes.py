"""Plan-shape regression gate (see tools/planaudit.py for the full-catalog
run): representative queries must stay free of row-at-a-time Python UDFs
and non-broadcast cartesian products, and keep their scans column-pruned."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from planaudit import SF_DIR, audit_one, plan_string  # noqa: E402

from nba_data_pipeline_spark.plans.registry import load_all

REPRESENTATIVE = [
    "flagship_hitrate_last10",   # joins + windows composite
    "j6_customer_revenue_topk",  # fact-fact join + top-k
    "d5_minhash_lsh_pairs",      # banded LSH self-join
    "d5_embedding_cosine_neardup",  # distributed BLAS miner
    "sim_ivf_batch_topk",        # cell-probed ANN
    "ta_language_id",            # Arrow pandas_udf lane
    "mm_decode_features",        # mapInPandas lane
    "w6_sessionize",             # stacked windows
]


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_plan_is_clean(spark, name):
    df = load_all()[name].fn(spark, SF_DIR)
    assert audit_one(name, df) == []


# The 11 catalog entries deferred from the r4 driver-rotation prefix
# (plans/registry.py R4 DEFERRED note): each family has driver-green
# relatives, and until their r5 rotation slot comes up every one must hold
# a structural assertion beyond the local oracle — plan-clean under
# planaudit's three rules (no row UDFs, no cartesian products, pruned
# scans) PLUS a physical-plan fingerprint naming the operator that carries
# its semantics.
DEFERRED_FINGERPRINTS = {
    "a21_bitmap_rollup_reuse": "HashAggregate",     # bitmap merge rollup
    "ta_contamination_overlap": "Join",             # eval-shingle overlap join
    # the sim_* lanes are fully JVM-native (HOF dot products — no Arrow
    # lane at all); the negative half of that claim is asserted for all
    # entries below.
    "sim_random_projection": "Project",             # native JL projection
    "sim_matryoshka_prefix_eval": "WindowGroupLimit",  # top-k pushdown
    "sim_centroid_classifier_eval": "HashAggregate",   # centroid argmax agg
    "sim_pq_recall_eval": "WindowGroupLimit",       # ADC top-k pushdown
    "a26_histogram_quantile_rollup": "HashAggregate",  # mergeable bins
    "a28_running_distinct": "Window",               # running distinct window
    "a29_gini_concentration": "Window",             # rank-weighted sum
    "a30_markov_transitions": "Window",             # lead/lag transition pairs
    "a31_ab_proportion_ztest": "HashAggregate",     # variant aggregation
}


@pytest.mark.parametrize("name", sorted(DEFERRED_FINGERPRINTS))
def test_deferred_entry_plan_fingerprint(spark, name):
    df = load_all()[name].fn(spark, SF_DIR)
    assert audit_one(name, df) == []
    phys = plan_string(df).split("== Physical Plan ==")[-1]
    assert DEFERRED_FINGERPRINTS[name] in phys, phys[:2000]
    if name.startswith("sim_"):
        # the similarity lanes' scale claim: scoring stays inside
        # whole-stage codegen, no Python evaluation anywhere
        assert "ArrowEvalPython" not in phys and "BatchEvalPython" not in phys


# Every catalog entry whose plan reaches operators/textops' shingling or
# winnowing, directly or through dedup.shingle_sets / hashed_shingle_sets
# / cc_edges. Both are Catalyst expressions, so none of these plans holds
# a Python evaluation node. (d5_cc_clusters, d5_cc_clusters_multipart and
# d11_survivor_selection keep their mapInPandas DSU closure, a MapInPandas
# node this guard does not look for.)
SHINGLE_ENTRIES = [
    "d5_ngram_jaccard_topk",
    "d5_minhash_lsh_pairs",
    "d5_cc_clusters",
    "d5_cc_clusters_multipart",
    "d8_crossdoc_ngram_coverage",
    "d9_prefix_filter_join",
    "d10_lsh_recall_eval",
    "d11_survivor_selection",
    "ta_decontaminate",
    "ta_contamination_overlap",
    "ta_winnow_fingerprint",
    "s11_stream_incremental_minhash",
]


def _sql_execution_plans(spark, after_id: int) -> list[tuple[int, str]]:
    """(id, physical plan) of every SQL execution with id > ``after_id``,
    read from the session's SQL status store once the listener bus has
    delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > after_id:
            out.append((e.executionId(), e.physicalPlanDescription()))
    return out


@pytest.mark.parametrize("name", SHINGLE_ENTRIES)
def test_shingle_entries_have_no_python_eval(spark, name):
    """The returned plan, and every plan executed while building the entry
    (s11's foreachBatch drain, any eager action), is free of
    ArrowEvalPython and BatchEvalPython."""
    last = max((i for i, _ in _sql_execution_plans(spark, -1)), default=-1)
    df = load_all()[name].fn(spark, SF_DIR)
    plans = [plan_string(df).split("== Physical Plan ==")[-1]]
    plans += [p for _, p in _sql_execution_plans(spark, last)]
    if name.startswith("s11_"):
        # the drain's batch plans are where its shingling runs
        assert any("regexp_extract_all" in p for p in plans[1:])
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p[:2000]


def test_broadcast_hints_survive_to_plan(spark):
    """j1's dim lookup must compile to a broadcast join, not a shuffle
    join — the 100 TB claim in its docstring depends on it."""
    df = load_all()["j1_dim_enrichment"].fn(spark, SF_DIR)
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_bucketed_join_has_no_shuffle_below_join(spark):
    """j10's contract: the bucket layout makes the join itself shuffle-free
    — every Exchange in the plan must sit ABOVE the SortMergeJoin."""
    df = load_all()["j10_bucketed_join"].fn(spark, SF_DIR)
    plan = plan_string(df)
    phys = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in phys
    join_pos = phys.index("SortMergeJoin")
    below = phys[join_pos:]
    # tree prints top-down: text after the join node is its input subtree
    assert "Exchange" not in below


def test_flagship_bucketed_window_is_exchange_free(spark):
    """flagship_hitrate_bucketed's contract: over the suppkey-bucketed
    staging layout, the per-supplier rolling window — the one fact-scale
    shuffle of the plain flagship, and its sf300 single-box wall — runs
    with NO Exchange between the layout scan and the Window (in-partition
    sort only). The shuffles that remain sit above supplier grain."""
    df = load_all()["flagship_hitrate_bucketed"].fn(spark, SF_DIR)
    plan = plan_string(df)
    phys = plan.split("== Physical Plan ==")[-1]
    # the DEEPEST Window node is the rolling frame over the staged layout;
    # the path from it down to the bucketed FileScan must be exchange-free
    # (text after the scan belongs to sibling branches — the supplier
    # broadcast — so the slice stops at the layout scan line)
    win_pos = phys.rindex("Window")
    scan_pos = phys.index("bkt_flagship", win_pos)
    path = phys[win_pos:scan_pos]
    assert "Exchange" not in path
    assert "Bucketed: true" in phys[scan_pos : scan_pos + 400]


# The 12 r4-session additions (plans/registry.py r5-queue note): never
# driver-checked until their r5 rotation slot, so each holds the same
# structural contract — plan-clean + a fingerprint naming the node that
# carries its scale story. s13_stream_outer_join executes a streaming
# drain at build (planaudit SKIP) and is covered by tools/check.py plus
# the sentinel semantics the query itself verifies.
R4_SESSION_FINGERPRINTS = {
    "mb1_frequent_pairs": "BroadcastHashJoin",      # apriori prune broadcast
    "sky1_pareto_frontier": "Window",               # running-max sweep
    "mi1_mutual_information": "HashAggregate",      # contingency contraction
    "ta_sparse_cosine_pairs": "HashAggregate",      # pair partial dot-sums
    "ta_phrase_search": "Filter",                   # in-plan array scan
    "ta_dsir_importance": "BroadcastHashJoin",      # 256-row ratio broadcast
    "j18_interval_overlap_join": "Generate",        # week-cell explosion
    "lo4_skew_profiler": "HashAggregate",           # per-key count contraction
    "sim_hard_negatives": "BroadcastNestedLoopJoin",  # broadcast anchors
    # r11 rewrote the covered-position excision (token-grain anti-join +
    # collect_list reassembly) as native array ops over unexploded docs;
    # fingerprint the min/max-per-shingle duplicate-detection window
    "d12_dupspan_rewrite": "Window",
    # r11 pinned the Arrow codec lanes above the final sort (pinned_sort:
    # range sampling re-ran the lane); the final plan reads the pinned rows
    "mm_audio_energy": "ExistingRDD",
    "ta_bm25_search": "BroadcastHashJoin",          # 3-row df broadcast
    "ts5_time_weighted_avg": "Window",              # LOCF lead chain
    # g4's relaxation rounds are checkpointed away from the final plan
    # (lineage truncation is the point); fingerprint the presentation join
    "g4_weighted_sssp": "BroadcastHashJoin",
    "w13_sequence_pattern": "ObjectHashAggregate",  # collect_list reduce
    "dq7_join_cardinality_estimate": "HashAggregate",  # histogram contraction
    "sim_ivf_hard_negatives": "WindowGroupLimit",   # per-anchor argmax pushdown
    "ta_kneser_ney_bigram": "HashAggregate",        # mergeable count tables
    "mm_video_scene_cut": "ExistingRDD",            # pinned_sort (see above)
    "a33_share_of_parent": "Window",                # grain-contracted shares
    # ta_greedy_set_cover checkpoints each pick; r11 replaced the per-round
    # coverage-count crossJoin with the running-sum-of-gains window over
    # the 5 assembled pick rows — fingerprint that window
    "ta_greedy_set_cover": "Window",
    "ta_quantile_normalize": "BroadcastHashJoin",   # 101-row grid broadcast
    "w14_theil_sen_slope": "Window",                # bounded pair ranking
    "dq9_functional_dependencies": "HashAggregate", # per-pair group contraction
    "a34_sliding_distinct": "HashAggregate",        # grid-contracted distinct
    "ta_langid_confusion": "HashAggregate",         # langs^2 matrix contraction
    "ta_ngram_novelty": "HashAggregate",            # first-seen MIN contraction
    "ts6_linear_interp": "Window",                  # four ignore-null passes
    # MIN(line) over strings forces a sort-based aggregate
    "x28_log_template_mining": "SortAggregate",
    "dq10_mad_outliers": "BroadcastHashJoin",       # groups-row median broadcast
    "a35_topn_plus_others": "Window",               # rank + regroup
    "a36_abc_classification": "Window",             # decimal cumulative share
    "u5_snapshot_diff_report": "FullOuter",         # keyed snapshot diff
    "a37_mann_whitney_u": "Window",                 # pooled exact ranks
    "ta_nb_train_classify": "BroadcastHashJoin",    # broadcast model serving
    # g5 checkpoints each peel; fingerprint the final summary join
    "g5_kcore_peel": "BroadcastNestedLoopJoin",
    "a38_runs_test": "Window",                      # single ordered lag pass
    "ts7_autocorrelation": "HashAggregate",         # mergeable moment sums
    "ts8_cusum_changepoint": "Window",              # prefix-sum/running-min
    "a39_chi_square_independence": "HashAggregate", # contingency contraction
    "g6_degree_assortativity": "HashAggregate",     # mergeable moment sums
    "geo1_grid_distance_join": "Generate",          # 3x3 cell replication
    "mb2_sequential_patterns": "HashAggregate",     # alphabet-bounded pairs
    "w15_rolling_median": "Window",                 # bounded-frame buffer
    "ta_keyword_extract": "WindowGroupLimit",       # per-doc top-3 pushdown
    # r11 pinned the Arrow codec+hash contraction (localCheckpoint), so the
    # MapInPandas lane runs once at pin time and the final plan starts from
    # the pinned rows; fingerprint the banded Hamming self-join that remains
    "mm_image_phash": "BroadcastHashJoin",
    "src_binaryfile_roundtrip": "Project",          # codegen verify map
    "sim_alignment_uniformity": "BroadcastHashJoin",  # label-blocked pairs
    "ta_readability_forcast": "HashAggregate",      # token-grain contraction
    "a40_welch_ttest": "HashAggregate",             # mergeable moments
    "mm_audio_silence": "ExistingRDD",              # pinned_sort (see above)
    "ta_zipf_fit": "HashAggregate",                 # vocab-grain contraction
    "a41_ks_test": "Window",                        # distinct-value ECDF walk
    "g7_clustering_coefficient": "HashAggregate",   # node-grain contraction
    "ts9_seasonal_strength": "HashAggregate",       # (type,hour) contraction
    "a42_qq_deciles": "Window",                     # exact rank selection
    "geo2_density_smooth": "Generate",              # 9-offset scatter
}


@pytest.mark.parametrize("name", sorted(R4_SESSION_FINGERPRINTS))
def test_r4_session_entry_plan_fingerprint(spark, name):
    df = load_all()[name].fn(spark, SF_DIR)
    assert audit_one(name, df) == []
    phys = plan_string(df).split("== Physical Plan ==")[-1]
    assert R4_SESSION_FINGERPRINTS[name] in phys, phys[:2000]


def test_phrase_search_is_join_free(spark):
    """ta_phrase_search's scale claim: occurrences are located by an array
    scan in one pass — the plan must contain NO join at all."""
    df = load_all()["ta_phrase_search"].fn(spark, SF_DIR)
    phys = plan_string(df).split("== Physical Plan ==")[-1]
    assert "Join" not in phys


# ---------------------------------------------------------------------------
# R5: trivially-true join predicate gate (tools/planaudit.py StderrTap)
# ---------------------------------------------------------------------------


def test_stderr_tap_captures_child_process_fd2():
    """The R5 artifact is a JVM (child-process) log4j WARN on fd 2. The
    subtle property the tap relies on is that a child spawned AFTER the
    tap inherits the redirected fd — verified here with a python child
    standing in for the JVM. (A child spawned BEFORE keeps the old fd,
    which is why planaudit installs the tap before get_spark.)"""
    import subprocess
    import sys as _sys

    from tools.planaudit import R5_MARKER, StderrTap

    tap = StderrTap()
    try:
        tap.drain()
        subprocess.run(
            [_sys.executable, "-c", f"import sys; sys.stderr.write({R5_MARKER!r})"],
            check=True,
        )
        captured = tap.drain()
    finally:
        tap.close()
    assert R5_MARKER in captured


def test_ts6_join_condition_uses_distinct_attributes(spark):
    """ts6's spine⋈daily was the one trivially-true-predicate site (the
    r6 bench-tail WARN): spine derives from daily, so an equality between
    the two frames' user_id columns shared lineage. The fixed shape joins
    on renamed observation-side keys; regression = the join condition in
    the analyzed plan carries obs_user/obs_day, not a dropped predicate."""
    spec = load_all()["ts6_linear_interp"]
    df = spec.fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "obs_user" in plan and "obs_day" in plan


# ---------------------------------------------------------------------------
# Streaming-drain batch-side plan contracts (VERDICT r9 item 6): planaudit
# skips the drains by design, so the foreachBatch state transitions — plain
# DataFrame functions by construction — are asserted here with static
# frames, and s13's stream-stream join via its logical streaming plan.
# ---------------------------------------------------------------------------


def test_s9_batch_state_is_join_free_partial_agg(spark):
    """s9's per-batch merge must stay pure hash aggregation (map-side
    partial combine), never a join — O(batch + |keys|) per batch."""
    from nba_data_pipeline_spark.plans.streaming_plans import s9_batch_state

    batch = spark.createDataFrame(
        [(1, 2.0), (1, 3.0), (2, 5.0)], "user_id long, value double"
    )
    prev = s9_batch_state(batch, None)
    merged = s9_batch_state(batch, prev)
    plan = plan_string(merged)
    assert "Join" not in plan and "CartesianProduct" not in plan
    # partial + final aggregate pairs around the exchange
    assert plan.count("HashAggregate") >= 2
    got = {r["user_id"]: (r["n_events"], float(r["total_value_dec"]))
           for r in merged.collect()}
    assert got == {1: (4, 10.0), 2: (2, 10.0)}


def test_s11_batch_decisions_band_indexed_no_cartesian(spark, tmp_path):
    """s11's vs-store probe must be an equi-join on (band_idx, band_key) —
    the store consulted through its band index — and the within-batch
    check the same band-keyed self-join; no cartesian anywhere, store scan
    pruned to the index columns."""
    from nba_data_pipeline_spark.plans.streaming_plans import (
        s11_batch_decisions,
    )

    bdf = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    bands = spark.createDataFrame(
        [(1, 0, "k0"), (2, 0, "k0")], "doc_id long, band_idx int, band_key string"
    )
    store_path = str(tmp_path / "store")
    spark.createDataFrame(
        [(9, 0, "k0", "extra")],
        "doc_id long, band_idx int, band_key string, junk string",
    ).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    out = s11_batch_decisions(bdf, bands, store, arrival=0)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the probe keys reach the join
    assert "band_idx" in plan and "band_key" in plan
    # store scan pruned: the junk column never leaves the parquet reader
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "store" in ln]
    assert scan and all("junk" not in ln for ln in scan)
    rows = {r["doc_id"]: r["is_new"] for r in out.collect()}
    # doc 1 collides with the store (and doc 2 with doc 1 in-batch)
    assert rows == {1: False, 2: False}


def test_s13_stream_join_is_watermarked_time_bounded(spark, tmp_path):
    """s13's stream-stream LEFT OUTER join must carry watermarks on BOTH
    sides and a two-sided time-range condition — the prerequisites for
    state eviction; without them the join state grows without bound."""
    import datetime as dt

    land = str(tmp_path / "land")
    spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1), "click", 1.0)],
        "user_id long, ts timestamp, event_type string, value double",
    ).write.parquet(land)
    schema = spark.read.parquet(land).schema
    mk = lambda: spark.readStream.schema(schema).parquet(land)  # noqa: E731
    clicks = (
        mk()
        .filter(F.col("event_type").isin("click", "wm_sentinel"))
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        mk()
        .filter(F.col("event_type").isin("purchase", "wm_sentinel"))
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + INTERVAL 10 MINUTES"
        ),
        "leftOuter",
    )
    import re

    logical = pairs._jdf.queryExecution().analyzed().toString()
    assert logical.count("EventTimeWatermark") == 2
    assert "LeftOuter" in logical
    # lower bound: p_ts >= c_ts (attributes carry #id and watermark tags)
    assert re.search(r"p_ts#\d+(-T\d+ms)? >= c_ts#\d+", logical)
    # upper bound: the 10-minute interval survives analysis
    assert re.search(r"10.{0,12}(MINUTE|minute)", logical) or "600000" in logical
