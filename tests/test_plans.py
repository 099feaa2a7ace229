"""Physical-plan regression tests: the plan SHAPE is part of the contract.

Correctness tests prove the small-SF answer; these prove the plan still
scales — a regression that doubles exchanges or un-broadcasts a dim join
passes every value check while becoming the 100 TB bottleneck, so the
plan properties themselves are pinned here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import SPARK_QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_pipeline_exchange_budget(spark, sf_dir):
    """The flagship clean->dedup->window pipeline keeps its 2-exchange
    layout (one hash exchange for the user-keyed windows reused across all
    same-key window functions, one for the day-keyed total) — the V1-style
    layout SURVEY.md section 4 prescribes over V2's exchange ping-pong."""
    df = SPARK_QUERIES["flagship_pipeline"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_star_join_broadcasts_dims(spark, sf_dir):
    """Dimension joins in the star query are broadcast — no shuffle of the
    fact side for a small-dim join at any scale."""
    plan = _plan(SPARK_QUERIES["star_join_agg"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """A filter above the scan lands in the parquet reader's PushedFilters
    (row-group/page skipping), and unreferenced columns are pruned from
    ReadSchema — both must survive any refactor of the source layer."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    li = load_testdata(spark, sf_dir, ["lineitem"])["lineitem"]
    q = li.filter(F.col("l_quantity") > 45.0).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan
    schema_part = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" not in schema_part, plan


def test_window_family_single_window_exchange(spark, sf_dir):
    """Six ranking functions over one window spec plan exactly ONE
    exchange+sort (shared Window node), not one per function."""
    plan = _plan(SPARK_QUERIES["window_ranking_family"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_semi_join_stays_semi(spark, sf_dir):
    """EXISTS-style filtering compiles to a semi join (no row explosion,
    no post-join distinct)."""
    plan = _plan(SPARK_QUERIES["semi_join_customers"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "Aggregate" not in plan.split("Semi")[0].split("\n")[0], plan


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """The correlated EXISTS (TPC-H Q4 shape) must decorrelate into a
    left-semi join with the quantity predicate pushed into the lineitem
    scan — never a per-row subquery."""
    plan = _plan(SPARK_QUERIES["exists_subquery_agg"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    pushed = plan.split("PushedFilters")
    assert any("l_quantity" in seg.split("]")[0] for seg in pushed[1:]), plan


def test_range_frame_window_single_exchange(spark, sf_dir):
    """The value-RANGE rolling frame plans one exchange on user_id shared
    by all three frame aggregates."""
    plan = _plan(SPARK_QUERIES["range_frame_window"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_gapfill_reuses_user_partitioning(spark, sf_dir):
    """Gap fill chains daily agg -> spine join -> fill window, all keyed on
    user_id: the plan must stay within a small exchange budget (daily agg
    on (user_id, day) + user-keyed spine agg/join/window), with no
    redundant re-shuffle between the join and the window."""
    plan = _plan(SPARK_QUERIES["gapfill_forward_fill"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_sampling_filter_is_scan_level(spark, sf_dir):
    """The deterministic sample predicate is a pure row expression: the
    plan is scan+filter+project only — no exchange, no aggregate, nothing
    that would turn a cheap sample into a distributed job at scale."""
    plan = _plan(SPARK_QUERIES["stratified_sample_docs"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_scalar_subquery_becomes_aggregate_join(spark, sf_dir):
    """The correlated scalar subquery (TPC-H Q17 shape) decorrelates into
    a grouped aggregate joined back on l_partkey — two aggregates and
    joins, no nested-loop subquery node."""
    plan = _plan(SPARK_QUERIES["scalar_subquery_agg"](spark, sf_dir))
    assert "HashAggregate" in plan, plan
    assert "InSubquery" not in plan and "ScalarSubquery" not in plan, plan


def test_chunking_is_narrow_no_exchange(spark, sf_dir):
    """Document chunking is a pure narrow map (sequence/transform/slice +
    posexplode): any exchange or aggregate appearing here would mean the
    corpus is being shuffled just to cut windows."""
    plan = _plan(SPARK_QUERIES["chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Join strategy is controllable per join: a merge hint forces SMJ
    where the optimizer would broadcast, and a broadcast hint forces BHJ —
    the manual override for when size estimates mislead at scale."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    t = load_testdata(spark, sf_dir, ["orders", "customer"])
    o, c = t["orders"], t["customer"]
    merged = _plan(o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"]))
    assert "SortMergeJoin" in merged, merged
    bcast = _plan(o.join(c.hint("broadcast"), o["o_custkey"] == c["c_custkey"]))
    assert "BroadcastHashJoin" in bcast, bcast


def test_tfidf_topk_uses_window_group_limit(spark, sf_dir):
    """The per-doc top-3 TF-IDF filter plans a WindowGroupLimit (k-bound
    pushed below the per-doc sort) and the corpus count joins as a
    broadcast — no full sort of the doc-term matrix."""
    plan = _plan(SPARK_QUERIES["tfidf_top_terms"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_sequence_packing_single_source_exchange(spark, sf_dir):
    """Packing's cumsum window and the seq rollup share the source-keyed
    partitioning: at most 2 hash exchanges (window on source, agg on
    (source, seq_id)), never one per stage."""
    plan = _plan(SPARK_QUERIES["sequence_packing"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_exact_embedding_kernels_have_no_driver_collect(spark, sf_dir):
    """The exact all-pairs kernels are a distributed block pair grid: the
    grid cells of both sides cogrouped into FlatMapCoGroupsInPandas.
    Building the plan must trigger NO Spark job (the old kernel eagerly
    toPandas'd the whole table to the driver at construction time), and
    the plan must contain the grid cogroup, not a nested-loop or a corpus
    broadcast."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        all_pairs_cosine_topk,
        exact_near_dup_pairs,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    emb = load_testdata(spark, sf_dir, ["embeddings"])["embeddings"]
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    topk = all_pairs_cosine_topk(emb, k=5)
    pairs = exact_near_dup_pairs(emb, threshold=0.9)
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert jobs_after == jobs_before, "plan construction ran driver-side jobs"
    for df in (topk, pairs):
        plan = _plan(df)
        assert "FlatMapCoGroupsInPandas" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_exact_grid_kernels_cogroup_one_exchange_per_side(spark, sf_dir):
    """The four exact embedding kernels share one pair grid: each side is
    repartitioned ONCE by cell id (an explicit REPARTITION_BY_NUM, exempt
    from AQE coalescing) straight into one FlatMapCoGroupsInPandas. No
    collect_list packing of blocks, and no broadcast of a side (r16's
    join grid had both, on top of the repartitions)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        all_pairs_cosine_topk,
        exact_near_dup_pairs,
        hard_negative_topk,
        knn_neighbors,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    emb = load_testdata(spark, sf_dir, ["embeddings"])["embeddings"]
    for df in (
        all_pairs_cosine_topk(emb, k=5),
        exact_near_dup_pairs(emb, threshold=0.9),
        hard_negative_topk(emb, k=3),
        knn_neighbors(emb, k=5),
    ):
        plan = _plan(df)
        assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
        grid = plan[plan.index("FlatMapCoGroupsInPandas"):]
        assert grid.count("REPARTITION_BY_NUM") == 2, plan
        assert plan.count("REPARTITION_BY_NUM") == 2, plan
        assert "BroadcastExchange" not in plan, plan
        assert "collect_list" not in plan, plan


def test_all_pairs_grid_is_equi_join(spark, sf_dir):
    """The all-pairs grid meets block rows on CELL IDS — a cogroup of
    two hash-partitioned sides, never a cartesian / broadcast
    nested-loop (the r1 scale-killer this pin keeps dead)."""
    plan = _plan(SPARK_QUERIES["embedding_topk_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_near_dup_candidate_join_shape(spark, sf_dir):
    """The LSH candidate generator (default edge source for the cluster
    pipelines) is a (band_id, band_val) equi-join: no cartesian, no
    nested loop, and no pair-grid or MapInPandas kernel in its plan.
    (That explicit sizing builds the plan with ZERO driver jobs is pinned
    deterministically by poisoning ``_corpus_stats`` in
    test_llm_ops.py::test_embedding_near_dup_explicit_sizing_runs_no_driver_job
    — a StatusTracker job-count diff here would race the async
    AppStatusListener bus and flake.)"""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    emb = load_testdata(spark, sf_dir, ["embeddings"])["embeddings"]
    sized = embedding_near_dup_pairs(emb, threshold=0.4, n_rows=500, dim=64)
    for df in (sized, embedding_near_dup_pairs(emb, threshold=0.4)):
        plan = _plan(df)
        for bad in (
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "MapInPandas",
            "FlatMapCoGroupsInPandas",
        ):
            assert bad not in plan, plan


def test_cluster_pipelines_default_to_lsh_edges(spark, sf_dir, monkeypatch):
    """dedup_canonical_docs / leakage_safe_split must never touch the
    exact O(n^2) kernel on their default path (CC localCheckpoints cut
    the lineage, so this is pinned by poisoning the kernel, not by plan
    string)."""
    import fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity as sim

    def _boom(*a, **k):
        raise AssertionError("exact O(n^2) kernel reached from default plan")

    monkeypatch.setattr(sim, "exact_near_dup_pairs", _boom)
    assert SPARK_QUERIES["dedup_canonical_docs"](spark, sf_dir).count() > 0
    assert SPARK_QUERIES["leakage_safe_split"](spark, sf_dir).count() > 0


def test_interval_coalesce_single_exchange(spark, sf_dir):
    """Interval union: both window passes (running-max span open + running
    span-id sum) and the final span aggregate ride ONE hash exchange on the
    key — the whole gaps-and-islands computation is a single shuffle at any
    corpus size."""
    plan = _plan(SPARK_QUERIES["interval_coalesce"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # key + final agg reuse


def test_scd2_single_exchange(spark, sf_dir):
    """SCD2: change-detection window and validity-chain window share one
    (key)-hash exchange + sort; run-length compression adds no shuffle."""
    plan = _plan(SPARK_QUERIES["scd2_user_history"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_constraint_report_single_scan_per_metric_block(spark, sf_dir):
    """The quality gate's scalar metrics all ride ONE fact aggregate (plus
    one anti-join branch for referential integrity): the orders scan count
    stays fixed no matter how many checks are configured, and the
    referential probe is a broadcast (never shuffled) anti join."""
    plan = _plan(SPARK_QUERIES["data_quality_report"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_snapshot_diff_is_one_join_no_explosion(spark, sf_dir):
    """Snapshot diff is exactly one full-outer join: no nested-loop, no
    cartesian, and change classification adds no extra exchange."""
    plan = _plan(SPARK_QUERIES["snapshot_diff_orders"](spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """Weighted top-k sampling never globally sorts: the plan is
    TakeOrderedAndProject (per-partition heaps + driver k-merge), and the
    score is a map-side expression (no shuffle before the take)."""
    plan = _plan(SPARK_QUERIES["weighted_sample_docs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_cross_dedup_no_corpus_self_join_shape(spark, sf_dir):
    """Incremental cross-dedup: every join is an equi-join (band buckets,
    id join-backs, status left joins) — no cartesian/nested-loop anywhere,
    which is what keeps per-ingest cost linear in the corpus."""
    plan = _plan(SPARK_QUERIES["incremental_cross_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_equidepth_rank_window_is_partitioned(spark, sf_dir):
    """The distributed global rank keeps its shape: the row_number window
    is PARTITIONED (per-range-partition), never a partition-less window
    over the full input — the single-task ntile trap this operator exists
    to avoid. The only SinglePartition work is the metadata-sized offsets
    frame."""
    plan = _plan(SPARK_QUERIES["equidepth_binning"](spark, sf_dir))
    assert "windowspecdefinition(__pid" in plan, plan
    # no window ordered directly by the data column without __pid partition
    for frag in plan.split("windowspecdefinition(")[1:]:
        head = frag.split(")")[0]
        if head.startswith("o_totalprice"):
            raise AssertionError("partition-less global window found:\n" + plan)
    # the range exchange is materialized once by global_row_number's lazy
    # localCheckpoint (pins __pid across both branches); downstream the
    # plan reads the checkpointed RDD — EXACTLY ONE range exchange may
    # appear in the whole tree, never one per branch
    assert plan.count("Exchange rangepartitioning") <= 1, plan
    assert "Scan ExistingRDD" in plan or "Exchange rangepartitioning" in plan, plan


def test_sliding_window_is_single_aggregate(spark, sf_dir):
    """Sliding windows ride the native window() generator: one hash
    exchange for the (window, type) aggregate, no join, no sort-based
    fan-out."""
    plan = _plan(SPARK_QUERIES["sliding_window_agg"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_pagerank_rounds_are_equi_joins(spark, sf_dir):
    """Every PageRank round joins ranks to the checkpointed edge list by
    key — no nested-loop/cartesian anywhere, and the edge build is cut
    from the iteration lineage by localCheckpoint (no parquet re-scan in
    the iterated plan)."""
    plan = _plan(SPARK_QUERIES["pagerank_supply_graph"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan  # iterations run off checkpoints


def test_segment_dedup_no_cartesian(spark, sf_dir):
    """Segment dedup's frequency filter is an equi-join on the segment
    key; reconstruction is one doc-keyed aggregate."""
    plan = _plan(SPARK_QUERIES["segment_dedup_reconstruct"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_span_corruption_is_narrow_map(spark, sf_dir):
    """Span-corruption pair generation is a pure narrow map: zero
    exchanges, zero Python — the whole op must stay inside one codegen'd
    projection over the scan."""
    plan = _plan(SPARK_QUERIES["span_corruption_pairs"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "mapInPandas" not in plan and "Python" not in plan, plan


def test_point_in_time_join_no_range_blowup(spark, sf_dir):
    """The PIT lookup must ride the union-sort asof plan — equi-exchange
    on the key, never a nested-loop/cartesian range join."""
    plan = _plan(SPARK_QUERIES["point_in_time_state_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_psi_drift_single_pass_agg(spark, sf_dir):
    """PSI rides conditional aggregates over ONE events pass plus tiny
    1-row broadcast totals: two hash exchanges max and never a sort-merge
    join (nothing here is big-big)."""
    plan = _plan(SPARK_QUERIES["psi_drift_report"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_triangle_count_equi_joins_only(spark, sf_dir):
    """Triangle enumeration is the canonical-edge 2-join: every join is an
    equi-join on vertex keys — a cartesian/nested-loop here would be the
    O(V^2) killer."""
    plan = _plan(SPARK_QUERIES["triangle_count_near_dup"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_containment_pairs_no_cartesian(spark, sf_dir):
    """Containment near-dup is inverted-index shaped: shingle-key
    equi-joins with df caps — no cartesian / nested-loop pairing of
    documents."""
    plan = _plan(SPARK_QUERIES["shingle_containment_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_label_noise_rides_blocked_grid(spark, sf_dir):
    """kNN label-noise runs the pair-grid FlatMapCoGroupsInPandas kernel
    (cogrouped grid cells) with the per-anchor cut as a WindowGroupLimit —
    never a cartesian pairing or a driver-side collect kernel."""
    plan = _plan(SPARK_QUERIES["knn_label_noise"](spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_robust_mad_broadcasts_fences(spark, sf_dir):
    """Median/MAD scoring broadcasts the tiny per-type fence frames back
    onto the fact scan — a sort-merge join would shuffle the whole events
    table twice for a |event_types|-row lookup."""
    plan = _plan(SPARK_QUERIES["robust_mad_scores"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_co_purchase_partial_agg_and_topk(spark, sf_dir):
    """Market-basket pairs: pair counts collapse map-side (partial+final
    HashAggregate around the exchange) and the final cut is
    TakeOrderedAndProject — no global sort, no cartesian."""
    plan = _plan(SPARK_QUERIES["co_purchase_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert "CartesianProduct" not in plan, plan


def test_transition_matrix_single_window_exchange(spark, sf_dir):
    """The Markov transition matrix plans ONE user-keyed window exchange
    (lag) plus one for the (from, to) aggregate — never a window per
    column or an extra sort."""
    plan = _plan(SPARK_QUERIES["event_transition_matrix"](spark, sf_dir))
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_cohort_retention_exchange_budget(spark, sf_dir):
    """Cohort retention: first-seen agg, cohort join-back, distinct
    (cohort, week) activity — three keyed exchanges max, no cartesian."""
    plan = _plan(SPARK_QUERIES["cohort_retention"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_resize_thumb_is_narrow_map(spark, sf_dir):
    """The thumbnail decimation is pure built-in expressions: zero
    exchanges, zero Python — whole-stage-codegen over the scan."""
    plan = _plan(SPARK_QUERIES["multimodal_resize_thumb"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "Python" not in plan, plan


def test_ivf_replay_probe_is_map_side(spark, sf_dir):
    """The oracle-attested IVF path: corpus assignment + probe filter are
    map-side JVM expressions (no Python in the corpus-wide path, no join
    for the assignment), with the only exchange being the final tiny
    ranking over probed rows."""
    plan = _plan(SPARK_QUERIES["embedding_ann_ivf"](spark, sf_dir))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sessionize_single_user_exchange(spark, sf_dir):
    """Gap sessionization: the lag window, the cumulative-sum window and
    the per-session rollup all ride ONE user-keyed hash exchange — the
    whole islands computation is a single shuffle at any corpus size."""
    plan = _plan(SPARK_QUERIES["sessionize_gap_islands"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_audio_energy_is_pure_arrow_kernel(spark, sf_dir):
    """Frame-energy extraction is one Arrow-batched kernel over the
    pruned (id, payload) projection: no exchange, no join — payload
    bytes cross to Python exactly once."""
    plan = _plan(SPARK_QUERIES["multimodal_audio_energy"](spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan


def test_funnel_stages_broadcast_back(spark, sf_dir):
    """Funnel latency chains its per-stage frames as broadcast
    join-backs onto the event scan — a sort-merge join would shuffle the
    fact table once per stage."""
    plan = _plan(SPARK_QUERIES["funnel_time_to_convert"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_registry_wide_no_cartesian_product(spark, sf_dir):
    """Structural gate over the WHOLE batch registry: no query may plan a
    CartesianProduct — the silent O(n*m) killer a refactor can introduce
    without failing any value check. (1-row broadcast BNLJs are fine and
    common; true cartesian joins are not.) Round-trip queries are skipped
    here: building their DataFrame runs sink/stream side effects, and the
    oracle sweep already executes them end-to-end."""
    from fiap_machine_learning_tech_challenge_2_etl_spark import queries_roundtrip

    rt = {
        name
        for name, fn in SPARK_QUERIES.items()
        if getattr(fn, "__module__", "") == queries_roundtrip.__name__
    }
    offenders = []
    for name, fn in SPARK_QUERIES.items():
        if name in rt:
            continue
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_theta_overlap_broadcast_equi_joins_only(spark, sf_dir):
    """The pair expansion is a relational self-join of the per-type
    sketch frame on a zero-valued NON-FOLDABLE equi-key
    (``length(event_type)*0``) with ``type_a < type_b`` as the residual
    condition — a broadcast HASH equi-join of the kilobyte sketch side,
    never a nested-loop/cartesian pair enumeration (which would also be
    wrong at a 10^4-type catalog scale) and nothing collected
    driver-side."""
    plan = _plan(SPARK_QUERIES["theta_sketch_overlap"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hll_rollup_two_level_hash_agg(spark, sf_dir):
    """Both legs of the rollup (daily partials -> union; direct sketch)
    are hash aggregates with map-side partial merge — HashAggregate with
    partial_ sketch functions present, no sort-based fallback."""
    plan = _plan(SPARK_QUERIES["hll_distinct_rollup"](spark, sf_dir))
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan, plan


def test_seasonal_decompose_exchange_budget(spark, sf_dir):
    """Per-day pre-aggregate + two window families = bounded exchanges
    (pre-agg hash, trend window sort on event_type, dow window) — the
    windows run over the ~150-row daily series, never raw events."""
    plan = _plan(SPARK_QUERIES["seasonal_decompose_daily"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_attribution_single_user_window_exchange(spark, sf_dir):
    """First/last-touch share ONE user-keyed window exchange; the final
    channel-matrix aggregate adds one more — 2 hash exchanges total."""
    plan = _plan(SPARK_QUERIES["attribution_first_last_touch"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def _logical_rdd_ids(df) -> list[int]:
    """Ids of the RDDs behind every LogicalRDD leaf (localCheckpoint scans)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    ]


def test_global_rank_cumsum_single_pinned_range_exchange(spark, sf_dir):
    """The distributed global rank/cumsum (windows.global_row_number /
    global_cumsum) runs its range exchange EXACTLY ONCE: the
    repartitionByRange frame is pinned by a lazy localCheckpoint, so in
    the SQL plan the exchange is invisible (zero `Exchange
    rangepartitioning` — it lives inside the checkpointed RDD) and BOTH
    consumers (the per-partition rank branch and the broadcast-offsets
    branch) appear as LogicalRDD scans of the SAME RDD id. A refactor
    that drops the checkpoint would resurface rangepartitioning in the
    plan (boundary sampling then re-runs per branch — the silent
    offset/rank mismatch hazard); one that checkpoints twice would show
    two distinct RDD ids. Either way this fails."""
    for name in (
        "token_budget_select",  # global_cumsum
        "equidepth_binning",  # global_row_number -> exact ntile
        "quantile_normalize_by_lang",  # global_row_number per reference frame
    ):
        df = SPARK_QUERIES[name](spark, sf_dir)
        plan = _plan(df)
        assert plan.count("Exchange rangepartitioning") == 0, (name, plan)
        ids = _logical_rdd_ids(df)
        assert len(ids) == 2, (name, ids, plan)
        assert len(set(ids)) == 1, (name, ids, plan)


def test_touched_days_rollup_pushes_ts_range_to_scan(spark, sf_dir):
    """materialized_rollup's per-batch refresh re-reads the landing dir;
    the day membership test is on to_date(ts) (derived — never prunable),
    so the operator adds a raw-ts range predicate that MUST reach the
    parquet scan's PushedFilters (footer min/max row-group skipping).
    Without it the refresh re-reads the whole table every micro-batch —
    fine at sf0.01, fatal at 100 TB."""
    import datetime

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        touched_days_rollup,
    )

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    days = [datetime.date(2024, 1, 10), datetime.date(2024, 1, 11)]
    plan = _plan(touched_days_rollup(events, days))
    pushed = plan.split("PushedFilters: [")
    assert len(pushed) > 1, plan
    filters = pushed[1].split("]")[0]
    assert "GreaterThanOrEqual(ts" in filters and "LessThan(ts" in filters, plan


def test_orc_sink_scan_prunes_partitions_and_columns(spark, sf_dir, tmp_path):
    """The ORC generalization of the partitioned sink must keep the two
    scan properties the parquet path has: a filter on the partition
    column lands in PartitionFilters (directory pruning, not a full
    read) and a narrow projection lands in ReadSchema (column pruning) —
    if either vanishes, the 'same sink contract, different format' claim
    is false at scale."""
    from pyspark.sql import functions as F

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
        write_partitioned_parquet,
    )

    orders = load_testdata(spark, sf_dir, ["orders"])["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    d = str(tmp_path / "orc_sink")
    write_partitioned_parquet(orders, d, ["o_orderstatus"], fmt="orc")
    scan = (
        spark.read.orc(d)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = _plan(scan)
    assert "FileScan orc" in plan, plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "o_orderstatus" in pf, plan
    rs = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "o_orderkey" in rs and "o_totalprice" not in rs, plan


@pytest.mark.slow
def test_catalog_scan_budgets(spark, sf_dir):
    """No registry query's executed plan re-reads its parquet sources more
    than its budget allows (tools/plan_audit.py — deliberate multi-scan
    designs carry allowlisted budgets with reasons). Guards against the
    plan-reuse pathology where a frame referenced N times re-runs its
    whole subtree N times (corpus_curation_pipeline hit 57 scans before
    this gate existed)."""
    from tools.plan_audit import run_audit

    over = run_audit(spark, sf_dir, emit=lambda *_: None)
    assert not over, over


def test_tpch_q5_plan_shape(spark, sf_dir):
    """Q5: every filter reaches its parquet scan (date range on orders,
    region name on region), and the plan carries no Python evaluation —
    the whole 6-way snowflake is JVM-side."""
    df = SPARK_QUERIES["tpch_q5_local_supplier_volume"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in plan, plan
    assert "EqualTo(r_name,ASIA)" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q10_q18_topk_is_take_ordered(spark, sf_dir):
    """Q10/Q18: the deterministic LIMIT compiles to TakeOrderedAndProject
    (per-partition top-k, only k rows move to the driver-side merge) —
    never a global Sort followed by a Limit, which at 100 TB sorts the
    full aggregate to keep 20 rows."""
    for name in ("tpch_q10_returned_items", "tpch_q18_large_volume_customer"):
        plan = _plan(SPARK_QUERIES[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, (name, plan)


def test_tpch_q18_aggregates_before_join(spark, sf_dir):
    """Q18's defining property: the quantity HAVING runs on lineitem
    ALONE before any join — the aggregate appears beneath the join in the
    physical plan, so the join probes the rare qualifying orders, not the
    raw fact. (String-order proxy: the first lineitem aggregate occurs
    before the first join node in the bottom-up plan text.)"""
    import re

    plan = _plan(SPARK_QUERIES["tpch_q18_large_volume_customer"](spark, sf_dir))
    # the lineitem-only aggregate exists, grouped by orderkey...
    assert re.search(r"HashAggregate\(keys=\[l_orderkey#\d+L\]", plan), plan
    # ...and the quantity threshold filters the AGGREGATE output (a
    # Filter over sum_qty), i.e. before the join probes it
    assert re.search(r"\(sum_qty#\d+ > 300", plan), plan


def test_binary_ingest_scans_landing_once(spark, sf_dir):
    """The binaryFile readback plan holds exactly ONE binaryFile scan and
    zero parquet scans (the parquet source was consumed by the builder) —
    decode/split/unhex are all JVM expressions, no Python eval."""
    plan = _plan(SPARK_QUERIES["binary_file_ingest_roundtrip"](spark, sf_dir))
    assert plan.count("Scan binaryFile") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_state_inspect_plan_is_state_scan(spark, sf_dir):
    """The state-store inspection query's returned frame reads the
    checkpoint's StateTable directly (distributed state scan), not a
    collected LocalRelation."""
    plan = _plan(SPARK_QUERIES["state_store_inspect_roundtrip"](spark, sf_dir))
    assert "StateScan" in plan or "StateTable" in plan, plan
    assert "LocalTableScan" not in plan, plan


def test_tpch_q13_outer_join_survives_and_double_aggregates(spark, sf_dir):
    """Q13's defining properties: (1) the LEFT OUTER join must survive
    optimization — the NOT-LIKE filter lives in the join CONDITION, so
    converting to inner would drop zero-order customers (the c_count=0
    bucket) while still passing a rows>0 smoke check; (2) the histogram
    is a TWO-level hash aggregate (per-custkey count, then count-of-counts)
    with map-side partials — the second agg's input is |customers| rows,
    its output ~50; (3) the negated pattern predicate is pushed into the
    orders parquet scan, not evaluated post-join."""
    plan = _plan(SPARK_QUERIES["tpch_q13_customer_distribution"](spark, sf_dir))
    assert "LeftOuter" in plan, plan
    assert "Inner" not in plan, plan
    import re

    assert re.search(r"HashAggregate\(keys=\[c_custkey#\d+L\]", plan), plan
    assert re.search(r"HashAggregate\(keys=\[c_count#\d+L\]", plan), plan
    assert "Not(StringContains(o_orderpriority,URGENT))" in plan, plan


def test_tpch_q21_decorrelates_to_semi_and_anti(spark, sf_dir):
    """Q21's defining property: the EXISTS and NOT EXISTS — both
    correlated on the lineitem self-join key with a suppkey inequality —
    decorrelate to a left-SEMI and a left-ANTI hash join on l_orderkey.
    No per-row subquery execution, no nested-loop/cartesian fallback
    (the non-equi suppkey term rides the hash join as its residual
    condition), and the lateness cutoff is pushed into both the outer
    and the anti-probe lineitem scans."""
    plan = _plan(SPARK_QUERIES["tpch_q21_suppliers_kept_waiting"](spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("GreaterThanOrEqual(l_shipdate,2000-01-01T00:00)") >= 2, plan


def test_tpch_q22_anti_join_and_scalar_subquery(spark, sf_dir):
    """Q22: the NOT EXISTS becomes a left-ANTI join against the
    date-filtered orders scan (pushed o_orderdate predicate), and the
    uncorrelated scalar-average subquery runs ONCE as its own tiny
    subplan (a Subquery/scalar-subquery node), never per-row."""
    plan = _plan(SPARK_QUERIES["tpch_q22_global_sales_opportunity"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "GreaterThanOrEqual(o_orderdate,2000-06-01T00:00)" in plan, plan
    assert "Subquery" in plan or "scalar-subquery" in plan, plan


def test_tpch_q6_all_predicates_reach_scan(spark, sf_dir):
    """Q6 is the pushdown benchmark: all three range predicates must land
    in the lineitem scan's PushedFilters (footer-level row-group skipping)
    and the projection must prune to the four touched columns — a scan
    reading more is wrong at any scale. maxMetadataStringLength is raised
    so the assertion sees the full filter list, not its elision."""
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    try:
        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        plan = _plan(SPARK_QUERIES["tpch_q6_forecasting_revenue"](spark, sf_dir))
    finally:
        # restore even when the conf was previously unset (engine default
        # 100) — leaking 2000 into the shared session fixture would make
        # every later plan assertion run against untruncated metadata
        spark.conf.set("spark.sql.maxMetadataStringLength", prev or "100")
    for pushed in (
        "GreaterThanOrEqual(l_shipdate,1997-01-01T00:00)",
        "LessThan(l_shipdate,1998-01-01T00:00)",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, (pushed, plan)
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in plan
    ), plan


def test_tpch_q15_single_fact_scan(spark, sf_dir):
    """Q15's defining trap: the revenue view consumed twice (totals +
    global max). The naive two-branch plan scans lineitem TWICE (measured:
    exchange reuse does not unify the branches); the shipped formulation
    computes the max as a global window over the aggregated frame —
    exactly ONE lineitem FileScan, with the second pass over dim-scale
    data."""
    plan = _plan(SPARK_QUERIES["tpch_q15_top_supplier"](spark, sf_dir))
    import re

    li_scans = re.findall(r"FileScan parquet \[[^\]]*l_suppkey", plan)
    assert len(li_scans) == 1, plan


def test_tpch_q16_not_in_is_null_aware_anti_join(spark, sf_dir):
    """Q16's NOT IN must compile to the NULL-AWARE anti join (the trailing
    'true' flag on the LeftAnti hash join) — a plain anti join has
    different three-valued-logic semantics and silently diverges the
    moment the subquery produces a NULL."""
    plan = _plan(SPARK_QUERIES["tpch_q16_supplier_relationship"](spark, sf_dir))
    import re

    assert re.search(r"LeftAnti, BuildRight, true", plan), plan


def test_tpch_q20_nested_in_decorrelates_to_semi_joins(spark, sf_dir):
    """Q20's nested IN + correlated-scalar HAVING must fully decorrelate:
    three semi joins (part IN-list, supplier IN, plus the rewritten
    correlated aggregate's join), zero cartesian/nested-loop fallback."""
    plan = _plan(SPARK_QUERIES["tpch_q20_potential_part_promotion"](spark, sf_dir))
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q19_single_side_implications_pushed(spark, sf_dir):
    """Q19's whole point: though the OR spans both join sides, the
    single-side implications must reach BOTH scans — the quantity range
    union on the lineitem scan, the brand(+size) union on the part scan.
    Lose either pushdown and 100 TB of fact joins unfiltered."""
    plan = _plan(SPARK_QUERIES["tpch_q19_disjunctive_predicate"](spark, sf_dir))
    import re

    li_scan = re.search(r"FileScan parquet \[l_partkey[^\n]*", plan).group(0)
    p_scan = re.search(r"FileScan parquet \[p_partkey[^\n]*", plan).group(0)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in li_scan, li_scan
    assert "EqualTo(p_brand,Brand#9)" in p_scan, p_scan


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """AQE skew-join (on by default in get_session): a shuffle join whose
    left side is 90%-one-key produces one enormous shuffle partition;
    OptimizeSkewedJoin must SPLIT it at runtime — the executed join node
    carries the skew=true marker. At 100 TB the default thresholds
    (256 MB / 5x median) engage on real skew; at bench SF they are
    lowered to observe the same re-plan.

    Two structural preconditions, found empirically and worth knowing at
    100 TB — either one silently disables the split:
    - the skewed exchange needs MULTIPLE MAPPERS (the split unit is one
      mapper's output range for the hot reduce partition; a single-file
      scan = one map task = nothing to split — hence repartition(16));
    - the downstream aggregate must NOT group on the join key (the rule
      refuses to break output partitioning a same-key consumer would
      reuse — grouping on the dim attribute keeps it eligible).
    operators/joins.py salted_join covers the cases AQE cannot touch
    (stream-static joins, salt-carrying downstream aggregates)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        ev = load_testdata(spark, sf_dir, ["events"])["events"].repartition(16)
        hot = F.when(F.col("user_id") % 10 < 9, F.lit(-1).cast("long")).otherwise(
            F.col("user_id")
        )
        fact = ev.select(hot.alias("k"), "value")
        dim = (
            ev.select(hot.alias("k"))
            .distinct()
            .withColumn("attr", F.col("k") * 2)
            .localCheckpoint()
        )
        j = (
            fact.join(dim, on="k")
            .groupBy("attr")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        )
        j.collect()  # AQE re-plans at runtime — inspect the FINAL plan
        plan = _plan(j)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """Runtime bloom-filter join pruning (InjectRuntimeFilter): on a
    shuffle join with a selective creation side, Spark builds a bloom
    filter from the filtered dim keys and applies might_contain on the
    fact scan side — rows that cannot match are dropped BEFORE the
    shuffle. At 100 TB this engages out of the box (the application side
    clears the default 10 GB scan threshold); at bench SF the thresholds
    are lowered to observe the same plan."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = load_testdata(spark, sf_dir, ["lineitem", "orders"])
        li, o = t["lineitem"], t["orders"]
        sel = o.filter(F.col("o_totalprice") > 400000.0)
        j = li.join(sel, li["l_orderkey"] == sel["o_orderkey"]).groupBy(
            "o_orderstatus"
        ).count()
        plan = _plan(j)
        assert "might_contain" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spread_repartitions_coalesce_lineage(spark):
    """``spread()`` skips only when an upstream round-robin or hash
    repartition already fans the lineage out. ``coalesce(64)`` prints as
    ``Repartition 64, false`` and never adds partitions, so it must not
    count: the stage after it would stay as narrow as its input."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.util import spread

    target = spark.sparkContext.defaultParallelism
    wide = max(64, target)
    fanned = spark.range(100).repartition(wide)
    assert spread(fanned) is fanned
    coalesced = spark.range(100).coalesce(wide)
    out = spread(coalesced)
    assert out is not coalesced
    tree = out._jdf.queryExecution().logical().treeString()
    assert tree.startswith(f"Repartition {target}, true"), tree


def test_spread_ignores_fan_out_below_a_coalesce(spark):
    """A wide repartition BELOW a later ``coalesce(1)`` does not fan the
    frame out: the stage after the coalesce runs as one task, so
    ``spread()`` must still repartition to the default parallelism."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.util import spread

    target = spark.sparkContext.defaultParallelism
    narrowed = spark.range(1000).repartition(max(64, target)).coalesce(1)
    out = spread(narrowed)
    assert out.rdd.getNumPartitions() == target
    # a narrower repartition above a wide one decides the same way
    shrunk = spark.range(1000).repartition(max(64, target)).repartition(1)
    assert spread(shrunk).rdd.getNumPartitions() == target
    # a fan-out above the coalesce still counts
    refanned = narrowed.repartition(target)
    assert spread(refanned) is refanned
