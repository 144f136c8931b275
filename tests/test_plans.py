"""Physical-plan assertions — the scale contract, machine-checked.

Correctness says *what* each query computes; these tests pin *how*:
filters reach the parquet scan, dimension joins broadcast, nothing
degrades to a cartesian product, and the fused OHLC rewrite actually
removes the window+join shuffles it claims to. A plan regression here
is a 100 TB incident that a row-count diff would never catch.
"""

from __future__ import annotations

import pytest

from crypto_lakehouse_spark import queries as qmod
from crypto_lakehouse_spark.queries.registry import REGISTRY

qmod.load_all()

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark_fn(spark, SF)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _data_exchanges(plan: str) -> int:
    """Exchange count excluding round-robin repartitions: io.load_table
    fans unsplittable single-row-group input back out with one
    RoundRobinPartitioning exchange (layout normalization, not part of
    the query's own shuffle structure — absent on splittable input)."""
    import re

    total = len(re.findall(r"\(\d+\) Exchange", plan))
    return total - plan.count("RoundRobinPartitioning(")


def test_q6_filters_reach_scan(spark):
    plan = _plan(spark, "q6_revenue_forecast")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, "shipdate lower bound not pushed"
    assert "LessThan(l_shipdate" in plan, "shipdate upper bound not pushed"
    assert "LessThan(l_quantity,24" in plan, "quantity filter not pushed"
    # Pure scan+agg: no join of any kind should appear.
    assert "Join" not in plan


def test_q6_column_pruning(spark):
    plan = _plan(spark, "q6_revenue_forecast")
    # The lineitem scan must read only the 4 referenced columns.
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no ReadSchema in plan"
    cols = {c.split(":")[0] for s in schemas for c in s.split(",") if c}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_q5_star_joins_broadcast(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4, "dimension joins should broadcast"
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fused_ohlcv_removes_shuffles(spark):
    ref = _plan(spark, "ohlcv_1m")
    fused = _plan(spark, "ohlcv_1m_fused")
    # The reference-shaped plan pays window + distinct + self-join;
    # the fused plan is a single hash aggregation over one shuffle.
    # Absolute exchange counts vary with session state (AQE reuse,
    # conf set by earlier tests); the invariant is relative.
    assert fused.count("Exchange") < ref.count("Exchange")
    assert "Join" not in fused
    # The only windows left in the fused plan are the W1 silver-dedup
    # row_number (shared by both variants); the OHLC first/last windows
    # must be gone.
    assert fused.count("Window") < ref.count("Window")


@pytest.mark.parametrize(
    "name", sorted(n for n, q in REGISTRY.items() if q.bench)
)
def test_no_cartesian_product(spark, name):
    """No declared query may fall back to an unbounded cartesian
    product. (Intentional small cross joins — LSH planes, IVF probe —
    must come out as broadcast nested-loop joins, which is what Spark
    uses when the build side is broadcast-sized.)"""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"


def test_sliding_window_uses_expand_not_join(spark):
    """Hopping windows must compile to TimeWindow Expand (2x row
    replication) + one hash aggregation — never a spine self-join."""
    plan = _plan(spark, "sliding_window_counts")
    assert "Expand" in plan
    assert "Join" not in plan


def test_doc_chunking_is_narrow(spark):
    """Context-window chunking is generate+project — map-side only.
    The only exchange allowed is the final presentation sort."""
    plan = _plan(spark, "doc_chunk_windows")
    assert "Generate" in plan, "sequence explode missing"
    assert "Join" not in plan
    assert _data_exchanges(plan) <= 1, "chunking must not shuffle data"


def test_pivot_is_single_aggregation(spark):
    """Pivot with an explicit values list = conditional aggregation:
    one aggregate (partial+final), no join, no extra distinct job."""
    plan = _plan(spark, "pivot_status_by_priority")
    assert "Join" not in plan
    assert "Expand" not in plan


def test_contamination_probe_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (deduped) benchmark shingle
    set so the corpus side streams map-side — at 100 TB the corpus
    probe must not shuffle on the n-gram key."""
    plan = _plan(spark, "contamination_4gram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_packing_is_one_window_sort_per_shard(spark):
    """Concat-and-chunk packing = one running-sum window per language
    shard + one aggregation. No join, no second window."""
    plan = _plan(spark, "pack_concat_chunks")
    assert "Join" not in plan
    import re

    windows = re.findall(r"\(\d+\) Window", plan)
    assert len(windows) == 1, f"expected exactly one Window, got {len(windows)}"


def test_mixture_resample_is_map_side(spark):
    """Hash-rate domain resampling is a pure map-side derivation +
    one aggregation: no join, no window, single shuffle for the
    groupBy plus the presentation sort."""
    plan = _plan(spark, "domain_mixture_resample")
    assert "Join" not in plan
    assert "Window" not in plan


def _executed_plan(spark, name: str) -> str:
    """Run the query and return the FINAL adaptive plan — the one AQE
    actually executed, re-planned from real shuffle stats. This is the
    honest way to assert runtime join strategy for hint-free joins
    whose static estimates are too conservative to plan broadcast."""
    df = REGISTRY[name].spark_fn(spark, SF)
    df.collect()
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_prefix_filtered_jaccard_verify_hint_free_broadcast(spark):
    """PPJoin verification is HINT-FREE: the scale-safe default is a
    doc_id-co-partitioned join, and AQE converts both arrays joins to
    broadcast at runtime from actual shuffle sizes at this scale. The
    static plan must not embed a broadcast hint (a forced broadcast of
    a |docs|-row relation is a 100 TB OOM) and must never fall back to
    a cartesian product."""
    df = REGISTRY["ngram_jaccard_prefix_filtered"].spark_fn(spark, SF)
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    static = _plan(spark, "ngram_jaccard_prefix_filtered")
    assert "CartesianProduct" not in static
    final = _executed_plan(spark, "ngram_jaccard_prefix_filtered")
    assert "isFinalPlan=true" in final
    assert final.count("BroadcastHashJoin") >= 2, (
        "AQE did not convert the hint-free arrays joins to broadcast "
        "at test scale — runtime re-plan regressed"
    )


def test_near_dup_keep_labels_join_hint_free(spark):
    """The keeper pass joins the corpus to the cluster-label table with
    NO broadcast hint (labels are one row per clustered doc — billions
    at 100 TB; a forced broadcast OOMs). AQE must still pick broadcast
    at test scale where labels are genuinely tiny."""
    df = REGISTRY["near_dup_keep"].spark_fn(spark, SF)
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    df.collect()
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    final = df._jdf.queryExecution().explainString(mode)
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final


def test_levenshtein_repartition_tracks_parallelism(spark):
    """The CPU-heavy scoring join must be spread over exactly one
    slice per core of the LIVE session — a fixed constant silently
    serializes (or over-splits) on any other cluster size."""
    plan = _plan(spark, "levenshtein_blocked_linkage")
    n = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({n})" in plan, (
        f"expected RoundRobinPartitioning({n}); repartition width must "
        "derive from defaultParallelism, not a constant"
    )


def test_lateral_topk_decorrelates_to_window(spark):
    """The correlated LATERAL ORDER BY/LIMIT subquery must
    de-correlate into a ranked-window plan, not a per-row nested
    loop (plan shows Window + filter on the rank)."""
    plan = _plan(spark, "lateral_topk_per_source")
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_join_broadcasts(spark):
    """Batch-vs-corpus hash check must resolve to broadcast hash joins
    (the batch side is small by construction), never a cartesian or
    sort-merge fallback at this scale."""
    plan = _plan(spark, "incremental_exact_dedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject
    (per-partition top-k + driver merge of k·partitions rows), never a
    global range-partitioned sort — at 100 TB a global sort shuffles
    the entire aggregate output to rank 10 rows."""
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower(), (
        "global sort planned for a LIMIT query"
    )


def test_fused_price_latest_removes_window_chains(spark):
    """The fused price_latest must aggregate candles before ranking:
    fewer window operators and fewer exchanges than the
    reference-shaped plan (which sort-windows the full table and runs
    two distinct+window+join chains)."""
    ref = _plan(spark, "price_latest")
    fused = _plan(spark, "price_latest_fused")
    assert fused.count("Window") < ref.count("Window")
    assert _data_exchanges(fused) < _data_exchanges(ref)
    assert "CartesianProduct" not in fused


def test_cc_star_round_min_is_two_level(spark):
    """The star rounds' groupBy-min must compile to partial_min
    (map-side combine) + final min — the two-level aggregation that
    makes a degree-d hub cost O(numMapTasks), not O(d), on the reduce
    side. This is the skew guarantee an explicit salt column would
    otherwise buy at the price of a second shuffle; if a plan change
    ever drops the partial, this test is the alarm. The re-attach join
    relies on AQE skew-join, asserted via conf."""
    from crypto_lakehouse_spark.queries.dedup_ops import _star_round

    edges = spark.createDataFrame([(2, 1), (3, 1), (3, 2)], "a INT, b INT")
    df = _star_round(edges, large=True)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "partial_min" in plan, "map-side combine missing from star-round min"
    assert "min(" in plan  # final level
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_int8_quantization_error_pass_is_join_free(spark):
    """The quantize+error pass must be ONE scan + explode + 64-group
    aggregation with the per-dim stats embedded as literals (collected
    64-row pass) — the paired-SQL form re-inlined the 64x explode CTE
    into 8 scans and 6 nested-loop joins (round-4 bench regression)."""
    import re

    plan = _plan(spark, "int8_quantization_error")
    assert "Join" not in plan
    # Count detail entries only — formatted explain prints each node in
    # both the tree and the details section.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, (
        "error pass must scan once"
    )
    assert "Generate" in plan  # the posexplode


def test_char_entropy_two_aggregations_no_join(spark):
    """Entropy = explode + two groupBys; there must be no join and no
    window — the per-char and per-doc aggregations are the only
    shuffles besides the presentation sort."""
    plan = _plan(spark, "doc_char_entropy")
    assert "Join" not in plan
    assert "Window" not in plan
    assert _data_exchanges(plan) <= 3


def test_bloom_contamination_probe_is_broadcast_nested_loop(spark):
    """The Bloom prefilter must reach the corpus map-side: the 1-row
    bloom word-array joins as a broadcast nested-loop (never a
    shuffle), and the exact-verify join against the benchmark shingle
    set broadcasts — the corpus side streams with zero shuffle before
    the per-doc rollup."""
    plan = _plan(spark, "contamination_bloom")
    assert "BroadcastNestedLoopJoin" in plan, "bloom row not broadcast"
    assert "CartesianProduct" not in plan
    # exact-verify join against bsh broadcasts (small benchmark set)
    assert "BroadcastHashJoin" in plan


def test_oov_vocab_probe_is_broadcast(spark):
    """The 256-row vocabulary must broadcast so the token probe is
    map-side; no sort-merge join may appear."""
    plan = _plan(spark, "tokenizer_oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_codebook_joins_broadcast(spark):
    """PQ encoding joins a 128-row codebook: every join in the ADC
    chain must be broadcast (codebook + query subvectors), never a
    shuffle join keyed on the corpus."""
    plan = _plan(spark, "pq_adc_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_candidate_probe_broadcasts(spark):
    """Phase-2 exact recount probes the corpus against the (small)
    candidate token set — it must broadcast, keeping the recount
    map-side + one bounded groupBy."""
    plan = _plan(spark, "heavy_hitters_twophase")
    assert "BroadcastHashJoin" in plan


def test_pagerank_contribution_join_shape(spark):
    """The outdeg join fans out each edge exactly once; at this scale
    both join strategies are acceptable but a cartesian product never
    is, and the nodes-count attach must be a 1-row broadcast."""
    plan = _plan(spark, "pagerank_one_iter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pit_scd2_join_no_cartesian_and_single_pass(spark):
    """The point-in-time join must stay a user-equi join with a range
    residual — never a cartesian; the tier census is one aggregation
    after it."""
    plan = _plan(spark, "pit_scd2_dimension_join")
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_dq_report_is_one_pass_per_predicate_class(spark):
    """The quality suite's row predicates must collapse into ONE
    aggregation over one scan (quality.py's design contract), plus one
    distinct pass for uniqueness — not a scan per check."""
    plan = _plan(spark, "dq_documents_report")
    # The report frame itself is a local relation (driver-assembled
    # from the two aggregation results) — the heavy lifting happened
    # in run_checks; the plan must not contain any join of repeated
    # scans.
    assert "CartesianProduct" not in plan


def test_curriculum_resample_single_global_sort(spark):
    """NTILE decile assignment is one global sort; keep/drop is a
    map-side projection — no join anywhere."""
    plan = _plan(spark, "curriculum_quality_resample")
    assert "Join" not in plan
    assert plan.count("Sort") >= 1


def test_ahash_capped_only_prunes_without_extra_joins(spark):
    """Round-7 scale path: the capped aHash plan must keep the exact
    query's topology (4 band equi-joins, no sort-merge, no window)
    while the hot-value pruning rides the scans as filters — extra
    joins or a window pre-pass would re-introduce the stage overhead
    (and at scale, the skewed shuffle) the design removes."""
    plan = _plan(spark, "multimodal_ahash_near_dup_capped_only")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan, "hot-bucket counts must not use a window"
    import re

    joins = len(re.findall(r"\(\d+\) (?:Broadcast|Shuffled)HashJoin", plan))
    assert joins == 4, f"expected exactly the 4 band joins, got {joins}"


def test_bm25_query_panel_broadcasts(spark):
    """The 9-row query relation must broadcast onto the tf postings —
    a shuffle join keyed on query terms would move the corpus to the
    queries instead of the queries to the corpus."""
    plan = _plan(spark, "bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_gopher_rules_single_narrow_pass(spark):
    """The quality gate is one projection over the corpus: no join, no
    aggregation exchange before the (report-only) global sort."""
    plan = _plan(spark, "gopher_quality_rules")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_wordpiece_recursion_is_engine_side(spark):
    """The greedy walk must execute as Spark's recursive-CTE operator
    (UnionLoop), not a driver loop, and the piece inventory join must
    broadcast (fixed-size vocabulary is the broadcast dimension)."""
    plan = _plan(spark, "wordpiece_tokenize_recursive")
    assert "UnionLoop" in plan or "CTERelation" in plan or "Recursion" in plan, (
        "recursion operator not found in plan"
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_per_query_shuffle_width_applied_and_restored(spark):
    """Registry queries size shuffle width per call (the per-job conf a
    cluster submitter would set): a WIDE_SHUFFLE query starts its
    shuffles at 256 partitions for AQE to coalesce; the next default
    query's call must restore the narrow start — no conf leakage."""
    from crypto_lakehouse_spark.queries.registry import WIDE_SHUFFLE

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    REGISTRY["ngram_jaccard_prefix_filtered"].spark_fn(spark, SF)
    assert spark.conf.get(key) == WIDE_SHUFFLE[key]
    REGISTRY["q6_revenue_forecast"].spark_fn(spark, SF)
    # Default derives from the LIVE session's parallelism, not a
    # constant — another cluster's core count must flow through.
    assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)


def test_default_shuffle_width_tracks_session_cores():
    """A 4-core session's default initial shuffle width is 4 — the
    registry default is resolved per session at call time, never a
    literal pinned to the dev box's core count."""
    from crypto_lakehouse_spark.queries.registry import (
        _default_initial_partitions,
    )

    class _Ctx:
        defaultParallelism = 4

    class _Sess:
        sparkContext = _Ctx()

    assert _default_initial_partitions(_Sess()) == "4"


def test_hashed_classifier_is_pure_map_scan(spark):
    """The fastText-shape classifier must stay a zero-shuffle scan:
    the per-token weight sum runs as a higher-order `aggregate` inside
    a Project over the parquet scan. The only exchange allowed is the
    presentation ORDER BY's range partitioning."""
    plan = _plan(spark, "hashed_classifier_score")
    assert "Join" not in plan
    assert "HashAggregate" not in plan and "ObjectHashAggregate" not in plan
    assert _data_exchanges(plan) <= 1, plan  # the ORDER BY only


def test_paragraph_dedup_skew_safe_shape(spark):
    """Paragraph dedup must use the skew-safe keep-first shape:
    MIN(composite key) GROUP BY hash (map-side combiners absorb a hot
    boilerplate paragraph) + an equi-join back (AQE skew-join can
    split it) — NEVER a row_number window partitioned on the content
    hash, which has no combiner and no skew mitigation."""
    plan = _plan(spark, "paragraph_dedup_reassemble")
    assert "Window" not in plan, "content-hash window is skew-unsafe at scale"
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2
    assert _data_exchanges(plan) <= 4, plan  # agg + join + regroup + order


def test_minhash_estimate_error_no_cartesian(spark):
    """Estimator-error measurement stays inside the LSH candidate set:
    band-key equi-joins only, never an all-pairs product; the shingle
    relation comes from the shared persisted view."""
    plan = _plan(spark, "minhash_estimate_error")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Checkpointed shingle fixture scans as a materialized RDD (it is
    # lineage-truncated, not merely persisted — see the
    # fixture_meter module docstring on the Spark 4.1 CTE/cache trap).
    assert "Scan ExistingRDD" in plan  # materialized shingles reused


def test_simhash64_banded_join_over_persisted_fps(spark):
    """The near-dup tail must read the PERSISTED fingerprint relation
    (Spark inlines deterministic CTEs — without the memo the corpus
    fold runs 4x, once per fps reference) and the candidate join must
    be a band-key equi-join, never a product. There must be no 64x
    bit explode anywhere: the vote aggregate is the 64-column wide
    SUM, so the only Generate in the whole query is the shingle
    explode inside the (cached) fingerprint build."""
    plan = _plan(spark, "simhash64_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan ExistingRDD") >= 3, "fps not materialized/reused"
    # Classify Generates by their arguments instead of a raw count:
    # formatted mode re-prints the cached fingerprint BUILD (whose
    # shingle explode is marked by concat_ws) once per distinct cached
    # subtree, and how many copies appear depends on session cache
    # state (1 in isolation, 2 after an oracle sweep warmed the
    # shingle cache). The invariants that matter: at most the two
    # 4-band explodes outside the build, and no 64x bit explode
    # anywhere (the vote aggregate is the 64-column wide SUM).
    import re

    blocks = re.split(r"\(\d+\) Generate", plan)[1:]
    args = [b.split("Arguments:", 1)[1].split("\n", 1)[0] for b in blocks]
    band_explodes = [a for a in args if "concat_ws" not in a]
    assert len(band_explodes) <= 2, plan
    assert not any("sequence(1, 64" in a for a in args), plan


def test_dim_truncation_recall_probe_bounded(spark):
    """The truncation-recall eval must broadcast the tiny probe/dims
    side against the corpus (static plan), and the final O(|Q| x k)
    recall join must come out broadcast in the executed plan (AQE
    re-plan from real sizes — both sides are probe-bounded, so a
    surviving sort-merge join would mean the corpus leaked into the
    comparison side)."""
    static = _plan(spark, "ann_dim_truncation_recall")
    assert "BroadcastNestedLoopJoin" in static  # probe x corpus
    assert "CartesianProduct" not in static
    final = _executed_plan(spark, "ann_dim_truncation_recall")
    assert "isFinalPlan=true" in final
    # The formatted output appends the pre-AQE "Initial Plan"; judge
    # only the executed section.
    executed = final.split("Initial Plan")[0]
    assert "SortMergeJoin" not in executed, "recall join not AQE-broadcast"
    assert "BroadcastHashJoin" in executed


def test_rrf_fusion_plan_shape(spark):
    """RRF hybrid: the dense leg's centroid (<= |panel| x 64 rows)
    must broadcast onto the exploded corpus vectors — shuffling the
    corpus by dimension index would move 100 TB to meet 192 rows.
    The only sort-merge join allowed is the FULL OUTER fusion of the
    two <= 10-row top-k lists (Spark cannot broadcast a full-outer),
    and nothing degrades to a cartesian product."""
    plan = _plan(spark, "rrf_hybrid_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    import re

    smj = len(re.findall(r"\(\d+\) SortMergeJoin", plan))
    assert smj <= 1, f"only the full-outer fusion may sort-merge, got {smj}"


@pytest.mark.parametrize(
    "name", ["garman_klass_vol", "rsi_cutler_14", "bollinger_pctb_20"]
)
def test_ta_indicators_stay_window_native(spark, name):
    """TA indicators must stay on the candle build's shuffle structure
    plus at most the one per-product repartition their ordered window
    genuinely needs and the presentation sort — no self-joins (SMJ=0),
    no cartesians. daily_metrics pins the candle baseline at 4
    exchanges; the indicators get 4 + 2."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert _data_exchanges(plan) <= 6, plan


@pytest.mark.parametrize("name", ["filter_agreement_audit", "filter_kappa_pairs"])
def test_filter_audit_single_scan(spark, name):
    """The filter-agreement audit derives all three quality signals in
    ONE higher-order-function projection per document — zero joins; the
    only exchanges are the tiny final aggregate(s) and presentation
    sort. At 100 TB this must stay a single map-side scan."""
    plan = _plan(spark, name)
    assert "Join" not in plan
    assert _data_exchanges(plan) <= 3, plan


def test_correlation_matrix_no_cartesian(spark):
    """The cross-asset correlation pair join is keyed on the day (equi)
    with product_a < product_b as a post-filter — never a cartesian or
    nested-loop product over the return series."""
    plan = _plan(spark, "returns_correlation_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", ["copurchase_supplier_topk", "triangle_census_copurchase"]
)
def test_copurchase_graph_no_plan_explosion(spark, name):
    """Spark inlines CTEs, so the multiply-referenced projection/
    oriented-edge relations MUST be materialized before the downstream
    joins — the naive single-statement triangle census compiled to 94
    nested broadcast-nested-loop joins. Pin: zero BNLJ/cartesians and
    the window count stays at the top-k query's own (<= 3), proving
    the wedge enumeration runs on materialized edges, not re-expanded
    subtrees."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) <= 3, name


def test_attribution_range_join_is_user_keyed(spark):
    """Multi-touch attribution must join clicks to purchases on the
    user EQUI-key with the hour bound as a post-filter — a pure
    interval/nested-loop join over the event stream would be quadratic
    in events at 100 TB."""
    plan = _plan(spark, "multi_touch_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_covariance_is_join_free_single_pass(spark):
    """The covariance sufficient statistics must come from chained
    explodes of the same array per row — zero joins, zero shuffles
    before the one combiner-absorbed aggregate (a dims-with-dims
    self-join on vec_id would shuffle the exploded corpus twice)."""
    plan = _plan(spark, "embedding_covariance_upper")
    assert "Join" not in plan
    assert _data_exchanges(plan) <= 2, plan


def test_tfidf_keywords_no_cartesian(spark):
    """TF-IDF keyword extraction: df/nn join back to tf by term with
    the 1-row doc count broadcast — no cartesian growth."""
    plan = _plan(spark, "tfidf_keywords_top3")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["updays_longest_streak", "weekday_seasonality_index"]
)
def test_batch8_series_ops_no_joins_blowup(spark, name):
    """The streak (gaps-and-islands windows) and seasonality (two
    small aggregates) queries must not degrade to products."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["benford_first_digit_audit", "winsorized_mean_value", "event_transition_matrix"],
)
def test_batch9_audits_no_blowup(spark, name):
    """Benford (9-cell aggregate + 1-row total), winsorized mean
    (per-type bounds broadcast back), and the Markov matrix (fixed
    25-cell sufficient statistic) must not degrade to products; the
    only nested-loop allowed is the 1-row total/bounds cross join."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan


def test_covariance_arrow_partial_aggregate_shape(spark):
    """The Arrow covariance twin must stay mapInPandas -> one
    2080-key aggregate: no joins, no explode, and at most the
    aggregate + presentation-sort exchanges. (38x faster than the
    SQL explode form at sf10 — 1.1 s vs 43.5 s — with bit-identical
    output; the shared oracle hash-checks both.)"""
    plan = _plan(spark, "embedding_covariance_arrow")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Generate" not in plan.split("MapInPandas")[0]
    assert _data_exchanges(plan) <= 2, plan


@pytest.mark.parametrize(
    "name", ["order_flow_imbalance", "price_impact_ols", "amihud_illiquidity"]
)
def test_microstructure_ops_no_blowup(spark, name):
    """The microstructure family stays on the trades pipeline's
    shuffle structure: group aggregates + (for the OLS) one ordered
    per-product window — no self-joins, no products."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_ks_window_is_bucket_partitioned(spark):
    """Round-10 KS rewrite: the heavy cumulative window must be
    PARTITIONED by the percentile bucket — a global ORDER BY window
    would drag the whole grid into one WindowExec partition. The only
    unpartitioned windows allowed are the two tiny ones (the 5-row
    priority ranking and the 32-row bucket-offset prefix)."""
    import re

    plan = _plan(spark, "ks_statistic_priority_pairs")
    specs = re.findall(
        r"windowspecdefinition\(([^)]*)\)", plan
    )
    assert specs, "no window in KS plan"
    bucketed = [s for s in specs if s.startswith("bkt")]
    assert bucketed, f"cumulative window not bucket-partitioned: {specs}"
    # no pair-replicated windows remain (old plan had 10 pair
    # partitions keyed on priority columns)
    assert not any(s.startswith("pa#") or s.startswith("pb#") for s in specs)


def test_triangle_census_single_close_join(spark):
    """Round-10 fix: the per-vertex triangle count uses ONE explode
    over the closed-wedge join, not a 3-way UNION that re-runs the
    join three times (Spark inlines CTEs)."""
    import re

    plan = _plan(spark, "triangle_census_copurchase")
    generates = re.findall(r"\(\d+\) Generate", plan)
    assert len(generates) == 1, plan.count("Generate")
    assert "explode(array(" in plan
    # wedge + close = exactly two self-joins of the oriented edges,
    # plus the final deg left-join: no join explosion
    joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan))
    assert joins <= 4, f"triangle census join explosion: {joins}"


def test_containment_prefix_filters_contained_side(spark):
    """containment_topk: the candidate join must read the PREFIX
    relation on one side (pos <= ... filter present) and the full
    posting list on the other; verification joins the persisted
    arrays view."""
    plan = _plan(spark, "containment_topk")
    assert "shingle_arrays_persisted" in plan or "InMemory" in plan or "Scan ExistingRDD" in plan
    # prefix filter's ceil arithmetic appears as a Filter on pos
    assert "pos" in plan


def test_weighted_sample_is_take_ordered(spark):
    """A-ES sampling must compile to TakeOrderedAndProject (per-
    partition top-k + merge), never a global Sort + Limit."""
    plan = _plan(spark, "weighted_sample_aexpj")
    assert "TakeOrderedAndProject" in plan


def test_cdc_chunking_no_joins_before_stats(spark):
    """CDC boundary generation is a narrow explode + filter; the only
    joins are the per-doc stats join at the end (no candidate
    explosion)."""
    import re

    plan = _plan(spark, "cdc_chunk_boundaries")
    joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan))
    assert joins <= 1, f"CDC plan grew unexpected joins: {joins}"
    assert "CartesianProduct" not in plan


# --- round-10 session additions ---------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "variance_ratio_daily",
        "return_acf_daily",
        "stochastic_oscillator_14",
        "cusum_mean_shift_daily",
    ],
)
def test_ta_queries_read_materialized_candles(spark, name):
    """The daily-candle consumers must read the memoized gold fixture
    (a LogicalRDD scan), NOT re-derive silver trades + the candle
    build from raw parquet — nine queries re-deriving it is nine
    bronze passes at 100 TB. The fixture shows up as 'Scan
    ExistingRDD' and the trades parquet must be absent from the
    query's own plan."""
    plan = _plan(spark, name)
    assert "ExistingRDD" in plan, f"{name} does not read the candle fixture"
    assert "trades.parquet" not in plan, f"{name} re-derives candles"


def test_mann_whitney_single_corpus_pass(spark):
    """The U statistic is computed from the MATERIALIZED (value,
    source) count grid: the corpus contributes no parquet scan to the
    query's own plan (the grid is an ExistingRDD; the two pair-side
    union branches would otherwise each re-scan documents), and the
    pair fan-out + cumulative window run on the grid (distinct-value
    sized)."""
    plan = _plan(spark, "mann_whitney_u_doc_lengths")
    assert "ExistingRDD" in plan, "grid not materialized"
    assert "Scan parquet" not in plan, "corpus re-scanned past the grid"
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["spearman_returns_corr", "kendall_tau_daily", "beta_vs_market"]
)
def test_pairwise_ta_no_blowup(spark, name):
    """Pair correlations join on the DAY (equi) with product ordering
    as a post-filter, and the market relation is day-keyed — never a
    cartesian/nested-loop product over the return series."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", ["degree_assortativity", "graph_degree_stats", "pagerank_one_iter"]
)
def test_graph_queries_read_edge_fixture(spark, name):
    """Graph queries must read the materialized edge-list fixture —
    re-deriving lineitem x orders + DISTINCT per query is the
    module's dominant cost (and at 100 TB, a full fact-join per
    algorithm)."""
    plan = _plan(spark, name)
    assert "ExistingRDD" in plan, f"{name} does not read the edge fixture"
    assert "lineitem.parquet" not in plan, f"{name} re-derives the edge list"


def test_assortativity_single_edge_join(spark):
    """Edge-sum decomposition: four of six sufficient statistics come
    straight from the degree relations; only the cross moment joins
    the edge list. Pinned via the exchange count (the join-operator
    census proved session-state-dependent under AQE): the decomposed
    plan needs <= 9 data exchanges; the regressed two-full-join form
    adds the second edge shuffle and its aggregate."""
    plan = _plan(spark, "degree_assortativity")
    assert "CartesianProduct" not in plan
    assert _data_exchanges(plan) <= 9, plan


def test_bpe_train_census_single_aggregation_no_join(spark):
    """The BPE training round's cost is ONE groupBy(pair) census with
    map-side combine over the word-type relation, argmax'd by a
    TakeOrdered (never a global sort), and the re-segmentation is a
    narrow map — no join anywhere in the loop. Pin the census plan and
    the type-census scan's column pruning (only `text` is read)."""
    from crypto_lakehouse_spark.io import register_views
    from crypto_lakehouse_spark.queries.lmdata_ops import (
        _BPE_CENSUS_SQL,
        _BPE_STATE_SQL,
    )

    register_views(spark, SF, ["documents"])
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    state = spark.sql(_BPE_STATE_SQL)
    state_plan = state._jdf.queryExecution().explainString(mode)
    assert "Join" not in state_plan
    read_schema = [
        line for line in state_plan.splitlines() if "ReadSchema" in line
    ]
    assert read_schema and "text" in read_schema[0]
    assert "doc_id" not in read_schema[0], "type census reads pruned columns"

    state.createOrReplaceTempView("bpe_state")
    census_plan = (
        spark.sql(_BPE_CENSUS_SQL)
        ._jdf.queryExecution()
        .explainString(mode)
    )
    assert "Join" not in census_plan
    assert "TakeOrderedAndProject" in census_plan, (
        "argmax must be a TakeOrdered, not a global Sort+Limit"
    )
    partials = census_plan.count("HashAggregate")
    assert partials >= 2, "pair census lost its map-side combine"


@pytest.mark.parametrize("name", ["url_canonical_dedup", "host_dup_census"])
def test_url_family_single_agg_prunes_text(spark, name):
    """The URL fixture derives everything from doc_id+source: the scan
    must NOT read `text` (the wide column), and the census is joinless
    map-side keyed aggregation."""
    plan = _plan(spark, name)
    assert "Join" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" not in read_schema[0], (
        "URL census reads the text column it never uses"
    )


@pytest.mark.parametrize("name", ["pii_regex_census", "pii_redact_stats"])
def test_pii_family_joinless_map_side(spark, name):
    plan = _plan(spark, name)
    assert "Join" not in plan
    partials = plan.count("HashAggregate")
    assert partials >= 2, "PII census lost its map-side combine"


def test_countmin_no_cartesian_and_pruned_scan(spark):
    plan = _plan(spark, "countmin_sketch_error")
    assert "CartesianProduct" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" in read_schema[0]
    assert "doc_id" not in read_schema[0], "token census reads pruned columns"


def test_jl_panel_filter_pushed(spark):
    plan = _plan(spark, "jl_projection_distortion")
    assert "PushedFilters" in plan
    assert "LessThan(vec_id,24" in plan, "panel bound not pushed to scan"


def test_contrastive_mining_no_cartesian_panel_pushed(spark):
    """Both negative-mining legs are panel x corpus joins: the panel
    bound must push to the scan and the label-inequality join must
    plan as a broadcast nested-loop over the 32-row panel, never a
    full cartesian product."""
    plan = _plan(spark, "contrastive_negatives_mine")
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan
    assert "LessThan(vec_id,32" in plan, "panel bound not pushed to scan"


def test_html_extract_joinless_map_side(spark):
    plan = _plan(spark, "html_strip_extract")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2, "census lost map-side combine"


def test_compression_bpb_joinless_pruned(spark):
    """The bpb census is JOINLESS: position explode, two doc-keyed
    aggregations with a co-partitioned window between them, one
    source census. The scan must not read `lang`/`n_chars` (unused)."""
    plan = _plan(spark, "compression_bpb_census")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2, "census lost map-side combine"
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" in read_schema[0]
    assert "lang" not in read_schema[0], "bpb census reads pruned columns"


def test_robots_gating_policy_broadcast_no_text(spark):
    """The per-host policy relation (DISTINCT hosts) must broadcast —
    the gating join is shuffle-free at corpus scale — and the corpus
    side derives everything from doc_id/source/n_chars: `text` must
    not reach the scan. The scalar total-mass join may plan as a
    1-row broadcast nested loop, never a cartesian product."""
    plan = _plan(spark, "robots_license_gating")
    assert "BroadcastHashJoin" in plan, "policy join not broadcast"
    assert "CartesianProduct" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" not in read_schema[0], (
        "gating census reads the text column it never uses"
    )


def test_doremi_no_cartesian_map_side_combine(spark):
    """DoReMi's token census keys on (source, token) with map-side
    combine; the corpus model re-aggregates that relation (no second
    token pass); scalar totals ride 1-row broadcast joins — no
    cartesian product anywhere."""
    plan = _plan(spark, "doremi_one_step")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4, "token census lost combiners"
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" in read_schema[0]
    assert "doc_id" not in read_schema[0], "doremi reads pruned columns"


def test_encoding_hygiene_joinless_map_side(spark):
    plan = _plan(spark, "encoding_hygiene_census")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2, "census lost map-side combine"
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "lang" not in read_schema[0], (
        "hygiene census reads pruned columns"
    )


def test_silhouette_centroids_broadcast_no_blowup(spark):
    """The N x k distance matrix must come from a broadcast of the
    aggregated centroid arrays — a checkpoint/aggregate-derived 1-side
    without the hint planned as a CartesianProduct whose partition
    count multiplies (the k-center incident)."""
    plan = _plan(spark, "kmeans_simplified_silhouette")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_rho_selection_no_cartesian_combiners(spark):
    plan = _plan(spark, "rho_excess_loss_selection")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4, "token censuses lost combiners"


def test_temperature_mixture_single_census(spark):
    """One map-side token census feeds the whole tau grid: no
    cartesian product, no text re-scan per temperature (exactly one
    parquet scan of documents)."""
    plan = _plan(spark, "temperature_mixture_weights")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2, "census re-scans per tau"


def test_collation_no_extra_shuffle(spark):
    """The UTF8_LCASE collated GROUP BY must cost exactly the same
    number of data exchanges as the lower()-normalized twin (the
    pre-collation workaround with identical semantics on ASCII) —
    collation changes the grouping comparator, never the plan shape.
    The twin must keep group-key != distinct-column structure: naive
    GROUP BY tok would let Catalyst constant-fold COUNT(DISTINCT tok)
    and yield a structurally simpler (unfair) plan."""
    from crypto_lakehouse_spark.io import register_views
    from crypto_lakehouse_spark.queries.text_ops import _COLLATE_SPARK

    register_views(spark, SF, ["documents"])
    collated = spark.sql(_COLLATE_SPARK)
    binary = spark.sql(
        _COLLATE_SPARK.replace("collate(tok, 'UTF8_LCASE')", "lower(tok)")
    )
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p_c = collated._jdf.queryExecution().explainString(mode)
    p_b = binary._jdf.queryExecution().explainString(mode)
    assert _data_exchanges(p_c) == _data_exchanges(p_b), (
        f"collated plan shuffles differ: {_data_exchanges(p_c)} vs "
        f"{_data_exchanges(p_b)}"
    )


def test_sequence_packing_no_global_window(spark):
    """The packing census's document offsets come from a distributed
    two-phase prefix sum — the plan must contain NO window over an
    unpartitioned global ordering except on the bucket-count-sized
    boff relation. Concretely: every Window node over the corpus-sized
    toks relation is partitioned (by bucket); a global ORDER BY window
    over toks would resurrect the single-partition bottleneck this
    operator exists to avoid."""
    plan = _plan(spark, "sequence_packing_census")
    import re

    wins = re.findall(r"Arguments: \[[^\]]*\], \[[^\]]*\], \[[^\]]*\]|partitionSpec=\[[^\]]*\]", plan)
    # Formatted plans print windowExpression/partitionSpec blocks; a
    # global window shows an EMPTY partitionSpec. Exactly ONE empty
    # partitionSpec is allowed (the |buckets|-sized boff offsets); a
    # second would be a corpus-sized global sort.
    n_windows = plan.count("Window")
    empty_parts = len(re.findall(r"partitionSpec=\[\]", plan))
    if empty_parts == 0:
        # Formatted mode prints window args differently; fall back to
        # counting "Window" operator argument lines without a
        # partition expression list.
        empty_parts = len(
            re.findall(r"Window.*\[\], \[", plan)
        )
    assert n_windows >= 2, f"expected >=2 Window nodes, plan:\n{plan[:2000]}"
    assert empty_parts <= 1, (
        f"{empty_parts} global (unpartitioned) windows — the corpus "
        "prefix sum must stay bucket-partitioned"
    )


def test_prototypicality_broadcast_assignment_no_n2(spark):
    """The Lloyd-step assignment is N x k with k=4 seed centroids: the
    cross join must broadcast the 4-row centroid side (never shuffle
    N against N), and no other cartesian appears."""
    plan = _plan(spark, "prototypicality_pruning")
    assert "CartesianProduct" not in plan or "Broadcast" in plan
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastExchange"
    ) >= 1, "centroid side must broadcast"


def test_c4_rules_single_scan_no_shuffle_before_sort(spark):
    """C4 rules are pure per-row array expressions: exactly one scan
    of documents and the only exchange is the final ORDER BY's range
    partitioning (which a real pipeline drops)."""
    plan = _plan(spark, "c4_quality_rules")
    assert plan.count("Scan parquet") + plan.count("Scan ExistingRDD") <= 2
    import re

    ex = len(re.findall(r"\(\d+\) Exchange", plan)) - plan.count(
        "RoundRobinPartitioning("
    )
    assert ex <= 1, f"expected at most the ORDER BY exchange, got {ex}"


def test_histogram_rollup_partial_aggregation(spark):
    """The daily histogram must partial-aggregate map-side
    (HashAggregate appears in partial+final pairs). The in-query
    mergeability PROOF adds a second logical consumer of the binned
    scan (direct single-level histogram) whose aggregate shape
    differs, so Catalyst cannot ReuseExchange across them — up to 4
    scans is the proof's documented cost; a production rollup drops
    the proof branch and scans once."""
    plan = _plan(spark, "histogram_quantile_rollup")
    assert plan.count("HashAggregate") >= 4  # partial+final x >=2 aggs
    assert plan.count("Scan parquet") <= 4
