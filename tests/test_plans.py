"""Physical-plan assertions — the 100 TB posture, enforced.

Correctness tests prove the operators compute the right answer at sf0.01;
these prove the PLANS are the ones we'd want at 100 TB: filters reach the
parquet scan, scans read only referenced columns, small dimensions
broadcast, version loads prune partitions, no Cartesian products hide in
the candidate-generation paths, and no row-at-a-time Python evaluation
appears outside the explicitly-UDF operators.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pandas_db_sdk_spark.corpus import all_queries

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = plan_of(queries["c09_filter"](spark, SF))
    assert "PushedFilters: [" in plan
    # at least one concrete pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no predicates pushed to parquet"


def test_column_pruning_on_projection(spark, queries):
    """A 2-column projection over lineitem (16 columns) must scan 2 columns."""
    df = queries["c05_select"](spark, SF)
    plan = plan_of(df)
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert schema.count(":") <= len(df.columns), schema


def test_broadcast_join_is_broadcast(spark, queries):
    assert "BroadcastHashJoin" in plan_of(queries["c22_broadcast_join"](spark, SF))


def test_small_dim_join_autobroadcasts(spark, queries):
    """region/nation-sized dimensions must never sort-merge against facts."""
    plan = plan_of(queries["c14_join_inner"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_groupby_has_partial_aggregation(spark, queries):
    """Map-side combine: HashAggregate appears below AND above the exchange."""
    plan = plan_of(queries["c23_groupby_agg"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_no_cartesian_in_candidate_generation(spark, queries):
    """The dedup/ANN candidate paths must be equi-joins on band/bucket keys —
    a CartesianProduct here is the O(n²) failure mode at scale."""
    for name in ("d02_minhash_lsh", "d02b_simhash", "d03b_ann_lsh"):
        plan = plan_of(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_python_eval_in_relational_core(spark, queries):
    """C5-C54 must run entirely JVM-side: no BatchEvalPython (row-wise UDF)
    and no ArrowEvalPython (pandas UDF) nodes in their plans."""
    relational = [
        n
        for n in queries
        if n.startswith("c") and not (60 <= int(n[1:3]) <= 65)
    ]  # c61–c65 are the declared UDF surface and c60's batch twin is the
    # stateful applyInPandas; every other c-query (incl. c55-59 event-time
    # and the c70+ extensions) must stay JVM-side
    for name in relational:
        plan = plan_of(queries[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_udf_surface_is_arrow_not_rowwise(spark, queries):
    """The declared UDF operators must use Arrow-vectorized evaluation
    (ArrowEvalPython / ArrowAggregatePython), never row-at-a-time pickling."""
    for name in ("c61_pandas_udf_scalar", "c63_grouped_agg_udaf"):
        plan = plan_of(queries[name](spark, SF))
        assert "ArrowEvalPython" in plan or "ArrowAggregatePython" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_version_load_prunes_partitions(spark, tmp_path):
    """Loading one version of a multi-version dataset must scan only that
    version's files (PartitionFilters on __version, pruned file count)."""
    from pandas_db_sdk_spark.engine import DataFrameEngine

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    eng.save(df, "ds", external_key="v1")
    eng.save(df, "ds", external_key="v2")
    pinned = eng.load("ds", external_key="v1", drop_internal=False)
    plan = plan_of(pinned)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "__version" in pf


def test_entry_flagship_stays_codegen(spark, queries):
    """The flagship query's agg pipeline must sit inside WholeStageCodegen
    spans (the `*(n)` markers in the executed AQE final plan)."""
    df = queries["c23_groupby_agg"](spark, SF)
    df.collect()  # AQE finalizes the plan only on execution
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan, "no whole-stage-codegen spans in final plan"


def test_scalar_subquery_decorrelates_to_broadcast(spark, queries):
    """c20b's per-nation average is tiny at any scale — it must broadcast,
    never shuffle the customer side."""
    plan = plan_of(queries["c20b_scalar_subquery"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filtered_agg_has_partial_aggregation(spark, queries):
    """Conditional aggregates must still combine map-side."""
    plan = plan_of(queries["c24b_filtered_agg"](spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_tfidf_no_mandatory_broadcast_of_vocabulary(spark, queries):
    """The TF-IDF term dictionary is unbounded at 100 TB (10^8–10^9 terms
    post-min_df), so the scoring join must NOT carry a broadcast hint — the
    strategy is left to the cost model / AQE, which degrades gracefully to a
    shuffled hash join when the vocab is big. Only the explicitly-capped
    ``max_vocab`` variant may hint."""
    from pandas_db_sdk_spark import text
    from pandas_db_sdk_spark.io import tables

    df = queries["d05_tfidf"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed, "unbounded vocab side carries a broadcast hint"

    docs = tables(spark, SF)("documents")
    capped = text.tf_idf(docs, min_df=2, max_vocab=100)
    analyzed = capped._jdf.queryExecution().analyzed().toString()
    assert "Hint" in analyzed, "capped vocab should broadcast explicitly"


def test_minhash_verify_join_has_no_broadcast_hint(spark, queries):
    """The MinHash verify join must NOT hint a broadcast of the candidate
    relation: candidate volume is data-dependent (quadratic in bucket
    size), so the strategy belongs to AQE — a mandatory broadcast is the
    driver-OOM failure mode VERDICT r2 flagged on a dup-heavy corpus."""
    analyzed = (
        all_queries()["d02_minhash_lsh"](spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "Hint" not in analyzed, "candidate relation carries a join hint"


def test_bag_setops_are_hash_joins(spark, queries):
    """EXCEPT/INTERSECT ALL must plan as hash joins/aggregates on the key
    columns — never a nested-loop."""
    for name in ("c47c_except_all", "c47d_intersect_all"):
        plan = plan_of(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_composite_queries_compose_cleanly(spark, queries):
    """TPC-H-shaped composites: selective filters must reach the scans,
    dims must broadcast, and nothing may degenerate to a nested loop."""
    for name in (
        "x01_shipping_priority",
        "x02_local_supplier_volume",
        "x03_returned_items",
        "x06_promo_revenue",
        "x07_disjunctive_revenue",
        "x08_supplier_part_counts",
    ):
        plan = plan_of(queries[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "PushedFilters: [" in plan, name
    # x05 is fact×fact (no dim side): partial+final agg, no nested loop
    plan = plan_of(queries["x05_late_shipments"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Shuffle budgets: the number of Exchange nodes each load-bearing query is
# ALLOWED — one per semantic re-key (agg, join, window), nothing incidental.
# A regression here means a new plan shuffles data it doesn't need to, which
# is exactly the failure that turns a 100 TB job from hours into days.
SHUFFLE_BUDGET = {
    "c09_filter": 0,           # scan+filter: no movement
    "c23_groupby_agg": 1,      # one re-key for the final agg (partial is map-side)
    "c25_count_distinct": 2,   # expand + final
    "c35_ranking": 1,          # one window re-key
    "c40_topk_per_group": 1,   # window re-key; limit pushed into sort
    "c41_sort": 0,             # TakeOrdered path at this shape (limit present)
    "c21_asof_join": 1,        # union trick: single re-key, no range explosion
    "c22_broadcast_join": 2,   # fact re-key for agg + broadcast exchange
    "d01_exact_dedup": 1,      # hash re-key on content hash
    "d02_minhash_lsh": 8,      # static count: the spread re-key that the
                               # persisted signature/set agg rides, printed
                               # inside each of the 4 InMemoryRelation
                               # branches (4), the candidate dedup (1), and
                               # the band self-join plus one verify join per
                               # side, broadcast at sf0.01 (3). The verify
                               # reads the persisted sets: no survivor
                               # semi-join rebuilding them per side (30
                               # while it did).
    "d05_tfidf": 7,            # term counts + df join + norm
    "d17_sequence_packing": 1, # salt re-key only
    "d18_prep_pipeline": 18,   # static count: the d02 shape plus exact
                               # dedup, survivor anti-join and the packing
                               # salt; the dedup lineage is planned once
                               # (54 while the MinHash verify re-planned it
                               # per side, 108 with the join back to the
                               # survivors after packing)
    "x01_shipping_priority": 3,
    "x03_returned_items": 4,
    "d19_decontaminate": 4,    # bench gram distinct + corpus distinct + flag join
    "d20_top_ngrams": 1,       # one count re-key; top-k is TakeOrdered
    "d21_unigram_logprob": 6,  # token counts + total + lm join + per-doc agg
    "d22_shard_assign": 1,     # the shard_pos window re-key only
    "x05_late_shipments": 3,
    "x06_promo_revenue": 2,
    "x07_disjunctive_revenue": 2,
    "x08_supplier_part_counts": 5,
    "c14b_bucketed_join": 1,   # ONLY the agg re-key; the join itself reads
                               # co-located buckets with zero exchanges
    "c58b_interval_join": 1,   # user-key re-key; time bound is a residual
    "c68_interpolate": 1,      # one per-key re-key, both window passes ride it
}


def test_shuffle_budget_not_exceeded(spark, queries):
    # Budgets describe the FRESH plan; a persisted table left by an earlier
    # test swaps InMemoryRelation into matching subtrees and shifts Exchange
    # counts either way.
    spark.catalog.clearCache()
    for name, budget in SHUFFLE_BUDGET.items():
        plan = plan_of(queries[name](spark, SF))
        got = plan.count("Exchange")
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"


def test_round3_composites_compose_cleanly(spark, queries):
    """x09–x21: dims broadcast, filters reach the scans, no accidental
    nested loop.  The scalar-subquery composites (x15/x17/x21) legitimately
    plan a BroadcastNestedLoopJoin for their 1-ROW global-aggregate side —
    that is the correct strategy and is asserted separately."""
    dims_broadcast = (
        "x09_min_cost_supplier",
        "x12_nation_volume",
        "x13_market_share",
        "x14_product_profit",
        "x19_part_promotion_suppliers",
        "x20_waiting_suppliers",
    )
    for name in dims_broadcast:
        plan = plan_of(queries[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "PushedFilters: [" in plan, name
    # EXISTS adaptations: semi/anti joins, never a loop
    for name in ("x10_order_priority_check", "x16_customer_distribution"):
        plan = plan_of(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "PushedFilters: [" in plan, name
    # scalar-subquery composites: the 1-row side must BROADCAST (a shuffled
    # join against a 1-row relation would be the wrong plan)
    for name in ("x15_important_parts", "x17_top_supplier", "x21_dormant_customers"):
        plan = plan_of(queries[name](spark, SF))
        assert "Broadcast" in plan, name
        assert "CartesianProduct" not in plan, name


def test_round3_dtier_plan_shapes(spark, queries):
    """Per-row D-tier ops must stay zero-shuffle scan→project pipelines;
    the pair-generating histogram must stay an equi-join (never n²)."""
    for name in ("d23_gopher_quality", "d30_text_normalize"):
        plan = plan_of(queries[name](spark, SF))
        assert plan.count("Exchange") == 0, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
    plan = plan_of(queries["d28_similarity_histogram"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # nearest-centroid: the constant-sized centroid table must broadcast
    plan = plan_of(queries["d27_nearest_centroid"](spark, SF))
    assert "Broadcast" in plan


def test_round4_plan_shapes(spark, queries):
    """Round-4 additions: facet aggregates stay single-re-key partial+final
    pipelines; pair generators stay equi-joins (never n²); the broadcast
    sides that must broadcast, do."""
    # scan→agg facets: one exchange (the facet re-key), no Python in plan
    for name in ("d32_vocab_per_source", "d33_token_truncate",
                 "d34_length_buckets", "d35_dup_rate_by_source"):
        plan = plan_of(queries[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    # intra-label pairs: block equi-join, never a loop join
    plan = plan_of(queries["d37_intra_label_cosine"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # centroid outliers: the 64-row mean table and 1-row stats frame both
    # broadcast (BNLJ with a 1-row build side is the pinned c20b shape)
    plan = plan_of(queries["d36_centroid_outliers"](spark, SF))
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan
    # hard negatives: tiny query side broadcasts as the BNLJ build (the
    # label-inequality condition makes BNLJ the CORRECT strategy here);
    # the corpus side must not shuffle before the top-k window
    plan = plan_of(queries["d38_hard_negatives"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_round4_window_shuffle_budgets(spark, queries):
    spark.catalog.clearCache()
    budgets = {
        "c36b_diff": 1,            # one per-user window re-key
        "c57b_session_stats": 1,   # one session-window re-key
        "c21c_asof_forward": 1,    # union-trick as-of: one by-key re-key
        "d32_vocab_per_source": 2, # explode agg + facet re-key
        "d33_token_truncate": 1,
        "d34_length_buckets": 1,
        "d35_dup_rate_by_source": 2,  # distinct-count expand + facet re-key
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = plan.count("Exchange")
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"


def test_round4_batch2_shuffle_budgets(spark, queries):
    """Batch-2 round-4 ops: split/redaction are pure codegen (zero
    exchanges — they must ride the preceding stage's scan at 100 TB);
    the path census pays one window re-key + one count re-key; posexplode
    keeps Generate inside the scan stage."""
    spark.catalog.clearCache()
    budgets = {
        "d43_train_split": 0,
        "d44_pii_redact": 0,
        "c51c_posexplode": 0,
        "x27_event_paths": 3,  # user window re-key + agg re-key + TakeOrdered
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = plan.count("Exchange")
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
    # the zero-exchange ops must also be Python-eval-free
    for name in ("d43_train_split", "d44_pii_redact", "c51c_posexplode"):
        plan = plan_of(queries[name](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_importance_weight_vocab_join_unhinted(spark, queries):
    """d45's LM join must NOT force a broadcast: the post-tokenization
    vocabulary is unbounded at 100 TB, so strategy choice belongs to the
    cost model/AQE (same contract as d05_tfidf / d21_unigram_logprob).
    The only sanctioned broadcast is the 1-row totals BNLJ build."""
    df = queries["d45_importance_weight"](spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    # exactly one hint in the logical plan: the 1-row totals frame
    assert logical.count("UnresolvedHint broadcast") <= 1 or logical.count("ResolvedHint") <= 1
    plan = plan_of(df)
    assert "CartesianProduct" not in plan


def test_round4_batch3_shuffle_budgets(spark, queries):
    """Pandas-parity + LM-ladder ops: one-hot is pure codegen; the
    duplicated-audit pays one window re-key (on sha2, never text); the
    indicator merge distinct-reduces the fact side before one full-outer;
    the exact-n sample plans TakeOrdered (no global sort); the bigram LM
    pays explode-agg + model re-agg + join-back, never a corpus re-scan
    per stage."""
    spark.catalog.clearCache()
    budgets = {
        "c31c_get_dummies": 0,
        "c10b_duplicated_flag": 1,
        "c15e_merge_indicator": 3,
        "c44c_deterministic_sample": 1,
        "d46_bigram_perplexity": 8,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = plan.count("Exchange")
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
    plan = plan_of(queries["c44c_deterministic_sample"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    plan = plan_of(queries["c10b_duplicated_flag"](spark, SF))
    assert "sha2" in plan  # the window shuffles 32-byte keys, not text


def _unique_exchanges(plan: str) -> int:
    """Distinct physical Exchange nodes. The string count over-reports when
    a persisted subtree prints under several parents (its exchanges run
    once but appear per reference), so count unique plan_ids."""
    import re

    ids = set()
    loose = 0
    for line in plan.splitlines():
        if "Exchange" not in line:
            continue
        m = re.search(r"plan_id=(\d+)", line)
        if m:
            ids.add(m.group(1))
        else:
            loose += 1
    return len(ids) + loose


def test_round4_batch4_shuffle_budgets(spark, queries):
    """Sketch + profiler + prefix-sum ops: the profiler pays one distinct-
    aggregate (stack is a Generate inside the scan stage — the N-column
    profile still scans once); vocab growth pays the token aggs + one
    range re-key (never a single-task global window over the data); the
    Bloom query's verify join and the heavy-hitter recount stay bounded
    equi-joins."""
    spark.catalog.clearCache()
    budgets = {
        "c70_profile_table": 2,
        # 14 = 10 physical + the 4-exchange pre-cache subtree printed
        # under BOTH consumers of the scratch-persisted ranged frame
        # (it executes once; plan_ids differ per printed occurrence)
        "d51_vocab_growth": 14,
        "d49_bloom_prune_join": 4,
        "d50_heavy_hitters": 5,  # incl. 2 broadcast exchanges (candidates, 1-row total)
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = _unique_exchanges(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
    plan = plan_of(queries["c70_profile_table"](spark, SF))
    assert "Generate" in plan or "stack" in plan  # unpivot inside scan stage
    plan = plan_of(queries["d51_vocab_growth"](spark, SF))
    # the DATA windows are pid-partitioned; the only single-partition sort
    # is over the n_partitions-row offsets frame (bounded at any scale)
    assert "windowspecdefinition(__pid" in plan


def test_edit_distance_blocking_and_anomaly_plans(spark, queries):
    """d53 candidates must come from the deletion-variant equi-join —
    never a cartesian/BNLJ over the vocabulary; c72 pays exactly one
    window re-key."""
    plan = plan_of(queries["d53_edit_distance_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # verify only after blocking
    plan = plan_of(queries["c72_rolling_anomaly"](spark, SF))
    assert _unique_exchanges(plan) <= 1


def test_stats_ops_single_scan_and_budgets(spark, queries):
    """c74 computes every pairwise moment in ONE scan + ONE aggregate (the
    oracle's UNION ALL re-reads per coefficient — the engine must not);
    c73 pays one window re-key + one agg."""
    plan = plan_of(queries["c74_corr_matrix"](spark, SF))
    assert plan.count("FileScan parquet") == 1, "corr matrix re-scans the table"
    assert _unique_exchanges(plan) <= 1
    plan = plan_of(queries["c73_group_regression"](spark, SF))
    assert _unique_exchanges(plan) <= 2


def test_new_composites_plan_shapes(spark, queries):
    """x28: dims broadcast, no cartesian; x29 (round-5 fix, VERDICT r4
    item #2): quartile scoring must be the c77 broadcast-boundary CASE —
    NO Window at all (three global ntiles over the per-customer aggregate
    would single-task a 15B-row sort at TPC-H sf100k), and the boundary
    frame joins back as a broadcast, never a cartesian."""
    plan = plan_of(queries["x28_brand_revenue_trend"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    plan = plan_of(queries["x29_customer_rfm"](spark, SF))
    assert "Window" not in plan, "x29 regressed to global ntile windows"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row boundary frame join
    # budget: orders→customer re-key + the 1-row boundary agg's fan-in
    assert _unique_exchanges(plan) <= 3


def test_round5_shuffle_budgets(spark, queries):
    """Round-5 ops: the soft-dedup window and both sessionization/funnel
    queries are ONE user/hash re-key; token-budget packing is one source
    re-key; the entropy stack re-aggregates without a second fact scan;
    the embedding audits pay one 64-group stat agg + broadcast back; the
    persisted subtrees (d71 LM score, d75 pair table) must not re-run
    their corpus pass per consumer."""
    spark.catalog.clearCache()
    budgets = {
        "d63_soft_dedup_weights": 1,
        "c78_sessionize_gap": 1,
        "c79_funnel_windows": 1,
        "d73_token_budget_pack": 1,
        "d64_rouge_overlap": 2,
        "c80_entropy_by_group": 2,
        "d68_crossdup_matrix": 2,
        "c81_benford_digits": 3,
        "d67_embedding_quantize_int8": 3,
        "d74_embedding_standardize": 3,
        "d70_wordpiece_tokenize": 3,
        "d69_suffix_array_ngrams": 3,
        "d72_minhash_band_tuning": 3,
        "x32_supplier_lead_time": 3,
        # 6 = post-cache shuffles of BOTH consumers of the scratch-persisted
        # pair table (the explode itself runs once — InMemoryTableScan
        # asserted below; same print-twice effect as d51's budget)
        "d75_idf_rarity_score": 6,
        "x31_reorder_rate": 5,
        "d71_ccnet_perplexity_buckets": 8,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = _unique_exchanges(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # d63's window shuffles 32-byte hashes, never the text
    plan = plan_of(queries["d63_soft_dedup_weights"](spark, SF))
    assert "sha2" in plan
    # d75/d71's shared corpus subtrees actually hit the scratch cache
    for name in ("d75_idf_rarity_score", "d71_ccnet_perplexity_buckets"):
        plan = plan_of(queries[name](spark, SF))
        assert "InMemoryTableScan" in plan, f"{name}: scratch persist not in plan"
    # d70's vocabulary join is the sanctioned broadcast (bounded top-200)
    plan = plan_of(queries["d70_wordpiece_tokenize"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_round5_pagerank_plan_shape(spark, queries):
    """d65: the edge builder must never self-join the corpus (pairs come
    from the bounded rare-feature buckets), and every iteration's rank
    table is node-sized. localCheckpoint hides the upstream plan, so pin
    the edge-builder plan directly."""
    from pandas_db_sdk_spark import graph
    from pandas_db_sdk_spark.io import tables as _t

    d = _t(spark, SF)("documents")
    edges = graph.rare_token_edges(d, "doc_id", "text", 2, 3, shingle=3)
    plan = plan_of(edges)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, "edge builder must be join-free (bucket explode)"
    out = queries["d65_doc_graph_pagerank"](spark, SF)
    assert out.count() > 0


def test_x30_and_d58_avoid_unbounded_global_sorts(spark, queries):
    """Round-5 posture fixes: x30's rank runs AFTER the TakeOrdered top-25
    (the global supplier-dimension window was x29's class of cliff); d58's
    vocabulary rank goes through scale.global_row_index (range partition +
    offsets), never one task sorting 10^9 tokens."""
    plan = plan_of(queries["x30_supplier_scorecard"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # the only Window must sit ABOVE the take-ordered 25-row frame
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    plan = plan_of(queries["d58_zipf_fit"](spark, SF))
    assert "windowspecdefinition(__pid" in plan  # pid-partitioned rank


def test_sf_scaled_dims_join_unhinted(spark, queries):
    """VERDICT r5 #5: part and supplier SCALE with SF (sf100k: ~20B parts),
    so x30-x33 must not carry a mandatory broadcast hint on them — the
    d05_tfidf convention: unhinted, AQE broadcasts while the dim fits and
    shuffle-joins beyond. The analyzed plan must be hint-free; at fixture
    scale the planner's size-based strategy still picks BHJ on its own."""
    for name in (
        "x30_supplier_scorecard",
        "x31_reorder_rate",
        "x32_supplier_lead_time",
        "x33_overlapping_shipments",
    ):
        df = queries[name](spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "Hint" not in analyzed, f"{name}: mandatory join hint present"


def test_exact_ntile_unbounded_path_has_no_global_window(spark):
    """VERDICT r5 #7: above the single-task bound, exact_ntile must never
    plan a global-order Window over the DATA — ranks are __pid-partitioned
    (global_row_index) and the only unpartitioned window runs over the
    n_partitions-row offsets table. No ntile node anywhere."""
    from pandas_db_sdk_spark import scale

    df = spark.range(1000).withColumn("v", (F.col("id") * 37) % 100)
    out = scale.exact_ntile(df, ["v", "id"], 10, max_single_task_rows=None)
    plan = plan_of(out)
    assert "ntile" not in plan
    assert "windowspecdefinition(__pid" in plan  # pid-partitioned rank
    # no window ordered by the data columns without a partition spec
    assert "windowspecdefinition(v#" not in plan


def test_round6_shuffle_budgets(spark, queries):
    """Round-6 ops: KMV is distinct+window+two aggs over one re-key
    family; EWMA is the single stateful per-key re-key; triangle counting
    and the certification frames reuse their persisted subtrees (the
    normalize/orient and shingle-explode trees run once — budgets jump
    ~4x without the scratch persists). No cartesians, no row-wise Python
    anywhere; c82's ArrowEval is the declared applyInPandas path."""
    spark.catalog.clearCache()
    budgets = {
        "d78_kmv_distinct": 5,
        "c82_ewma": 1,
        "d79_triangle_count": 14,
        "d80_set_similarity_join": 16,
        "d47b_leakage_scrub_guarantees": 24,
        "d76b_simhash_cluster_guarantees": 9,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = _unique_exchanges(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # persisted subtrees actually hit the scratch cache
    for name in ("d79_triangle_count", "d80_set_similarity_join"):
        plan = plan_of(queries[name](spark, SF))
        assert "InMemoryTableScan" in plan, f"{name}: scratch persist not in plan"


def test_round6b_shuffle_budgets(spark, queries):
    """Round-6 additions, second wave: the CMS sketch and its probes are
    broadcast-joined (never a shuffle join against the counter grid);
    PMI's vocabulary and N ride broadcasts; containment reuses the
    persisted shingle trees; silhouette is two narrow aggregations + a
    broadcast stats matrix — never a pair join; seasonal decompose is
    key-partitioned windows + one phase-mean re-key. No cartesians, no
    row-wise Python anywhere."""
    spark.catalog.clearCache()
    budgets = {
        "d81_cms_frequency": 7,  # 4 sketch/probe-sized shuffles + 3 broadcasts
        "d82_token_pmi": 9,  # persisted toks/vocab; 2 are the __id self-join
        "d83_containment_join": 16,
        "d84_silhouette": 10,
        "c84_seasonal_decompose": 6,
        "x34_retention_cohorts": 7,  # user/cohort re-keys + broadcast stitch
        # persisted tf/weights/norms trees each count their one exchange;
        # the rest: token self-join (2), pair agg + two id-keyed norm
        # stitches, and the tiny dfreq/n_docs dim aggregates + broadcasts
        "d85_tfidf_doc_similarity": 13,
        # 3 group aggs + broadcasts; the absdev frame is deliberately
        # recomputed (scan + broadcast join) rather than persisted — it is
        # corpus-sized, and two scans beat materializing it at 100 TB
        "c85_mad_outliers": 7,
        # literal isin filter + matched-term aggs + broadcast dims; never
        # a data-sized join — retrieval stays scan-shaped at any corpus
        "d86_bm25_topk": 8,
        # d84's sufficient-statistics shape minus the cross-label matrix:
        # posexplode aggs + broadcast own-label stats + one min_by agg
        "d87_cluster_medoids": 9,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = _unique_exchanges(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # the sketch and the cluster-stats matrix broadcast to their probes
    for name in ("d81_cms_frequency", "d84_silhouette"):
        plan = plan_of(queries[name](spark, SF))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan, name
    plan = plan_of(queries["d83_containment_join"](spark, SF))
    assert "InMemoryTableScan" in plan  # shingle trees scratch-persisted


def test_round6c_shuffle_budgets(spark, queries):
    """Round-6 additions, third wave (statistics + survival + attribution):
    every data-sized input collapses to a bounded frame in its FIRST
    aggregation — c86's calendar-day series, c87's 2-row moments, c88's
    125-cell contingency table (persisted — one customer scan), x35's
    per-customer lifetimes then per-duration counts (both persisted),
    x36's per-supplier revenue (persisted, feeds rank + HHI), d88's 1-row
    sufficient-statistics frame. x37's pair join is user-keyed with the
    touch-count window keyed on purchase id. Tiny cross joins (1-row
    scalars, 7-row lag table) broadcast; no cartesian on data-sized
    frames, no row-wise Python anywhere."""
    spark.catalog.clearCache()
    budgets = {
        "c86_acf_daily_revenue": 5,
        "c87_welch_ttest": 4,
        "c88_chi_square_independence": 10,
        "x35_survival_km": 8,
        "x36_revenue_concentration": 8,
        "x37_multitouch_attribution": 4,
        "d88_embedding_covariance": 2,
        # persisted (source, token) counts feed totals/corpus/divergence;
        # token join unhinted (AQE), source totals broadcast
        "d89_source_kl_divergence": 10,
        # one value-grid groupBy + the grid-sized window/final agg
        "c89_mann_whitney": 3,
        # supplier-keyed agg, nation-keyed price window, broadcast nation
        "x38_supplier_skyline": 6,
        # sketch algebra stitches many K-BOUNDED frames (group sketches,
        # union sketches, membership joins, pair-bounded broadcasts); the
        # only data-sized exchanges are the two distinct collapses and
        # the year-keyed exact-audit join
        "d90_kmv_set_ops": 20,
        # QI-keyed agg -> group-frame summary; countDistinct expands once
        "d91_k_anonymity_audit": 4,
        # doc-stats pass (hash-sized shuffle) + token vocab pass + stitch
        "d92_source_data_card": 6,
        # the one key re-key every stateful per-key op pays (c82 shape)
        "c90_holt_linear": 2,
        # one customer-keyed range-frame window
        "x39_order_velocity": 2,
        # pure mapInPandas pixel tier: zero exchanges
        "d93_raw_pixel_stats": 0,
        # persisted cohort tree; customer/cohort aggs + keyed cum window
        "x40_cohort_ltv": 7,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = _unique_exchanges(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # shared subtrees actually hit the scratch cache
    for name in (
        "c86_acf_daily_revenue",
        "c88_chi_square_independence",
        "x35_survival_km",
        "x36_revenue_concentration",
        "d89_source_kl_divergence",
    ):
        plan = plan_of(queries[name](spark, SF))
        assert "InMemoryTableScan" in plan, f"{name}: scratch persist not in plan"


def test_round7_shuffle_budgets(spark, queries):
    """Round-7 ops: KS/CUSUM ride global_cumsum (range-partitioned prefix
    sums; their counts include the whole upstream value-grid/daily
    collapse — every data-sized input is domain- or calendar-bounded
    after its FIRST aggregation); the lag/coverage composites are one
    keyed window + keyed aggs; skip-gram PPMI is a vocab-pruned banded
    self-join; Kneser-Ney windows over MODEL rows only. The iterative
    graph ops (d94/d95) return localCheckpoint-backed frames — their
    budget is per-round, pinned structurally by the node-sized state
    (rare-token blocking bounds the edge table); here we pin that no
    cartesian or row-wise Python ever appears in what they return.
    BPE's twin returns the 1-row driver merge table (zero exchanges)."""
    spark.catalog.clearCache()
    budgets = {
        "c91_ks_test": 22,
        "c92_lead_lag_xcorr": 4,
        "c93_changepoint_cusum": 19,
        "x41_shipment_coverage": 2,
        "d96_skipgram_ppmi": 10,
        "d97_kneser_ney_bigram": 6,
        "d94_connected_components": 30,
        "d95_bfs_hops": 30,
        "d98b_bpe_first_merge": 0,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = _unique_exchanges(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # the vocab prune and the positional band keep d96's self-join
    # equi-keyed; its shared position/hit trees hit the scratch cache
    plan = plan_of(queries["d96_skipgram_ppmi"](spark, SF))
    assert "InMemoryTableScan" in plan


def test_round7b_and_round8_shuffle_budgets(spark, queries):
    """The r7 ops the r7 budget test missed plus the r8 additions: c94's
    contingency collapse and c95's month-bucket profile are bounded after
    their first aggregation; d98/d98c return the driver-built merge table
    (zero exchanges — the loop's per-round work is pinned separately by
    test_iterative_graph_stage_counts_stay_linear and the BPE round
    budget documented in SCALE.md); d99 is pure chained mapInPandas
    (zero exchanges, the d93 shape); d100 returns a localCheckpoint-
    backed node-sized frame; d101 stitches k-bounded frames (16x16 rank
    table, 5-row grid, per-cell sizes) around one broadcast-GT pass."""
    spark.catalog.clearCache()
    budgets = {
        # 9 = the ONE data-sized contingency agg (its scratch-persisted
        # subtree prints under all four consumers: marginals, total,
        # stitch join) + the 15-row-bounded marginal/count-distinct
        # expands; only the first exchange ever carries data-sized rows
        "c94_cramers_v": 9,
        # 9 = the bucket-index collapse printed under its consumers (per-
        # month counts, month totals, reference counts/total) + the
        # bucket-grid stitch — every post-collapse frame is <= months x
        # buckets rows
        "c95_monthly_psi": 9,
        "d98_bpe_merges": 0,
        "d98c_bpe_merge_replay": 0,
        "d99_bmp_ppm_decode": 0,
        "d100_shortest_paths": 30,
        "d101_ivf_nprobe_recall": 14,
        # one (group, word) freq agg + the group-keyed final agg; the
        # 3-rule rewrite chain is nested codegen projections in the scan
        "d102_bpe_encode": 3,
        # driver-built 3-row result; the per-step aggregate is pinned by
        # construction (one exchange per step, k+2 cells) and the scratch
        # -persisted feature frame is reused across steps
        "d103_logreg_quality": 0,
        # pure per-row regexp chain over one scan: zero exchanges
        "d104_html_extract": 0,
    }
    for name, budget in budgets.items():
        plan = plan_of(queries[name](spark, SF))
        got = _unique_exchanges(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # d99's whole pipeline is two Arrow-batched python stages and nothing
    # else — no shuffle may ever appear between synth and stats
    plan = plan_of(queries["d99_bmp_ppm_decode"](spark, SF))
    assert "Exchange" not in plan


def test_iterative_graph_stage_counts_stay_linear(spark):
    """Per-round lineage pin for the iterative graph ops (VERDICT r7 #8):
    localCheckpoint must keep each round's executed+skipped stage count
    O(1), so the TOTAL stages for a fixed-round run are O(rounds). If a
    lineage truncation regresses, every later round replays all earlier
    rounds' stages and these counts blow up quadratically — failing here,
    in CI, instead of as a slow bench."""
    from pandas_db_sdk_spark import graph

    sc = spark.sparkContext

    def stages_for(fn):
        tracker = sc.statusTracker()
        before = set(tracker.getJobIdsForGroup("graphbudget"))
        sc.setJobGroup("graphbudget", "stage-count pin")
        try:
            fn().count()
        finally:
            sc.setJobGroup(None, None)
        total = 0
        for jid in tracker.getJobIdsForGroup("graphbudget"):
            if jid in before:
                continue
            info = tracker.getJobInfo(jid)
            if info is not None:
                total += len(info.stageIds)
        return total

    edges = spark.range(63).select(
        F.col("id").alias("id_a"),
        (F.col("id") + 1).alias("id_b"),
        (F.col("id") % 3 + 1).alias("w"),
    )
    seeds = spark.range(0, 64, 8).select(F.col("id"))
    # eccentricity 4 -> 5 rounds for BFS; weighted relaxation settles in
    # <= 8 improving rounds on this chain. Budgets are ~2x the measured
    # O(rounds) stage totals (65 / 70 on a healthy build) and far below
    # the O(rounds^2) blowup a lineage regression produces (>300).
    n_bfs = stages_for(
        lambda: graph.bfs_hops(edges, seeds, max_iter=12, local_threshold=0)
    )
    assert n_bfs <= 150, f"bfs_hops executed {n_bfs} stages for 5 rounds"
    n_sp = stages_for(
        lambda: graph.shortest_paths(
            edges, seeds, max_iter=12, local_threshold=0
        )
    )
    assert n_sp <= 170, f"shortest_paths executed {n_sp} stages"
    # connected components: star contraction on a 64-node chain needs
    # ~log rounds of (large + small) phases; same O(1)-lineage-per-round
    # contract (123 measured) — the pin catches an O(diameter)
    # regression (>400)
    from pandas_db_sdk_spark import dedup

    n_cc = stages_for(
        lambda: dedup.connected_components(edges, local_threshold=0)
    )
    assert n_cc <= 140, f"connected_components executed {n_cc} stages"


def test_round9_shuffle_budgets(spark, queries):
    """Round-9 ops keep the established shapes: d105/d108/d109 are pure
    chained mapInPandas codec pipelines (synth → decode/resample) with
    ZERO exchanges end-to-end — payload bytes never shuffle; d107 is a
    driver-built 3-row result (each GD step is one exchange at runtime,
    pinned by construction: C·k+2 cells); d106's returned invariants
    frame pays only the word-frequency aggregate plus the tiny
    rounds/merges-frame aggregates (driver-built inputs, round-count /
    rule-count sized)."""
    spark.catalog.clearCache()
    for name in (
        "d105_png_decode",
        "d108_jpeg_decode",
        "d109_audio_resample",
        "d110_jpeg_color_decode",
        "d111_url_canonicalize",  # pure regexp/array projection in-scan
    ):
        plan = plan_of(queries[name](spark, SF))
        assert "Exchange" not in plan, name
        assert "CartesianProduct" not in plan, name
    plan = plan_of(queries["d107_softmax_language_id"](spark, SF))
    assert _unique_exchanges(plan) == 0
    plan = plan_of(queries["d106_bpe_batched_merges"](spark, SF))
    # 1 corpus-sized word-freq agg + 3 bounded-frame aggs (rounds/merges/
    # overlap) + their tiny single-partition stitches
    assert _unique_exchanges(plan) <= 8, _unique_exchanges(plan)
    assert "CartesianProduct" not in plan
    # d112/d113: two chained mapInPandas + one doc-keyed equi-join back
    # to the want-string (the roundtrip certification) — nothing else
    # shuffles; the gz variant adds NO plan nodes (codec is in-batch)
    for name in ("d112_warc_extract", "d113_warc_gz_extract"):
        plan = plan_of(queries[name](spark, SF))
        assert _unique_exchanges(plan) <= 3, (name, _unique_exchanges(plan))
        assert "CartesianProduct" not in plan, name
    # d114: the rule table joins as a BROADCAST (politeness tables are
    # tiny by nature) + one decision aggregate; never a shuffled join
    plan = plan_of(queries["d114_robots_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert _unique_exchanges(plan) <= 3, _unique_exchanges(plan)
    assert "CartesianProduct" not in plan


def test_round10_shuffle_budgets(spark, queries):
    """Round-10 ops keep the established shapes: the codec variants
    (d118-d123) are pure chained mapInPandas pipelines with ZERO
    exchanges — payload bytes never shuffle, and restart/interlace/
    palette/progressive layouts add NO plan nodes over their certified
    twins; d125's SURT keys are a pure projection; d114b's wildcard
    robots evaluation keeps d114's broadcast-join + decision-aggregate
    shape (patterns compile rule-side, never per-URL); d124's sitemap
    pipeline is one group-build + one explode; d117's image clustering
    never goes cartesian (banding over distinct signatures)."""
    spark.catalog.clearCache()
    for name in (
        "d118_jpeg_restart_decode",
        "d119_audio_resample_sinc",
        "d120_png_adam7_decode",
        "d121_jpeg_progressive_decode",
        "d122_png_palette_decode",
        "d123_jpeg_progressive_sa_decode",
        "d125_surt_urlkeys",
    ):
        plan = plan_of(queries[name](spark, SF))
        assert "Exchange" not in plan, name
        assert "CartesianProduct" not in plan, name
    # d114b: rule-side regex compilation keeps the d114 shape — the rule
    # table (with compiled patterns) broadcasts into the URL stream and
    # ONE corpus-sized exchange feeds the decision aggregate; the group
    # parsing's windows/joins shuffle only the domains-sized robots text
    # (broadcast build side), so the CORPUS-keyed exchange count is the
    # budget that matters at 100 TB
    plan = plan_of(queries["d114b_robots_wildcards"](spark, SF))
    assert "BroadcastHashJoin" in plan
    corpus_exchanges = plan.count("Exchange hashpartitioning(doc_id")
    assert corpus_exchanges <= 1, corpus_exchanges
    assert "CartesianProduct" not in plan
    # d124: distinct id-universe + one per-domain group-build + explode
    plan = plan_of(queries["d124_sitemap_extract"](spark, SF))
    assert _unique_exchanges(plan) <= 4, _unique_exchanges(plan)
    assert "CartesianProduct" not in plan
    # d117: hamming_clusters — exact-collapse groupBy, banding equi-join
    # over DISTINCT signatures, member rejoin; never a cartesian
    plan = plan_of(queries["d117_image_near_dup_clusters"](spark, SF))
    assert "CartesianProduct" not in plan


def test_c4_line_filter_is_shuffle_free_scan_pipeline(spark, queries):
    """d138: the whole C4 rule ladder must fuse into the scan stage —
    zero exchanges, no window, no join (a page verdict is row-local)."""
    plan = plan_of(queries["d138_c4_line_filter"](spark, SF))
    assert _unique_exchanges(plan) == 0, plan
    assert "Window" not in plan and "Join" not in plan


def test_line_dedup_corpus_uses_partial_agg_not_window(spark, queries):
    """d139: keep-first must be the PARTIAL-aggregable min(struct) shape —
    a Window/row_number over the line key would funnel every replica of
    a skewed line into one partition.  Budget: line-key agg + semi-join
    re-key + doc reassembly (+1 slack for AQE variance)."""
    plan = plan_of(queries["d139_line_dedup_corpus"](spark, SF))
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan
    shuffles = _unique_exchanges(
        "\n".join(l for l in plan.splitlines() if "BroadcastExchange" not in l)
    )
    assert shuffles <= 3, plan  # line-key agg, doc reassembly, doc totals


def test_media_feature_ops_are_zero_exchange_maps(spark, queries):
    """d141/d142/d143/d144: pHash, STFT, Y4M frame-sampling and box
    resize are pure Arrow mapInPandas pipelines — zero exchanges."""
    for name in (
        "d141_image_phash",
        "d142_audio_stft",
        "d143_y4m_frame_sample",
        "d144_image_resize_area",
        "d154_image_dhash",
    ):
        plan = plan_of(queries[name](spark, SF))
        assert _unique_exchanges(plan) == 0, (name, plan)


def test_round12_shuffle_budgets_and_shapes(spark, queries):
    """Round-12 additions: d156 audio fingerprint is a pure Arrow
    mapInPandas pipeline (zero exchanges); d157's multi-query search
    carries no cartesian product and broadcasts the tiny query side at
    the verify join; x43's funnel has no cartesian product either
    (every cross join in its lineage is a broadcast 1-row bounds /
    scalar frame); d158's card is driver-assembled metadata (trivially
    planless — covered by storage tests)."""
    plan = plan_of(queries["d156_audio_fingerprint"](spark, SF))
    assert _unique_exchanges(plan) == 0, plan

    p157 = plan_of(queries["d157_ts_similarity_join"](spark, SF))
    assert "CartesianProduct" not in p157
    assert "BroadcastHashJoin" in p157 or "BroadcastNestedLoopJoin" in p157
    # top-k per query must be the rank-filter window, not a global sort
    assert "Window" in p157

    p43 = plan_of(queries["x43_crawl_ops_funnel"](spark, SF))
    assert "CartesianProduct" not in p43


def test_round13_shuffle_budgets_and_shapes(spark, queries):
    """Round-13 additions: d164's pair prep is exactly two key
    exchanges of prompt-sized rows (groupBy prompt + groupBy pair_sha)
    with partial aggregation before each; d165 is a pure Arrow
    mapInPandas pipeline (zero exchanges); d166 broadcasts the frozen
    centroid table and carries no cartesian; d167's shingle join is an
    equi-join (no cartesian), with frame features reduced before any
    exchange."""
    p164 = plan_of(queries["d164_dpo_pair_prep"](spark, SF))
    assert "CartesianProduct" not in p164
    assert "partial" in p164.lower(), p164  # map-side combine present

    plan = plan_of(queries["d165_vad_segments"](spark, SF))
    assert _unique_exchanges(plan) == 0, plan

    p166 = plan_of(queries["d166_ivf_drift_card"](spark, SF))
    assert "CartesianProduct" not in p166
    assert "BroadcastHashJoin" in p166 or "BroadcastNestedLoopJoin" in p166

    p167 = plan_of(queries["d167_video_near_dup"](spark, SF))
    assert "CartesianProduct" not in p167

    # d170 chunked fingerprints: same zero-exchange Arrow-map shape as
    # d156 — chunking happens inside the per-file loop, no shuffle added.
    p170 = plan_of(queries["d170_audio_chunk_fingerprints"](spark, SF))
    assert _unique_exchanges(p170) == 0, p170

    # d171 clip extraction: segment lists shuffle (id-keyed agg + join);
    # the WAV payload column moves zero times before the slice and the
    # join back to bytes is an equi-join, never a cartesian.
    p171 = plan_of(queries["d171_vad_segment_extract"](spark, SF))
    assert "CartesianProduct" not in p171

    # d172 whole-track near-dup: banding is pigeonhole equi-joins over
    # chunk band keys — never tracks x tracks.
    p172 = plan_of(queries["d172_audio_chunk_near_dup"](spark, SF))
    assert "CartesianProduct" not in p172


def test_round14_shuffle_budgets_and_shapes(spark, queries):
    """Round-14 additions: d173's multi-phase banding keeps the d172
    shape (pigeonhole equi-joins, never tracks x tracks) at chunk_hop x
    the row count; d174's best-of-n prep is key exchanges of one row
    per prompt with map-side combine; d175 rescale-invariant video
    near-dup keeps the d167 equi-join shingle shape; d176 multi-turn
    masking is explode + equi-joins, no cartesian."""
    p173 = plan_of(queries["d173_audio_phase_robust_near_dup"](spark, SF))
    assert "CartesianProduct" not in p173

    p174 = plan_of(queries["d174_rejection_sampling_prep"](spark, SF))
    assert "CartesianProduct" not in p174
    assert "partial" in p174.lower(), p174  # map-side combine present
    assert _unique_exchanges(p174) == 1, p174  # ONE key shuffle

    # d175 rescale-invariant video near-dup: the d167 shingle shape
    # unchanged — equi-join on the shingle, never videos x videos.
    p175 = plan_of(queries["d175_video_rescale_near_dup"](spark, SF))
    assert "CartesianProduct" not in p175

    # d176 multi-turn masking: d161's shape — posexplode + vocab
    # equi-join + per-conv reassembly, no cartesian, no corpus window.
    p176 = plan_of(queries["d176_multiturn_loss_mask"](spark, SF))
    assert "CartesianProduct" not in p176

    # d177 fps-invariant video near-dup: the d167/d175 shingle shape
    # with tick-anchored signatures — equi-join on the shingle, never
    # videos x videos.
    p177 = plan_of(queries["d177_video_fps_near_dup"](spark, SF))
    assert "CartesianProduct" not in p177
