"""Plan-quality regression tests: pin the physical-plan properties that
make each query family scale (SCALE.md's claims, mechanically checked)."""

from __future__ import annotations

import pytest

from parquet_compactor_spark.plans import plan_properties
from parquet_compactor_spark.registry import all_queries
from tests.conftest import SF_SMOKE

QUERIES = all_queries()


def props(spark, name):
    return plan_properties(QUERIES[name].fn(spark, SF_SMOKE))


def test_filter_pushdown_reaches_scan(spark):
    p = props(spark, "q_filter_pushdown")
    # All range predicates pushed; only the needed columns read.
    assert any("l_shipdate" in f for f in p.pushed_filters)
    assert any("l_discount" in f for f in p.pushed_filters)
    assert any("l_quantity" in f for f in p.pushed_filters)
    assert p.read_columns <= 4


def test_flagship_prunes_columns_and_partially_aggregates(spark):
    p = props(spark, "q_agg_pricing")
    assert p.read_columns <= 7  # 7 of 11 lineitem columns referenced
    assert p.has_partial_agg  # map-side combine before the shuffle
    assert any("l_shipdate" in f for f in p.pushed_filters)


def test_dim_joins_are_broadcast(spark):
    for name in ["q_join_broadcast", "q_join_multiway"]:
        p = props(spark, name)
        assert p.has_broadcast_join, name
        assert not p.has_cartesian, name


def test_topk_uses_heap_not_global_sort(spark):
    p = props(spark, "q_topk")
    assert p.has_take_ordered
    assert p.exchange_count == 0  # no shuffle at all for heap top-k


def test_cross_join_is_the_only_cartesian(spark):
    assert props(spark, "q_cross_join").has_cartesian
    for name in ["q_range_join", "q_semi_join", "q_anti_join", "q_embed_near_dup"]:
        assert not props(spark, name).has_cartesian, name


def test_sim_topk_broadcasts_query_vector(spark):
    p = props(spark, "q_sim_topk")
    # Query vector joined via broadcast; ranking via heap, not global sort.
    assert p.has_take_ordered
    assert not p.has_sort_merge_join


def test_exact_dedup_is_single_shuffle(spark):
    p = props(spark, "q_dedup_exact")
    assert p.has_partial_agg
    assert p.exchange_count == 1


def test_sessionize_is_single_shuffle(spark):
    # Gap-and-islands windows + final agg reuse one user_id partitioning.
    p = props(spark, "q_sessionize")
    assert p.exchange_count == 1


def test_asof_nearest_avoids_pair_explosion(spark):
    """Nearest as-of must never materialize candidate pairs: union + two
    window passes sharing one key exchange (+ one right-dedup agg)."""
    p = props(spark, "q_asof_nearest")
    assert not p.has_cartesian
    assert p.exchange_count <= 2


def test_asof_join_avoids_pair_explosion(spark):
    # Union + window form: right-dedupe agg + key window = at most two
    # shuffles, and crucially no cartesian/range pair join.
    p = props(spark, "q_asof_join")
    assert not p.has_cartesian
    assert p.exchange_count <= 2


def test_tfidf_doc_freq_is_a_window_not_a_join(spark):
    """q_tfidf_topterms reads document frequency off the tf aggregate
    with a count window over term: one explode, no df join. In the final
    adaptive plan there is no sort-merge join and no cartesian product;
    the one join is the 1-row corpus-count broadcast nested-loop."""
    nodes = _final_plan_nodes(_final_plan(QUERIES["q_tfidf_topterms"].fn(spark, SF_SMOKE)))
    assert "SortMergeJoin" not in nodes, nodes
    assert "CartesianProduct" not in nodes, nodes
    assert "BroadcastHashJoin" not in nodes, nodes
    assert nodes.get("BroadcastNestedLoopJoin") == 1, nodes
    assert nodes.get("Generate") == 1, nodes
    assert nodes.get("Window") == 2, nodes  # doc_freq over term, top-k over doc_id


def test_range_frame_window_single_shuffle(spark):
    p = props(spark, "q_window_range_frame")
    assert p.exchange_count == 1


def test_attribution_interval_join_is_equi_shuffle(spark):
    """The time interval must ride on the user_id equi-join — a plan that
    degrades to CartesianProduct/BroadcastNestedLoop is O(n^2) at scale."""
    p = props(spark, "q_event_attribution")
    assert not p.has_cartesian
    assert p.has_sort_merge_join or p.has_broadcast_join
    assert any("event_type" in f for f in p.pushed_filters)


def test_dup_cluster_pairs_join_not_cartesian(spark):
    p = props(spark, "q_dup_clusters")
    assert not p.has_cartesian


def test_multiway_join_only_hints_constant_dims(spark):
    """customer is fact-proportional: an explicit broadcast hint on it is
    an OOM at 100 TB. Exactly one hint (nation) may appear in the logical
    plan; whether customer broadcasts is left to AQE's runtime stats."""
    df = QUERIES["q_join_multiway"].fn(spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1


def test_zscore_is_two_pass_agg_not_window(spark):
    """Per-type stats must come from a partial-agg rollup broadcast back,
    never a whole-partition analytic window keyed on low-cardinality
    event_type (a handful of giant partitions at scale)."""
    from parquet_compactor_spark.plans import formatted_plan

    df = QUERIES["q_zscore_outliers"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Window" not in plan
    p = plan_properties(df)
    assert p.has_broadcast_join
    assert p.has_partial_agg
    # Only the stats rollup shuffles; the fact scan itself never does.
    assert p.exchange_count == 1


def test_running_distinct_reuses_one_exchange(spark):
    """Both windows partition by user_id only — two sort orders, ONE
    shuffle. The naive form (first-occurrence window keyed on
    (user_id, event_type)) costs a second full-data exchange."""
    p = props(spark, "q_running_distinct")
    assert p.exchange_count == 1


def test_full_outer_is_shuffle_join(spark):
    """Full outer preserves both sides, so neither may broadcast —
    sort-merge with two exchanges is the correct shape at any scale."""
    p = props(spark, "q_full_outer_join")
    assert p.has_sort_merge_join
    assert not p.has_broadcast_join
    assert not p.has_cartesian


def test_salted_agg_two_stage(spark):
    """The salt decomposition costs exactly two exchanges: the salted
    partial rollup and the tiny de-salting final rollup."""
    p = props(spark, "q_salted_agg")
    assert p.has_partial_agg
    assert p.exchange_count == 2


def test_event_enrich_broadcasts_dim(spark):
    p = props(spark, "q_event_enrich")
    assert p.has_broadcast_join
    assert not p.has_sort_merge_join


def test_gapfill_union_form_never_joins_the_rollup(spark):
    """The aggregated rollup reaches the output through UNION ALL, not an
    outer join; only the observed day×type KEY SET is broadcast (for the
    anti-join that produces zero rows). Nothing fact-sized is broadcast."""
    from parquet_compactor_spark.plans import formatted_plan

    df = QUERIES["q_gapfill_buckets"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "Union" in plan
    p = plan_properties(df)
    assert not p.has_sort_merge_join
    # The only equi-join is the left-anti against the two-column key set.
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_curation_probe_sides_broadcast(spark):
    # Benchmark shingle set and per-source rate table are scalars/KB-scale:
    # they must broadcast so the corpus scan never shuffles for the probe.
    for name in ["q_contamination", "q_domain_mix"]:
        assert props(spark, name).has_broadcast_join, name
    # q_domain_mix's only nested-loop join is the deliberate 1-row scalar
    # (global min count) crossJoin; the corpus probe itself is equi-keyed.
    assert not props(spark, "q_contamination").has_cartesian


def test_ohlc_is_single_pass(spark):
    # argmin/argmax aggregates: one partial-agg shuffle, no sort/self-join.
    p = props(spark, "q_ohlc")
    assert p.has_partial_agg
    assert p.exchange_count == 1
    assert not p.has_sort_merge_join


def test_snapshot_delta_joins_on_fingerprints(spark):
    # Anti-join ships 16-byte md5 keys, never a cartesian expansion.
    assert not props(spark, "q_snapshot_delta").has_cartesian


def test_robust_stats_avoid_giant_windows(spark):
    """Median/MAD and decile boundaries come from aggregates broadcast
    back onto the stream — no single-partition analytic window anywhere.
    (The naive forms — NTILE for deciles, median() OVER for MAD — put
    every row of a group in one task.)"""
    from parquet_compactor_spark.plans import formatted_plan

    p = props(spark, "q_mad_outliers")
    assert p.has_broadcast_join  # per-type stats rejoin via broadcast hash
    assert "Window" not in formatted_plan(
        QUERIES["q_mad_outliers"].fn(spark, SF_SMOKE)
    )
    # Decile bounds are ONE row: the rejoin is the scalar broadcast
    # nested-loop pattern, and the only shuffles are the two aggregates.
    plan = formatted_plan(QUERIES["q_equidepth_hist"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert props(spark, "q_equidepth_hist").exchange_count <= 2


def test_profile_is_single_scan(spark):
    # One scan + one aggregate serves all profiled columns (the oracle's
    # UNION ALL form re-scans per column; ours must not).
    import re

    from parquet_compactor_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q_profile"].fn(spark, SF_SMOKE))
    # Detail headers "(n) Scan parquet" appear once per distinct scan node.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_ship_priority_heap_topk_and_pushdown(spark):
    """TPC-H Q3 shape: both date predicates reach their fact scans and the
    top-10 is a heap, not a global sort; no cartesian anywhere."""
    p = props(spark, "q_ship_priority")
    assert p.has_take_ordered
    assert not p.has_cartesian
    assert any("o_orderdate" in f for f in p.pushed_filters)
    assert any("l_shipdate" in f for f in p.pushed_filters)


def test_aqe_coalesces_post_shuffle_partitions(spark):
    """AQE is not just configured but ACTIVE: after execution, the final
    plan reads the shuffle through AQEShuffleRead coalesced — the runtime
    re-planning that keeps one static config valid across 100x scale."""
    from parquet_compactor_spark.registry import load

    df = (
        load(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .count()
    )
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan
    assert "coalesced" in plan


def test_max_concurrency_sweep_is_segmented(spark):
    """The sweep-line running sum must partition by (event_type, bucket),
    never by event_type alone: a 5-value partition key over 2n boundary
    rows is a giant-partition window at 100x. Every window spec that
    orders by the boundary time t must therefore include the hour bucket
    in its partition keys; only the tiny per-bucket-totals prefix (input
    = |types| x |buckets| aggregate rows) may partition by type alone."""
    import re

    from parquet_compactor_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q_max_concurrency"].fn(spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the plan"
    sweep_specs = [s for s in specs if re.search(r"\bt#\d+ ASC", s)]
    assert sweep_specs, "expected the boundary sweep window"
    for s in sweep_specs:
        assert "bucket#" in s, f"fact-sized sweep window not segmented: {s}"


def test_cume_dist_avoids_low_cardinality_window(spark):
    """cume_dist needs its full partition in one task, so windowing on the
    5-value priority key alone over fact-proportional rows cannot scale.
    The banded form segments every fact-sized window by the price band:
    each window spec ordered by o_totalprice must include the band in its
    partition keys. Only the TINY per-band-totals prefix (input =
    |priorities| x |bands| aggregate rows, ordered by band or unordered)
    may partition by priority alone; the offsets rejoin via broadcast."""
    import re

    from parquet_compactor_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q_cume_dist"].fn(spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the plan"
    fact_specs = [s for s in specs if re.search(r"o_totalprice#\d+ ASC", s)]
    assert fact_specs, "expected the within-band rank window"
    for s in fact_specs:
        assert "band#" in s, f"fact-sized window not band-segmented: {s}"
    assert props(spark, "q_cume_dist").has_broadcast_join


def test_semantic_dedup_assignment_is_zero_shuffle_map(spark):
    """Centroid assignment must be an argmax map over broadcast model
    state, never an N x K crossJoin + per-row row_number: the plan may
    contain no true CartesianProduct and no analytic Window. The one
    BroadcastNestedLoopJoin is the 1-row centroid-matrix ride-along
    (constant-size build side) — the only data joins are the within-block
    equi-join on cid and the broadcast rejoin of per-block pair counts."""
    from parquet_compactor_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q_semantic_dedup"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_funnel_is_two_aggs_no_self_join(spark):
    """The k-step funnel must be conditional-MIN aggregation, never a
    k-way self-join of the fact table: exactly one shuffle (user_id) plus
    the single-partition final roll-up, map-side partial agg present, and
    no join operator of any kind in the plan."""
    from parquet_compactor_spark.plans import formatted_plan

    p = props(spark, "q_funnel_steps")
    assert p.has_partial_agg
    assert p.exchange_count <= 2
    plan = formatted_plan(QUERIES["q_funnel_steps"].fn(spark, SF_SMOKE))
    assert "Join" not in plan


def test_salted_join_spreads_key_over_salt(spark):
    """The salted join must key on (custkey, salt) — every equi-join key
    list in the plan carries the salt column, so a hot key's rows hash to
    SALT_BUCKETS different reducers — and it stays an equi-join, never a
    cartesian."""
    import re

    from parquet_compactor_spark.plans import formatted_plan

    p = props(spark, "q_salted_join")
    assert not p.has_cartesian
    plan = formatted_plan(QUERIES["q_salted_join"].fn(spark, SF_SMOKE))
    key_lists = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert key_lists, "expected equi-join key lists in the plan"
    for keys in key_lists:
        assert "_salt" in keys, f"join keys not salted: {keys}"


def test_runtime_bloom_filter_reduces_shuffle_join(spark):
    """Runtime filter injection (the non-partitioned cousin of DPP): a
    selective dim filter on a sort-merge join side must inject a bloom
    filter that prunes fact rows BEFORE the shuffle. Spark's size
    thresholds correctly keep it off at toy scale, so the test lowers
    them — what's pinned is that the engine's session still injects the
    filter when the sizes warrant (a conf regression would silently drop
    the optimization at real scale)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        l = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys.lower()
        got = {r.l_returnflag: r["count"] for r in j.collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    plain = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
                F.col("o_totalprice") > 400000
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .count()
    )
    expected = {r.l_returnflag: r["count"] for r in plain.collect()}
    assert got == expected


def test_no_unexpected_cartesian_in_any_registered_query(spark):
    """Global scale-killer audit: EVERY registered query's plan is checked
    for CartesianProduct / BroadcastNestedLoopJoin. The allowlist names
    the deliberate scalar broadcasts (a 1-row or KB-scale side crossJoined
    onto the stream — constant-size, never fact x fact) plus the one
    intentional q_cross_join demo. A future query that accidentally
    degrades to a pair-forming join fails here by name."""
    allowed = {
        "q_cross_join",  # the deliberate cartesian demo
        "q_sim_topk",  # 1-row query vector broadcast
        "q_batch_sim_topk",  # 5-row query-batch broadcast
        "q_hard_negatives",  # same 5-row query-batch broadcast
        "q_dsir_weights",  # 1-row corpus-totals + 1-row n_sel broadcasts
        "q_percent_of_total",  # 1-row grand-total scalar
        "q_tfidf_topterms",  # 1-row corpus document count
        "q_bm25",  # 1-row corpus stats (N, avgdl)
        "q_unigram_logprob",  # 1-row corpus token total
        "q_perplexity_buckets",  # 1-row corpus token total (same shape)
        "q_domain_mix",  # 1-row global min source count
        "q_chisq_independence",  # types x buckets contingency grid (10 rows)
        "q_equidepth_hist",  # 1-row broadcast percentile bounds
        "q_winsorize",  # 1-row broadcast [p5, p95] clip bounds
        "q_gapfill_buckets",  # tiny day x type spine
        "q_idle_customers",  # 1-row scalar AVG(acctbal) broadcast (Q22)
        "q_important_parts",  # 1-row global value-total threshold (Q11)
        # 1-row broadcast centroid MATRIX (KB model state riding along as
        # one array<struct> column — the default encoding at every K):
        "q_kmeans_clusters",
        "q_ann_ivf",
        "q_ivfpq_search",  # same centroid-matrix broadcasts as q_ann_ivf
        "q_ivf_cell_stats",  # same shared assignment stage
        "q_semantic_dedup",
        # round 8:
        "q_bigram_backoff",  # 1-row N_train scalar broadcast
        "q_collocation_pmi",  # 1-row (n_pairs, n_tok) scalar broadcast
        # bounded seed-set broadcast (fixed annotation budget, never
        # corpus-sized — the brute-force stage's documented IVF swap
        # applies when the seed set grows):
        "q_knn_classify",
        # round 11: the shared ivf_assign centroid-matrix broadcasts
        # (K x dim doubles of model state — q_semantic_dedup's class):
        "q_semdedup_prune",
        # 1-row corpus-stats + 1-row query-vector broadcasts (the
        # q_bigram_backoff scalar class); both arms' candidate sets are
        # heap-bounded, never pair-formed:
        "q_rank_fusion",
        # the complete ordered-pair spine of the ~20-source counts table
        # (sources^2 rows, data-size-independent); the data-proportional
        # stage is the gram-hash equi-join, which is not here:
        "q_source_overlap",
        # 1-row stage-counts x 1-row near-dup-removals scalar join that
        # assembles the 3-row funnel output:
        "q_dedup_cascade",
        # 1-row bigram-type-total scalar broadcast (the q_bigram_backoff
        # N_train class):
        "q_kn_bigram",
        # 1-row max-doc-id scalar broadcast (the decile denominator):
        "q_novelty_curve",
        # 1-row bloom bit-space size m, broadcast into the bit-table
        # build and the probe side:
        "q_bloom_delta",
        # round 12: the shared ivf_assign centroid-matrix broadcasts
        # (K x dim model state, the q_semdedup_prune class) in both the
        # frozen-index build and the new-shard assignment pass:
        "q_ivf_refresh",
        # the complete ordered-pair spine of the ~20-source SKETCH
        # stats table (sources^2 rows, data-size-independent — the
        # q_source_overlap class); every data-proportional stage is
        # hash-keyed on sketch rows:
        "q_kmv_intersect",
        # two 1-row scalar broadcasts (shard totals + the 1-row sup
        # statistic) assembling the single output row:
        "q_ks_test",
    }
    offenders = []
    for name in QUERIES:
        if props(spark, name).has_cartesian and name not in allowed:
            offenders.append(name)
    assert not offenders, f"unexpected cartesian/nested-loop joins: {offenders}"


def test_nation_revenue_pushes_dates_and_broadcasts_dims(spark):
    """The Q5-shaped tree: year predicate reaches the orders scan, the
    constant dims broadcast, and nothing degrades to a cartesian."""
    p = props(spark, "q_nation_revenue")
    assert p.has_broadcast_join
    assert not p.has_cartesian
    assert any("o_orderdate" in f for f in p.pushed_filters)
    assert p.has_partial_agg


def test_promo_revenue_pushes_month_predicate(spark):
    p = props(spark, "q_promo_revenue")
    assert any("l_shipdate" in f for f in p.pushed_filters)
    assert not p.has_cartesian
    assert p.has_partial_agg


def test_tpch_extra_plans_scale(spark):
    """The round-4 TPC-H completions keep the family's plan discipline:
    dims broadcast, selective predicates reach the scans, aggregates
    partial-combine map-side, and the top-N queries compile to heap
    TakeOrderedAndProject rather than a global sort."""
    p = props(spark, "q_market_share")
    assert p.has_broadcast_join
    assert any("p_type" in f for f in p.pushed_filters)
    assert any("o_orderdate" in f for f in p.pushed_filters)
    assert p.has_partial_agg

    p = props(spark, "q_order_priority")
    assert any("o_orderdate" in f for f in p.pushed_filters)
    assert p.has_partial_agg

    for name in ("q_returned_items", "q_large_orders"):
        p = props(spark, name)
        assert p.has_take_ordered, name

    p = props(spark, "q_volume_shipping")
    assert p.has_broadcast_join
    assert any("l_shipdate" in f for f in p.pushed_filters)


def test_tpch_final_plans_scale(spark):
    """The round-5 TPC-H completions (queries/tpch_final.py) keep the
    family's plan discipline: constant dims broadcast, selective
    predicates reach the parquet scans, and every aggregate partial-
    combines map-side. The correlated-subquery members (Q2/Q21) must
    stay decorrelated — one aggregate joined back, never a per-row
    re-execution, which would show as a nested-loop join."""
    p = props(spark, "q_min_cost_supplier")
    assert p.has_broadcast_join
    assert any("p_size" in f for f in p.pushed_filters)
    assert p.has_partial_agg
    assert not p.has_cartesian

    p = props(spark, "q_product_profit")
    assert p.has_broadcast_join
    assert any("p_name" in f for f in p.pushed_filters)
    assert p.has_partial_agg

    p = props(spark, "q_late_line_priority")
    assert any("l_shipdate" in f for f in p.pushed_filters)
    assert p.has_partial_agg
    assert not p.has_cartesian

    p = props(spark, "q_supplier_part_count")
    assert p.has_broadcast_join
    assert any("p_brand" in f for f in p.pushed_filters)
    assert not p.has_cartesian

    p = props(spark, "q_promo_part_suppliers")
    assert any("p_name" in f for f in p.pushed_filters)
    assert p.has_partial_agg
    assert not p.has_cartesian

    p = props(spark, "q_waiting_suppliers")
    assert p.has_broadcast_join
    assert any("o_orderstatus" in f for f in p.pushed_filters)
    assert p.has_partial_agg
    assert not p.has_cartesian


def test_round5_additions_plan_discipline(spark):
    """The non-TPC-H round-5 queries keep their documented plan shapes:
    the Gopher rule filter is a pure map pass (zero exchanges — at
    100 TB it is scan-bound by construction), the per-dimension stats
    partial-combine before their 64-group shuffle, and the bigram /
    blocking queries never degrade to pair-forming joins."""
    p = props(spark, "q_gopher_rules")
    assert p.exchange_count == 0
    assert not p.has_cartesian

    p = props(spark, "q_embed_dim_stats")
    assert p.has_partial_agg
    assert not p.has_cartesian

    for name in ("q_event_transitions", "q_prefix_dups"):
        assert not props(spark, name).has_cartesian, name
    # q_chisq_independence's one cartesian is the DELIBERATE types x
    # buckets contingency grid (≤10 rows, broadcast) that completes
    # zero-count cells — allowlisted in the global audit.
    assert props(spark, "q_chisq_independence").has_partial_agg


def test_embed_near_dup_blocks_on_label_and_bucket(spark):
    """Scale-ramp regression guard (round 5): label-only blocking measured
    154x cost at 25x data (fixed label cardinality -> quadratic pair
    join). The self-join must key on BOTH label and the hyperplane sign
    bucket so block count scales with 2^H, not just #labels."""
    df = QUERIES["q_embed_near_dup"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    (join_cond,) = re.findall(r"Join Inner, (.+)", plan)
    assert "label" in join_cond and "bucket" in join_cond, join_cond


def _final_plan(df):
    """Run ``df``'s own query to completion, every row produced and none
    collected (what the noop sink does), and return its final adaptive
    plan: AQE's runtime decisions — join strategy from measured shuffle
    bytes, query-stage reuse — only show there."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe.executedPlan()


def _final_plan_nodes(plan, acc=None, caches=None):
    """nodeName -> count over a final adaptive plan, plus ``docs_scans``:
    the documents parquet scans that actually run, and
    ``<join>(ExistenceJoin)``: the joins of that kind that flag EXISTS.
    A query stage is entered through its exchange; a ``ReusedExchange``
    is a stage AQE ran once and reads again, so nothing under it counts.
    A persisted intermediate's cache build is walked once, however many
    InMemoryTableScans read it."""
    from pyspark import SparkContext

    acc = {} if acc is None else acc
    caches = set() if caches is None else caches
    name = plan.nodeName()
    acc[name] = acc.get(name, 0) + 1
    if name.startswith("Scan parquet") and "documents.parquet" in plan.simpleString(500):
        acc["docs_scans"] = acc.get("docs_scans", 0) + 1
    if name.endswith("Join") and "ExistenceJoin" in plan.simpleString(500):
        key = f"{name}(ExistenceJoin)"
        acc[key] = acc.get(key, 0) + 1
    if name == "ReusedExchange":
        return acc
    if name == "InMemoryTableScan":
        relation = plan.relation()
        cache_id = SparkContext._jvm.System.identityHashCode(relation.cacheBuilder())
        if cache_id not in caches:
            caches.add(cache_id)
            _final_plan_nodes(relation.cachedPlan(), acc, caches)
        return acc
    if name == "AdaptiveSparkPlan":
        return _final_plan_nodes(plan.executedPlan(), acc, caches)
    if "QueryStage" in name:
        return _final_plan_nodes(plan.plan(), acc, caches)
    children = plan.children()
    for i in range(children.size()):
        _final_plan_nodes(children.apply(i), acc, caches)
    return acc


def test_vocab_join_broadcast_is_aqe_runtime_decision(spark):
    """No query measures its vocabulary on the driver: AQE's runtime join
    selection compares the vocabulary side's measured shuffle bytes with
    spark.sql.adaptive.autoBroadcastJoinThreshold. Both branches, read
    from the final adaptive plan after running the join: with static
    broadcasting off (so the initial plan is a shuffle join), a small
    vocabulary join still ends as a BroadcastHashJoin; with the adaptive
    threshold at -1 it does not."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.registry import load

    d = load(spark, SF_SMOKE, "documents")
    terms = d.select("doc_id", F.explode(F.split("text", " ", -1)).alias("term"))
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prior = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "-1")
        spark.conf.set(keys[1], "10MB")
        joined = terms.join(freq, "term")
        initial = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in initial
        nodes = _final_plan_nodes(_final_plan(joined))
        assert nodes.get("BroadcastHashJoin", 0) == 1, nodes
        assert "SortMergeJoin" not in nodes, nodes

        spark.conf.set(keys[1], "-1")
        nodes = _final_plan_nodes(_final_plan(terms.join(freq, "term")))
        assert "BroadcastHashJoin" not in nodes, nodes
        assert nodes.get("SortMergeJoin", 0) == 1, nodes
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_probes_broadcast_whatever_the_threshold(spark):
    """q_bloom_delta's bit table holds k rows per old fingerprint, so its
    size estimate passes autoBroadcastJoinThreshold once the snapshot
    grows. The k EXISTS probes hint it broadcast inside the subquery, so
    they stay broadcast ExistenceJoins with both thresholds at -1; a
    shuffled existence join would reshuffle the whole new batch once per
    probe. Only the exact-membership join, whose snapshot side is left
    to AQE, turns into a sort-merge join."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prior = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        nodes = _final_plan_nodes(_final_plan(QUERIES["q_bloom_delta"].fn(spark, SF_SMOKE)))
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert nodes.get("BroadcastHashJoin(ExistenceJoin)") == 4, nodes
    assert nodes.get("BroadcastHashJoin") == 4, nodes
    assert nodes.get("SortMergeJoin") == 1, nodes
    assert "ShuffledHashJoin" not in nodes, nodes


def test_release_guard_cache_per_frame(spark):
    """Per-frame cache release: release_guard_cache unpersists exactly
    ONE frame persist_tracked returned, leaves the other tracked caches
    alone, and double-release is a no-op, so a long-lived session can
    evict one query's intermediate without the module-level sweep."""
    from parquet_compactor_spark.llm.text import (
        persist_tracked,
        release_guard_cache,
        release_guard_caches,
    )
    from parquet_compactor_spark.registry import load

    release_guard_caches()  # clean slate so the final count is exact
    d = load(spark, SF_SMOKE, "documents")
    v1 = persist_tracked(d.select("lang"))
    v2 = persist_tracked(d.select("doc_id"))
    v1.count()
    v2.count()
    assert release_guard_cache(v1) is True
    assert release_guard_cache(v1) is False  # double release: no-op
    assert release_guard_cache(d.select("doc_id")) is False  # untracked
    lvl = v2.storageLevel
    assert lvl.useMemory or lvl.useDisk  # v2 untouched by v1's release
    assert release_guard_cache(v2) is True
    lvl = v2.storageLevel
    assert not lvl.useMemory and not lvl.useDisk
    assert release_guard_caches() == 0  # nothing left tracked


def test_guarded_queries_scan_corpus_once(spark):
    """Corpus scans that actually run, per query, counted over the final
    adaptive plan and the build of each cache it reads: a ReusedExchange
    is a stage AQE ran once and reads again, so it counts as no scan.
    These are the queries whose vocabulary join used to be sized by a
    driver-side count at construction (plus q_bloom_delta, which sized
    its filter the same way); each count equals what the count-sized
    form ran (its cache build plus its main plan). A multi-consumer
    subtree whose consumers stop sharing one exchange — the optimizer
    pushed a consumer's inferred filter below the shared aggregation,
    or ordered its aggregate functions differently, and AQE can no
    longer reuse it — shows up here as an extra scan."""
    expected_scans = {
        # fact stream + vocabulary agg; the corpus total reads the
        # agg's reused exchange.
        "q_unigram_logprob": 2,
        "q_perplexity_buckets": 2,
        # tf stream (its agg feeds the doc_freq window) + the 1-row
        # n_docs count.
        "q_tfidf_topterms": 2,
        # the persisted scored frame (fact stream + vocabulary agg,
        # whose exchange the corpus totals reuse) + the 1-row n_sel
        # count.
        "q_dsir_weights": 3,
        # one persisted exploded stream feeds both the agg and the join.
        "q_dup_ngram_coverage": 1,
        "q_paragraph_dedup": 1,
        "q_substring_dedup": 1,
        "q_winnowing_fingerprint": 1,
        "q_collocation_pmi": 1,
        # fact stream + first-occurrence agg.
        "q_span_dedup": 2,
        # probe stream + eval-shard distinct.
        "q_eval_contamination": 2,
        # fact stream + the train-shard count table, whose exchange its
        # four consumers share (q_bigram_backoff) or whose cache they
        # read (q_kn_bigram).
        "q_bigram_backoff": 2,
        "q_kn_bigram": 2,
        # new batch + the snapshot distinct, whose exchange the m
        # count, the bit table (read by the k EXISTS probes) and the
        # exact join all reuse.
        "q_bloom_delta": 2,
    }
    try:
        got = {
            name: _final_plan_nodes(
                _final_plan(QUERIES[name].fn(spark, SF_SMOKE))
            ).get("docs_scans", 0)
            for name in expected_scans
        }
        assert got == expected_scans
    finally:
        # Drop the persisted intermediates so later tests' plan-shape
        # assertions never silently hit these caches.
        from parquet_compactor_spark.llm.text import release_guard_caches

        assert release_guard_caches() > 0
        # The precise post-condition is "no DATAFRAME cache remains" —
        # the cache manager, not getPersistentRDDs(): earlier tests that
        # build q_dup_clusters' plan leave localCheckpoint RDDs behind,
        # and those are released asynchronously by the ContextCleaner,
        # not by unpersist (asserting the raw RDD count races that GC).
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


#: Spark jobs one noop write of each LLM query in the benchmark's
#: query_mix runs on the smoke fixture. Under AQE each query stage (a
#: shuffle map stage or a broadcast) is one job, so a change that brings
#: back a dependent stage, or a consumer that stops sharing an exchange,
#: moves a count here.
LLM_MIX_JOB_PINS = {
    # tf exchange, doc_freq window exchange, top-k exchange, the n_docs
    # count's two exchanges and broadcast, the result.
    "q_tfidf_topterms": 7,
    # snapshot distinct exchange, m count exchange and broadcast, bit
    # table broadcast, snapshot broadcast for the exact join, rollup
    # exchange, the result.
    "q_bloom_delta": 7,
    # count exchange, bigram and unigram broadcasts, N_train exchange
    # and broadcast, per-doc exchange, the result.
    "q_bigram_backoff": 7,
}


@pytest.mark.parametrize("name", sorted(LLM_MIX_JOB_PINS))
def test_llm_mix_job_count_is_pinned(spark, name):
    from parquet_compactor_spark.llm.text import release_guard_caches

    sc = spark.sparkContext
    group = f"job-pin-{name}"
    sc.setJobGroup(group, name)
    try:
        QUERIES[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_guard_caches()
    jobs = len(list(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs == LLM_MIX_JOB_PINS[name], f"{name} ran {jobs} jobs"


def test_bm25_df_table_pruned_to_query_terms_before_broadcast(spark):
    """q_bm25 broadcasts a |query|-rows df table (pruned before the
    hint), never the full vocabulary: the optimized plan must carry the
    term IN-filter on BOTH sides of the scoring join."""
    p = props(spark, "q_bm25")
    df = QUERIES["q_bm25"].fn(spark, SF_SMOKE)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("spark") >= 2  # IN-list literal on both sides
    assert p.has_broadcast_join


def test_approx_stats_sketch_agg_never_expands(spark):
    """Round-7 regression pin: mixing countDistinct with the t-digest /
    percentile typed-imperative aggregates in ONE agg triggers the
    distinct rewrite — an Expand doubles every input row and the whole
    aggregation falls out of hash aggregation (measured 108 s and a
    default-heap OOM vs 2.6 s at sf0.1). The query must keep the exact-
    distinct count in its own hash-aggregated plan, broadcast-joined
    back: no Expand anywhere, and a broadcast join present."""
    df = QUERIES["q_approx_stats"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan


# Round-8 stretch (round-7 verdict #7): physical-plan SHAPE snapshot over
# the most expensive queries by BENCH_DETAIL cost. A snapshot like this
# would have caught q_approx_stats' distinct-rewrite Expand three rounds
# earlier: accidental plan drift (a new Exchange from a lost
# co-partitioning, an Expand from a mixed agg, a CartesianProduct /
# BroadcastNestedLoopJoin from a dropped join key) shows up as a count
# change long before it shows up in bench numbers. Counts are pinned at
# SF_SMOKE on the suite session; a deliberate plan change must update
# the pin in the same commit (and a fixture regeneration may move
# q_dup_clusters' counts — its returned frame hangs off the iteration's
# last localCheckpoint).
PLAN_SHAPE_PINS = {
    #                     exch  expand  cartesian  bnlj
    "q_dup_clusters":       (2,  0, 0, 0),
    # q_ann_ivf's 2 BroadcastNestedLoopJoins are its two pinned 1-row
    # scalar broadcasts (centroid matrix + probe radius), not pair
    # blowups — a THIRD appearing is drift.
    # Round-12: 5 -> 4. The query branch reads the UN-spread raw scan
    # (ivf_assign's base), so only the live assignment pass carries the
    # spread_scan round-robin exchange; a bounce back to 5 means the
    # query/model branch started crossing the spread exchange again
    # (the round-11 ivf-family bench regression shape).
    # Re-pinned r14 session 4: the two-pass assignment projection is
    # persist_tracked inside ivf_assign (x25: q_ann_ivf 0.80x,
    # q_ivfpq_search 0.88x) — the cache-build lineage renders one
    # more Exchange mention under the InMemoryTableScan consumers.
    "q_ann_ivf":            (5,  0, 0, 2),  # +1: spread_scan round-robin under the live assignment pass
    "q_dedup_minhash":      (15, 0, 0, 0),  # +4: spread_scan round-robin (live + guard lineage renders)
    # Re-pinned r14 session 4: the exploded gram stream is
    # persist_tracked (it fed both the guard count and the probe join),
    # so the spread + cache-build lineage renders under every
    # InMemoryTableScan consumer: 7 -> 10 Exchange mentions while the
    # shingle pass executes once instead of twice (x25: 13.2 -> 7.0 s).
    # Re-pinned when the vocabulary broadcast hint went: the gram-docs
    # agg is no longer a second persisted frame whose build lineage
    # renders under its InMemoryTableScan, 10 -> 5.
    "q_dup_ngram_coverage": (5,  0, 0, 0),
    "q_ngram_jaccard":      (3,  0, 0, 0),  # +2: spread_scan round-robin under both join sides (3.9 -> 0.6 s at sf0.1)
    # Round-8 additions (exchange counts include cached-vocabulary
    # build lineage rendered under InMemoryTableScan nodes; the live
    # joins are BroadcastHashJoins — pinned by the BNLJ/cartesian
    # columns staying at their scalar-broadcast counts):
    "q_minhash_incremental": (16, 0, 0, 0),  # +4: spread_scan (live + guard lineage)
    # 1 BNLJ = the 1-row N_train scalar broadcast; the three vocabulary
    # joins are BroadcastHashJoins. Re-pinned r14 session 4: uni+bi now
    # derive from ONE persisted combined count table (2 train-shard
    # tokenize passes -> 1), whose cache-build lineage renders under
    # every consumer: 14 -> 22 Exchange MENTIONS while the executed
    # model pass halves (Generate nodes 5 -> 3 in the formatted plan).
    # Re-pinned when the vocabulary broadcast hint went: uni and bi
    # are plain projections of the one persisted count table, no
    # longer persisted frames of their own: 22 -> 10. Still 10 with no
    # cache: the count exchange now renders under each of its four
    # consumers, which the final plan runs once
    # (test_llm_mix_job_count_is_pinned).
    "q_bigram_backoff":     (10, 0, 0, 1),
    # The ideal shape: map-only, zero everything.
    "q_pq_encode":          (0,  0, 0, 0),
    # Round-13 (+r14 spread_scan): perceptual-hash near-dup. 1 exchange
    # on the 15-bit chunk key under the pair join + 1 distinct re-agg
    # + the round-robin spread_scan exchange COUNTED TWICE (the hashed
    # signature lineage feeds both sides of the banding self-join —
    # same textual duplication as q_minhash_incremental's note).
    # Adopted round 14 on the x10 ramp win: 2 byte-proportioned splits
    # starved the hash map, 9.55 -> 2.09 s; on a wide scan the guard
    # is a driver-side no-op, so the pin holds only at this
    # single-file smoke fixture. A cartesian or BNLJ appearing means
    # the banding key was lost and the join degenerated to all-pairs.
    "q_phash_dedup":        (4,  0, 0, 0),
    # 1 BNLJ = the bounded seed-set broadcast; 3 exchanges = the
    # round-robin min-parallelism repartition of the probe side (the
    # pair loop is x500 compute per byte — without it a single-file
    # scan runs all pairs on one task: the x5 ramp cliff) + the
    # per-vector argmax rollup (partial + final). On an already-wide
    # scan the repartition is skipped driver-side, so the pin holds
    # only at the single-file smoke fixture this test uses.
    "q_knn_classify":       (3,  0, 0, 1),
    # Round-8 second batch, re-pinned r14: the edge build dropped its
    # distinct-then-self-join-then-distinct plan (4 shuffles + SMJ) for
    # ONE partially-aggregated collect_set per order + an array pair
    # expansion + pair distinct (2 shuffles, no join), so the persisted
    # edge table's build lineage rendered under each InMemoryTableScan
    # reference shrank: 27 exchanges → 19. Still the THREE unrolled
    # rank rounds (join + agg each) — LINEAR in iterations; an
    # Expand/Cartesian/BNLJ appearing (or a step change in exchanges)
    # is drift.
    # Re-pinned r15: the global pair dedup and the out-degree fused
    # into ONE groupBy(src) collect_set shuffle (the former separate
    # distinct + window count pair cost 2 edge-table exchanges), so the
    # persisted edge table's build lineage rendered under each
    # InMemoryTableScan reference shrank again: 19 -> 15.
    "q_pagerank":           (15, 0, 0, 0),
    # Like q_dup_clusters (its frame hangs off the CC loop's last
    # localCheckpoint) plus one component-keyed window exchange.
    "q_dedup_survivorship": (3,  0, 0, 0),
    # Round-9 (verdict #2): the two r8 bench outliers re-measured under
    # 2x of floor on a quiet host (jitter + cold Python workers), pinned
    # so any REAL drift (the range join degrading to a cartesian, the
    # frame sampler growing a shuffle) is caught structurally:
    # q_range_join = ONE shuffled equi-join on user_id with the 1-hour
    # range as residual predicate (2 exchanges, one per side).
    "q_range_join":         (2,  0, 0, 0),
    # q_frame_sample is mapInPandas over binary payloads: map-only.
    "q_frame_sample":       (0,  0, 0, 0),
    # Round-10: the composed IVF-PQ search. 1 BNLJ = the assignment
    # pass's 1-row centroid-matrix broadcast; probe ranking and the ADC
    # LUT are driver-side model state, and both the 32-deep ADC
    # shortlist and the final top-5 are TakeOrdered heaps — a second
    # BNLJ or exchange appearing means the query branch started
    # dragging the assignment subtree again (the round-9 q_ann_ivf
    # regression shape).
    "q_ivfpq_search":       (3,  0, 0, 1),  # +1 spread round-robin, +1 ivf_assign persist lineage (r14 s4)
    # Round-10: sliding-window exact-substring dedup — exchange count
    # includes the vocabulary-guard build lineage under
    # InMemoryTableScan (the q_minhash_incremental convention); no
    # Expand/Cartesian/BNLJ may ever appear (windows join on md5 keys).
    # 4 = guard-build lineage + join sides + ONE doc_id rollup; the
    # first draft's two-branch form (rollup + LEAD window both reading
    # the explode+join subtree) measured 8 exchanges and 2x the wall
    # clock — a count jump back means the single-pass fold regressed.
    # Re-pinned r14 session 4: the exploded window stream is
    # persist_tracked (the q_dup_ngram_coverage change, same shape):
    # 7 -> 10 Exchange mentions, window-md5 pass 2x -> 1x (x25:
    # 15.0 -> 11.8 s).
    # Re-pinned when the vocabulary broadcast hint went: the
    # first-occurrence agg is no longer a second persisted frame,
    # 10 -> 5.
    "q_substring_dedup":    (5,  0, 0, 0),
    # Round-10: DoReMi weights — ONE corpus agg exchange + ONE reused
    # single-partition window exchange for every round's renormalizing
    # sum over the domains-sized frame. A count jump here means the
    # iteration started branching the plan again (the agg+crossJoin
    # form measured (94, _, _, 31): unshared subtrees doubling per
    # round, corpus re-scanned 2^rounds times).
    "q_doremi_weights":     (2,  0, 0, 0),
    # Round-11: W=8 eval-shard contamination — the q_substring_dedup
    # machinery with a LEFT probe join against the DISTINCT eval-window
    # table: 4 = eval-side distinct (pruned to the 1/23 shard BELOW the
    # explode) + probe join sides + ONE doc_id rollup folding counts
    # and interval coverage. No Expand/Cartesian/BNLJ may appear — a
    # BNLJ here means the eval probe degenerated to pair formation.
    # Re-pinned when the vocabulary broadcast hint went: the eval-window
    # table is no longer persisted, so its spread_scan lineage renders
    # once, 7 -> 5.
    "q_eval_contamination": (5,  0, 0, 0),
    # Round-11: SemDeDup within IVF cells — 3 BNLJ are the bounded
    # centroid-matrix broadcasts of the shared two-pass ivf_assign
    # stage (rendered once live + under the persisted frame's
    # InMemoryTableScan lineage); 7 exchanges = Lloyd mean shuffle +
    # persist build lineage + the bucket-keyed pair join sides + two
    # rollups. A CartesianProduct or an exchange jump means pairs
    # escaped the per-cell bound.
    "q_semdedup_prune":     (13, 0, 0, 3),  # +3 spread under count/assign/persist branches, +3 ivf_assign persist lineage (r14 s4)
    # Round-11 second trio. Vocab coverage: train-shard term agg +
    # TakeOrdered heap cut + broadcast probe + source rollup — 4
    # exchanges, no pair op may ever appear.
    "q_vocab_coverage":     (4,  0, 0, 0),
    # Secret scan is the ideal scan shape: map-only regex counts into
    # ONE source-keyed aggregate.
    "q_secret_scan":        (1,  0, 0, 0),
    # Rank fusion: two retrieval arms (tf/dl/df aggs + heap cuts) fused
    # by a broadcastable outer join; the 2 BNLJ are the 1-row stats and
    # 1-row query-vector broadcasts. A CartesianProduct or exchange
    # jump means an arm's shortlist stopped being heap-bounded.
    "q_rank_fusion":        (11, 0, 0, 2),
    # Winnowing: the whole selection (gram hashes, window minima,
    # per-doc distinct) is ONE map-side aggregate fold — only selected
    # fingerprints shuffle. A count jump means per-gram rows
    # started exploding again (2.5x the shuffle volume). Re-pinned r14
    # session 4: the selected-fingerprint explode is persist_tracked
    # (the fold fed both the guard count and the probe join — it ran
    # twice), so the spread_scan + cache-build lineage now renders
    # under every InMemoryTableScan consumer: 9 -> 12 Exchange
    # MENTIONS, while the fold itself executes once instead of twice.
    # Re-pinned when the vocabulary broadcast hint went: the
    # fingerprint agg is no longer a second persisted frame, 12 -> 6.
    "q_winnowing_fingerprint": (6,  0, 0, 0),
    # Round-11 session 2. CDC chunking: boundary scan + span assembly
    # are ONE map-side projection (no explode before finished chunks);
    # 4 = spread_scan round-robin + the chunk-hash window exchange +
    # the 20-group rollup (partial+final). Any pair op appearing means
    # chunks started joining instead of window-counting.
    "q_cdc_chunk_dedup":    (4,  0, 0, 0),
    # Dedup cascade: stage flags run NARROW (hash columns only — text
    # never rides the two window sorts; the wide form measured +40%
    # wall), survivor text moves once through a doc_id join, and the
    # survivor set is persist_tracked (its windows+join build lineage
    # renders under every InMemoryTableScan reference — the q_pagerank
    # counting convention — which is most of this count). Round-12:
    # 98 -> 49 — stage 3 moved from banded MinHash (64-perm signature
    # machinery, 15 exchanges of its own) to the EXACT-recall
    # df-ordered prefix-filter join (hashed-shingle persist + df agg +
    # per-doc prefix window + one hash equi-join + narrow verify
    # sides; the persist's build lineage renders under each of its
    # four InMemoryTableScan consumers), which makes the oracle
    # equivalence structural and halves the plan. The 1 BNLJ is the
    # 1-row stage-counts x 1-row removals scalar join. A
    # CartesianProduct appearing means stage 3 escaped the
    # prefix-filter bound.
    # Re-pinned r15: prefix_filter_pairs computes document frequency
    # with a window count over the hash-keyed shuffle instead of a
    # groupBy agg + join back (the join re-shuffled the full exploded
    # table anyway): 49 -> 37 Exchange mentions (the persisted
    # hashed-set lineage renders under each consumer).
    "q_dedup_cascade":      (37, 0, 0, 1),
    # Source overlap (re-pinned r14 session 4): ONE gram-hash
    # collect_set exchange (replacing the former distinct + gram
    # self-join — SortMergeJoin count 2 -> 0, Exchange mentions
    # 15 -> 12, x25 19.3 -> 6.6 s) + the pair-expansion agg +
    # per-source counts off the cached set table; 1 BNLJ = the bounded
    # 20x20 pair spine. A second BNLJ or a CartesianProduct means the
    # pair expansion degenerated to a join.
    "q_source_overlap":     (12, 0, 0, 1),
    # Doc entropy: (doc, word) agg + doc-window on the same key space +
    # per-doc rollup + histogram — 5 exchanges incl. spread_scan, no
    # joins ever.
    "q_doc_entropy":        (5,  0, 0, 0),
    # Embed covariance: mapInPandas partial Grams + the 2080-group
    # reduce + the 64-row first-moment agg broadcast twice — 9
    # exchanges incl. spread_scan under both scan branches; the joins
    # must stay BroadcastHashJoins (a sort-merge or pair op appearing
    # means the model-state moments stopped broadcasting).
    "q_embed_covariance":   (9,  0, 0, 0),
    # Kneser-Ney bigram LM: the q_bigram_backoff shape plus the two
    # derived model tables (context totals, continuation counts) built
    # FROM the cached bigram table — their guard-build lineage renders
    # under InMemoryTableScan references (the q_minhash_incremental
    # convention). 1 BNLJ = the 1-row type-total scalar. Re-pinned r14
    # (change #12: spread_scan removed — measured against the explode
    # weight): the round-robin exchange left every rendered lineage,
    # 35 -> 22 Exchange mentions.
    # Re-pinned when the vocabulary broadcast hint went: bi is the one
    # persisted frame (four consumers whose pushed-down filters keep AQE
    # from sharing its exchange); ctx and cont read it and are no longer
    # persisted themselves: 22 -> 12.
    "q_kn_bigram":          (12, 0, 0, 1),
    # Round-12 trio, re-pinned r14: the 5 per-config band explodes
    # collapsed into ONE concat-of-transforms explode over the
    # signature cache (5 InMemoryTableScan+Generate branches -> 1), so
    # the sigs persist lineage renders under 3 consumers instead of 7:
    # 29 exchanges -> 21. Still: portable-signature persist + the
    # prefix-filter truth stage (its own hashed-shingle persist) + the
    # single band-bucket agg + the 1-row truth agg exploded to 5 rows
    # joined to the 5-row probe counts. No Expand/Cartesian/BNLJ may
    # EVER appear: a pair op here means a band bucket or the prefix
    # join escaped its key.
    # Re-pinned r15: prefix_filter_pairs df window (see q_dedup_cascade
    # note): 21 -> 19.
    "q_lsh_tuning":         (19, 0, 0, 0),
    # IVF refresh: the two-pass frozen-centroid build on the OLD
    # corpus (spread assignment + Lloyd mean shuffle) + the new-shard
    # assignment + two K-row count aggs meeting in one full-outer join
    # + the wall-window ppm pass. The 2 BNLJ are the bounded 1-row
    # centroid-matrix broadcasts of the two live assignment passes (the
    # q_ann_ivf convention); a third means a branch started dragging
    # the assignment subtree.
    "q_ivf_refresh":        (7,  0, 0, 2),
    # Round-12 second batch. Exact set-similarity join: the
    # prefix-filter machinery standalone (hashed-shingle persist whose
    # build lineage renders under 4 InMemoryTableScan consumers + df
    # agg + prefix window + hash equi-join + narrow verify). No pair
    # op may ever appear.
    # Re-pinned r15: prefix_filter_pairs df window: 9 -> 7.
    "q_ssjoin_exact":       (7,  0, 0, 0),
    # KMV theta sketches: distinct + per-source top-k window builds the
    # persist-tracked sketch (lineage under 5 consumers); all pair math
    # runs on sketch rows. The 3 BNLJ are the ONE bounded sources x
    # sources spine crossJoin (20 x 20 rows, the q_source_overlap
    # class) rendered under its three consuming branches (both union
    # arms + the common-hash rollup); a fourth means sketch rows
    # started pairing outside the spine.
    # Re-pinned r15: explicit broadcasts on the four sketch-bounded
    # post-sketch joins (initial-plan SMJ 4 -> 0): 35 -> 34 Exchange
    # mentions at the smoke fixture.
    "q_kmv_intersect":      (34, 0, 0, 3),
    # Poisson bootstrap: explode x32 + two hash aggs + the per-source
    # order-stat arrays + one 20-row join — scan-shaped, no pair ops.
    # Re-pinned r14 (change #10: the 32x-explode scan is spread —
    # measured 0.80 vs 1.76 s FOR the spread at its md5-per-doc
    # weight): +1 round-robin exchange.
    "q_bootstrap_ci":       (5,  0, 0, 0),
    # ROUGE-2: bigram explode-agg + the adjacent-doc gram equi-join +
    # pair rollup + the doc_id+1 totals spine — all hash-keyed; a
    # CartesianProduct or BNLJ appearing means the adjacency spine or
    # the gram join dropped its key. (q_ks_test is a value-grid agg +
    # one bounded window — under the pin threshold.)
    "q_rouge_overlap":      (14, 0, 0, 0),
}


@pytest.mark.parametrize("name", sorted(PLAN_SHAPE_PINS))
def test_expensive_query_plan_shape_is_pinned(spark, name):
    exch, expand, cart, bnlj = PLAN_SHAPE_PINS[name]
    df = QUERIES[name].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = (
        plan.count("Exchange"),
        plan.count("Expand"),
        plan.count("CartesianProduct"),
        plan.count("BroadcastNestedLoop"),
    )
    assert got == (exch, expand, cart, bnlj), (
        f"{name} plan shape drifted: (exchange, expand, cartesian, bnlj) "
        f"= {got}, pinned {(exch, expand, cart, bnlj)}"
    )
