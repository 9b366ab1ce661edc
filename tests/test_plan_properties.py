"""Physical-plan property tests: lock in the scale-critical plan
shapes so a refactor that silently loses predicate pushdown, a
broadcast, or adds an unnecessary exchange fails CI — these ARE the
100 TB requirements, asserted on the optimizer's output rather than
timings."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from kafka_topic_dumper_spark import registry

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def count_in(plan: str, needle: str) -> int:
    return plan.count(needle)


def test_q1_pushdown_and_single_exchange(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # the shipdate filter must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan-agg-scan: exactly one exchange (the groupBy), no joins
    assert count_in(plan, "Exchange hashpartitioning") == 1
    # column pruning: never read l_orderkey for this query
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q3_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    # filtered customer (and at this SF, orders) broadcast — the fact
    # table must never be on the build side of a shuffle join
    assert count_in(plan, "BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_all_dims_broadcast(spark):
    plan = plan_of(spark, "q5_region_revenue")
    assert count_in(plan, "BroadcastHashJoin") >= 4


def test_flagship_single_shuffle(spark):
    plan = plan_of(spark, "flagship_latest_event_per_user")
    # one shuffle on user_id serves the rank-1 window; nothing else
    assert count_in(plan, "Exchange hashpartitioning") == 1


def test_winnowing_single_shuffle_pre_explode(spark):
    plan = plan_of(spark, "text_winnowing_fingerprints")
    # window + per-doc dedup share the doc_id partitioning
    assert count_in(plan, "Exchange hashpartitioning") == 1
    # and that one exchange must sit BELOW the character explode
    # (generators preserve partitioning): the shuffle moves whole docs,
    # never one-row-per-character data. Plans print root-first, so the
    # deeper node (the exchange) must appear AFTER the Generate.
    assert "Generate explode" in plan
    assert plan.index("Exchange hashpartitioning") > plan.index("Generate explode")


def test_embedding_neardup_is_bucketed_not_all_pairs(spark):
    plan = plan_of(spark, "dedup_embedding_cosine")
    # candidate pairs must come from the (tbl, bucket) equijoin — an
    # all-pairs nested-loop join here is the 100× scale-killer
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_df_cap_rides_one_index_shuffle(spark):
    plan = plan_of(spark, "dedup_ngram_jaccard")
    # r3 shape: the df cap is a window COUNT over the same sh_h
    # partitioning the pair generation uses — no dedicated hot-set
    # groupBy pass, no anti-join, and no shingle self-join (pairs come
    # from a bounded collect_list + double explode)
    assert "Window" in plan
    assert "LeftAnti" not in plan
    assert "SortMergeJoin" not in plan  # the only joins left broadcast
    assert count_in(plan, "Generate explode") >= 2


def test_multimodal_meta_prunes_payload_and_stays_jvm(spark):
    plan = plan_of(spark, "multimodal_binary_meta")
    # metadata projection must not invoke Python at all
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # and reads only the two columns it needs
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_sessionize_single_shuffle_two_windows(spark):
    plan = plan_of(spark, "sessionize_events")
    # lag-window, running-sum window, and the session aggregate all
    # ride ONE user_id exchange
    assert count_in(plan, "Exchange hashpartitioning") == 1


def test_salted_join_correct_under_heavy_skew(spark):
    """Correctness under the condition salting exists for: one key
    holding ~90% of the big side. The salted join must produce exactly
    the plain join's result."""
    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.operators.relational import salted_join

    big = spark.range(0, 20000).select(
        F.when(F.col("id") < 18000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k2"), (F.col("id") * 10).alias("w")
    )
    got = salted_join(big, small, "k", "k2", n_salts=8)
    plain = big.join(small, big.k == small.k2)
    assert got.count() == plain.count() == 20000
    assert (
        got.agg(F.sum(F.col("payload") * F.col("w"))).collect()[0][0]
        == plain.agg(F.sum(F.col("payload") * F.col("w"))).collect()[0][0]
    )


def test_q6_all_predicates_pushed(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # every conjunct reaches the scan; 4-column pruning; no join, no
    # pre-agg exchange (global agg = single final combine)
    scan = plan.split("FileScan parquet")[1]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in scan.split("ReadSchema")[0]
    assert count_in(plan, "Exchange hashpartitioning") == 0


def test_q19_disjunction_split_to_both_scans(spark):
    plan = plan_of(spark, "q19_disjunctive_predicates")
    # Catalyst must extract each side's component of the OR-of-ANDs
    # below the broadcast join: quantity ranges on the lineitem scan,
    # brand/size on the part scan
    assert "BroadcastHashJoin" in plan
    scans = plan.split("FileScan parquet")
    li_scan, part_scan = scans[1], scans[2]
    assert "l_quantity" in li_scan.split("ReadSchema")[0]
    assert "p_brand" in part_scan.split("ReadSchema")[0]


def test_q7_q8_dims_broadcast_single_fact_shuffle(spark):
    # the multi-dimension star joins must broadcast every dim side;
    # the ONLY hash exchange is the final tiny group
    for name, n_bhj in (
        ("q7_nation_volume_shipping", 5),
        ("q8_nation_market_share", 7),
        ("q9_product_profit", 4),
    ):
        plan = plan_of(spark, name)
        assert count_in(plan, "BroadcastHashJoin") >= n_bhj, name
        assert count_in(plan, "SortMergeJoin") == 0, name
        assert count_in(plan, "Exchange hashpartitioning") == 1, name


def test_q11_q22_scalar_subquery_is_one_row_broadcast(spark):
    # the scalar aggregate (grand total / pool average) must attach as
    # a 1-row BroadcastNestedLoopJoin — never a shuffle, never a
    # per-row recomputation
    for name in ("q11_important_stock_value", "q22_dormant_customers"):
        plan = plan_of(spark, name)
        assert count_in(plan, "BroadcastNestedLoopJoin") == 1, name
    # q22's dormancy is an anti join with the date filter pushed into
    # the orders scan
    plan = plan_of(spark, "q22_dormant_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q20_nested_in_is_semi_join(spark):
    plan = plan_of(spark, "q20_potential_part_promotion")
    assert "LeftSemi" in plan
    # prefix LIKE pushes to the part scan as a range/startswith filter
    assert "StringStartsWith(p_name,small)" in plan


def test_q21_decorrelated_form_never_multiplies_rows(spark):
    # the EXISTS/NOT-EXISTS pair must be the window form: no join of
    # lineitem against itself (no row multiplication on l_orderkey)
    plan = plan_of(spark, "q21_late_shipping_suppliers")
    assert count_in(plan, "Window") >= 1
    # lineitem is scanned exactly once
    assert count_in(plan, "lineitem.parquet") == 1


def test_contamination_probe_broadcasts_corpus_never_reshuffles(spark):
    # the probe (benchmark) index and its counts broadcast; the only
    # hash exchanges are the two aggregations (per-(doc,probe) combine
    # and the probe-sized count) — the exploded corpus is never
    # re-shuffled for distinctness (array_distinct dedupes pre-explode)
    plan = plan_of(spark, "text_contamination_overlap")
    assert count_in(plan, "BroadcastHashJoin") == 2
    assert count_in(plan, "SortMergeJoin") == 0
    assert count_in(plan, "Exchange hashpartitioning") == 2


def test_skew_profile_topk_never_full_sorts(spark):
    # top-10 heavy hitters must plan as TakeOrdered, not a global sort
    plan = plan_of(spark, "stats_key_skew_profile")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_gap_fill_scans_fact_table_once(spark):
    # the spine's bounds and type set derive from the PERSISTED hourly
    # aggregate: every reference reads the cache (InMemoryTableScan),
    # so the raw fact scan executes once at materialization. (The plan
    # STRING still prints the cached subtree's parquet lineage per
    # reference — count cache reads, not lineage mentions.)
    plan = plan_of(spark, "timeseries_gap_fill")
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 3  # hourly join + bounds + types


def test_cohort_retention_scans_fact_table_once(spark):
    plan = plan_of(spark, "cohort_retention")
    assert plan.count("InMemoryTableScan") >= 2  # activity join + cohort agg


def test_asof_forward_single_shuffle(spark):
    plan = plan_of(spark, "asof_join_next_purchase")
    assert count_in(plan, "Exchange hashpartitioning") == 1


def test_funnel_single_scan_single_shuffle(spark):
    # r3 rewrite: chained window minima — one fact scan, one user_id
    # exchange feeding three stacked Window nodes, and the per-user
    # collapse rides the same partitioning (no second shuffle)
    plan = plan_of(spark, "funnel_conversion")
    assert count_in(plan, "FileScan parquet") == 1
    assert count_in(plan, "Exchange hashpartitioning") == 1
    assert count_in(plan, "Window ") == 3
    assert "Join" not in plan


def _analyzed_plan_of(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize(
    "query,max_hints",
    [
        ("q3_shipping_priority", 0),
        # q5 keeps hints ONLY on the fixed-cardinality dims (nation=25
        # rows, region=5); customer/supplier must be hint-free
        ("q5_region_revenue", 2),
        ("dedup_ngram_jaccard", 0),
    ],
)
def test_no_broadcast_hint_on_sf_proportional_relations(spark, query, max_hints):
    """r4 verdict item 5: an explicit broadcast() on a relation that
    grows with SF (customer, supplier, per-doc counts) wins at sf0.1
    and OOMs at 100×. The hint must stay off these queries — AQE
    broadcasts from runtime stats while the side fits and falls back
    to shuffle at scale. Asserted on the ANALYZED plan (ResolvedHint
    nodes) because the optimizer folds hints into Join nodes and the
    physical plan broadcasts either way at test SF."""
    plan = _analyzed_plan_of(spark, query)
    assert plan.count("ResolvedHint") <= max_hints, plan


def test_no_broadcast_hint_on_sf_proportional_sources():
    """Source-level policy lint (r4 verdict, generalized in r5): an
    explicit F.broadcast() is allowed ONLY on relations whose size is
    independent of scale factor — nation/region, 1-row scalar
    aggregates, query/probe sets, per-bucket metadata. Hints on
    part/supplier/customer/fact-derived/vocabulary/corpus-sized
    relations win at bench SF and OOM at 100×. This greps the package
    so a reintroduced hint fails with the offending line."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "kafka_topic_dumper_spark"
    banned = (
        "F.broadcast(part", "F.broadcast(supp", "F.broadcast(cust",
        "F.broadcast(big", "F.broadcast(movers", "F.broadcast(df_table",
        "F.broadcast(corpus_keys", "F.broadcast(ca", "F.broadcast(cb",
        "F.broadcast(counts", "F.broadcast(orders", "F.broadcast(li",
        "F.broadcast(lineitem", "F.broadcast(docs", "F.broadcast(emb",
        "F.broadcast(events",
    )
    offenders = []
    for path in pkg.rglob("*.py"):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if line.lstrip().startswith("#"):
                continue
            for pat in banned:
                if pat in line:
                    offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, (
        "scale-unsafe broadcast hint(s) on SF-proportional relations:\n"
        + "\n".join(offenders)
    )


def test_bm25_takeordered_no_python_no_global_sort(spark):
    plan = plan_of(spark, "text_bm25_topk")
    # top-k must be TakeOrderedAndProject — a global Sort before the
    # limit would serialize the corpus-sized score stream
    assert "TakeOrderedAndProject" in plan
    # entirely JVM expressions — no Python in the row path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # df and corpus stats ride broadcasts, not shuffles, into scoring
    assert count_in(plan, "BroadcastExchange") >= 2


def test_zorder_key_is_map_stage_plus_bounds_broadcast(spark):
    plan = plan_of(spark, "layout_zorder_events")
    # the only join is the 1-row bounds broadcast (nested-loop — no key)
    assert "BroadcastNestedLoopJoin" in plan
    # no hash shuffle anywhere: the interleave is a pure projection
    assert count_in(plan, "Exchange hashpartitioning") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tokenize_pack_broadcasts_vocab_never_reshuffles_tokens(spark):
    plan = plan_of(spark, "pipeline_tokenize_pack_ids")
    # the vocab lookup joins the exploded token stream via broadcast —
    # a shuffle join here would reshuffle every corpus token on `tok`
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_single_doc_shuffle(spark):
    plan = plan_of(spark, "text_quality_classifier")
    # explode → hash → one doc_id aggregation; the 64-entry weight
    # table folds into the projection (no join at all)
    assert count_in(plan, "Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_sample_corpus_never_shuffles(spark):
    plan = plan_of(spark, "sample_domain_temperature")
    # membership is a map-side filter: the corpus-side stream joins
    # the model-sized rate table via broadcast only; the only hash
    # exchanges belong to the tiny totals aggregation
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hilbert_key_is_map_stage_plus_bounds_broadcast(spark):
    plan = plan_of(spark, "layout_hilbert_events")
    # one vectorized Arrow map stage for the 16-level walk (r18: the
    # fused 16-projection JVM chain exceeded HotSpot's JIT method
    # limit and ran interpreted — see layout.hilbert_key); the only
    # join is the 1-row min/max bounds broadcast, no hash shuffle,
    # and no row-at-a-time Python
    assert "BroadcastNestedLoopJoin" in plan
    assert "MapInPandas" in plan
    assert count_in(plan, "Exchange hashpartitioning") == 0
    assert "BatchEvalPython" not in plan


def test_rolling_anomaly_single_user_exchange_no_python(spark):
    plan = plan_of(spark, "stats_rolling_anomaly")
    # one shuffle on user_id serves count/sum/sum-of-squares frames;
    # the integer z-test is a pure projection
    assert count_in(plan, "Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cusum_single_user_exchange_no_python(spark):
    plan = plan_of(spark, "stats_cusum_changepoints")
    # μ0 is a 1-row broadcast; all four running aggregates ride ONE
    # user_id exchange + sort
    assert count_in(plan, "Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_nearest_single_exchange_both_frames(spark):
    plan = plan_of(spark, "asof_join_nearest")
    # both direction frames share one (user, time) sort: exactly one
    # hash exchange, one Window spanning all four running columns
    assert count_in(plan, "Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_priority_sample_no_corpus_shuffle(spark):
    plan = plan_of(spark, "sample_weighted_priority")
    # the global top-(k+1) is TakeOrderedAndProject (map-side partial
    # top-k, driver merge) — a full sort+limit would show Exchange
    # rangepartitioning
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_editdist_banded_dp_no_cartesian_lemma_path(spark):
    plan = plan_of(spark, "dedup_editdist_join_realvocab")
    # the verify stage must use the THRESHOLD (banded O(len*D)) form of
    # levenshtein, not the full O(len^2) matrix — a silent revert to
    # the 2-arg form re-opens the long-document failure mode; the
    # threshold literal is derived from the constant so the assertion
    # tracks EDITDIST_MAX
    from kafka_topic_dumper_spark.operators.dedup import EDITDIST_MAX

    assert "levenshtein(text_a" in plan and f"Some({EDITDIST_MAX})" in plan
    # candidate generation is the (gh, band) equi-join — the only
    # non-equi join allowed is the short-doc completeness subset
    # (both sides <= q-1+q*D chars by construction, corpus-skew-free)
    assert count_in(plan, "CartesianProduct") == 0
    assert count_in(plan, "BroadcastNestedLoopJoin") <= 1
    # whole pipeline stays JVM-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_editdist_prefix_stored_banded_dp_equi_candidates(spark):
    # twin of the realvocab plan pin for the round-13 stored
    # prefix-index row: candidates must come from the (gh, occ, band)
    # EQUI-join over the materialized prefix index — the only
    # non-equi join allowed is the same short-doc completeness subset
    # — and the verify stage must stay on the THRESHOLD levenshtein
    plan = plan_of(spark, "dedup_editdist_prefix_stored")
    from kafka_topic_dumper_spark.operators.dedup import EDITDIST_MAX

    assert "levenshtein(text_a" in plan and f"Some({EDITDIST_MAX})" in plan
    assert count_in(plan, "CartesianProduct") == 0
    assert count_in(plan, "BroadcastNestedLoopJoin") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "query",
    [
        "multimodal_decode_stub",
        "multimodal_frame_sample",
        "multimodal_resize_stub",
        "multimodal_feature_stub",
    ],
)
def test_stub_payload_rows_never_pay_a_spread_shuffle(spark, query):
    # r19 (r18 verdict item 1): the cheap stub decoders ride
    # binary_payloads, whose r18 unconditional spread_input made
    # decode_stub pay a 32-way round-robin shuffle it cannot amortize
    # (driver bench 0.246 -> 0.439 s). The stub paths are one
    # vectorized pandas expression per batch - their plan must stay
    # scan -> project -> MapInPandas with NO exchange of any kind.
    # The expensive codecs spread via their own synth_* entry points
    # (r18 section 16), which this pin deliberately does not touch.
    plan = plan_of(spark, query)
    assert count_in(plan, "RoundRobinPartitioning") == 0
    assert count_in(plan, "Exchange") == 0
    assert "MapInPandas" in plan


def _python_udfs(node, out: list) -> list:
    """(name, udfDeterministic) of every PythonUDF in a plan's JSON."""
    if isinstance(node, dict):
        if str(node.get("class", "")).endswith(".PythonUDF"):
            out.append((node["name"], node["udfDeterministic"]))
        for v in node.values():
            _python_udfs(v, out)
    elif isinstance(node, list):
        for v in node:
            _python_udfs(v, out)
    return out


@pytest.mark.parametrize("query", ["similarity_topk_ivf", "similarity_topk_ivfpq"])
def test_ivf_probe_leg_ranks_udf_stays_deterministic(spark, query):
    # Only the corpus leg's centroid ranking is marked nondeterministic
    # (it stops Catalyst from evaluating the kernel twice). The probe
    # leg gets its own UDF instance: asNondeterministic() marks a UDF
    # object in place, and a shared instance made both legs
    # nondeterministic.
    import json

    df = registry.QUERIES[query](spark, SF)
    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    ranks = sorted(det for name, det in _python_udfs(plan, []) if name == "_ranks")
    assert ranks == [False, True]


# Every row whose final plan runs a similarity vector kernel: the
# ArrowEvalPython node count of the executed plan and the
# (name, deterministic) multiset of PythonUDFs in the optimized plan.
# A persisted relation's plan is counted at each of its references.
# The nondeterministic ``_buckets``/``_ranks`` instances are the r18/r19
# fixes that stop Catalyst from evaluating a kernel twice; a second
# ArrowEvalPython node over the same kernel shows up here first.
@pytest.mark.parametrize(
    "query, arrow_evals, udfs",
    [
        ("similarity_topk_bruteforce", 1, {("_dot", True): 1}),
        ("similarity_topk_rp", 1, {("_dot", True): 1}),
        ("similarity_topk_lsh", 3, {("_buckets", False): 4, ("_dot", True): 1}),
        ("similarity_topk_lsh_stored", 1, {("_dot", True): 1}),
        ("similarity_knn_graph", 3, {("_buckets", False): 4, ("_dot", True): 1}),
        ("similarity_recall_eval", 9, {("_buckets", False): 12, ("_dot", True): 10}),
        ("similarity_topk_ivf", 3, {("_dot", True): 1, ("_ranks", False): 1, ("_ranks", True): 1}),
        ("similarity_topk_ivf_trained", 3, {("_dot", True): 1, ("_ranks", False): 1, ("_ranks", True): 1}),
        ("similarity_topk_ivf_stored", 1, {("_dot", True): 1}),
        ("similarity_topk_pq", 1, {("_codes", True): 1}),
        ("similarity_topk_pq_trained", 1, {("_codes", True): 1}),
        ("similarity_topk_ivfpq", 3, {("_codes", True): 1, ("_ranks", False): 1, ("_ranks", True): 1}),
        ("dedup_embedding_cosine", 3, {("_buckets", False): 4, ("_dot", True): 1}),
        ("dedup_semantic", 1, {("_keep", True): 1, ("_ranks", True): 1}),
        ("dedup_semantic_trained", 1, {("_keep", True): 1, ("_ranks", True): 1}),
        ("retrieval_hybrid_rrf", 1, {("_dot", True): 1}),
    ],
)
def test_vector_kernel_rows_keep_their_python_stages(spark, query, arrow_evals, udfs):
    import json
    from collections import Counter

    qe = registry.QUERIES[query](spark, SF)._jdf.queryExecution()
    assert count_in(qe.executedPlan().toString(), "ArrowEvalPython") == arrow_evals
    plan = json.loads(qe.optimizedPlan().toJSON())
    assert Counter(_python_udfs(plan, [])) == udfs


def test_explain_capture_runs_from_the_repo_root_without_pythonpath():
    """tools/explain_capture.py imports the package from a plain
    checkout, and with too few arguments prints its usage and exits 2
    (before it starts a session)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "tools/explain_capture.py"],
                          cwd=repo, env=env, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode == 2, proc.stderr
    assert "ModuleNotFoundError" not in proc.stderr
    assert "Usage" in proc.stdout
