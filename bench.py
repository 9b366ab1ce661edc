"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}``

Each query is forced end-to-end with the noop sink (full computation,
no driver collect — measures the engine, not py4j transfer). The
``dump_pipeline`` entry measures the reference's actual workload shape:
scan → project key/value-sized columns → chunked gzip parquet write.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from kafka_topic_dumper_spark import registry
from kafka_topic_dumper_spark.functions.caching import operator_caches
from kafka_topic_dumper_spark.session import get_session
from kafka_topic_dumper_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# min-of-N per query: this VM shows sporadic multi-second host
# contention (see BENCH_BASELINE.md's A/B probe); the min over N runs
# isolates the engine's cost from the noise. n=3 reconciles the
# r2 driver-vs-builder gap (n=2 driver run read 17.6 s where the
# builder's session measured 14.6 s for the same query set).
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# Per-row, per-repetition wall times (name -> [run1..runN] in run
# order), recorded by every timing loop below and emitted in
# BENCH_DETAIL.json as "query_runs" plus the derived "queries_cold"
# first-run column (r18 verdict items 2-3: the reported min-of-N is
# the warm steady state once a query's tracked persists are hot from
# run 1, so persist-based wins need the cold column priced next to
# the warm min, and a flat 8-vs-32-core ratio needs the per-run
# breakdown to show WHY — runs 2..N are cache-backed and largely
# core-count-insensitive). Reporting only: the timed path and the
# reported min-of-N are unchanged.
RUN_TIMES: dict[str, list[float]] = {}


def _record_run(name: str, dt: float) -> float:
    """Append one repetition's wall time to RUN_TIMES; returns dt."""
    RUN_TIMES.setdefault(name, []).append(round(dt, 3))
    return dt


def _cold_column(run_times: dict[str, list[float]]) -> dict[str, float]:
    """First-run (cold) seconds per row. For rows whose protocol warms
    state OUTSIDE the timed loop (the stored-index probes), run 1 is
    the warm steady state by design — documented at the timing site."""
    return {n: runs[0] for n, runs in run_times.items() if runs}


# The frozen round-1 headline set — comparable across every round.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "flagship_latest_event_per_user",
    "events_hourly_rollup",
    "o2_tail_k_per_partition",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "similarity_topk_lsh",
    "text_token_stats",
    "text_lang_id",
    "text_winnowing_fingerprints",
    "multimodal_decode_stub",
    "asof_join_last_purchase",
    "sessionize_events",
    "join_salted_skew",
]

# v2 set: the round-2 LLM-pipeline operators, tracked from round 3 on
# so their regressions are mechanically checkable (baselines in
# BENCH_BASELINE.md).
HEADLINE_V2 = [
    "pack_training_sequences",
    "sample_domain_mixture",
    "pipeline_clean_dedup_pack",
    "dedup_incremental",
    "timeseries_gap_fill",
    "cohort_retention",
    "multimodal_phash_neardup",
]


# v3 set: the round-5 additions (stored-index ANN probe cycle, corpus
# bigram-LM scoring, int8 quantization) — tracked from round 5 on.
HEADLINE_V3 = [
    "similarity_topk_lsh_stored",
    "similarity_topk_ivf_stored",
    "text_bigram_lm_quality",
    "embedding_quantize_int8",
    "pipeline_quality_dedup_pack",
]


# v4 set: the round-6 additions (semantic dedup, substring-span dedup,
# chunking, epoch shuffle, stratified sampling, quadratic-free minhash
# clustering) — tracked from round 6 on; baselines in BENCH_BASELINE.md.
HEADLINE_V4 = [
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "dedup_semantic",
    "dedup_duplicate_spans",
    "dedup_remove_spans",
    "dedup_minhash_clusters",
    "chunk_documents_sliding",
    "epoch_shuffle_order",
    "sample_stratified_per_group",
]


# v5 set: the round-6 second-wave additions (BM25 retrieval, hashed
# linear quality classifier, BPE first-sweep pair counts, corpus kNN
# graph, Z-order layout key, temperature-scaled sampling) — tracked
# from round 6 on; baselines in BENCH_BASELINE.md.
HEADLINE_V5 = [
    "text_bm25_topk",
    "text_quality_classifier",
    "text_bpe_pair_counts",
    "similarity_knn_graph",
    "layout_zorder_events",
    "sample_domain_temperature",
    "pipeline_tokenize_pack_ids",
    "retrieval_hybrid_rrf",
    "similarity_mutual_knn_clusters",
    "pipeline_quality_ensemble",
    "dedup_quality_survivor",
]

# v6 set: the round-7 additions — the real-codec modality paths
# (stdlib PNG/GIF/WAV/AVI kernels; the cost is the mapInPandas
# encode/decode round trip over the corpus) and the curation
# operators. Tracked from round 7 on; baselines in BENCH_BASELINE.md.
HEADLINE_V6 = [
    "multimodal_decode_png",
    "multimodal_decode_gif",
    "multimodal_wav_features",
    "multimodal_avi_frames",
    "text_quality_calibrated_rank",
    "sample_token_budget",
]

# v7 set: the round-8 additions. Tracked from round 8 on; baselines
# in BENCH_BASELINE.md. The JPEG row prices the full encode+decode
# round trip (integer-DCT numpy stages + per-symbol Python Huffman —
# the same contract-pricing framing as the GIF LZW row).
HEADLINE_V7 = [
    "multimodal_decode_jpeg",
    "similarity_topk_rp",
    "graph_pagerank_supplier_network",
    "dedup_ngram_containment",
    "text_unicode_normalize",
    # second r8 wave: the sketch family + curation/stats rows. The
    # editdist join is deliberately NOT benched: exact all-pairs-
    # within-threshold over 5k docs of 31-word-vocab text is ~45 s of
    # honest DP work (SCALE_PROBE.md round 8) — a per-round bench row
    # would price the corpus pathology, not the engine.
    "dedup_setsim_prefix_join",
    "curation_pareto_frontier",
    "text_cms_heavy_hitters",
    "dedup_bloom_admission",
    "text_hll_shingle_cardinality",
    "stats_equidepth_histogram",
    "stats_groupwise_ols",
]


# v8 set: the round-9 additions. Tracked from round 9 on; baselines
# in BENCH_BASELINE.md. The MJPEG row prices k≈2 full JPEG
# encode+decode round trips per doc (same contract-pricing framing as
# the JPEG/GIF rows); streaming_hopping_rollup is exercised by the
# correctness gate, not benched (streaming rows never are — the
# memory-sink drain prices the harness, not the engine).
HEADLINE_V8 = [
    "multimodal_decode_mjpeg",
    "sample_weighted_priority",
    "graph_kcore",
    "asof_join_tolerance",
    "stats_rolling_anomaly",
    "layout_hilbert_events",
    "embedding_pca_project",
    "similarity_recall_eval",
    "multimodal_phash_dct",
    "multimodal_phash_dct_neardup",
    "stats_cusum_changepoints",
    "text_kneser_ney_quality",
]


# v9 set: the round-10/11 additions. Tracked from round 10 on;
# baselines in BENCH_BASELINE.md.
HEADLINE_V9: list[str] = [
    "stats_mad_by_type",
    "graph_cotrading_projection",
    "multimodal_wav_spectral",
    "stats_benford_profile",
    "text_source_entropy",
    "text_source_snapshot_jsd",
    "asof_join_nearest",
    "stats_ewma_smoothing",
    "graph_pagerank_dangling",
]

# Rows main() times via dedicated functions OUTSIDE the HEADLINE_*
# lists (the dump-pipeline shape, stored-index build probes, and the
# prod/editdist suite keys). tests/test_bench_pins.py derives its
# every-benched-row-has-a-pin invariant from HEADLINE_* ∪ EXTRA_ROWS,
# so adding a dedicated timing below without extending this list makes
# that test fail — the constant and main() cannot silently drift.
EXTRA_ROWS: list[str] = [
    "dump_pipeline",
    "similarity_topk_lsh_stored_build",
    "similarity_topk_ivf_stored_build",
    "dedup_minhash_lsh_prod",
    "dedup_editdist_join_realvocab",
    "dedup_editdist_prefix_stored",
    "dedup_editdist_prefix_stored_build",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _int_or_raw(value: str) -> int | str:
    """A conf value as an int, or the raw string when it is not one
    (some runtimes set e.g. shuffle partitions to "auto")."""
    try:
        return int(value)
    except ValueError:
        return value


def _cpu_steal_total() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line.

    This container is a hypervisor guest, and the r16/r17 acceptance
    campaigns' "roaming spikes" are invisible to in-guest ps/loadavg
    attribution (the r17 spike-triggered ps sampler saw ONLY the bench
    itself during flagged windows). Steal time is the mechanical
    instrument: it counts cycles the hypervisor withheld from this
    guest's runnable vCPUs, which no in-guest process can cause — so a
    per-suite-window steal%% directly measures how much external
    contention the rows timed in that window suffered, instead of
    inferring it from an instantaneous q1 probe that a short spike can
    dodge."""
    vals = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def main() -> int:
    spark = get_session("kafka_topic_dumper_spark-bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warm up the JVM outside the timed region: whole-stage-codegen
    # class generation, the vectorized parquet reader, and the
    # shuffle/agg/join machinery all pay a one-time cost that would
    # otherwise land on the first timed query. Warmup runs on sf0.001
    # (different files), so no timed result is precomputed.
    from pyspark.sql import functions as F

    warm_sf = "/root/testdata/sf0.001"
    li = load_table(spark, warm_sf, "lineitem")
    orders = load_table(spark, warm_sf, "orders")
    (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"), F.count("*"))
        .write.format("noop").mode("overwrite").save()
    )
    (
        load_table(spark, warm_sf, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("tok").count()
        .write.format("noop").mode("overwrite").save()
    )
    # spin up the Python worker pool (spark.python.worker.reuse keeps
    # it alive) so the first Pandas-UDF query isn't billed the ~2 s
    # one-time worker/Arrow startup
    from kafka_topic_dumper_spark.operators import multimodal

    (
        multimodal.decode_metadata(
            multimodal.binary_payloads(load_table(spark, warm_sf, "documents"))
        )
        .write.format("noop").mode("overwrite").save()
    )

    def time_control() -> float:
        """min-of-N q1 — the host-quietness probe."""
        best = None
        with operator_caches():
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                _force(registry.QUERIES["q1_pricing_summary"](spark, SF_DIR))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        return round(best, 3)

    # Bracketing controls (r7 verdict item 3): a single post-suite
    # control cannot detect mid-suite transient contention (the r7
    # knn_graph ambiguity: 3.0 s mid-suite, 0.467 s control AFTER).
    # Running the SAME probe before and after bounds the window: both
    # ~0.6 s → the host was quiet throughout; pre quiet + post inflated
    # (or vice versa) → contention arrived mid-suite and per-row
    # outliers should be discounted before calling them regressions.
    steal_run_mark = _cpu_steal_total()
    control_q1_pre = time_control()
    steal_mark = _cpu_steal_total()

    # Opt-in early abort for acceptance attempts (r17): a pre-control
    # above the quiet ceiling already dooms the reading's acceptance
    # (the gate requires BOTH brackets quiet), yet the suite would
    # still burn ~11 minutes — attempts 1 and 5 of the r17 campaign
    # lost exactly that way. tools/bench_accept.py sets the env var;
    # the driver's per-round readings (which must complete regardless
    # of load) never do.
    if os.environ.get("SPARK_GRAFT_BENCH_ABORT_ON_LOADED_PRE"):
        try:
            with open(os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BENCH_PINS.json")) as fh:
                _pre_hi = float(json.load(fh).get(
                    "control_q1_pre_quiet_hi", 0.90))
        except (OSError, ValueError):
            _pre_hi = 0.90
        if control_q1_pre > _pre_hi:
            print(json.dumps({
                "metric": "aborted_loaded_pre_control",
                "control_q1_pre": control_q1_pre,
                "pre_quiet_hi": _pre_hi,
            }))
            return 3

    def steal_window() -> float:
        """Steal%% of total CPU time since the previous mark — the
        external-contention integral over the window just timed."""
        nonlocal steal_mark
        s, t = _cpu_steal_total()
        ds, dt = s - steal_mark[0], t - steal_mark[1]
        steal_mark = (s, t)
        return round(100.0 * ds / dt, 2) if dt > 0 else 0.0

    # Per-suite contamination checkpoints (r15): a q1 probe plus a
    # loadavg snapshot AFTER each suite. The r15 acceptance attempts
    # showed that on a spike-prone host a single pre/post bracket
    # around a ~12-minute run cannot localize contamination — one
    # external spike anywhere voids the whole reading. These
    # checkpoints bound each suite's window instead, so a triage can
    # discount exactly the suites whose neighboring checkpoints are
    # inflated and trust the rest. The probe is time_control() itself
    # (min-of-N q1) — the SAME protocol the control_q1_quiet band in
    # BENCH_PINS.json was calibrated against; the r15 single-run
    # variant read systematically above a min-of-3 band and could
    # falsely flag quiet windows as LOADED (ADVICE r15). ~1.5 s per
    # checkpoint, ~18 s over a ~12-minute suite. Recorded in
    # BENCH_DETAIL.json under "suite_checkpoints" (detail only — the
    # stdout line is size-capped).
    suite_checkpoints: dict[str, dict] = {}

    def checkpoint(tag: str) -> None:
        # steal_window() is read BEFORE the probe so the recorded
        # steal%% integrates exactly the suite window the checkpoint
        # bounds (r17: the q1 probe samples an instant and a short
        # hypervisor spike can dodge it — steal cannot be dodged)
        steal_pct = steal_window()
        q1 = time_control()
        load1, load5 = open("/proc/loadavg").read().split()[:2]
        suite_checkpoints[tag] = {
            "q1": q1, "load1": float(load1), "load5": float(load5),
            "steal_pct": steal_pct,
        }

    def time_set(names: list[str]) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            fn = registry.QUERIES[name]
            best = None
            # operator_caches scopes the persists some operators pin
            # (banded LSH indexes etc.) per QUERY, not per run: runs
            # 2..N then hit the still-cached index (CacheManager dedups
            # identical plans), so the min measures the steady state of
            # a session whose index is already built — the protocol
            # rounds 1-2 used, kept for baseline comparability — while
            # a 26-query × N session never accumulates dead cached
            # partitions in executor memory
            with operator_caches():
                for _ in range(N_RUNS):
                    t0 = time.perf_counter()
                    _force(fn(spark, SF_DIR))
                    dt = _record_run(name, time.perf_counter() - t0)
                    best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        return timings

    timings = time_set(HEADLINE)
    checkpoint("after_headline")

    # Production-hash minhash row (r6 verdict item 3): the frozen
    # HEADLINE row keeps the md5 portable hash for oracle parity and
    # baseline comparability; THIS row prices the documented production
    # path — minhash_signatures(portable=False), xxhash64 — which is
    # what a real deployment runs. Not summed into any set total (it
    # duplicates dedup_minhash_lsh's plan with a cheaper hash).
    def time_minhash_prod() -> float:
        from kafka_topic_dumper_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_signatures,
            verify_pairs_exact_jaccard,
        )

        docs = load_table(spark, SF_DIR, "documents")
        best = None
        with operator_caches():
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                cand = minhash_lsh_candidates(
                    minhash_signatures(docs, 32, portable=False), 8, 4
                )
                _force(verify_pairs_exact_jaccard(docs, cand))
                dt = _record_run("dedup_minhash_lsh_prod", time.perf_counter() - t0)
                best = dt if best is None else min(best, dt)
        return round(best, 3)

    # Realistic-vocabulary editdist row (r10 verdict item 7; promoted
    # to an oracle-gated registry row in round 12 — r11 verdict item
    # 4): the PLAIN registry row stays unbenched — the synthetic
    # corpus's 31-word vocabulary makes every q-gram collide and it
    # would price ~45 s of pathological DP, not the engine
    # (SCALE_PROBE.md round 8). The realvocab twin resurfaces each
    # token as a function of (token, position) via the portable H32 —
    # same text → same transform, so duplicate structure survives —
    # lifting surface diversity to ~vocab×positions, which is what a
    # real crawl corpus looks like to a q-gram filter. Since round 12
    # the bench row IS registry.QUERIES["dedup_editdist_join_realvocab"]
    # (identical construction to the oracle-gated row) and it is
    # reported under its OWN suite key, value_editdist_realvocab —
    # NOT summed into value_prod, so value_prod round-over-round
    # comparisons stay apples-to-apples (the r11 advisor finding:
    # value_prod briefly carried this row in the r11 record, 1.14 →
    # 22.87 s; BENCH_BASELINE.md round 12 notes the re-base back).
    def time_editdist_realvocab() -> float:
        fn = registry.QUERIES["dedup_editdist_join_realvocab"]
        best = None
        with operator_caches():
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                _force(fn(spark, SF_DIR))
                dt = _record_run(
                    "dedup_editdist_join_realvocab", time.perf_counter() - t0
                )
                best = dt if best is None else min(best, dt)
        return round(best, 3)

    timings_prod = {
        "dedup_minhash_lsh_prod": time_minhash_prod(),
    }
    timings_editdist_realvocab = {
        "dedup_editdist_join_realvocab": time_editdist_realvocab(),
    }
    checkpoint("after_realvocab")

    # Stored ED-Join prefix-index twin (round 13; r12 verdict item 4):
    # the ADDITIVE diverse-corpus index. Two prices, the stored-row
    # convention: the registry row is the steady-state PROBE (index
    # built once per process via _stored_index_path — min-of-N prices
    # the warm prefix join, the amortized 100 TB shape), and the
    # _build row prices one full index build + partitioned write to a
    # fresh directory. Own suite key so value_editdist_realvocab stays
    # apples-to-apples round-over-round.
    def time_editdist_prefix_stored() -> dict[str, float]:
        from kafka_topic_dumper_spark.functions.index_store import (
            write_editdist_prefix_index,
        )
        from kafka_topic_dumper_spark.operators.dedup import (
            editdist_prefix_index,
            resurface_vocabulary,
        )

        out: dict[str, float] = {}
        fn = registry.QUERIES["dedup_editdist_prefix_stored"]
        best = None
        with operator_caches():
            # One untimed call warms the process-level _stored_index_path
            # cache so the timed loop prices the build-free steady-state
            # probe at ANY N_RUNS (r13 advisor: min-of-N previously hid
            # the first-call build only when N_RUNS > 1).
            _force(fn(spark, SF_DIR))
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                _force(fn(spark, SF_DIR))
                # NOTE: run 1 here follows the untimed index-warming
                # call above, so this row's "cold" column is the warm
                # steady-state probe by design (the _build row below
                # prices the cold build).
                dt = _record_run(
                    "dedup_editdist_prefix_stored", time.perf_counter() - t0
                )
                best = dt if best is None else min(best, dt)
        out["dedup_editdist_prefix_stored"] = round(best, 3)

        docs = resurface_vocabulary(load_table(spark, SF_DIR, "documents"))
        best = None
        for _ in range(N_RUNS):
            d = tempfile.mkdtemp(prefix="bench_idx_")
            try:
                t0 = time.perf_counter()
                write_editdist_prefix_index(
                    editdist_prefix_index(docs), os.path.join(d, "idx")
                )
                dt = _record_run(
                    "dedup_editdist_prefix_stored_build",
                    time.perf_counter() - t0,
                )
            finally:
                shutil.rmtree(d, ignore_errors=True)
            best = dt if best is None else min(best, dt)
        out["dedup_editdist_prefix_stored_build"] = round(best, 3)
        return out

    timings_editdist_prefix = time_editdist_prefix_stored()
    checkpoint("after_editdist")
    timings_v2 = time_set(HEADLINE_V2)
    checkpoint("after_v2")
    timings_v3 = time_set(HEADLINE_V3)
    checkpoint("after_v3")
    timings_v4 = time_set(HEADLINE_V4)
    checkpoint("after_v4")
    timings_v5 = time_set(HEADLINE_V5)
    checkpoint("after_v5")
    timings_v6 = time_set(HEADLINE_V6)
    checkpoint("after_v6")
    timings_v7 = time_set(HEADLINE_V7)
    checkpoint("after_v7")
    timings_v8 = time_set(HEADLINE_V8)
    checkpoint("after_v8")
    timings_v9 = time_set(HEADLINE_V9)
    checkpoint("after_v9")

    # Build-vs-probe split for the stored-index rows (r6, per the r5
    # verdict): the stored queries now build their on-disk index ONCE
    # per (process, sf_dir) — see similarity._stored_index_path — so
    # the min-of-N rows above price the steady-state PRUNED PROBE (the
    # amortized 100 TB shape), while the rows below price one full
    # build + partitioned write to a fresh directory per repetition.
    def time_stored_builds() -> dict[str, float]:
        from pyspark.sql import functions as F

        from kafka_topic_dumper_spark.functions.index_store import (
            write_banded_index,
            write_ivf_index,
        )
        from kafka_topic_dumper_spark.operators.similarity import (
            N_LSH_TABLES,
            ivf_assign,
            lsh_banded,
        )

        emb = load_table(spark, SF_DIR, "embeddings")
        builds = {
            "similarity_topk_lsh_stored_build": lambda path: write_banded_index(
                lsh_banded(
                    emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
                    "neighbor_id",
                    "embedding",
                    64,
                    4,
                    N_LSH_TABLES,
                ),
                path,
            ),
            "similarity_topk_ivf_stored_build": lambda path: write_ivf_index(
                ivf_assign(emb), path
            ),
        }
        out: dict[str, float] = {}
        for name, build in builds.items():
            best = None
            for _ in range(N_RUNS):
                d = tempfile.mkdtemp(prefix="bench_idx_")
                try:
                    t0 = time.perf_counter()
                    build(os.path.join(d, "idx"))
                    dt = _record_run(name, time.perf_counter() - t0)
                finally:
                    shutil.rmtree(d, ignore_errors=True)
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
        return out

    timings_v3.update(time_stored_builds())
    checkpoint("after_stored_builds")

    # dump-pipeline throughput: the reference's core workload
    tmp = tempfile.mkdtemp(prefix="bench_dump_")
    try:
        events = load_table(spark, SF_DIR, "events")
        from pyspark.sql import functions as F

        records = events.select(
            F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
            F.encode(F.col("props"), "UTF-8").alias("value"),
        )
        t0 = time.perf_counter()
        (
            records.write.mode("overwrite")
            .option("maxRecordsPerFile", 20000)
            .option("compression", "gzip")
            .parquet(os.path.join(tmp, "dump"))
        )
        timings["dump_pipeline"] = round(
            _record_run("dump_pipeline", time.perf_counter() - t0), 3
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # Post-suite control (r6 verdict item 8; bracketed since r8 by
    # control_q1_pre above). BENCH_BASELINE.md's convention: ~0.6 s
    # means the host was quiet; a 1.3-1.6x inflation flags the
    # documented concurrent-load band, telling the reader to discount
    # a uniform slowdown across unrelated rows before calling it a
    # regression.
    steal_pct_tail = steal_window()  # dump_pipeline window
    control_q1 = time_control()
    _s, _t = _cpu_steal_total()
    steal_pct_run = (
        round(100.0 * (_s - steal_run_mark[0]) / (_t - steal_run_mark[1]), 2)
        if _t > steal_run_mark[1] else 0.0
    )

    total = round(sum(timings.values()), 3)
    # The driver keeps only the LAST 2000 chars of stdout and parses
    # the final line as JSON (BENCH_r07/r09 were recorded unparsed when
    # the per-suite dicts pushed the line past that cap), so stdout
    # carries the frozen round-1 headline dict plus one total per
    # suite; the full per-query breakdown goes to BENCH_DETAIL.json.
    suites = {
        "v2": timings_v2,
        "v3": timings_v3,
        "v4": timings_v4,
        "v5": timings_v5,
        "v6": timings_v6,
        "v7": timings_v7,
        "v8": timings_v8,
        "v9": timings_v9,
        "prod": timings_prod,
        "editdist_realvocab": timings_editdist_realvocab,
        "editdist_prefix_stored": timings_editdist_prefix,
    }
    # EXTRA_ROWS lockstep: every row timed by a dedicated function
    # (i.e. not in a HEADLINE_* list) must be declared in EXTRA_ROWS,
    # and vice versa, so tests/test_bench_pins.py can derive the full
    # benched-row set without hardcoding names that could drift.
    headline_rows = set(HEADLINE) | {
        n
        for lst in (HEADLINE_V2, HEADLINE_V3, HEADLINE_V4, HEADLINE_V5,
                    HEADLINE_V6, HEADLINE_V7, HEADLINE_V8, HEADLINE_V9)
        for n in lst
    }
    dedicated = (set(timings) | {n for t in suites.values() for n in t}) - headline_rows
    if dedicated != set(EXTRA_ROWS):
        # RuntimeError, not assert: `python -O` strips asserts and
        # would let the constant drift from main() unnoticed (ADVICE
        # r15).
        raise RuntimeError(
            f"bench.py EXTRA_ROWS out of sync with main()'s dedicated "
            f"timings: timed-but-undeclared {sorted(dedicated - set(EXTRA_ROWS))}, "
            f"declared-but-untimed {sorted(set(EXTRA_ROWS) - dedicated)}"
        )
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "control_q1": round(control_q1, 3),
        "control_q1_pre": control_q1_pre,
        "control_q1_post": round(control_q1, 3),
        "n_runs": N_RUNS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "detail": "BENCH_DETAIL.json",
        # Scaling legibility (r18 verdict item 2, suspect_cpus_ignored):
        # the EFFECTIVE parallelism this run executed with, printed in
        # the one-line JSON so a scaling probe can see the env var was
        # honored without spelunking stage widths in the log tail.
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": _int_or_raw(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
    }
    for tag, t in suites.items():
        summary[f"value_{tag}"] = round(sum(t.values()), 3)
    detail = dict(summary)
    detail.update({f"queries_{tag}": t for tag, t in suites.items()})
    detail["suite_checkpoints"] = suite_checkpoints
    # Per-run and cold columns (r18 verdict items 2-3): every benched
    # row's [run1..runN] in run order, plus the derived first-run
    # column — prices persist-based wins honestly (cold vs warm min)
    # and explains flat low-core ratios (runs 2..N are cache-backed).
    detail["query_runs"] = RUN_TIMES
    detail["queries_cold"] = _cold_column(RUN_TIMES)
    # Steal accounting (r17, detail-only to respect the stdout size
    # cap): per-window steal%% lives in each checkpoint entry;
    # steal_pct_tail covers dump_pipeline after the last checkpoint
    # (the r16 loop-4 blind spot — a late spike AFTER the last
    # checkpoint that only the post-control caught); steal_pct_run is
    # the whole-run integral.
    detail["steal_pct_tail"] = steal_pct_tail
    detail["steal_pct_run"] = steal_pct_run
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
        "w",
    ) as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    line = json.dumps(summary)
    # Belt and braces: if the line would still overflow the driver's
    # capture, drop the per-query dict; if the per-suite totals alone
    # still overflow (one value_vN key accrues per round), fall back to
    # the bare metric/control keys — every dropped number is already in
    # BENCH_DETAIL.json.
    if len(line) > 1900:
        summary.pop("queries")
        line = json.dumps(summary)
    if len(line) > 1900:
        summary = {
            k: summary[k]
            for k in (
                "metric", "value", "unit", "control_q1_pre",
                "control_q1_post", "n_runs", "sf", "detail",
                "master", "parallelism", "shuffle_partitions",
            )
        }
        line = json.dumps(summary)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
