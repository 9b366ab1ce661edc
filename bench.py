"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "value_cold": <sec>,
   "unit": "sec", "queries": {name: sec, ...}, "sf": ...}``

Every benched row, its protocol, its checkpoint window and its
recording key come from one table, :data:`SUITES`, timed by one loop,
:func:`time_row`; the tools under ``tools/`` import both. Each query is
forced end-to-end with the noop sink (full computation, no driver
collect — measures the engine, not py4j transfer).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

from kafka_topic_dumper_spark import registry
from kafka_topic_dumper_spark.functions.caching import operator_caches
from kafka_topic_dumper_spark.session import get_session
from kafka_topic_dumper_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.abspath(__file__))

# min-of-N per query: this VM shows sporadic multi-second host
# contention (see BENCH_BASELINE.md's A/B probe); the min over N runs
# isolates the engine's cost from the noise. n=3 reconciles the
# r2 driver-vs-builder gap (n=2 driver run read 17.6 s where the
# builder's session measured 14.6 s for the same query set).
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# Per-row, per-repetition wall times (name -> [run1..runN] in run
# order), recorded by main() for every benched row and emitted in
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
    state OUTSIDE the timed loop (WARM_FIRST), run 1 is the warm
    steady state by design."""
    return {n: runs[0] for n, runs in run_times.items() if runs}


# Row protocols: how time_row times one row.
MIN_OF_N = "min_of_n"      # N timed calls; the min is reported
WARM_FIRST = "warm_first"  # one untimed call, then N timed calls
FRESH_DIR = "fresh_dir"    # N timed calls, each writing into a new temp dir
SINGLE = "single"          # one timed call writing into a new temp dir


@dataclass(frozen=True)
class Row:
    """One benched row. ``prepare(spark)`` runs untimed and returns the
    call to time; FRESH_DIR and SINGLE calls take their output path.
    Without ``prepare`` the row is the registry query of that name,
    forced end to end (plan construction included)."""

    name: str
    protocol: str = MIN_OF_N
    prepare: Callable | None = None


@dataclass(frozen=True)
class Suite:
    """Rows timed back to back and recorded under ``key`` in
    BENCH_DETAIL.json (``queries`` is also the stdout headline dict).
    ``tag`` names the checkpoint closing the window the rows are timed
    in; consecutive suites with one tag share a window, and TAIL is
    closed by the post-control instead of a checkpoint."""

    tag: str
    key: str
    rows: tuple[Row, ...]


PRE, TAIL = "PRE", "TAIL"


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _query(name: str) -> Callable:
    def prepare(spark):
        fn = registry.QUERIES[name]
        return lambda: _force(fn(spark, SF_DIR))

    return prepare


def _minhash_prod(spark):
    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        verify_pairs_exact_jaccard,
    )

    docs = load_table(spark, SF_DIR, "documents")

    def run():
        cand = minhash_lsh_candidates(
            minhash_signatures(docs, 32, portable=False), 8, 4
        )
        _force(verify_pairs_exact_jaccard(docs, cand))

    return run


def _editdist_prefix_build(spark):
    from kafka_topic_dumper_spark.functions.index_store import (
        write_editdist_prefix_index,
    )
    from kafka_topic_dumper_spark.operators.dedup import (
        editdist_prefix_index,
        resurface_vocabulary,
    )

    docs = resurface_vocabulary(load_table(spark, SF_DIR, "documents"))
    return lambda path: write_editdist_prefix_index(
        editdist_prefix_index(docs), path
    )


def _lsh_stored_build(spark):
    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.functions.index_store import write_banded_index
    from kafka_topic_dumper_spark.operators.similarity import (
        N_LSH_TABLES,
        lsh_banded,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    return lambda path: write_banded_index(
        lsh_banded(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
            "embedding",
            64,
            4,
            N_LSH_TABLES,
        ),
        path,
    )


def _ivf_stored_build(spark):
    from kafka_topic_dumper_spark.functions.index_store import write_ivf_index
    from kafka_topic_dumper_spark.operators.similarity import ivf_assign

    emb = load_table(spark, SF_DIR, "embeddings")
    return lambda path: write_ivf_index(ivf_assign(emb), path)


def _dump_pipeline(spark):
    """The reference's core workload: scan → project key/value-sized
    columns → chunked gzip parquet write."""
    from pyspark.sql import functions as F

    records = load_table(spark, SF_DIR, "events").select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(F.col("props"), "UTF-8").alias("value"),
    )
    return lambda path: (
        records.write.mode("overwrite")
        .option("maxRecordsPerFile", 20000)
        .option("compression", "gzip")
        .parquet(path)
    )


def _suite(tag: str, key: str, *rows: str | Row) -> Suite:
    return Suite(tag, key, tuple(r if isinstance(r, Row) else Row(r) for r in rows))


# Every benched row, in timing order. Suites were added round by round
# and keep their recording keys (queries_v2 ... v9 from rounds 3-11;
# baselines in BENCH_BASELINE.md) so readings stay comparable.
SUITES: tuple[Suite, ...] = (
    # the frozen round-1 headline set, comparable across every round
    _suite(
        "after_headline", "queries",
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "flagship_latest_event_per_user", "events_hourly_rollup",
        "o2_tail_k_per_partition", "dedup_exact", "dedup_ngram_jaccard",
        "dedup_minhash_lsh", "similarity_topk_bruteforce",
        "similarity_topk_ivf", "similarity_topk_lsh", "text_token_stats",
        "text_lang_id", "text_winnowing_fingerprints",
        "multimodal_decode_stub", "asof_join_last_purchase",
        "sessionize_events", "join_salted_skew",
    ),
    # The documented production path of dedup_minhash_lsh (xxhash64,
    # portable=False); the headline row keeps md5 for oracle parity.
    # Own key: it duplicates that row's plan with a cheaper hash.
    _suite(
        "after_realvocab", "queries_prod",
        Row("dedup_minhash_lsh_prod", prepare=_minhash_prod),
    ),
    # The plain editdist join stays unbenched: the synthetic corpus's
    # 31-word vocabulary makes every q-gram collide (~45 s of DP,
    # SCALE_PROBE.md round 8). The realvocab twin resurfaces tokens so
    # the filter sees a real crawl's diversity. Own key, so value_prod
    # stays comparable round over round.
    _suite(
        "after_realvocab", "queries_editdist_realvocab",
        "dedup_editdist_join_realvocab",
    ),
    # Stored-index rows price two things: the registry row is the
    # steady-state probe (the index is built once per process, and the
    # untimed warm call keeps that build out of run 1, so its "cold"
    # column is warm by design), and each _build row prices one full
    # index build + partitioned write into a fresh directory.
    _suite(
        "after_editdist", "queries_editdist_prefix_stored",
        Row("dedup_editdist_prefix_stored", WARM_FIRST),
        Row("dedup_editdist_prefix_stored_build", FRESH_DIR,
            _editdist_prefix_build),
    ),
    _suite(
        "after_v2", "queries_v2",
        "pack_training_sequences", "sample_domain_mixture",
        "pipeline_clean_dedup_pack", "dedup_incremental",
        "timeseries_gap_fill", "cohort_retention", "multimodal_phash_neardup",
    ),
    _suite(
        "after_v3", "queries_v3",
        "similarity_topk_lsh_stored", "similarity_topk_ivf_stored",
        "text_bigram_lm_quality", "embedding_quantize_int8",
        "pipeline_quality_dedup_pack",
    ),
    _suite(
        "after_v4", "queries_v4",
        "similarity_topk_pq", "similarity_topk_ivfpq", "dedup_semantic",
        "dedup_duplicate_spans", "dedup_remove_spans",
        "dedup_minhash_clusters", "chunk_documents_sliding",
        "epoch_shuffle_order", "sample_stratified_per_group",
    ),
    _suite(
        "after_v5", "queries_v5",
        "text_bm25_topk", "text_quality_classifier", "text_bpe_pair_counts",
        "similarity_knn_graph", "layout_zorder_events",
        "sample_domain_temperature", "pipeline_tokenize_pack_ids",
        "retrieval_hybrid_rrf", "similarity_mutual_knn_clusters",
        "pipeline_quality_ensemble", "dedup_quality_survivor",
    ),
    # the real-codec rows price the mapInPandas encode+decode round trip
    _suite(
        "after_v6", "queries_v6",
        "multimodal_decode_png", "multimodal_decode_gif",
        "multimodal_wav_features", "multimodal_avi_frames",
        "text_quality_calibrated_rank", "sample_token_budget",
    ),
    _suite(
        "after_v7", "queries_v7",
        "multimodal_decode_jpeg", "similarity_topk_rp",
        "graph_pagerank_supplier_network", "dedup_ngram_containment",
        "text_unicode_normalize", "dedup_setsim_prefix_join",
        "curation_pareto_frontier", "text_cms_heavy_hitters",
        "dedup_bloom_admission", "text_hll_shingle_cardinality",
        "stats_equidepth_histogram", "stats_groupwise_ols",
    ),
    # Streaming rows are never benched: the memory-sink drain prices
    # the harness, not the engine.
    _suite(
        "after_v8", "queries_v8",
        "multimodal_decode_mjpeg", "sample_weighted_priority", "graph_kcore",
        "asof_join_tolerance", "stats_rolling_anomaly",
        "layout_hilbert_events", "embedding_pca_project",
        "similarity_recall_eval", "multimodal_phash_dct",
        "multimodal_phash_dct_neardup", "stats_cusum_changepoints",
        "text_kneser_ney_quality",
    ),
    _suite(
        "after_v9", "queries_v9",
        "stats_mad_by_type", "graph_cotrading_projection",
        "multimodal_wav_spectral", "stats_benford_profile",
        "text_source_entropy", "text_source_snapshot_jsd",
        "asof_join_nearest", "stats_ewma_smoothing",
        "graph_pagerank_dangling",
    ),
    # the build side of the two v3 stored-index probes
    _suite(
        "after_stored_builds", "queries_v3",
        Row("similarity_topk_lsh_stored_build", FRESH_DIR, _lsh_stored_build),
        Row("similarity_topk_ivf_stored_build", FRESH_DIR, _ivf_stored_build),
    ),
    _suite(TAIL, "queries", Row("dump_pipeline", SINGLE, _dump_pipeline)),
)

ROWS: dict[str, Row] = {r.name: r for s in SUITES for r in s.rows}

# The host-quietness probe bracketing every window.
CONTROL = Row("q1_pricing_summary")


def windows() -> dict[str, tuple[str, list[Suite]]]:
    """tag -> (opener, suites) for each window, in timing order. A
    window opens at the previous window's closing probe; the first at
    the pre-control (PRE)."""
    out: dict[str, tuple[str, list[Suite]]] = {}
    opener = PRE
    for tag, group in itertools.groupby(SUITES, key=lambda s: s.tag):
        out[tag] = (opener, list(group))
        opener = tag
    return out


def time_row(spark, row: Row,
             clock: Callable[[], float] = time.perf_counter) -> list[float]:
    """Wall seconds of each timed call of ``row``, in run order.

    One operator_caches scope per ROW, not per run: runs 2..N hit the
    persists (banded LSH indexes etc.) that run 1 pinned, so the min
    is the steady state of a session whose index is already built —
    the rounds 1-2 protocol, kept for baseline comparability — while
    a ~100-row session never accumulates dead cached partitions."""
    times = []
    with operator_caches():
        call = (row.prepare or _query(row.name))(spark)
        if row.protocol == WARM_FIRST:
            call()
        for _ in range(1 if row.protocol == SINGLE else N_RUNS):
            if row.protocol not in (FRESH_DIR, SINGLE):
                t0 = clock()
                call()
                times.append(clock() - t0)
                continue
            d = tempfile.mkdtemp(prefix="bench_")
            try:
                t0 = clock()
                call(os.path.join(d, "out"))
                times.append(clock() - t0)
            finally:
                shutil.rmtree(d, ignore_errors=True)
    return times


def time_control(spark) -> float:
    """min-of-N q1 — the host-quietness probe."""
    return round(min(time_row(spark, CONTROL)), 3)


def _int_or_raw(value: str) -> int | str:
    """A conf value as an int, or the raw string when it is not one
    (some runtimes set e.g. shuffle partitions to "auto")."""
    try:
        return int(value)
    except ValueError:
        return value


def steal_mark() -> tuple[int, int]:
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


def steal_pct(since: tuple[int, int], now: tuple[int, int]) -> float:
    """Steal % of total CPU time between two steal_mark() readings."""
    ds, dt = now[0] - since[0], now[1] - since[1]
    return round(100.0 * ds / dt, 2) if dt > 0 else 0.0


def load_pins() -> dict:
    with open(os.path.join(REPO, "BENCH_PINS.json")) as fh:
        return json.load(fh)


def quiet_ceiling(pins_doc: dict, bound: str) -> float:
    """The q1 ceiling of the probe at ``bound`` (PRE, a checkpoint tag,
    or TAIL for the post-control). Position-aware (r16 calibration,
    BENCH_BASELINE.md): on a quiet host the probe reads faster the
    deeper the session, so the pre-control, the early checkpoints, the
    later checkpoints and the post-control each have their own ceiling.
    Read only from the pins doc; a missing ceiling raises KeyError."""
    if bound == PRE:
        return float(pins_doc["control_q1_pre_quiet_hi"])
    if bound == TAIL:
        return float(pins_doc["control_q1_quiet"][1])
    later = pins_doc["checkpoint_q1_quiet_hi"]
    return float(pins_doc["checkpoint_early_quiet_hi"].get(bound, later))


def probe_quiet(detail: dict, pins_doc: dict, bound: str) -> bool:
    """Whether a reading has the probe at ``bound`` and it read quiet."""
    hi = quiet_ceiling(pins_doc, bound)
    if bound == PRE:
        q1 = detail.get("control_q1_pre")
    elif bound == TAIL:
        q1 = detail.get("control_q1_post")
    else:
        q1 = ((detail.get("suite_checkpoints") or {}).get(bound) or {}).get("q1")
    return q1 is not None and q1 <= hi


def quiet_windows(detail: dict, pins_doc: dict) -> dict[str, dict]:
    """tag -> {steal, opener_ok, closer_ok} for each window of a reading:
    its steal % and whether both bounding probes read quiet."""
    cps = detail.get("suite_checkpoints") or {}
    return {
        tag: {
            "steal": (detail.get("steal_pct_tail") if tag == TAIL
                      else (cps.get(tag) or {}).get("steal_pct")),
            "opener_ok": probe_quiet(detail, pins_doc, opener),
            "closer_ok": probe_quiet(detail, pins_doc, tag),
        }
        for tag, (opener, _) in windows().items()
    }


def rows_by_key() -> dict[str, list[str]]:
    """recording key -> its rows, in timing order."""
    out: dict[str, list[str]] = {}
    for s in SUITES:
        out.setdefault(s.key, []).extend(r.name for r in s.rows)
    return out


def load_timings(doc: dict) -> dict[str, float]:
    """{row: reported sec} from a reading's SUITES recording keys."""
    return {
        name: float(sec)
        for key in rows_by_key()
        if isinstance(doc.get(key), dict)
        for name, sec in doc[key].items()
        if isinstance(sec, (int, float))
    }


def write_json(path: str, blob: dict) -> None:
    """Write a bench blob atomically: an interrupted write must never
    leave a truncated file (the suite asserts on BENCH_ACCEPTED.json)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(blob, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)


def _cold_total(queries: dict[str, float],
                run_times: dict[str, list[float]]) -> float:
    """Sum of the headline rows' first runs: the fresh-pipeline regime
    next to the warm min-of-N ``value`` (the interactive session)."""
    return round(sum(run_times[n][0] for n in queries), 3)


def warm_up(spark) -> None:
    """Warm up the JVM outside the timed region: whole-stage-codegen
    class generation, the vectorized parquet reader, and the
    shuffle/agg/join machinery all pay a one-time cost that would
    otherwise land on the first timed query. Warmup runs on sf0.001
    (different files), so no timed result is precomputed."""
    from pyspark.sql import functions as F

    warm_sf = "/root/testdata/sf0.001"
    li = load_table(spark, warm_sf, "lineitem")
    orders = load_table(spark, warm_sf, "orders")
    _force(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"), F.count("*"))
    )
    _force(
        load_table(spark, warm_sf, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("tok").count()
    )
    # spin up the Python worker pool (spark.python.worker.reuse keeps
    # it alive) so the first Pandas-UDF query isn't billed the ~2 s
    # one-time worker/Arrow startup
    from kafka_topic_dumper_spark.operators import multimodal

    _force(
        multimodal.decode_metadata(
            multimodal.binary_payloads(load_table(spark, warm_sf, "documents"))
        )
    )


def main() -> int:
    spark = get_session("kafka_topic_dumper_spark-bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    warm_up(spark)

    # Bracketing controls (r7 verdict item 3): a single post-suite
    # control cannot detect mid-suite transient contention (the r7
    # knn_graph ambiguity: 3.0 s mid-suite, 0.467 s control AFTER).
    # Running the SAME probe before and after bounds the window: both
    # ~0.6 s → the host was quiet throughout; pre quiet + post inflated
    # (or vice versa) → contention arrived mid-suite and per-row
    # outliers should be discounted before calling them regressions.
    run_mark = steal_mark()
    control_q1_pre = time_control(spark)
    window_mark = steal_mark()

    # Opt-in early abort for acceptance attempts (r17): a pre-control
    # above the quiet ceiling already dooms the reading's acceptance
    # (the gate requires BOTH brackets quiet), yet the suite would
    # still burn ~11 minutes — attempts 1 and 5 of the r17 campaign
    # lost exactly that way. tools/bench_accept.py sets the env var;
    # the driver's per-round readings (which must complete regardless
    # of load) never do.
    if os.environ.get("SPARK_GRAFT_BENCH_ABORT_ON_LOADED_PRE"):
        pre_hi = quiet_ceiling(load_pins(), PRE)
        if control_q1_pre > pre_hi:
            print(json.dumps({
                "metric": "aborted_loaded_pre_control",
                "control_q1_pre": control_q1_pre,
                "pre_quiet_hi": pre_hi,
            }))
            return 3

    # Per-window contamination checkpoints (r15): a q1 probe plus a
    # loadavg snapshot after each window, so a triage can discount
    # exactly the windows whose bounding checkpoints are inflated and
    # trust the rest (one external spike used to void a whole ~12-minute
    # reading). The probe is time_control() itself — the SAME protocol
    # the quiet ceilings in BENCH_PINS.json were calibrated against.
    # The steal % is read BEFORE the probe so it integrates exactly the
    # window the checkpoint bounds (r17: a short hypervisor spike can
    # dodge the q1 probe; steal cannot be dodged). Detail only — the
    # stdout line is size-capped.
    recorded: dict[str, dict[str, float]] = {}
    suite_checkpoints: dict[str, dict] = {}
    for tag, (_, suites) in windows().items():
        for suite in suites:
            timings = recorded.setdefault(suite.key, {})
            for row in suite.rows:
                times = [_record_run(row.name, dt) for dt in time_row(spark, row)]
                timings[row.name] = round(min(times), 3)
        if tag == TAIL:
            continue
        now = steal_mark()
        steal, window_mark = steal_pct(window_mark, now), now
        q1 = time_control(spark)
        load1, load5 = open("/proc/loadavg").read().split()[:2]
        suite_checkpoints[tag] = {
            "q1": q1, "load1": float(load1), "load5": float(load5),
            "steal_pct": steal,
        }

    # Post-suite control (r6 verdict item 8; bracketed since r8 by
    # control_q1_pre above). BENCH_BASELINE.md's convention: ~0.6 s
    # means the host was quiet; a 1.3-1.6x inflation flags the
    # documented concurrent-load band, telling the reader to discount
    # a uniform slowdown across unrelated rows before calling it a
    # regression.
    steal_pct_tail = steal_pct(window_mark, steal_mark())
    control_q1 = time_control(spark)
    steal_pct_run = steal_pct(run_mark, steal_mark())

    # The driver keeps only the LAST 2000 chars of stdout and parses
    # the final line as JSON (BENCH_r07/r09 were recorded unparsed when
    # the per-suite dicts pushed the line past that cap), so stdout
    # carries the frozen round-1 headline dict plus one total per
    # suite; the full per-query breakdown goes to BENCH_DETAIL.json.
    timings = recorded.pop("queries")
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "value_cold": _cold_total(timings, RUN_TIMES),
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
    for key, t in recorded.items():
        summary["value_" + key[len("queries_"):]] = round(sum(t.values()), 3)
    detail = dict(summary)
    detail.update(recorded)
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
    write_json(os.path.join(REPO, "BENCH_DETAIL.json"), detail)
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
                "metric", "value", "value_cold", "unit", "control_q1_pre",
                "control_q1_post", "n_runs", "sf", "detail",
                "master", "parallelism", "shuffle_partitions",
            )
        }
        line = json.dumps(summary)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
