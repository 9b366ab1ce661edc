"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "value_cold": <sec>,
   "unit": "sec", "queries": {name: sec, ...}, "sf": ...}``

Every benched row, its protocol and its recording key come from one
table, :data:`SUITES`, timed by one loop, :func:`time_row`; the tools
under ``tools/`` import both. Each timed call records its wall seconds
and the CPU-seconds of the whole process tree (driver, JVM, Python
workers). Each query is forced end-to-end with the noop sink (full
computation, no driver collect — measures the engine, not py4j
transfer).
"""

from __future__ import annotations

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
from perfbench.host import CLK_TCK, host_facts, tree

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


def _record_run(name: str, dt: float,
                runs: dict[str, list[float]] = RUN_TIMES) -> float:
    """Append one repetition's seconds to ``runs``; returns dt."""
    runs.setdefault(name, []).append(round(dt, 3))
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
    BENCH_DETAIL.json (``queries`` is also the stdout headline dict)."""

    key: str
    rows: tuple[Row, ...]


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


def _suite(key: str, *rows: str | Row) -> Suite:
    return Suite(key, tuple(r if isinstance(r, Row) else Row(r) for r in rows))


# Every benched row, in timing order. Suites were added round by round
# and keep their recording keys (queries_v2 ... v9 from rounds 3-11;
# baselines in BENCH_BASELINE.md) so readings stay comparable.
SUITES: tuple[Suite, ...] = (
    # the frozen round-1 headline set, comparable across every round
    _suite(
        "queries",
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
        "queries_prod",
        Row("dedup_minhash_lsh_prod", prepare=_minhash_prod),
    ),
    # The plain editdist join stays unbenched: the synthetic corpus's
    # 31-word vocabulary makes every q-gram collide (~45 s of DP,
    # SCALE_PROBE.md round 8). The realvocab twin resurfaces tokens so
    # the filter sees a real crawl's diversity. Own key, so value_prod
    # stays comparable round over round.
    _suite(
        "queries_editdist_realvocab",
        "dedup_editdist_join_realvocab",
    ),
    # Stored-index rows price two things: the registry row is the
    # steady-state probe (the index is built once per process, and the
    # untimed warm call keeps that build out of run 1, so its "cold"
    # column is warm by design), and each _build row prices one full
    # index build + partitioned write into a fresh directory.
    _suite(
        "queries_editdist_prefix_stored",
        Row("dedup_editdist_prefix_stored", WARM_FIRST),
        Row("dedup_editdist_prefix_stored_build", FRESH_DIR,
            _editdist_prefix_build),
    ),
    _suite(
        "queries_v2",
        "pack_training_sequences", "sample_domain_mixture",
        "pipeline_clean_dedup_pack", "dedup_incremental",
        "timeseries_gap_fill", "cohort_retention", "multimodal_phash_neardup",
    ),
    _suite(
        "queries_v3",
        "similarity_topk_lsh_stored", "similarity_topk_ivf_stored",
        "text_bigram_lm_quality", "embedding_quantize_int8",
        "pipeline_quality_dedup_pack",
    ),
    _suite(
        "queries_v4",
        "similarity_topk_pq", "similarity_topk_ivfpq", "dedup_semantic",
        "dedup_duplicate_spans", "dedup_remove_spans",
        "dedup_minhash_clusters", "chunk_documents_sliding",
        "epoch_shuffle_order", "sample_stratified_per_group",
    ),
    _suite(
        "queries_v5",
        "text_bm25_topk", "text_quality_classifier", "text_bpe_pair_counts",
        "similarity_knn_graph", "layout_zorder_events",
        "sample_domain_temperature", "pipeline_tokenize_pack_ids",
        "retrieval_hybrid_rrf", "similarity_mutual_knn_clusters",
        "pipeline_quality_ensemble", "dedup_quality_survivor",
    ),
    # the real-codec rows price the mapInPandas encode+decode round trip
    _suite(
        "queries_v6",
        "multimodal_decode_png", "multimodal_decode_gif",
        "multimodal_wav_features", "multimodal_avi_frames",
        "text_quality_calibrated_rank", "sample_token_budget",
    ),
    _suite(
        "queries_v7",
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
        "queries_v8",
        "multimodal_decode_mjpeg", "sample_weighted_priority", "graph_kcore",
        "asof_join_tolerance", "stats_rolling_anomaly",
        "layout_hilbert_events", "embedding_pca_project",
        "similarity_recall_eval", "multimodal_phash_dct",
        "multimodal_phash_dct_neardup", "stats_cusum_changepoints",
        "text_kneser_ney_quality",
    ),
    _suite(
        "queries_v9",
        "stats_mad_by_type", "graph_cotrading_projection",
        "multimodal_wav_spectral", "stats_benford_profile",
        "text_source_entropy", "text_source_snapshot_jsd",
        "asof_join_nearest", "stats_ewma_smoothing",
        "graph_pagerank_dangling",
    ),
    # the build side of the two v3 stored-index probes
    _suite(
        "queries_v3",
        Row("similarity_topk_lsh_stored_build", FRESH_DIR, _lsh_stored_build),
        Row("similarity_topk_ivf_stored_build", FRESH_DIR, _ivf_stored_build),
    ),
    _suite("queries", Row("dump_pipeline", SINGLE, _dump_pipeline)),
)

ROWS: dict[str, Row] = {r.name: r for s in SUITES for r in s.rows}


def tree_cpu() -> dict[int, float]:
    """Cumulative CPU-seconds of each live process of this tree (the
    driver, the Spark JVM and its Python workers), by pid.

    Two readings subtract pid by pid, so a process that exits in
    between adds nothing and a new one all its time: ``pyspark.daemon``
    ignores SIGCHLD, so an exiting worker's time reaches no parent and
    a summed reading fell by its lifetime (-22.9 CPU-s on one call)."""
    out: dict[int, float] = {}
    for pid, _role in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited since tree() listed it
        # utime, stime, cutime, cstime (stat fields 14-17)
        out[pid] = sum(int(x) for x in fields[11:15]) / CLK_TCK
    return out


def time_row(spark, row: Row,
             clock: Callable[[], float] = time.perf_counter,
             cpu: Callable[[], dict[int, float]] = tree_cpu,
             ) -> tuple[list[float], list[float]]:
    """(wall seconds, process-tree CPU-seconds) of each timed call of
    ``row``, in run order. The CPU reading brackets the wall one, so
    reading ``/proc`` is never billed as wall time.

    One operator_caches scope per ROW, not per run: runs 2..N hit the
    persists (banded LSH indexes etc.) that run 1 pinned, so the min
    is the steady state of a session whose index is already built —
    the rounds 1-2 protocol, kept for baseline comparability — while
    a ~100-row session never accumulates dead cached partitions."""
    walls: list[float] = []
    cpus: list[float] = []
    fresh = row.protocol in (FRESH_DIR, SINGLE)
    with operator_caches():
        call = (row.prepare or _query(row.name))(spark)
        if row.protocol == WARM_FIRST:
            call()
        for _ in range(1 if row.protocol == SINGLE else N_RUNS):
            d = tempfile.mkdtemp(prefix="bench_") if fresh else None
            try:
                c0 = cpu()
                t0 = clock()
                call(os.path.join(d, "out")) if fresh else call()
                walls.append(clock() - t0)
                cpus.append(sum(s - c0.get(k, 0.0) for k, s in cpu().items()))
            finally:
                if fresh:
                    shutil.rmtree(d, ignore_errors=True)
    return walls, cpus


def _int_or_raw(value: str) -> int | str:
    """A conf value as an int, or the raw string when it is not one
    (some runtimes set e.g. shuffle partitions to "auto")."""
    try:
        return int(value)
    except ValueError:
        return value


def load_pins() -> dict:
    with open(os.path.join(REPO, "BENCH_PINS.json")) as fh:
        return json.load(fh)


def _sf() -> float | str:
    """The scale factor named by SF_DIR (``.../sf0.1`` -> 0.1)."""
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def host_record(spark) -> dict:
    """The host a reading was taken on: cores, RAM, Spark's default
    parallelism and the scale factor. :func:`host_key` of it picks the
    reading's entry in BENCH_PINS.json."""
    return {**host_facts(),
            "parallelism": spark.sparkContext.defaultParallelism,
            "sf": _sf()}


def host_key(host: dict) -> str:
    """``nproc4-par4-ram16g-sf0.1``: readings compare only against pins
    taken on the same cores, parallelism, RAM and scale factor."""
    return (f"nproc{host['nproc']}-par{host['parallelism']}-"
            f"ram{round(host['ram_gb'])}g-sf{host['sf']}")


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
    warm_up(spark)

    recorded: dict[str, dict[str, float]] = {}
    cpu_runs: dict[str, list[float]] = {}
    for suite in SUITES:
        timings = recorded.setdefault(suite.key, {})
        for row in suite.rows:
            walls, cpus = time_row(spark, row)
            for wall, cpu in zip(walls, cpus):
                _record_run(row.name, wall)
                _record_run(row.name, cpu, cpu_runs)
            timings[row.name] = round(min(walls), 3)

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
        "n_runs": N_RUNS,
        "sf": _sf(),
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
    # Per-run and cold columns (r18 verdict items 2-3): every benched
    # row's [run1..runN] in run order, plus the derived first-run
    # column — prices persist-based wins honestly (cold vs warm min)
    # and explains flat low-core ratios (runs 2..N are cache-backed).
    detail["query_runs"] = RUN_TIMES
    detail["queries_cold"] = _cold_column(RUN_TIMES)
    # The CPU side of the same runs, and the host the pins are keyed by
    # (tools/bench_compare.py gates each row on both).
    detail["query_cpu_runs"] = cpu_runs
    detail["query_cpu"] = {n: min(c) for n, c in cpu_runs.items()}
    detail["host"] = host_record(spark)
    write_json(os.path.join(REPO, "BENCH_DETAIL.json"), detail)
    line = json.dumps(summary)
    # Belt and braces: if the line would still overflow the driver's
    # capture, drop the per-query dict; if the per-suite totals alone
    # still overflow (one value_vN key accrues per round), fall back to
    # the bare metric keys — every dropped number is already in
    # BENCH_DETAIL.json.
    if len(line) > 1900:
        summary.pop("queries")
        line = json.dumps(summary)
    if len(line) > 1900:
        summary = {
            k: summary[k]
            for k in (
                "metric", "value", "value_cold", "unit", "n_runs", "sf",
                "detail", "master", "parallelism", "shuffle_partitions",
            )
        }
        line = json.dumps(summary)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
