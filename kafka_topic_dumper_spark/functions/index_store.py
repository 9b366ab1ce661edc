"""Materialized LSH-index store: build once, probe many.

The ANN/dedup operators document their banded (tbl, bucket) index as
"the precomputed artifact at scale". This module makes that concrete:

- ``write_banded_index`` materializes the banded rows with the layout
  that makes probes cheap: hive-partitioned by ``tbl`` (a handful of
  directories — partitioning by bucket too would explode into
  tables × 2^nbits directories at production bit widths) and SORTED by
  ``bucket`` within files, so a bucket probe prunes at two levels:
  directory (partition filter on tbl) then parquet row-group min/max
  (pushed filter on the sorted bucket column).
- ``cosine_topk_lsh_stored`` is the probe path: the query buckets are
  computed by running ``lsh_bucket_expr`` (the exact expression that
  built the index) over the query ids' EMBEDDING rows — a pushed-
  filter point lookup on the base table, |queries| × tables rows,
  metadata-sized. The index itself is NEVER read to find the probes;
  its only scan is the candidate scan, statically pruned by LITERAL
  (tbl, bucket) predicates, so only ~n_tables/2^nbits of the store is
  read. (The previous probe derivation filtered the full index on
  ``neighbor_id`` — unprunable under the (tbl, bucket) layout, i.e. a
  full index scan at 100 TB; flagged by the r2 verdict and fixed
  here.) Exact cosine then ranks the candidates only, identical to
  the in-memory operator
  (`operators/similarity.py::cosine_topk_lsh`), whose results it must
  reproduce bit-for-bit.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.operators.similarity import N_LSH_TABLES


def write_banded_index(banded: DataFrame, path: str) -> None:
    """Materialize a banded (id, tbl, bucket) index (from
    ``similarity.lsh_banded``) probe-ready; see module docstring for
    the layout rationale."""
    from kafka_topic_dumper_spark.sinks.layout import write_layout

    write_layout(banded, path, ["tbl"], sort_cols=["bucket"])


def read_banded_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def probe_filter(buckets: set[tuple[int, int]]):
    """OR of literal (tbl = t AND bucket = b) terms — statically
    prunable by both the partition layer and row-group stats."""
    if not buckets:
        raise ValueError("probe_filter needs at least one (tbl, bucket)")
    return functools.reduce(
        operator.or_,
        [
            (F.col("tbl") == F.lit(t)) & (F.col("bucket") == F.lit(b))
            for t, b in sorted(buckets)
        ],
    )


def cosine_topk_lsh_stored(
    emb: DataFrame,
    query_ids: list[int],
    index_path: str,
    k: int = 10,
    dim: int = 64,
    nbits: int = 4,
    n_tables: int = N_LSH_TABLES,
) -> DataFrame:
    """Multi-table sign-LSH ANN top-k against a MATERIALIZED index.
    Must produce exactly `cosine_topk_lsh`'s output (same hyperplanes,
    same candidate semantics) — asserted in tests/test_index_store.py.

    ``dim``/``nbits``/``n_tables`` must match the parameters the index
    was built with (``lsh_banded`` defaults) — the probe buckets are
    recomputed from the query ids' embedding rows with the SAME
    ``lsh_bucket_expr`` that built the index, so the index is never
    scanned to discover the probes."""
    from kafka_topic_dumper_spark.operators.similarity import (
        _as_double_vec,
        lsh_banded,
        pair_dot_udf,
        per_query_topk,
    )

    spark = emb.sparkSession
    idx = read_banded_index(spark, index_path)
    # the probe set: metadata-sized (|queries| × n_tables rows),
    # derived from the query EMBEDDING rows (pushed vec_id filter on
    # the base table) — no index read
    qrows = lsh_banded(
        emb.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        "query_id",
        "embedding",
        dim,
        nbits,
        n_tables,
    ).collect()
    if not qrows:
        raise ValueError(
            f"none of the query ids {sorted(query_ids)} exist in the "
            "embedding table — cannot derive probe buckets"
        )
    qbuckets = {(r.tbl, r.bucket) for r in qrows}
    probes = spark.createDataFrame(
        [(r.query_id, r.tbl, r.bucket) for r in qrows],
        "query_id long, tbl int, bucket int",
    )
    # statically pruned candidate scan: only the probed buckets' rows
    # are read from the store
    cand = (
        idx.filter(probe_filter(qbuckets))
        .join(F.broadcast(probes), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    base = _as_double_vec(emb, "neighbor_id", "vb")
    qv = base.filter(F.col("neighbor_id").isin(query_ids)).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("vb").alias("va"),
        F.col("vb_nrm").alias("va_nrm"),
    )
    pairs = (
        cand.join(F.broadcast(qv), "query_id")
        .join(base, "neighbor_id")
        .withColumn(
            "cos", pair_dot_udf()(F.col("va"), F.col("vb")) / (F.col("va_nrm") * F.col("vb_nrm"))
        )
    )
    return per_query_topk(pairs, F.col("cos").desc(), "neighbor_id", k)


def write_ivf_index(assigned: DataFrame, path: str) -> None:
    """Materialize an IVF inverted file (from ``similarity.ivf_assign``):
    (vec_id, v, v_nrm, cell) hive-partitioned by ``cell`` — one
    directory per coarse cell (bounded by the codebook size, never
    SF-proportional), vec_id-sorted within files. A probe reads only
    its nprobe cells' directories; the vectors AND norms live in the
    index, so the probe path never rescans the base table for
    candidates."""
    from kafka_topic_dumper_spark.sinks.layout import write_layout

    write_layout(assigned, path, ["cell"], sort_cols=["vec_id"])


def ivf_topk_stored(
    emb: DataFrame,
    query_ids: list[int],
    index_path: str,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN top-k against a MATERIALIZED inverted file. Must produce
    exactly ``similarity.ivf_topk``'s output — asserted in
    tests/test_index_store.py. Shape mirrors ``cosine_topk_lsh_stored``:

    - probe cells come from re-running the SAME assignment kernel over
      the query ids' embedding rows (pushed vec_id filter on the base
      table — |queries| rows, metadata-sized); the index is never
      scanned to find the probes;
    - the candidate scan filters on LITERAL cell values → directory-
      level partition pruning; candidate vectors and norms come from
      the index itself, no base-table rescan;
    - exact cosine (the bit-parity Arrow dot kernel) ranks candidates
      only."""
    from kafka_topic_dumper_spark.operators.similarity import (
        _as_double_vec,
        cell_ranks_udf,
        ivf_codebook,
        pair_dot_udf,
        per_query_topk,
    )

    spark = emb.sparkSession
    ranks = cell_ranks_udf(*ivf_codebook(emb, n_centroids))
    qrows = (
        _as_double_vec(
            emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "qv"
        )
        .withColumn("cells", F.slice(ranks(F.col("qv"), F.col("qv_nrm")), 1, nprobe))
        .collect()
    )
    if not qrows:
        raise ValueError(
            f"none of the query ids {sorted(query_ids)} exist in the "
            "embedding table — cannot derive probe cells"
        )
    probe_cells = sorted({int(c) for r in qrows for c in r.cells})
    probes = spark.createDataFrame(
        [(int(r.query_id), int(c)) for r in qrows for c in r.cells],
        "query_id long, cell bigint",
    )
    qv = spark.createDataFrame(
        [(int(r.query_id), list(r.qv), float(r.qv_nrm)) for r in qrows],
        "query_id long, qv array<double>, q_nrm double",
    )
    idx = spark.read.parquet(index_path)
    cand = (
        idx.filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cos",
            pair_dot_udf()(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("v_nrm")),
        )
    )
    return per_query_topk(cand, F.col("cos").desc(), "vec_id", k)


def write_pq_index(codes: DataFrame, path: str) -> None:
    """Materialize a PQ code table (from ``similarity.pq_codes_udf``):
    (vec_id, codes array<int>) — NOT partitioned, because ADC scans
    every code row by design; the storage win is that the scannable
    index is m small ints per vector (m bytes in production's packed
    form) instead of the raw vectors, and parquet column pruning means
    a probe reads nothing else. vec_id-sorted so id-ranged maintenance
    reads (re-encode a shard, delete a tombstone range) prune on
    row-group stats."""
    (
        codes.sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .parquet(path)
    )


def pq_topk_stored(
    emb: DataFrame,
    query_ids: list[int],
    index_path: str,
    k: int = 10,
    m: int = 16,
    ksub: int = 16,
    codebook=None,
) -> DataFrame:
    """PQ-ADC ANN top-k against a MATERIALIZED code table. Must produce
    exactly ``similarity.pq_topk``'s output — asserted in
    tests/test_index_store.py. Shape mirrors the other stored probes:

    - the ADC tables come from the query ids' BASE-TABLE rows (pushed
      vec_id point filter — |queries| rows) and the same codebook that
      built the index; the index is never scanned to derive them;
    - the candidate scan reads ONLY the codes column of the index (the
      m-byte-per-vector relation); scoring is the same pure-JVM fold,
      no Python, no shuffle until the per-query top-k window."""
    from kafka_topic_dumper_spark.operators.similarity import (
        adc_table_rows,
        per_query_topk,
        pq_codebook,
    )

    spark = emb.sparkSession
    cb = codebook or pq_codebook(emb, m, ksub)
    qrows = {
        r.vec_id: r.v
        for r in emb.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        .filter(F.col("vec_id").isin(query_ids))
        .collect()
    }
    if not qrows:
        raise ValueError(
            f"none of the query ids {sorted(query_ids)} exist in the "
            "embedding table — cannot derive ADC tables"
        )
    tables = list(adc_table_rows(cb, qrows, "l2").items())
    tdf = spark.createDataFrame(tables, "query_id long, t array<double>")
    score = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0D, (acc, j) -> acc + t[j * {ksub} + codes[j]])"
    )
    scored = (
        spark.read.parquet(index_path)
        .select("vec_id", "codes")
        # NULL-embedding rows carry NULL codes in the store; drop them
        # or their NULL score seats them at rank 1 (NULLS FIRST) —
        # mirrors the in-memory operator's embedding IS NOT NULL gate.
        .filter(F.col("codes").isNotNull())
        .crossJoin(F.broadcast(tdf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", score)
    )
    return per_query_topk(scored, F.col("score").asc(), "vec_id", k)


def write_ivfpq_index(assigned_codes: DataFrame, path: str) -> None:
    """Materialize an IVF-PQ index: (vec_id, v_nrm, cell, codes) —
    hive-partitioned by ``cell`` like the IVF inverted file, but
    carrying PQ codes + the exact norm instead of raw vectors: the
    per-vector payload drops from dim × 8 B to m × 4 B + 8 B (m bytes
    packed in production), and a probe reads only its nprobe cell
    directories AND only the code/norm columns."""
    from kafka_topic_dumper_spark.sinks.layout import write_layout

    write_layout(assigned_codes, path, ["cell"], sort_cols=["vec_id"])


def ivfpq_topk_stored(
    emb: DataFrame,
    query_ids: list[int],
    index_path: str,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 16,
    ksub: int = 16,
) -> DataFrame:
    """IVF-PQ ANN top-k against a MATERIALIZED cell-partitioned code
    index. Must produce exactly ``similarity.ivfpq_topk``'s output —
    asserted in tests/test_index_store.py. Probe cells and ADC tables
    derive from the query ids' base-table rows (pushed point filter)
    and the same codebooks that built the index; the candidate scan
    prunes to the probed cells at the directory level and reads only
    (vec_id, v_nrm, codes)."""
    from kafka_topic_dumper_spark.operators.similarity import (
        _as_double_vec,
        adc_table_rows,
        cell_ranks_udf,
        ivf_codebook,
        per_query_topk,
        pq_codebook,
    )

    spark = emb.sparkSession
    ranks = cell_ranks_udf(*ivf_codebook(emb, n_centroids))
    qrows = (
        _as_double_vec(
            emb.filter(F.col("embedding").isNotNull()).filter(
                F.col("vec_id").isin(query_ids)
            ),
            "query_id",
            "qv",
        )
        .withColumn("cells", F.slice(ranks(F.col("qv"), F.col("qv_nrm")), 1, nprobe))
        .collect()
    )
    if not qrows:
        raise ValueError(
            f"none of the query ids {sorted(query_ids)} exist in the "
            "embedding table — cannot derive probe cells"
        )
    cb = pq_codebook(emb, m, ksub)
    flats = adc_table_rows(cb, {r.query_id: r.qv for r in qrows}, "ip")
    tables = [
        (int(r.query_id), flats[int(r.query_id)], float(r.qv_nrm))
        for r in sorted(qrows, key=lambda r: r.query_id)
    ]
    tdf = spark.createDataFrame(tables, "query_id long, t array<double>, q_nrm double")
    probe_cells = sorted({int(c) for r in qrows for c in r.cells})
    probes = spark.createDataFrame(
        [(int(r.query_id), int(c)) for r in qrows for c in r.cells],
        "query_id long, cell bigint",
    )
    ip = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0D, (acc, j) -> acc + t[j * {ksub} + codes[j]])"
    )
    scored = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(tdf), "query_id")
        .withColumn("score", ip / (F.col("q_nrm") * F.col("v_nrm")))
    )
    return per_query_topk(scored, F.col("score").desc(), "vec_id", k)


def write_editdist_prefix_index(prefix: DataFrame, path: str) -> None:
    """Materialize the ED-Join prefix index
    (`operators/dedup.py::editdist_prefix_index`): hive-partitioned by
    length ``band`` — the self-join's co-location key (band b only
    ever meets b−1..b+1, so adjacent-directory reads cover every
    qualifying pair) — and sorted by ``gh`` within files so a gram
    probe prunes at the row-group level. The artifact is ≤ q·D+1 rows
    per document regardless of document length: doc-count-sized, not
    corpus-sized, which is what makes build-once/join-many the right
    trade on a diverse 100 TB corpus (SCALE_PROBE.md round 12/13)."""
    from kafka_topic_dumper_spark.sinks.layout import write_layout

    write_layout(prefix, path, ["band"], sort_cols=["gh"])
