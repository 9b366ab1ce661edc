"""Similarity search over embedding columns (SURVEY §2.10).

- brute-force cosine top-k: the correctness baseline. Query set is tiny
  → broadcast; the scan side streams. At 100 TB this is one pass over
  the vectors per query batch — still the right plan when the query set
  is small and recall must be exact.
- LSH-bucketed ANN (sign of random-hyperplane dot products): the scale
  path — vectors are bucketed once (persistable as a bucket column so a
  probe touches ~1/2^nbits of the table), queries probe only their own
  bucket. Recall < 1 by construction → rows-only correctness check.

:func:`dot` is the JVM ``zip_with``/``aggregate`` spec of the cosine
dot product. Four numpy kernels run in Python, behind one Arrow
envelope (:func:`_vector_udf`, which owns the NULL contract and ships
the package): the dot product (:func:`pair_dot_udf`), the LSH
signatures (:func:`lsh_signatures_udf`, whose pure-expression form
overflows Janino's 64 KB method limit), the IVF centroid ranking
(:func:`cell_ranks_udf`) and the PQ encoder (:func:`pq_codes_udf`).
Each keeps the fold order of its DuckDB oracle, so results are
bit-identical. The PCA projection's two ``mapInPandas`` passes are
the other Python stages.

Cache lifetime: the LSH index is persist()ed because it feeds multiple
consumers within one query; the cached partitions live until the
session drops them, so long-lived sessions running many queries should
``spark.catalog.clearCache()`` between them (bench.py does).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.functions import trained_oracles
from kafka_topic_dumper_spark.functions.caching import materialized
from kafka_topic_dumper_spark.session import ensure_shipped
from kafka_topic_dumper_spark.sources.tables import load_table


def _dsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """REFERENCE dot product of two array<double> columns, sequential
    fold (stable summation order — reproducible across engines). Spark
    higher-order functions are CodegenFallback, i.e. interpreted
    expression-tree eval PER ROW — fine for probe-sized inputs, a real
    tax on corpus-wide scoring passes, so the hot paths use
    :func:`pair_dot_udf` (bit-identical fold, pinned by
    tests/test_ann_recall.py's parity test) and this stays as the
    executable spec."""
    return _dsum(F.zip_with(a, b, lambda x, y: x * y))


def _float64(col: pd.Series) -> np.ndarray:
    """A batch column as float64: an array column stacks to an
    ``(m, dim)`` matrix, a scalar column (a norm) is an ``(m,)``
    vector. float32 → float64 is exact."""
    if col.dtype == object:
        return np.stack(col.to_numpy()).astype(np.float64)
    return col.to_numpy(dtype=np.float64)


def _vector_udf(kernel: Callable[..., np.ndarray], return_type: str, *params):
    """The one Arrow boundary of the vector kernels: a new pandas UDF,
    named after ``kernel``, that returns ``kernel(*inputs, *params)``
    for the rows whose input columns are all non-NULL, and NULL for
    the others — the NULL a HOF fold yields for a NULL input (np.stack
    over a None would raise instead).

    Inputs reach ``kernel`` through :func:`_float64`; it returns one
    value (``(m,)``) or one array (``(m, w)``) per valid row. A batch
    with no NULL keeps a scalar result as a float64 Series. The
    kernels are module-level functions, which cloudpickle ships by
    reference, so the package is shipped first. Each call builds a new
    UDF object, because ``asNondeterministic()`` marks one in place."""
    ensure_shipped(SparkSession.active())

    def run(*cols):
        mask = np.logical_and.reduce([c.notna().to_numpy() for c in cols])
        rows = np.flatnonzero(mask)
        out = np.full(len(mask), None, dtype=object)
        if not len(rows):
            return pd.Series(out)
        if len(rows) < len(mask):
            cols = [c[mask] for c in cols]
        res = kernel(*(_float64(c) for c in cols), *params)
        if res.ndim == 1 and len(rows) == len(mask):
            return pd.Series(res)
        if res.ndim == 1:
            out[rows] = res
        else:
            for r, row in zip(rows, res):
                out[r] = row
        return pd.Series(out)

    run.__name__ = kernel.__name__
    return F.pandas_udf(run, return_type)


def _dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise ``A·B``: ``acc += A[:,j] * B[:,j]`` sequentially over
    j from 0.0 — per row the exact IEEE op sequence of :func:`dot`
    (products exact, additions left-associated), so the results are
    bit-identical to the HOF fold and to the DuckDB oracle's chain."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def pair_dot_udf():
    """Arrow-batched dot product over two vector columns (float or
    double elements) — the vectorized twin of :func:`dot`, with the
    same fold order (:func:`_dot`). NULL in either input gives NULL."""
    return _vector_udf(_dot, "double")


def _as_double_vec(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df.select(
        F.col("vec_id").alias(id_alias), v.alias(vec_alias)
    ).withColumn(
        f"{vec_alias}_nrm",
        # JVM HOF fold, not an Arrow kernel: the norm column chains
        # into the pair_dot_udf projection downstream, and a second
        # ArrowEvalPython stage on the same rows measurably loses to
        # the interpreted fold (A/B min-of-3 at sf0.1, bruteforce:
        # arrow-dot+HOF-norm 0.54s, arrow-dot+arrow-norm 0.80s —
        # stage-chaining overhead exceeds the fold cost).
        F.sqrt(_dsum(F.transform(F.col(vec_alias), lambda x: x * x))),
    )


def per_query_topk(pairs: DataFrame, score: Column, neighbor: str, k: int) -> DataFrame:
    """``(query_id, neighbor_id, rank)``: each query's ``k`` best
    ``neighbor`` rows in ``score`` order (e.g. ``F.col("cos").desc()``),
    ties to the lower neighbor id — the ``row_number() OVER (PARTITION
    BY query_id ORDER BY <score>, neighbor_id)`` every top-k oracle
    replays. ``rank <= k`` becomes a per-partition group limit below
    the window's sort."""
    w = Window.partitionBy("query_id").orderBy(score, F.col(neighbor))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("integer"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(neighbor).alias("neighbor_id"), "rank")
    )


def cosine_topk_bruteforce(
    emb: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector. Queries broadcast
    into a map-side theta-join with the vector table — one scan; the
    only shuffle is the per-query rank window (and row_number ≤ k is
    limit-pushed into the sort)."""
    base = _as_double_vec(emb, "neighbor_id", "vb")
    q = _as_double_vec(emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "va")
    pairs = base.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("cos", pair_dot_udf()(F.col("va"), F.col("vb")) / (F.col("va_nrm") * F.col("vb_nrm")))
    return per_query_topk(pairs, F.col("cos").desc(), "neighbor_id", k)


def _hyperplanes(dim: int, nbits: int) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes from a fixed LCG —
    reproducible with no RNG state; Rademacher entries are a standard
    choice for sign-LSH. One stream: callers slice consecutive groups
    of planes to build independent tables."""
    planes: list[list[float]] = []
    seed = 0x853C49E6748FEA9B
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            seed = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(1.0 if (seed >> 32) & 1 else -1.0)
        planes.append(row)
    return planes


def _chain(terms: list[str]) -> str:
    chain = " ".join(terms)
    return chain[2:] if chain.startswith("+ ") else "-" + chain[2:]


def lsh_bucket_expr(
    vec_col: str, dim: int, nbits: int, table: int = 0
) -> Column:
    """REFERENCE implementation (pure-SQL spec of the bucket id; the
    production path is :func:`lsh_signatures_udf`, which must stay
    bit-identical to this — pinned by tests/test_ann_recall.py's
    parity test). Sign-LSH bucket id for an array<double> column: bit
    i = sign of
    the dot product with hyperplane ``table*nbits + i``. A pure
    expression, so the same code buckets the stored table and the
    probe side.

    ``vec_col`` must be the RAW stored array column (any numeric
    element type — every element reference is cast to DOUBLE
    individually, which is exact from float). Referencing a COMPUTED
    double-array column here is the Catalyst lambda-inlining trap:
    CollapseProject inlines the full ``transform(embedding, …)`` into
    every one of the ~2048 element references, re-evaluating the
    64-element lambda per reference (~131k evaluations per row —
    measured ~70× slower).

    Built as ONE parsed SQL string: the planes are ±1, so each dot
    product is the left-associated chain ``±v[0] ±v[1] …`` — in IEEE
    bit-identical to a zip_with/aggregate fold (x·±1.0 ≡ ±x;
    additions in the same order) and to the DuckDB oracle's identical
    chain. The string form also matters operationally: building 32
    planes × 64 entries as F.lit() Column algebra is thousands of py4j
    round-trips whose plan CONSTRUCTION alone cost ~10 s per query;
    one expr() parse is milliseconds, and the straight-line adds
    codegen far better than 32 nested lambda folds."""
    planes = _hyperplanes(dim, nbits * (table + 1))[table * nbits :]
    bits = []
    for i, plane in enumerate(planes):
        chain = _chain(
            [
                ("+" if s > 0 else "-") + f" CAST({vec_col}[{j}] AS DOUBLE)"
                for j, s in enumerate(plane)
            ]
        )
        bits.append(f"(CASE WHEN ({chain}) > 0 THEN {1 << i} ELSE 0 END)")
    return F.expr("\n + ".join(bits))


N_LSH_TABLES = 8


def _buckets(
    E: np.ndarray, planes: list[list[float]], nbits: int, n_tables: int
) -> np.ndarray:
    """``(m, n_tables)`` int32 sign-LSH bucket ids: bit i of table t is
    the sign of the dot product with ``planes[t*nbits + i]``,
    accumulated as a SEQUENTIAL left-associated ± chain over dims in
    float64 — the order of the SQL chain in :func:`lsh_bucket_expr` /
    :func:`bucket_sql`. Starting the fold at 0.0 instead of ±x₀
    differs only on ±0.0 intermediates, which can never flip the
    final ``> 0`` sign test."""
    m = E.shape[0]
    buckets = np.zeros((m, n_tables), dtype=np.int32)
    for t in range(n_tables):
        bits = np.zeros(m, dtype=np.int32)
        for i in range(nbits):
            acc = np.zeros(m, dtype=np.float64)
            for j, sign in enumerate(planes[t * nbits + i]):
                if sign > 0.0:
                    acc += E[:, j]
                else:
                    acc -= E[:, j]
            bits |= (acc > 0.0).astype(np.int32) << i
        buckets[:, t] = bits
    return buckets


def lsh_signatures_udf(dim: int, nbits: int, n_tables: int):
    """Arrow-batched vectorized kernel computing ALL ``n_tables`` sign-
    LSH bucket ids per vector in one pass: returns a pandas_udf mapping
    an array<float> column to ``array<int>`` of length ``n_tables``
    (:func:`_buckets`; NULL for a NULL vector).

    Why a Pandas UDF here, against this repo's JVM-first rule: the pure
    expression form (:func:`lsh_bucket_expr` per table) inlines
    nbits×n_tables×dim ≈ 2048 ``± CAST(v[j] AS DOUBLE)`` terms into one
    whole-stage-codegen ``processNext()`` — Janino's 64 KB method limit
    ("Code grows beyond 64 KB"), so the WHOLE stage (scan + explode
    included) silently fell back to row-at-a-time interpreted
    evaluation at every config we ship. Expression-level method
    splitting can't rescue it: the projection consumes scan-local
    variables, which disables ``splitExpressionsWithCurrentInputs``.
    The Arrow kernel keeps the rest of the stage compiled (the UDF is
    an ArrowEvalPython boundary) and does the arithmetic as ~2048
    numpy whole-batch vector ops — vectorized across rows, sequential
    across dims.

    The DuckDB oracle reproduces the exact bucket ids, because the
    fold order matches the SQL chain and float32→float64 is exact. A
    production deployment that doesn't need cross-engine bit parity
    can swap the dim loop for one ``E @ P.T`` matmul (BLAS reorders
    the sums)."""
    planes = _hyperplanes(dim, nbits * n_tables)
    return _vector_udf(_buckets, "array<int>", planes, nbits, n_tables)


def lsh_banded(
    base: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    nbits: int,
    n_tables: int,
) -> DataFrame:
    """(id, tbl, bucket) sign-LSH index rows: every vector exploded into
    one row per hash table. At scale this is the PRECOMPUTED index —
    written out partitioned by (tbl, bucket) so probes prune at the
    source. Callers persist it when it feeds multiple consumers (the
    hyperplane dot products then run once per vector).

    Signatures come from the Arrow-batched kernel
    (:func:`lsh_signatures_udf` — see its docstring for why the pure
    expression form can't compile); the explode into one row per table
    is a JVM ``posexplode``, so everything except the signature
    arithmetic stays in whole-stage codegen.

    The kernel is marked non-deterministic (r18, guide §4.4): it is in
    fact a pure function, but Catalyst infers ``size(_bs) > 0 AND
    isnotnull(_bs)`` from the non-outer posexplode and pushes that
    filter BELOW the projection, duplicating the UDF — every banded
    build paid the ~2048 numpy plane ops per vector TWICE (two
    ArrowEvalPython nodes over the same ``_buckets`` call in every
    consumer's before-plan). Marking it non-deterministic forbids the
    duplication; no caller needs a filter pushed past the signature
    computation (the index builds scan the full relation, the probe
    path filters BEFORE calling, and the self-join consumers persist
    the result)."""
    sig = lsh_signatures_udf(dim, nbits, n_tables).asNondeterministic()
    return base.select(
        F.col(id_col), sig(F.col(vec_col)).alias("_bs")
    ).select(id_col, F.posexplode("_bs").alias("tbl", "bucket"))


def plane_chain_sql(plane: list[float]) -> str:
    """One hyperplane's dot product as a left-associated ± chain:
    x*±1.0 ≡ ±x in IEEE, additions in the same order as Spark's
    sequential aggregate() fold ⇒ bit-identical signs in DuckDB."""
    return _chain(
        [("+" if s > 0 else "-") + f" v[{j}]" for j, s in enumerate(plane, start=1)]
    )


def bucket_sql(table: int, dim: int = 64, nbits: int = 4) -> str:
    """DuckDB expression reproducing ``lsh_bucket_expr`` for one table
    (identical hyperplane slices, identical fold order)."""
    planes = _hyperplanes(dim, nbits * (table + 1))[table * nbits :]
    return "\n                 + ".join(
        f"(CASE WHEN ({plane_chain_sql(plane)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )


def banded_union_sql(
    src: str, id_col: str, dim: int, nbits: int, n_tables: int
) -> str:
    """UNION ALL of per-table bucket assignments over CTE ``src`` (which
    must expose ``{id_col}`` and a double-list column ``v``) — the
    DuckDB mirror of :func:`lsh_banded`."""
    return "\n            UNION ALL\n            ".join(
        f"SELECT {id_col}, {t} AS tbl,\n                 "
        f"{bucket_sql(t, dim, nbits)} AS bucket FROM {src}"
        for t in range(n_tables)
    )


def cosine_topk_lsh(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nbits: int = 4,
    dim: int = 64,
    n_tables: int = N_LSH_TABLES,
) -> DataFrame:
    """Multi-table sign-LSH ANN top-k: ``n_tables`` independent
    hyperplane sets, a candidate is any vector sharing the query's
    bucket in ANY table (single-table sign-LSH at 4 bits recalls
    ~0.1 — neighbors straddle hyperplanes; with 8 independent tables
    measured recall is ~0.9 at the same per-probe cost profile).

    Shape: the corpus is exploded ×n_tables into (table, bucket) rows
    — at scale this is the precomputed index, partitioned by
    (table, bucket) so a probe prunes to its buckets at the source;
    candidate ids deduplicate BEFORE any vector math, then one
    id-join re-attaches vectors for exact cosine ranking."""
    base = _as_double_vec(emb, "neighbor_id", "vb")
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    # banded feeds both the probe extraction and the candidate join —
    # persist so the 32 hyperplane dot products per vector run once
    # (at scale this IS the precomputed index you'd store). Bucketing
    # runs over the RAW embedding column (see lsh_bucket_expr).
    banded = tracked_persist(
        lsh_banded(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
            "embedding",
            dim,
            nbits,
            n_tables,
        )
    )
    probes = banded.filter(F.col("neighbor_id").isin(query_ids)).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    cand = (
        banded.join(
            F.broadcast(probes),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("bucket") == F.col("qbucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
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


KNN_GRAPH_K = 5
KNN_GRAPH_BITS = 8
KNN_GRAPH_TABLES = 4


def knn_graph(
    emb: DataFrame,
    k: int = KNN_GRAPH_K,
    nbits: int = KNN_GRAPH_BITS,
    n_tables: int = KNN_GRAPH_TABLES,
    dim: int = 64,
) -> DataFrame:
    """Directed k-NN graph over the whole corpus — each vector's top-k
    cosine neighbors among its sign-LSH bucket candidates. The building
    block for graph-based corpus curation (SemDeDup-style cluster
    pruning, connected-component dedup, diversity sampling) where the
    query set IS the corpus.

    Plan shape at 100 TB: the banded index is computed once per vector
    (persisted — it feeds both sides of the candidate join; at scale it
    is the stored (tbl,bucket)-partitioned index), candidates come from
    the bucket equi-join (never the n² self-join), exact cosine ranks
    only the candidates, and the per-source top-k is one window over
    the src-keyed shuffle. Vectors with sparse buckets simply emit
    fewer than k edges — the LSH recall/cost trade, measured in
    tests/test_ann_recall.py for the same table family."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    # persisted: the projected+normed vector table feeds BOTH join
    # sides (va/vb) and Catalyst does not reuse the aliased subtrees —
    # without this the corpus is scanned and norm-folded twice
    base = tracked_persist(_as_double_vec(emb, "vec_id", "v"))
    banded = tracked_persist(
        lsh_banded(
            emb.select("vec_id", "embedding"),
            "vec_id",
            "embedding",
            dim,
            nbits,
            n_tables,
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("nb"))
        .distinct()
    )
    va = base.select(
        F.col("vec_id").alias("src"), F.col("v").alias("va"), F.col("v_nrm").alias("na")
    )
    vb = base.select(
        F.col("vec_id").alias("nb"), F.col("v").alias("vb"), F.col("v_nrm").alias("nb_nrm")
    )
    pairs = (
        cand.join(va, "src")
        .join(vb, "nb")
        .withColumn(
            "cos",
            pair_dot_udf()(F.col("va"), F.col("vb"))
            / (F.col("na") * F.col("nb_nrm")),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("nb"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("integer"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("src").alias("vec_id"),
            F.col("nb").alias("neighbor_id"),
            "rank",
        )
    )


def knn_oracle_ctes(
    k: int = KNN_GRAPH_K,
    nbits: int = KNN_GRAPH_BITS,
    n_tables: int = KNN_GRAPH_TABLES,
) -> str:
    """The kNN-graph computation as a CTE chain ending in
    ``knng(vec_id, neighbor_id, rank)`` — composable (mutual-kNN
    clustering reuses it inside a recursive closure)."""
    banded = banded_union_sql("n", "vec_id", 64, nbits, n_tables)
    return f"""v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), banded AS (
            {banded}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS src, b.vec_id AS nb
            FROM banded a JOIN banded b
              ON a.tbl = b.tbl AND a.bucket = b.bucket
             AND a.vec_id != b.vec_id
        ), pairs AS (
            SELECT c.src, c.nb,
                   list_sum(list_transform(range(1, 65),
                            i -> sa.v[i] * sb.v[i])) / (sa.nrm * sb.nrm) AS cos
            FROM cand c
            JOIN n sa ON sa.vec_id = c.src
            JOIN n sb ON sb.vec_id = c.nb
        ), knng AS (
            SELECT src AS vec_id, nb AS neighbor_id, rank FROM (
                SELECT src, nb,
                       CAST(row_number() OVER (PARTITION BY src
                            ORDER BY cos DESC, nb) AS INTEGER) AS rank
                FROM pairs
            ) WHERE rank <= {k}
        )"""


def knn_graph_oracle_sql(
    k: int = KNN_GRAPH_K,
    nbits: int = KNN_GRAPH_BITS,
    n_tables: int = KNN_GRAPH_TABLES,
) -> str:
    """DuckDB twin of :func:`knn_graph` — identical hyperplanes,
    identical candidate join, identical rank tie-break."""
    return f"""
        WITH {knn_oracle_ctes(k, nbits, n_tables)}
        SELECT vec_id, neighbor_id, rank FROM knng
        """


# k for the CLUSTERING use of the graph: mutual 2-NN. At k=5 the
# mutual graph percolates into one giant component on the testdata
# (497/500 vectors — measured); k=2 yields real structure (193
# clusters, max size 10). Percolation with k is intrinsic to
# mutual-kNN, not an implementation artifact.
MUTUAL_KNN_K = 2


def mutual_knn_clusters(
    emb: DataFrame,
    k: int = MUTUAL_KNN_K,
    nbits: int = KNN_GRAPH_BITS,
    n_tables: int = KNN_GRAPH_TABLES,
) -> DataFrame:
    """Mutual-kNN clustering — every vector labeled by the connected
    component of the MUTUAL kNN graph (edge kept iff each endpoint is
    in the other's top-k). Mutuality is the classic density filter:
    a hub vector's one-way edges into sparse regions disappear, so
    clusters track genuine neighborhoods — the curation primitive
    behind diversity pruning and cluster-balanced sampling.

    Plan shape: the kNN graph is already ≤ k·n rows; mutuality is an
    INTERSECT of the edge list with its own reversal (one
    metadata-sized shuffle); components run the iterative min-label
    propagation of operators/graph.py (lineage-checkpointed). Nothing
    after the kNN stage touches vector payloads."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist
    from kafka_topic_dumper_spark.operators.graph import connected_components

    # Persist the kNN edge list before the mutuality intersect (r18,
    # guide §2.4/§5): ``g`` feeds BOTH intersect sides (itself and its
    # reversal) and Catalyst does not reuse the aliased subtree — so
    # without the persist the entire candidate-join + cosine + top-k
    # window chain executed TWICE per query (knn_graph persists only
    # its internals, not its result). ≤ k·n rows — metadata-plane at
    # any corpus size, exactly the edge list a 100 TB deployment would
    # materialize before graph clustering. Measured 6.05 → 4.70 s warm
    # at sf0.1 (interleaved A/B); outputs proved identical at
    # sf0.01 + sf0.1 before landing.
    g = tracked_persist(
        knn_graph(emb, k, nbits, n_tables).select(
            F.col("vec_id").alias("u"), F.col("neighbor_id").alias("w")
        )
    )
    rev = g.select(F.col("w").alias("u"), F.col("u").alias("w"))
    mutual = g.intersect(rev).filter(F.col("u") < F.col("w"))
    # r18: this caller picks the CONTRACTION engine explicitly — the
    # mutual-kNN graph is the documented deep/chain-shaped case (degree
    # ≤ k, path-dominated; propagation needs 10 sweeps here where
    # large-star/small-star finishes in 5 rounds — measured 4.6 s →
    # 3.3 s warm at sf0.1, and the round count is O(log diameter) at
    # any scale). The two engines are contract-equal (identical
    # min-id labeling, cross-tested in tests/), so the output is
    # unchanged; the shallow star-shaped dedup callers keep the
    # propagation default, where the jump-free sweeps win.
    comp = connected_components(mutual, "u", "w", method="contraction")
    base = emb.select("vec_id")
    return (
        base.join(comp, base["vec_id"] == comp["node"], "left")
        .select(
            "vec_id",
            F.coalesce("component_id", "vec_id").alias("cluster_id"),
        )
    )


def mutual_knn_clusters_oracle_sql(
    k: int = MUTUAL_KNN_K,
    nbits: int = KNN_GRAPH_BITS,
    n_tables: int = KNN_GRAPH_TABLES,
) -> str:
    """DuckDB twin — identical kNN chain, mutual filter, recursive
    closure (same pattern as the dedup_cluster_components oracle)."""
    return f"""
        WITH RECURSIVE {knn_oracle_ctes(k, nbits, n_tables)}, mutual AS (
            SELECT a.vec_id AS s, a.neighbor_id AS d
            FROM knng a JOIN knng b
              ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
        ), reach(node, label) AS (
            SELECT s, s FROM mutual
            UNION
            SELECT m.d, r.label FROM reach r JOIN mutual m ON m.s = r.node
        ), comp AS (
            SELECT node, min(label) AS cluster_id FROM reach GROUP BY node
        )
        SELECT em.vec_id, coalesce(c.cluster_id, em.vec_id) AS cluster_id
        FROM embeddings em LEFT JOIN comp c ON c.node = em.vec_id
        """


def _ranks(
    V: np.ndarray, vn: np.ndarray, cids: np.ndarray, C: np.ndarray, cn: np.ndarray
) -> np.ndarray:
    """``(m, n_centroids)`` centroid ids per vector, ordered by (cosine
    desc, cid asc). Per (vector, centroid) the dot product accumulates
    sequentially over dims — the IEEE op sequence of
    ``pair_dot / (v_nrm * c_nrm)`` (see :func:`_dot`)."""
    acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(V.shape[1]):
        acc += V[:, j : j + 1] * C[None, :, j]
    cos = acc / (vn[:, None] * cn[None, :])
    # argsort by (-cos, cid): ids are pre-sorted ascending so the
    # stable secondary order is the cid tie-break
    return cids[np.argsort(-cos, axis=1, kind="stable")]


def cell_ranks_udf(cids: list[int], cmat: list[list[float]], cnrm: list[float]):
    """Arrow-batched centroid ranking of ``(vector, norm)`` columns:
    for each vector, the centroid ids ordered by (cosine desc, cid
    asc) (:func:`_ranks`; NULL when either input is NULL). The
    centroid set travels inside the UDF, which is the IVF-correct
    shape: the coarse codebook is always metadata-sized, so baking it
    into one map stage beats a ×n_centroids row expansion 16-fold on
    Arrow transfer volume and eliminates the re-grouping shuffle
    entirely. Cell assignments and tie-breaks are bit-identical to the
    expansion form and to the DuckDB oracle."""
    return _vector_udf(
        _ranks,
        "array<bigint>",
        np.asarray(cids, dtype=np.int64),
        np.asarray(cmat, dtype=np.float64),
        np.asarray(cnrm, dtype=np.float64),
    )


def ivf_codebook(emb: DataFrame, n_centroids: int = 16):
    """Collect the coarse codebook (``(cids, vectors, norms)`` plain
    lists, cid-ascending) — the one deliberate driver round-trip of the
    IVF paths; metadata-sized by definition. Centroid selection is the
    deterministic ``vec_id < n_centroids`` sample (SQL-expressible for
    the oracle; pluggable for a k-means pass in production)."""
    crows = sorted(
        _as_double_vec(
            emb.filter(F.col("embedding").isNotNull()).filter(
                F.col("vec_id") < n_centroids
            ),
            "cid",
            "c",
        ).collect(),
        key=lambda r: r.cid,
    )
    return (
        [int(r.cid) for r in crows],
        [[float(x) for x in r.c] for r in crows],
        [float(r.c_nrm) for r in crows],
    )


def ivf_codebook_trained(
    emb: DataFrame,
    n_centroids: int = 16,
    sample_cap: int = 4096,
    iters: int = 20,
):
    """K-means-trained coarse codebook behind :func:`ivf_codebook`'s
    pluggable seam (r5 verdict item 3): the deterministic
    ``vec_id < n_centroids`` sample keeps cell occupancy hostage to
    insertion order — on a real corpus that skews cells badly, hurting
    both recall and the stored index's probe-pruning ratio. This path
    trains Lloyd's k-means (spherical: cosine distance via normalized
    dot) the way production IVF builds do — on a BOUNDED sample:

    - sample selection is a deterministic hash-ordered top-``sample_cap``
      (one distributed TopK, no full sort), so the training set — like
      the codebook itself — is metadata-sized regardless of corpus
      scale; FAISS trains IVF coarse quantizers on ~(39×k..256k)
      samples for exactly this reason;
    - Lloyd's runs driver-side in float64 numpy over the collected
      sample (k×dim×iters flops — metadata-plane work), with
      deterministic init (first k sample rows in hash order) and
      empty-cluster carry-over, so the result is reproducible
      run-to-run on the same data;
    - the DISTRIBUTED part — assigning every corpus vector — is the
      same single map stage (:func:`cell_ranks_udf`) regardless of how
      the codebook was produced.

    Returns the same ``(cids, vectors, norms)`` triple as
    :func:`ivf_codebook` (cids are 0..k-1)."""
    sample = (
        emb.filter(F.col("embedding").isNotNull())
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([r.v for r in sample], dtype=np.float64)
    # zero vectors must not NaN-poison the spherical normalization
    nrm0 = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.where(nrm0 == 0, 1.0, nrm0)
    C = Xn[:n_centroids].copy()
    for _ in range(iters):
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        assign = np.argmax(Xn @ Cn.T, axis=1)
        for c in range(n_centroids):
            members = Xn[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
            # else: empty cluster keeps its previous centroid
    norms = np.linalg.norm(C, axis=1)
    return (
        list(range(n_centroids)),
        [[float(x) for x in row] for row in C],
        [float(n) for n in norms],
    )


def ivf_assign(emb: DataFrame, n_centroids: int = 16, codebook=None) -> DataFrame:
    """(vec_id, v, v_nrm, cell) — every vector assigned to its nearest
    centroid by the map-stage kernel. This is the relation a stored IVF
    index materializes (partitioned by cell; see
    functions/index_store.py). ``codebook`` defaults to the
    deterministic-sample :func:`ivf_codebook` (oracle-exact); pass
    :func:`ivf_codebook_trained`'s triple for the k-means path."""
    base = _as_double_vec(emb, "vec_id", "v")
    ranks = cell_ranks_udf(*(codebook or ivf_codebook(emb, n_centroids)))
    return base.withColumn(
        "cell", ranks(F.col("v"), F.col("v_nrm"))[0]
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    codebook=None,
) -> DataFrame:
    """IVF-style ANN: vectors are assigned to the nearest of
    ``n_centroids`` coarse centroids (the inverted file); a query probes
    only its ``nprobe`` nearest cells, so the search touches
    ~nprobe/n_centroids of the table. Centroid selection is pluggable —
    the default deterministic sample (vec_id < n_centroids) keeps the
    whole operator SQL-expressible for the oracle, while
    :func:`ivf_codebook_trained` supplies the production k-means
    codebook through the same seam. At 100 TB: the centroid codebook is metadata-sized
    and collected once (the one deliberate driver round-trip); the
    assignment is a pure MAP stage — one Arrow pass per vector, no
    ×n_centroids expansion, no shuffle (see :func:`cell_ranks_udf`);
    `cell` is persisted as a partition/bucket column so probes prune at
    the source instead of re-assigning.
    """
    base = _as_double_vec(emb, "vec_id", "v")
    cb = codebook or ivf_codebook(emb, n_centroids)
    ranks = cell_ranks_udf(*cb)
    # Corpus-side assignment runs through a NONDETERMINISTIC instance
    # of the (pure) kernel (r19, guide §4.4 — the §14 lsh_banded
    # pattern): joining ``assigned`` on "cell" makes Catalyst infer
    # isnotnull(cell) and push it below this projection, re-evaluating
    # the full-corpus centroid-ranking UDF — the r19 before-plan shows
    # two ArrowEvalPython[_ranks] nodes over the corpus scan with the
    # inferred Filter between them. The mark forbids the duplication
    # (one evaluation; the inferred filter stays above), and the
    # query-side legs below filter BEFORE calling the kernel, so no
    # consumer needs a filter pushed past it. ``asNondeterministic``
    # marks the UDF object in place, so the corpus leg gets its own
    # instance and the probe leg's ``ranks`` stays deterministic.
    assigned = base.withColumn(
        "cells",
        cell_ranks_udf(*cb).asNondeterministic()(F.col("v"), F.col("v_nrm")),
    ).select("vec_id", "v", "v_nrm", F.col("cells")[0].alias("cell"))
    qbase = base.filter(F.col("vec_id").isin(query_ids))
    probes = qbase.withColumn(
        "cells", ranks(F.col("v"), F.col("v_nrm"))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.slice("cells", 1, nprobe)).alias("cell"),
    )
    q = qbase.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("v_nrm").alias("q_nrm"),
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos", pair_dot_udf()(F.col("qv"), F.col("v")) / (F.col("q_nrm") * F.col("v_nrm"))
        )
    )
    return per_query_topk(cand, F.col("cos").desc(), "vec_id", k)


def pq_codebook(emb: DataFrame, m: int = 16, ksub: int = 16):
    """Product-quantization codebook, deterministic form: subspace j's
    ``ksub`` centroids are the j-th subvectors of the first ``ksub``
    vectors (``vec_id < ksub``) — the same SQL-expressible selection
    rule as :func:`ivf_codebook`, so the whole PQ pipeline has an
    exact DuckDB oracle. Returns ``cb[j][c][d]`` as plain nested
    lists (metadata-sized: m × ksub × dim/m doubles). Pluggable for
    :func:`pq_codebook_trained` in production."""
    rows = sorted(
        _as_double_vec(
            emb.filter(F.col("embedding").isNotNull()).filter(
                F.col("vec_id") < ksub
            ),
            "cid",
            "c",
        ).collect(),
        key=lambda r: r.cid,
    )
    dim = len(rows[0].c)
    dsub = dim // m
    return [
        [[float(x) for x in r.c[j * dsub : (j + 1) * dsub]] for r in rows]
        for j in range(m)
    ]


def pq_codebook_trained(
    emb: DataFrame,
    m: int = 16,
    ksub: int = 16,
    sample_cap: int = 4096,
    iters: int = 20,
):
    """Per-subspace Lloyd's k-means PQ codebook — the production path
    (FAISS-style): each subspace is clustered INDEPENDENTLY on the
    same deterministic hash-bounded sample :func:`ivf_codebook_trained`
    uses, so training cost is metadata-plane (m × k × dsub × iters
    flops driver-side) regardless of corpus scale. Plain-L2 Lloyd's
    (not spherical — PQ quantizes residual geometry, not direction),
    deterministic init (first k sample subvectors in hash order),
    empty-cluster carry-over. Same ``cb[j][c][d]`` shape as
    :func:`pq_codebook`."""
    sample = (
        emb.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([r.v for r in sample], dtype=np.float64)
    dsub = X.shape[1] // m
    cb = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:ksub].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        cb.append([[float(x) for x in row] for row in C])
    return cb


def _codes(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """``(m, n_subspaces)`` int32 PQ codes: per subspace j, the argmin
    over ``C[j]``'s centroids of the squared L2 distance, which
    accumulates LEFT-FOLDED over the subspace dims (``acc +=
    (V[:,d]-C[:,d])²`` ascending d) — the IEEE op sequence of the
    oracle's ``list_sum(list_transform(range(1,dsub+1), d ->
    (sv[d]-cv[d])²))`` chain. ``np.argmin`` returns the FIRST minimum =
    lowest cid, the oracle's ``ORDER BY dist, cid`` tie-break."""
    m, ksub, dsub = C.shape
    codes = np.empty((V.shape[0], m), dtype=np.int32)
    for j in range(m):
        acc = np.zeros((V.shape[0], ksub), dtype=np.float64)
        for d in range(dsub):
            diff = V[:, j * dsub + d, None] - C[j, None, :, d]
            acc += diff * diff
        codes[:, j] = np.argmin(acc, axis=1)
    return codes


def pq_codes_udf(cb):
    """Arrow-batched PQ encoder over the codebook ``cb[j][c][d]``: each
    vector → ``m`` centroid codes (:func:`_codes`; NULL for a NULL
    vector). The argmin comparisons see bit-identical doubles on both
    engines, so the codes match the DuckDB oracle exactly."""
    return _vector_udf(_codes, "array<int>", np.asarray(cb, dtype=np.float64))


def adc_table_rows(cb, qvecs: dict, metric: str = "l2") -> dict:
    """Per-query ADC lookup tables, shared by ALL four PQ scoring paths
    (pq_topk / ivfpq_topk and their stored twins) — the IEEE op order
    here is LOAD-BEARING: each subspace entry accumulates LEFT-FOLDED
    over the subspace dims, matching the oracle's
    ``list_sum(list_transform(...))`` chain bit-for-bit, and a fix that
    touched only one of four inlined copies would silently break the
    stored-vs-in-memory parity the tests assert (hence one helper).

    ``qvecs``: {query_id: vector-as-list}; ``metric``: "l2" (squared
    distance terms) or "ip" (inner-product terms). Returns
    {query_id: flat list of m×ksub doubles, j-major}."""
    C = np.asarray(cb, dtype=np.float64)
    m, ksub, dsub = C.shape
    out = {}
    for qid in sorted(qvecs):
        qv = np.asarray(qvecs[qid], dtype=np.float64)
        flat: list[float] = []
        for j in range(m):
            acc = np.zeros(ksub, dtype=np.float64)
            for d in range(dsub):
                if metric == "l2":
                    diff = qv[j * dsub + d] - C[j, :, d]
                    acc += diff * diff
                else:
                    acc += qv[j * dsub + d] * C[j, :, d]
            flat.extend(float(x) for x in acc)
        out[int(qid)] = flat
    return out


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 16,
    ksub: int = 16,
    codebook=None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the FAISS IVF-PQ memory-scale path re-expressed in Spark:

    1. ENCODE (map stage, once per corpus): every vector compresses to
       ``m`` one-byte codes via :func:`pq_codes_udf` — at 100 TB the
       searchable index is m bytes/vector (64 B here vs 256 B raw), and
       in production the codes relation is what you materialize, not
       the vectors;
    2. ADC TABLES (driver, metadata-plane): per query, the m × ksub
       table of squared-L2 distances from the query's subvectors to
       every centroid — computed in float64 with the same left-folded
       op order as the encoder so the oracle's floats match bit-exactly;
    3. SCORE (map stage): approx distance = the left fold over
       subspaces of table lookups ``acc + t[j*ksub + codes[j]]`` — a
       pure JVM ``aggregate`` over the broadcast (query_id, table)
       relation; no Python in the scoring path, no shuffle until the
       per-query top-k window.

    Scoring never touches raw vectors — that asymmetry is the PQ
    trade: O(m) adds per candidate against an m-byte code. Output
    (query_id, neighbor_id, rank), rank by (approx distance asc,
    neighbor_id) — ties bit-stable cross-engine because every term in
    the fold is bit-identical by construction.

    NULL embeddings are excluded up front (both engines, via the
    ``embedding IS NOT NULL`` filter mirrored in the oracle):
    otherwise a NULL candidate scores NULL and Spark's ascending sort
    (NULLS FIRST) would seat it at rank 1 while DuckDB (NULLS LAST)
    would not — a guaranteed parity break (code-review r6 finding)."""
    cb = codebook or pq_codebook(emb, m, ksub)
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    codes = base.withColumn("codes", pq_codes_udf(cb)(F.col("v"))).select(
        "vec_id", "codes"
    )
    qrows = {
        r.vec_id: r.v for r in base.filter(F.col("vec_id").isin(query_ids)).collect()
    }
    tables = list(adc_table_rows(cb, qrows, "l2").items())
    tdf = emb.sparkSession.createDataFrame(
        tables, "query_id long, t array<double>"
    )
    score = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0D, (acc, j) -> acc + t[j * {ksub} + codes[j]])"
    )
    scored = (
        codes.crossJoin(F.broadcast(tdf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", score)
    )
    return per_query_topk(scored, F.col("score").asc(), "vec_id", k)


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 16,
    ksub: int = 16,
) -> DataFrame:
    """IVF-PQ — the composition that is FAISS's workhorse index,
    assembled from this engine's own pieces: the IVF coarse quantizer
    (:func:`cell_ranks_udf` cells, cosine-based) prunes the search to
    ``nprobe``/``n_centroids`` of the corpus, and PQ codes
    (:func:`pq_codes_udf`) replace the raw vectors in the scoring pass.
    Scoring is INNER-PRODUCT ADC normalized by stored exact norms —
    approximate cosine ≈ (Σⱼ T[j][codeⱼ]) / (|q|·|x|) — so the ranking
    metric agrees with the cosine-based cell structure (an L2 ADC over
    direction-based cells would mix metrics; FAISS pairs L2 cells with
    L2 ADC for the same coherence reason).

    At 100 TB the searchable state per vector is: one cell id + m code
    bytes + one norm — the relation a stored IVF-PQ index materializes,
    cell-partitioned (the existing IVF store layout) with codes instead
    of vectors. Plan: two map stages over the corpus (assign, encode;
    both Arrow kernels, each carrying its codebook), a broadcast probe
    join pruned to the probed cells, the pure-JVM ADC fold, one
    top-k window. Residual encoding (PQ over v − centroid, FAISS's
    refinement) is the production next step; it changes only the
    encode kernel's input, not the plan shape. NULL embeddings are
    excluded up front — see :func:`pq_topk`."""
    base = _as_double_vec(emb.filter(F.col("embedding").isNotNull()), "vec_id", "v")
    cells_cb = ivf_codebook(emb, n_centroids)
    ranks = cell_ranks_udf(*cells_cb)
    cb = pq_codebook(emb, m, ksub)
    # Nondeterministic instance on the corpus leg + pre-filtered probe
    # leg — same §4.4 inferred-isnotnull(cell) duplication fix as
    # ivf_topk above (this join exhibited the identical two-
    # ArrowEvalPython[_ranks] corpus plan), with the same separate
    # instance so the probe leg stays deterministic.
    codes = base.withColumn(
        "cells",
        cell_ranks_udf(*cells_cb).asNondeterministic()(F.col("v"), F.col("v_nrm")),
    ).select(
        "vec_id",
        "v_nrm",
        F.col("cells")[0].alias("cell"),
        pq_codes_udf(cb)(F.col("v")).alias("codes"),
    )
    probes = base.filter(F.col("vec_id").isin(query_ids)).withColumn(
        "cells", ranks(F.col("v"), F.col("v_nrm"))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.slice("cells", 1, nprobe)).alias("cell"),
    )
    qrows = {
        r.vec_id: (r.v, r.v_nrm)
        for r in base.filter(F.col("vec_id").isin(query_ids)).collect()
    }
    flats = adc_table_rows(cb, {q: v for q, (v, _) in qrows.items()}, "ip")
    tables = [
        (qid, flats[qid], float(qrows[qid][1])) for qid in sorted(qrows)
    ]
    tdf = emb.sparkSession.createDataFrame(
        tables, "query_id long, t array<double>, q_nrm double"
    )
    ip = F.expr(
        f"aggregate(sequence(0, {m - 1}), 0D, (acc, j) -> acc + t[j * {ksub} + codes[j]])"
    )
    scored = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(tdf), "query_id")
        .withColumn("score", ip / (F.col("q_nrm") * F.col("v_nrm")))
    )
    return per_query_topk(scored, F.col("score").desc(), "vec_id", k)


RP_DIM = 16
# pool=100 (5% of the sf corpus) reads recall@10 ≈ 0.74 vs exact on
# the synthetic near-random embeddings — the hard case for any sketch;
# widening the sketch (24/32 dims) moved recall <1%, the pool is the
# operative knob here, and at production scale the pool stays FIXED
# while the corpus grows (the re-rank is pool×|queries| rows)
RP_POOL = 100
# slice the shared LCG plane stream far past every LSH table's slice
# (N_LSH_TABLES=8 × ≤14 bits < 512) so the sketch is independent of
# the bucketing hyperplanes
_RP_PLANE_OFFSET = 512


def _rp_planes(dim: int = 64, rp_dim: int = RP_DIM) -> list[list[float]]:
    return _hyperplanes(dim, _RP_PLANE_OFFSET + rp_dim)[_RP_PLANE_OFFSET:]


def rp_score_chain(qpfx: str, npfx: str, rp_dim: int = RP_DIM) -> str:
    """The 16-term sketch dot product as ONE left-associated chain —
    the identical string SHAPE (operand order, associativity) feeds
    both engines, so the float scores are bit-identical and the
    (score DESC, neighbor_id) pre-rank cannot diverge on near-ties."""
    return " + ".join(f"({qpfx}{j} * {npfx}{j})" for j in range(rp_dim))


def rp_project(emb: DataFrame, id_alias: str, col_prefix: str = "p") -> DataFrame:
    """Johnson-Lindenstrauss sketch: project the 64-dim embedding onto
    RP_DIM Rademacher (±1) directions, as
    ``aggregate(zip_with(emb, signs, (x,s) -> s·x), 0.0,
    (acc,p) -> acc + p)`` — signed products zipped with a CONSTANT
    sign array, then a left-associated sum.

    r18 moved this off the 64-term straight-line ± chain (16 of them,
    twice — corpus and query side) whose ~2k-node expression trees put
    the row's cost in CATALYST (plan text 94 kB), to an interpreted
    ``sequence(0,63)`` fold. r19 (r18 verdict item 6) hoists the sign
    vector out of the lambda: the fold's
    ``element_at(array(<64 literals>), i+1)`` ran per row per STEP in
    interpreted mode; ``zip_with`` references the (constant-folded)
    sign array once per row and the inner lambda is one multiply.
    Measured vs both predecessors on synthesized 64-dim corpora
    (bit-exact outputs, interleaved min-of-N): 20k rows (sf1-scale)
    zip_with 0.27 s vs fold 0.33 vs chain 0.47; 200k rows 0.80 vs
    1.10 vs 0.79; 1M rows 3.82 vs 4.68 vs 2.78 — strictly better
    than the fold at every scale, and it keeps the small plan the
    chain cannot (the chain's remaining per-row edge at ≥1M rows is
    whole-stage codegen, bought back with a 94 kB plan per query —
    the wrong trade for a sketch whose consumers are plan-heavy).

    Value-identical for 64-dim embeddings (the schema's width): the
    products ``s·x`` equal the fold's ``sign_i·emb[i]`` exactly (IEEE
    multiplication of the same operands; both orders commute
    bit-exactly), and the accumulation is the same left-associated
    ``0.0 + p0 + p1 + …`` sequence, so every score is bit-equal to the
    chain/fold forms — verified elementwise on the real embeddings and
    through the unchanged DuckDB chain-SQL oracle. The forms differ on
    LONGER inputs: ``zip_with`` null-pads the 64-entry sign array, so
    one extra dimension makes the projection NULL, where the fold
    ignored dimensions past 64. One projection map stage; no shuffle,
    no Python."""
    cols = [F.col("vec_id").alias(id_alias)]
    for j, plane in enumerate(_rp_planes()):
        signs = ", ".join("1.0D" if s > 0 else "-1.0D" for s in plane)
        cols.append(
            F.expr(
                f"aggregate(zip_with(embedding, array({signs}), "
                "(x, s) -> s * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), "
                "(acc, p) -> acc + p)"
            ).alias(f"{col_prefix}{j}")
        )
    return emb.select(*cols)


def rp_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, pool: int = RP_POOL
) -> DataFrame:
    """Sketch-then-rerank ANN: rank ALL candidates by the 16-dim
    JL-sketch dot product (4× cheaper per pair than the full 64-dim
    cosine, and the shuffle payload shrinks the same 4×), keep the
    top-``pool`` per query, then re-rank only that pool with the exact
    cosine. The third ANN family next to bucketed LSH and coarse-cell
    IVF: no recall cliff from bucket boundaries — every vector gets a
    sketch score — at the cost of a corpus-wide (but sketch-cheap)
    scan. At 100 TB the projection is a map stage fused into the scan,
    the pre-rank is a per-query TopK over 16-double rows, and the
    exact re-rank touches pool×|queries| rows — metadata-sized."""
    proj = rp_project(emb, "neighbor_id", "p")
    qproj = rp_project(
        emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "qp"
    )
    cand = proj.join(
        F.broadcast(qproj), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("proj_score", F.expr(rp_score_chain("qp", "p")))
    pool_df = per_query_topk(
        cand, F.col("proj_score").desc(), "neighbor_id", pool
    ).select("query_id", "neighbor_id")
    base = _as_double_vec(emb, "neighbor_id", "vb")
    q = _as_double_vec(
        emb.filter(F.col("vec_id").isin(query_ids)), "query_id", "va"
    )
    pairs = (
        pool_df.join(base, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos",
            pair_dot_udf()(F.col("va"), F.col("vb"))
            / (F.col("va_nrm") * F.col("vb_nrm")),
        )
    )
    return per_query_topk(pairs, F.col("cos").desc(), "neighbor_id", k)


def rp_oracle_sql(k: int = 10, pool: int = RP_POOL) -> str:
    """DuckDB mirror of :func:`rp_topk`: identical plane rows, the
    identical per-component ± chains (via :func:`plane_chain_sql`),
    and the identical left-associated 16-term score chain — the sketch
    pre-rank is bit-exact, then the exact-cosine re-rank over the same
    pool."""
    qids = ", ".join(str(q) for q in QUERY_IDS)
    proj_cols = ",\n                   ".join(
        f"{plane_chain_sql(plane)} AS p{j}"
        for j, plane in enumerate(_rp_planes())
    )
    score = rp_score_chain("q.p", "n.p")
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), p AS (
            SELECT vec_id,
                   {proj_cols}
            FROM v
        ), cand AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   {score} AS proj_score
            FROM p q JOIN p n ON q.vec_id != n.vec_id
            WHERE q.vec_id IN ({qids})
        ), pool AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY proj_score DESC, neighbor_id) AS prank
                FROM cand
            ) WHERE prank <= {pool}
        ), n2 AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), exact AS (
            SELECT pl.query_id, pl.neighbor_id,
                   list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
                       / (q.nrm * b.nrm) AS cos
            FROM pool pl
            JOIN n2 q ON q.vec_id = pl.query_id
            JOIN n2 b ON b.vec_id = pl.neighbor_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        FROM exact
        QUALIFY rank <= {k}
        """


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization of the embedding
    column, with the reconstruction-quality stats a vector-store
    compaction job reports: the per-vector scale, saturation count, and
    the quantization residuals measured in STEP units (x/scale − q,
    range [−0.5, 0.5] — step units instead of absolute error so the
    numbers stay meaningful regardless of embedding magnitude).

    Deliberately cross-engine-exact arithmetic: q = floor(x/scale + 0.5)
    rather than round() — round()'s half-way tie behavior differs
    between engines, while floor/÷/× are correctly-rounded IEEE ops
    everywhere, so the oracle reproduces every q bit-for-bit. The
    all-zero vector (scale = 0) short-circuits to q = 0, residual 0.

    Plan shape: one projection pass over the corpus — no shuffle, no
    Python; at 100 TB this is a pure map stage that scales with input
    splits, exactly like the reference's per-record serializer pass
    (kafka_client.py:215-224) but columnar."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", v.alias("v"))
    amax = F.array_max(F.transform(F.col("v"), F.abs))
    base = base.withColumn("scale", amax / F.lit(127.0))
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("v"), lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        )
    )
    base = base.withColumn("q", q)
    resid = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("v"), lambda x: F.lit(0.0)),
    ).otherwise(
        F.zip_with(F.col("v"), F.col("q"), lambda x, qq: x / F.col("scale") - qq)
    )
    base = base.withColumn("r", resid)
    n_sat = F.size(F.filter(F.col("q"), lambda qq: F.abs(qq) >= 127)).cast("int")
    return base.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        n_sat.alias("n_saturated"),
        F.round(
            _dsum(F.transform(F.col("r"), lambda x: x * x)) / F.size(F.col("r")), 6
        ).alias("mean_sq_step_err"),
        F.round(F.array_max(F.transform(F.col("r"), F.abs)), 6).alias(
            "max_abs_step_err"
        ),
    )


QUERY_IDS = [0, 1, 2, 3, 4]

# The deterministic-sample centroid selections — the default bodies of
# the oracles' codebook CTEs. ONE template per oracle (memory
# discipline: shared float expressions are written once); the trained
# rows reuse the identical SQL with this CTE swapped for the literal
# centroids replayed in functions/trained_oracles.py.
IVF_CENTROID_CTE = "SELECT vec_id AS cid, v AS c, nrm AS c_nrm FROM n WHERE vec_id < 16"
PQ_CENTROID_CTE = "SELECT vec_id AS cid, j, sv AS cv FROM sub WHERE vec_id < 16"


def ivf_assignment_ctes(
    centroid_cte: str = IVF_CENTROID_CTE, null_filter: bool = False
) -> str:
    """The shared coarse-assignment CTE chain ``v → n → c → ac →
    ranked``: doubled embeddings, norms, the codebook, the
    cosine-to-every-centroid cross join, and the (cos DESC, cid)
    argmax ranking. ONE copy of the float dot-product expression whose
    byte-identical sharing keeps every consumer's cross-engine
    bit-equality argument honest — composed by the IVF top-k oracle
    here and the SemDeDup oracle in operators/dedup.py
    (``null_filter=True`` adds SemDeDup's defensive NULL-embedding
    guard; the assignment semantics are unchanged either way on
    NULL-free data)."""
    where = " WHERE embedding IS NOT NULL" if null_filter else ""
    return f"""v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings{where}
        ), n AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), c AS (
            {centroid_cte}
        ), ac AS (
            SELECT n.vec_id, n.v, n.nrm, c.cid,
                   list_sum(list_transform(range(1, 65), i -> n.v[i] * c.c[i]))
                       / (n.nrm * c.c_nrm) AS cos_c
            FROM n, c
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos_c DESC, cid) AS rn
            FROM ac
        )"""


def ivf_oracle_sql(centroid_cte: str = IVF_CENTROID_CTE) -> str:
    """DuckDB oracle for the IVF top-k plan (assignment argmax with cid
    tie-break, nprobe=2 probe set, per-cell candidate join, rank by
    (cos DESC, neighbor_id)); ``centroid_cte`` supplies the codebook."""
    return f"""
        WITH {ivf_assignment_ctes(centroid_cte)}, assigned AS (
            SELECT vec_id, v, nrm, cid AS cell FROM ranked WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, cid AS cell FROM ranked
            WHERE vec_id IN ({", ".join(str(q) for q in QUERY_IDS)}) AND rn <= 2
        ), q AS (
            SELECT vec_id AS query_id, v AS qv, nrm AS q_nrm FROM n
            WHERE vec_id IN ({", ".join(str(q) for q in QUERY_IDS)})
        ), cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_sum(list_transform(range(1, 65), i -> q.qv[i] * a.v[i]))
                       / (q.q_nrm * a.nrm) AS cos
            FROM probes p
            JOIN assigned a ON a.cell = p.cell
            JOIN q ON q.query_id = p.query_id
            WHERE a.vec_id != p.query_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        FROM cand
        QUALIFY rank <= 10
        """


def pq_oracle_sql(centroid_cte: str = PQ_CENTROID_CTE) -> str:
    """DuckDB oracle for the PQ-ADC plan (per-subspace argmin encode
    with (dist, cid) tie-break, j-ascending left-folded score);
    ``centroid_cte`` supplies the ``cent(cid, j, cv)`` codebook."""
    qids = ", ".join(str(q) for q in QUERY_IDS)
    return f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ), sub AS (
            SELECT vec_id, j, list_slice(v, j * 4 + 1, j * 4 + 4) AS sv
            FROM v, (SELECT unnest(range(0, 16)) AS j)
        ), cent AS (
            {centroid_cte}
        ), dists AS (
            SELECT s.vec_id, s.j, c.cid,
                   list_sum(list_transform(range(1, 5),
                       d -> (s.sv[d] - c.cv[d]) * (s.sv[d] - c.cv[d]))) AS dist
            FROM sub s JOIN cent c ON c.j = s.j
        ), enc AS (
            SELECT vec_id, j, cid AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, j
                           ORDER BY dist, cid) AS rn
                FROM dists
            ) WHERE rn = 1
        ), scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   list_sum(list(q.dist ORDER BY q.j)) AS score
            FROM enc e
            JOIN dists q ON q.j = e.j AND q.cid = e.code
            WHERE q.vec_id IN ({qids}) AND e.vec_id != q.vec_id
            GROUP BY q.vec_id, e.vec_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score, neighbor_id) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 10
        """


# --- ANN evaluation (round 9) -----------------------------------------------


def ann_recall_eval(
    emb: DataFrame, query_ids: list[int] | None = None, k: int = 10
) -> DataFrame:
    """Retrieval-quality EVALUATION as a first-class operator — the
    missing leg of any ANN deployment: per query, recall@k of the
    sign-LSH index against the exact brute-force ground truth, plus
    the reciprocal rank at which the TRUE nearest neighbor appears in
    the approximate list (0 when missed). Both metrics are exact
    rationals realized as single IEEE divisions (hits/k, 1/rank), so
    the row is hash-comparable, not approximately-compared — unlike
    test-only recall floors, this runs under the same differential
    gate as every query and can run continuously against a production
    index.

    Scale shape: both legs end in per-query top-k (TakeOrdered /
    WindowGroupLimit), so everything this operator joins is
    metadata-sized (|queries|·k rows); the corpus-scale work is
    exactly the two index paths being evaluated."""
    from kafka_topic_dumper_spark.functions.caching import tracked_persist

    qids = QUERY_IDS if query_ids is None else query_ids
    # r18: ``truth`` is referenced three times below (hits join, the
    # true-NN reciprocal-rank join, the query-id base) and ``approx``
    # twice — each reference re-executed its ENTIRE corpus-scale
    # retrieval leg (the brute-force scan ran 3×, the LSH pipeline
    # 2×). Both legs end in per-query top-k, |queries|·k rows —
    # metadata-plane at any corpus size — so persisting them is free
    # and the corpus work runs exactly once per leg.
    truth = tracked_persist(
        cosine_topk_bruteforce(emb, qids, k).select(
            "query_id", "neighbor_id", F.col("rank").alias("t_rank")
        )
    )
    approx = tracked_persist(
        cosine_topk_lsh(emb, qids, k).select(
            "query_id", "neighbor_id", F.col("rank").alias("a_rank")
        )
    )
    hits = (
        truth.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    rr = (
        truth.filter(F.col("t_rank") == 1)
        .join(approx, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            F.coalesce(F.lit(1.0) / F.col("a_rank"), F.lit(0.0)).alias(
                "rr_at_nn"
            ),
        )
    )
    base = truth.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .join(rr, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / k).alias(
                "recall_at_k"
            ),
            F.coalesce(F.col("rr_at_nn"), F.lit(0.0)).alias("rr_at_nn"),
        )
    )


# --- PCA projection (round 9) ----------------------------------------------

PCA_QUANT = 1_000_000  # embedding → integer quantization scale
PCA_POWER_ITERS = 60   # fixed-count power iteration (finite, replayable)


def _pca_power_components(C, n_components: int = 2):
    """Fixed-count power iteration + deflation on the d×d covariance —
    driver-side, metadata-sized. Deterministic for fixed inputs: a
    constant start vector, a fixed iteration count (no convergence
    test), and deflation by the Rayleigh quotient."""
    d = C.shape[0]
    comps = []
    work = C.copy()
    for _ in range(n_components):
        v = np.ones(d, dtype=np.float64) / np.sqrt(d)
        for _ in range(PCA_POWER_ITERS):
            w = work @ v
            v = w / np.sqrt(w @ w)
        lam = float(v @ work @ v)
        comps.append((v, lam))
        work = work - lam * np.outer(v, v)
    return comps


def pca_project(emb: DataFrame, n_components: int = 2) -> DataFrame:
    """Distributed PCA projection — the iterative-linear-algebra twin
    of the k-means codebook: embeddings are floor-quantized to
    integers (floor(x·10⁶) — exact IEEE, so the quantized matrix is
    identical on every engine), the d×d Gram matrix and column sums
    accumulate as EXACT int64 partials per Arrow batch (addition of
    integers commutes, so partitioning and task order cannot perturb
    a bit — the float-PCA pitfall this design removes), and the tiny
    d×d covariance runs fixed-count power iteration + deflation on
    the driver. Each vector is then projected onto the top components
    in a second stateless Arrow map.

    Scale shape: pass 1 is corpus-linear with a d²-sized (4 KB · 64)
    partial per task and a metadata-sized (d² rows) reduce; pass 2 is
    a pure map with the d·k component table in the closure. No
    quadratic stage, no corpus shuffle. The oracle is the independent
    numpy replay in functions/trained_oracles.py injected as literals
    (the BPE/k-means/JPEG pattern) — deterministic because every
    float op downstream of the exact integer Gram is the same
    correctly-rounded sequence in kernel and replay."""
    quant = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * PCA_QUANT).cast("long"),
        ).alias("xq"),
    )

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            X = np.array(list(pdf["xq"]), dtype=np.int64)
            if X.size == 0:
                continue
            d = X.shape[1]
            G = X.T @ X  # exact: int64 @ int64
            S = X.sum(axis=0)
            j_idx, k_idx, g = [], [], []
            for j in range(d):
                for k in range(d):
                    j_idx.append(j)
                    k_idx.append(k)
                    g.append(int(G[j, k]))
            for j in range(d):
                j_idx.append(j)
                k_idx.append(-1)
                g.append(int(S[j]))
            j_idx.append(-1)
            k_idx.append(-1)
            g.append(X.shape[0])
            yield pd.DataFrame(
                {"j": j_idx, "k": k_idx, "g": np.array(g, dtype=np.int64)}
            )

    parts = (
        quant.mapInPandas(gram, schema="j int, k int, g long")
        .groupBy("j", "k")
        .agg(F.sum("g").alias("g"))
        .collect()
    )
    d = max(r.j for r in parts) + 1
    G = np.zeros((d, d), dtype=np.int64)
    S = np.zeros(d, dtype=np.int64)
    n = 0
    for r in parts:
        if r.j == -1:
            n = int(r.g)
        elif r.k == -1:
            S[r.j] = r.g
        else:
            G[r.j, r.k] = r.g
    C = (G.astype(np.float64) - np.outer(S, S).astype(np.float64) / n) / n
    comps = _pca_power_components(C, n_components)
    V = np.stack([v for v, _ in comps])  # (k, d)
    mean = S.astype(np.float64) / n
    # The projection itself is ALSO exact-integer: components are
    # floor-quantized to 2^31 steps and each row's dot product runs in
    # int64 (numpy integer matmul is plain loops, not BLAS), so batch
    # boundaries and GEMM blocking cannot perturb a bit; the mean term
    # folds into one driver-side float constant per component.
    # All captured BY VALUE (plain locals) — a module-global reference
    # here would need the engine package importable on workers (the
    # cloudpickle-by-reference gotcha the verify recipe exists for).
    comp_scale = 1 << 31
    vq = np.floor(V * comp_scale).astype(np.int64)  # (k, d)
    mdot = (mean @ vq.T) / comp_scale  # (k,) driver scalars
    quant_scale = PCA_QUANT

    def project(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            X = np.array(list(pdf["xq"]), dtype=np.int64)
            D = X @ vq.T  # exact int64
            P = (D.astype(np.float64) / comp_scale - mdot) / quant_scale
            out = {"vec_id": pdf["vec_id"]}
            for c in range(vq.shape[0]):
                out[f"pc{c + 1}"] = P[:, c]
            yield pd.DataFrame(out)

    cols = ", ".join(f"pc{c + 1} double" for c in range(n_components))
    return quant.mapInPandas(project, schema=f"vec_id long, {cols}")


def register(reg) -> None:
    _BF_ORACLE = """
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), pairs AS (
            SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
                   list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
                       / (q.nrm * b.nrm) AS cos
            FROM n q JOIN n b ON q.vec_id != b.vec_id
            WHERE q.vec_id IN (0, 1, 2, 3, 4)
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        FROM pairs
        QUALIFY rank <= 10
        """

    @reg("similarity_topk_bruteforce", _BF_ORACLE)
    def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact cosine top-10 for query vectors 0..4."""
        return cosine_topk_bruteforce(
            load_table(spark, sf_dir, "embeddings"), QUERY_IDS, 10
        )

    @reg("similarity_topk_rp", rp_oracle_sql())
    def similarity_topk_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Johnson-Lindenstrauss sketch-then-rerank ANN (round 8): a
        16-dim Rademacher projection pre-ranks every candidate (bit-
        exact cross-engine via shared left-associated chains), the
        top-50 pool re-ranks by exact cosine — the third ANN family
        next to bucketed LSH and coarse-cell IVF."""
        return rp_topk(load_table(spark, sf_dir, "embeddings"), QUERY_IDS, 10)

    @reg("similarity_knn_graph", knn_graph_oracle_sql())
    def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Corpus-wide directed 5-NN graph via sign-LSH bucket
        candidates (never the n² self-join)."""
        return knn_graph(load_table(spark, sf_dir, "embeddings"))

    @reg("similarity_mutual_knn_clusters", mutual_knn_clusters_oracle_sql())
    def similarity_mutual_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Mutual-kNN connected-component clusters (the density-filtered
        neighborhood clustering behind diversity pruning)."""
        return mutual_knn_clusters(load_table(spark, sf_dir, "embeddings"))

    @reg(
        "embedding_quantize_int8",
        """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), s AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM v
        ), qd AS (
            SELECT vec_id, v, scale,
                   CASE WHEN scale = 0
                        THEN list_transform(v, x -> 0)
                        ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
                   END AS q
            FROM s
        ), rd AS (
            SELECT vec_id, scale, q,
                   CASE WHEN scale = 0
                        THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(range(1, len(v) + 1),
                                            i -> v[i] / scale - q[i])
                   END AS r
            FROM qd
        )
        SELECT vec_id,
               round(scale, 6) AS scale,
               CAST(len(list_filter(q, x -> abs(x) >= 127)) AS INTEGER)
                   AS n_saturated,
               round(list_sum(list_transform(r, x -> x * x)) / len(r), 6)
                   AS mean_sq_step_err,
               round(list_max(list_transform(r, x -> abs(x))), 6)
                   AS max_abs_step_err
        FROM rd
        """,
    )
    def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-vector int8 quantization + reconstruction residuals."""
        return quantize_int8(load_table(spark, sf_dir, "embeddings"))

    @reg("embedding_pca_project", trained_oracles.pca_project_oracle_sql)
    def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Distributed PCA (round 9): exact int64 Gram reduction →
        fixed-count driver power iteration + deflation → exact int64
        projection onto the top-2 components. Oracle = the independent
        numpy replay injected as literals (the k-means/BPE/JPEG
        pattern)."""
        return pca_project(load_table(spark, sf_dir, "embeddings"))

    # Sign-LSH oracle: the hyperplanes are deterministic ±1 literals, so
    # the bucket assignment — and therefore the exact ANN result set —
    # is reproducible in DuckDB (see plane_chain_sql for the IEEE
    # bit-identity argument).
    banded_sql = banded_union_sql("n", "vec_id", 64, 4, N_LSH_TABLES)
    qids = ", ".join(str(q) for q in QUERY_IDS)

    _LSH_ORACLE = f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), banded AS (
            {banded_sql}
        ), cand AS (
            SELECT DISTINCT q.vec_id AS query_id, t.vec_id AS neighbor_id
            FROM banded q JOIN banded t
              ON q.tbl = t.tbl AND q.bucket = t.bucket AND q.vec_id != t.vec_id
            WHERE q.vec_id IN ({qids})
        ), pairs AS (
            SELECT c.query_id, c.neighbor_id,
                   list_sum(list_transform(range(1, 65),
                            i -> qn.v[i] * bn.v[i])) / (qn.nrm * bn.nrm) AS cos
            FROM cand c
            JOIN n qn ON qn.vec_id = c.query_id
            JOIN n bn ON bn.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
        FROM pairs
        QUALIFY rank <= 10
        """

    @reg("similarity_topk_lsh", _LSH_ORACLE)
    def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Multi-table sign-LSH ANN top-10 for query vectors 0..4
        (deterministic hyperplanes ⇒ exact-match oracle)."""
        return cosine_topk_lsh(load_table(spark, sf_dir, "embeddings"), QUERY_IDS, 10)

    # Composed evaluation oracle: the two legs' full oracle texts as
    # nested subqueries, then pure set arithmetic over the |q|·k rows.
    _EVAL_ORACLE = f"""
        WITH truth AS (SELECT * FROM ({_BF_ORACLE})),
        approx AS (SELECT * FROM ({_LSH_ORACLE})),
        hits AS (
            SELECT t.query_id, count(*) AS n_hits
            FROM truth t JOIN approx a
              ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
            GROUP BY t.query_id
        ),
        rr AS (
            SELECT t.query_id,
                   coalesce(CAST(1 AS DOUBLE) / a.rank,
                            CAST(0 AS DOUBLE)) AS rr_at_nn
            FROM truth t LEFT JOIN approx a
              ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
            WHERE t.rank = 1
        ),
        base AS (SELECT DISTINCT query_id FROM truth)
        SELECT b.query_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10 AS recall_at_k,
               coalesce(r.rr_at_nn, CAST(0 AS DOUBLE)) AS rr_at_nn
        FROM base b
        LEFT JOIN hits h ON h.query_id = b.query_id
        LEFT JOIN rr r ON r.query_id = b.query_id
        """

    @reg("similarity_recall_eval", _EVAL_ORACLE)
    def similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Index-quality evaluation as a query (round 9): per-query
        recall@10 and true-NN reciprocal rank of the multi-table
        sign-LSH index vs exact brute force — hash-exact metrics, not
        approximate floors."""
        return ann_recall_eval(load_table(spark, sf_dir, "embeddings"))

    # Same hyperplanes + candidate semantics as similarity_topk_lsh, so
    # the SAME oracle applies — what this row additionally proves is the
    # build→write→prune→probe cycle of the MATERIALIZED index (the
    # 100 TB path: the corpus is banded once, written partitioned by
    # (tbl, bucket), and every probe prunes to its buckets at the
    # source — asserted scan-level in tests/test_index_store.py).
    @reg("similarity_topk_lsh_stored", _LSH_ORACLE)
    def similarity_topk_lsh_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ANN top-10 through a materialized on-disk banded index:
        built + written once per (process, sf_dir) — repeated calls
        (bench N_RUNS, correctness rounds) probe the cached copy
        instead of leaking a corpus-sized index per run (ADVICE r5)."""
        from kafka_topic_dumper_spark.functions.index_store import (
            cosine_topk_lsh_stored,
            write_banded_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")

        def _build(path: str) -> None:
            write_banded_index(
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

        path = materialized(
            ("index", "lsh", sf_dir), _build, prefix="lsh_index_", leaf="banded"
        )
        return cosine_topk_lsh_stored(emb, QUERY_IDS, path, 10)

    _IVF_ORACLE = ivf_oracle_sql()

    @reg("similarity_topk_ivf", _IVF_ORACLE)
    def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF ANN top-10 for query vectors 0..4 (16 cells, nprobe=2;
        deterministic centroids ⇒ exact-match oracle)."""
        return ivf_topk(load_table(spark, sf_dir, "embeddings"), QUERY_IDS, 10)

    # Same codebook + assignment + probe semantics as
    # similarity_topk_ivf, so the SAME oracle applies — this row proves
    # the materialized inverted file: assign → cell-partitioned write →
    # directory-pruned probe in one call (pruning plan-asserted in
    # tests/test_index_store.py).
    @reg("similarity_topk_ivf_stored", _IVF_ORACLE)
    def similarity_topk_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF ANN top-10 through a materialized inverted file, built
        once per (process, sf_dir) — see similarity_topk_lsh_stored."""
        from kafka_topic_dumper_spark.functions.index_store import (
            ivf_topk_stored,
            write_ivf_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        path = materialized(
            ("index", "ivf", sf_dir),
            lambda p: write_ivf_index(ivf_assign(emb), p),
            prefix="ivf_index_",
            leaf="ivf",
        )
        return ivf_topk_stored(emb, QUERY_IDS, path, 10)

    # Literal-injected oracle (r6 verdict item 2): the k-means LOOP is
    # not SQL-expressible, but its output is — an independent numpy
    # replay (functions/trained_oracles.py) recomputes the codebook
    # outside Spark and injects the centroids as literals, so the
    # distributed assignment/probe/rank stages are hash-checked exactly
    # like the untrained row. tests/test_ann_recall.py additionally
    # pins this path's recall and cell-occupancy balance.
    @reg(
        "similarity_topk_ivf_trained",
        lambda sf_dir: ivf_oracle_sql(
            trained_oracles.ivf_trained_centroid_cte(sf_dir)
        ),
    )
    def similarity_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF ANN top-10 under the k-means-trained codebook
        (ivf_codebook_trained) — the production-quality centroid path
        riding the same assignment kernel and probe plan."""
        emb = load_table(spark, sf_dir, "embeddings")
        return ivf_topk(
            emb, QUERY_IDS, 10, codebook=ivf_codebook_trained(emb)
        )

    # Product-quantization ADC: the oracle reproduces the identical
    # deterministic codebook (subvectors of vec_id < 16), the identical
    # per-subspace argmin encoding (dist then cid tie-break), and the
    # identical j-ascending score fold — every float in the chain is
    # bit-equal by the left-fold construction, so rank ties resolve the
    # same way on both engines.
    _QIDS = ", ".join(str(q) for q in QUERY_IDS)
    _PQ_ORACLE = pq_oracle_sql()

    @reg("similarity_topk_pq", _PQ_ORACLE)
    def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
        """PQ-ADC ANN top-10 (16 subspaces × 16 centroids, deterministic
        codebook ⇒ exact-match oracle): corpus encoded to 8 one-byte
        codes per vector (16 B vs 256 B raw), queries score candidates by ADC table lookups —
        the memory-scale ANN path."""
        return pq_topk(load_table(spark, sf_dir, "embeddings"), QUERY_IDS, 10)

    # Same codebook + encode + score fold as similarity_topk_pq, so
    # the SAME oracle applies — this row proves the materialized code
    # table: encode → compact write → codes-only probe scan in one
    # call (column pruning asserted in tests/test_index_store.py).
    @reg("similarity_topk_pq_stored", _PQ_ORACLE)
    def similarity_topk_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
        """PQ-ADC ANN top-10 through a materialized code table (16
        ints/vector), built once per (process, sf_dir) — see
        similarity_topk_lsh_stored."""
        from kafka_topic_dumper_spark.functions.index_store import (
            pq_topk_stored,
            write_pq_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")

        def _build(path: str) -> None:
            base = emb.select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
            write_pq_index(
                base.withColumn(
                    "codes", pq_codes_udf(pq_codebook(emb))(F.col("v"))
                ).select("vec_id", "codes"),
                path,
            )

        path = materialized(
            ("index", "pq", sf_dir), _build, prefix="pq_index_", leaf="pq"
        )
        return pq_topk_stored(emb, QUERY_IDS, path, 10)

    # IVF-PQ: the oracle composes the IVF assignment/probe CTE chain
    # with the PQ encode chain, scoring by inner-product ADC over the
    # j-ordered list fold divided by the exact norms — every float
    # bit-equal to the Spark plan by the same left-fold construction.
    _IVFPQ_ORACLE = f"""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ), n AS (
            SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM v
        ), c AS (
            SELECT vec_id AS cid, v AS c, nrm AS c_nrm FROM n WHERE vec_id < 16
        ), ac AS (
            SELECT n.vec_id, n.v, n.nrm, c.cid,
                   list_sum(list_transform(range(1, 65), i -> n.v[i] * c.c[i]))
                       / (n.nrm * c.c_nrm) AS cos_c
            FROM n, c
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos_c DESC, cid) AS rn
            FROM ac
        ), assigned AS (
            SELECT vec_id, nrm, cid AS cell FROM ranked WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, cid AS cell FROM ranked
            WHERE vec_id IN ({_QIDS}) AND rn <= 2
        ), sub AS (
            SELECT vec_id, j, list_slice(v, j * 4 + 1, j * 4 + 4) AS sv
            FROM v, (SELECT unnest(range(0, 16)) AS j)
        ), cent AS (
            SELECT vec_id AS cid, j, sv AS cv FROM sub WHERE vec_id < 16
        ), dists AS (
            SELECT s.vec_id, s.j, c.cid,
                   list_sum(list_transform(range(1, 5),
                       d -> (s.sv[d] - c.cv[d]) * (s.sv[d] - c.cv[d]))) AS dist
            FROM sub s JOIN cent c ON c.j = s.j
        ), enc AS (
            SELECT vec_id, j, cid AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, j
                           ORDER BY dist, cid) AS rn
                FROM dists
            ) WHERE rn = 1
        ), dots AS (
            SELECT s.vec_id, s.j, c.cid,
                   list_sum(list_transform(range(1, 5),
                       d -> s.sv[d] * c.cv[d])) AS ip
            FROM sub s JOIN cent c ON c.j = s.j
            WHERE s.vec_id IN ({_QIDS})
        ), qn AS (
            SELECT vec_id AS query_id, nrm AS q_nrm FROM n
            WHERE vec_id IN ({_QIDS})
        ), scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_sum(list(q.ip ORDER BY q.j)) / (qn.q_nrm * a.nrm)
                       AS score
            FROM assigned a
            JOIN probes p ON p.cell = a.cell
            JOIN enc e ON e.vec_id = a.vec_id
            JOIN dots q ON q.vec_id = p.query_id AND q.j = e.j
                       AND q.cid = e.code
            JOIN qn ON qn.query_id = p.query_id
            WHERE a.vec_id != p.query_id
            GROUP BY p.query_id, a.vec_id, qn.q_nrm, a.nrm
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored
        QUALIFY rank <= 10
        """

    @reg("similarity_topk_ivfpq", _IVFPQ_ORACLE)
    def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF-PQ ANN top-10: coarse-cell pruning (nprobe=2/16) with
        inner-product-ADC scoring over 16-byte PQ codes — the
        composed FAISS-workhorse shape, exact-match oracle under the
        deterministic codebooks."""
        return ivfpq_topk(load_table(spark, sf_dir, "embeddings"), QUERY_IDS, 10)

    # Same cells + codes + scoring fold, so the SAME oracle applies —
    # this row proves the materialized IVF-PQ index: assign+encode →
    # cell-partitioned codes+norms write → directory-pruned codes-only
    # probe (pruning and column set plan-asserted in
    # tests/test_index_store.py).
    @reg("similarity_topk_ivfpq_stored", _IVFPQ_ORACLE)
    def similarity_topk_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF-PQ ANN top-10 through a materialized cell-partitioned
        code index, built once per (process, sf_dir)."""
        from kafka_topic_dumper_spark.functions.index_store import (
            ivfpq_topk_stored,
            write_ivfpq_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")

        def _build(path: str) -> None:
            base = _as_double_vec(emb, "vec_id", "v")
            ranks = cell_ranks_udf(*ivf_codebook(emb, 16))
            write_ivfpq_index(
                base.withColumn("cells", ranks(F.col("v"), F.col("v_nrm")))
                .select(
                    "vec_id",
                    F.col("v_nrm"),
                    F.col("cells")[0].alias("cell"),
                    pq_codes_udf(pq_codebook(emb))(F.col("v")).alias("codes"),
                ),
                path,
            )

        path = materialized(
            ("index", "ivfpq", sf_dir), _build, prefix="ivfpq_index_", leaf="ivfpq"
        )
        return ivfpq_topk_stored(emb, QUERY_IDS, path, 10)

    # Literal-injected oracle (r6 verdict item 2): per-subspace Lloyd's
    # replayed outside Spark, trained centroids injected as the cent
    # CTE — the distributed encode/score chain is hash-checked exactly
    # like the untrained row (see similarity_topk_ivf_trained).
    @reg(
        "similarity_topk_pq_trained",
        lambda sf_dir: pq_oracle_sql(
            trained_oracles.pq_trained_centroid_cte(sf_dir)
        ),
    )
    def similarity_topk_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
        """PQ-ADC ANN top-10 under per-subspace Lloyd's-trained
        codebooks (pq_codebook_trained) — the production quantizer on
        the same encode kernel and scoring fold."""
        emb = load_table(spark, sf_dir, "embeddings")
        return pq_topk(emb, QUERY_IDS, 10, codebook=pq_codebook_trained(emb))
