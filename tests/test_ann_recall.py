"""ANN quality regression: the oracle proves the approximate indexes
are computed as specified, but not that they find true neighbors —
these tests pin the measured recall against the exact brute-force
top-k so an index change that silently degrades quality fails CI.
(Measured at last tuning: multi-table LSH ≈ 0.74, IVF ≈ 0.82 at
sf0.001; floors set with slack below.)"""

from __future__ import annotations

from kafka_topic_dumper_spark.operators import similarity
from kafka_topic_dumper_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _mean_recall(got, exact):
    recalls = [
        len(got.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
    ]
    return sum(recalls) / len(recalls)


def test_ann_recall_floors(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = _topk_sets(
        similarity.cosine_topk_bruteforce(emb, similarity.QUERY_IDS, 10)
    )
    lsh = _mean_recall(
        _topk_sets(similarity.cosine_topk_lsh(emb, similarity.QUERY_IDS, 10)), exact
    )
    ivf = _mean_recall(
        _topk_sets(similarity.ivf_topk(emb, similarity.QUERY_IDS, 10)), exact
    )
    assert lsh >= 0.5, f"multi-table LSH recall degraded: {lsh:.2f}"
    assert ivf >= 0.6, f"IVF recall degraded: {ivf:.2f}"


def test_embedding_neardup_lsh_finds_planted_duplicates(spark):
    """Recall regression for the bucketed near-dup path, on data that
    actually CONTAINS near-duplicates. The testdata embeddings are
    near-uniform (best pair cosine ≈ 0.5 — 66° apart), which sign-LSH
    is by design NOT meant to bucket together, so a brute-force-vs-LSH
    comparison there measures nothing. Here: 200 random vectors, 25 of
    them cloned with tiny noise (cos ≈ 0.999); the planted pairs must
    dominate the LSH top-50 — a banding change that loses real
    near-dup recall fails this floor."""
    import numpy as np

    from kafka_topic_dumper_spark.operators import dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 64))
    rows = [(i, base[i].astype(float).tolist()) for i in range(200)]
    planted = set()
    for j in range(25):
        noisy = base[j] + 0.02 * rng.normal(size=64)
        rows.append((200 + j, noisy.astype(float).tolist()))
        planted.add((j, 200 + j))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lsh = {tuple(r) for r in dedup.embedding_neardup_lsh(emb, 50).collect()}
    recall = len(lsh & planted) / len(planted)
    assert recall >= 0.9, f"bucketed near-dup recall degraded: {recall:.2f}"


def test_lsh_signature_kernel_bit_parity(spark):
    """The Arrow kernel (production path) must produce EXACTLY the
    bucket ids of the pure-SQL reference expression (lsh_bucket_expr)
    at every shipped config — the DuckDB oracles reproduce the SQL
    chain, so any drift here silently breaks three declared queries."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    for nbits, n_tables in ((4, 8), (8, 4)):
        got = {
            (r.vec_id, r.tbl): r.bucket
            for r in similarity.lsh_banded(
                emb, "vec_id", "embedding", 64, nbits, n_tables
            ).collect()
        }
        ref_cols = emb.select(
            "vec_id",
            *[
                similarity.lsh_bucket_expr("embedding", 64, nbits, table=t).alias(f"b{t}")
                for t in range(n_tables)
            ],
        )
        want = {}
        for r in ref_cols.collect():
            for t in range(n_tables):
                want[(r.vec_id, t)] = r[f"b{t}"]
        assert got == want, f"bucket drift at nbits={nbits} n_tables={n_tables}"


def test_dot_kernel_bit_parity(spark):
    """pair_dot_udf (Arrow production path) must equal the
    HOF reference fold `dot()` bit-for-bit — the cosine oracles and
    rank tie-breaks ride on exact equality, not approximate."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = v.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.join(b, (F.col("ia") % 7 == F.col("ib") % 7) & (F.col("ia") < F.col("ib")))
    both = pairs.select(
        "ia",
        "ib",
        similarity.dot(F.col("va"), F.col("vb")).alias("ref"),
        similarity.pair_dot_udf()(F.col("va"), F.col("vb")).alias("got"),
    ).collect()
    assert both, "empty parity sample"
    for r in both:
        assert r.ref == r.got, (r.ia, r.ib, r.ref, r.got)


def test_ivf_trained_codebook_recall_and_balance(spark):
    """K-means codebook (r5 verdict item 3): measured at R=1 on the
    synthetic embeddings —

    ==========  ========  =========  =====
    codebook    recall@10 max share  cv
    ==========  ========  =========  =====
    sample      0.82      0.084      0.194
    trained     0.38      0.080      0.154
    ==========  ========  =========  =====

    Cell-occupancy balance (cv = stddev/mean of cell sizes) improves
    under training — the property that protects the stored index's
    probe-pruning ratio at scale. Recall READS worse here, but the
    comparison is biased by construction: the testdata plants near-dup
    clusters around vec_ids 0..4 and the sample codebook uses exactly
    those vectors as centroids, so each query probes its own planted
    cell. The floors below pin both paths against silent regression
    rather than declaring a winner on planted data."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    exact = _topk_sets(
        similarity.cosine_topk_bruteforce(emb, similarity.QUERY_IDS, 10)
    )

    def stats(codebook):
        rec = _mean_recall(
            _topk_sets(
                similarity.ivf_topk(emb, similarity.QUERY_IDS, 10, codebook=codebook)
            ),
            exact,
        )
        counts = [
            r.c
            for r in similarity.ivf_assign(emb, codebook=codebook)
            .groupBy("cell")
            .agg(F.count("*").alias("c"))
            .collect()
        ]
        counts += [0] * (16 - len(counts))
        mean = sum(counts) / len(counts)
        cv = (sum((c - mean) ** 2 for c in counts) / len(counts)) ** 0.5 / mean
        return rec, max(counts) / n, cv

    rec_s, _share_s, cv_s = stats(similarity.ivf_codebook(emb))
    rec_t, share_t, cv_t = stats(similarity.ivf_codebook_trained(emb))
    assert rec_s >= 0.65, f"sample-codebook recall regressed: {rec_s}"
    assert rec_t >= 0.25, f"trained-codebook recall regressed: {rec_t}"
    assert cv_t <= cv_s + 1e-9, (
        f"training no longer improves occupancy balance: cv {cv_t} vs {cv_s}"
    )
    assert share_t <= 0.25, f"trained codebook has a hot cell: {share_t}"
    # determinism: same data → bit-identical codebook
    assert similarity.ivf_codebook_trained(emb) == similarity.ivf_codebook_trained(emb)


def test_dot_kernels_null_safe(spark):
    """A NULL input must yield NULL — not crash the Arrow stage —
    matching the HOF fold the kernels replace (ADVICE r5: np.stack over
    None raised before the notna() masks). One envelope owns this for
    every kernel: the other rows are unaffected, and all-NULL and empty
    inputs run too."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, [1.0, 2.0], [3.0, 4.0]), (1, None, [1.0, 1.0]), (2, [5.0, 6.0], None)],
        "id long, a array<double>, b array<double>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            similarity.pair_dot_udf()(F.col("a"), F.col("b")).alias("d"),
        ).collect()
    }
    assert rows[0].d == 11.0
    assert rows[1].d is None
    assert rows[2].d is None
    # cell_ranks_udf: null vector → null rank list, others unaffected
    ranks = similarity.cell_ranks_udf([0, 1], [[1.0, 0.0], [0.0, 1.0]], [1.0, 1.0])
    norm = F.sqrt(similarity.dot(F.col("a"), F.col("a")))
    got = {
        r.id: r.rk
        for r in df.select("id", ranks(F.col("a"), norm).alias("rk")).collect()
    }
    assert got[1] is None and got[0] is not None and len(got[0]) == 2
    # lsh_signatures_udf and pq_codes_udf: same contract; the valid rows
    # match the SQL bucket spec and the hand-computed codes (subspace
    # ties go to the lower cid)
    sig = similarity.lsh_signatures_udf(2, 2, 3)
    codes = similarity.pq_codes_udf([[[0.0], [4.0]], [[0.0], [4.0]]])
    got = {
        r.id: r
        for r in df.select(
            "id",
            sig(F.col("a")).alias("sig"),
            codes(F.col("a")).alias("code"),
            *[
                similarity.lsh_bucket_expr("a", 2, 2, table=t).alias(f"b{t}")
                for t in range(3)
            ],
        ).collect()
    }
    assert got[1].sig is None and got[1].code is None
    for i in (0, 2):
        assert got[i].sig == [got[i].b0, got[i].b1, got[i].b2]
    assert got[0].code == [0, 0] and got[2].code == [1, 1]

    def run_all(frame):
        return [
            tuple(r)
            for r in frame.select(
                similarity.pair_dot_udf()(F.col("a"), F.col("b")),
                sig(F.col("a")),
                ranks(F.col("a"), norm),
                codes(F.col("a")),
            ).collect()
        ]

    nulls = spark.createDataFrame(
        [(3, None, None), (4, None, None)], "id long, a array<double>, b array<double>"
    )
    assert run_all(nulls) == [(None, None, None, None)] * 2
    assert run_all(df.filter(F.col("id") < 0)) == []
    # the empty batch, called directly: an empty frame need not send
    # one to the worker
    empty = pd.Series([], dtype=object)
    for udf, n_inputs in (
        (similarity.pair_dot_udf(), 2), (sig, 1), (ranks, 2), (codes, 1)
    ):
        assert len(udf.func(*[empty] * n_inputs)) == 0


import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=8,
        ),
        min_size=1,
        max_size=32,
    )
)
def test_quantize_int8_residual_bound_property(spark, vecs):
    """floor(x/s + 0.5) guarantees every residual lies in [-0.5, 0.5]
    steps, codes saturate only at ±127, and the per-vector scale is
    max|x|/127 — over arbitrary float32 vectors, zero vectors
    included."""
    from kafka_topic_dumper_spark.operators.similarity import quantize_int8

    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        schema="vec_id long, embedding array<float>",
    )
    for r in quantize_int8(emb).collect():
        x = [float(np.float32(t)) for t in vecs[r.vec_id]]
        amax = max(abs(t) for t in x)
        assert abs(r.scale - round(amax / 127.0, 6)) <= 1e-9
        assert r.max_abs_step_err <= 0.500001
        assert 0 <= r.n_saturated <= len(x)
        if amax == 0.0:
            assert r.mean_sq_step_err == 0.0 and r.n_saturated == 0


def test_pq_recall_floor_vs_exact_l2(spark):
    """PQ-ADC approximates SQUARED-L2, so its ground truth is the
    exact L2 top-k (numpy float64), not the cosine brute force. Floors:
    the deterministic codebook is a worst case (first-16 subvectors);
    the trained per-subspace k-means codebook must do at least as well.
    """
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    pos = {int(v): i for i, v in enumerate(ids)}
    exact = {}
    for q in similarity.QUERY_IDS:
        d2 = ((X - X[pos[q]]) ** 2).sum(axis=1)
        d2[pos[q]] = np.inf
        nn = ids[np.argsort(d2, kind="stable")[:10]]
        exact[q] = set(int(v) for v in nn)

    det = _mean_recall(
        _topk_sets(similarity.pq_topk(emb, similarity.QUERY_IDS, 10)), exact
    )
    trained = _mean_recall(
        _topk_sets(
            similarity.pq_topk(
                emb,
                similarity.QUERY_IDS,
                10,
                codebook=similarity.pq_codebook_trained(emb),
            )
        ),
        exact,
    )
    assert det >= 0.25, f"PQ (deterministic codebook) recall degraded: {det:.2f}"
    assert trained >= det - 0.05, (
        f"trained PQ codebook lost recall vs deterministic: {trained:.2f} < {det:.2f}"
    )
    assert trained >= 0.35, f"trained PQ recall floor: {trained:.2f}"
    # measured at m=16/k=16, sf0.001: det 0.36, trained 0.44 (m=8 had
    # trained 0.24 < det — 500 uniform samples are too few for 8-dim
    # subspace k-means; 4-dim subspaces train fine)


def test_ivfpq_recall_floor(spark):
    """IVF-PQ approximates COSINE (IP-ADC over stored norms), so its
    ground truth is the cosine brute force. Expected ordering: plain
    IVF (exact cosine on probed cells, ~0.82) > IVF-PQ (quantized
    scoring on the same cells, measured 0.46) > chance. The floor
    catches a scoring-fold or codebook regression, not tuning drift."""
    emb = load_table(spark, SF, "embeddings")
    exact = _topk_sets(
        similarity.cosine_topk_bruteforce(emb, similarity.QUERY_IDS, 10)
    )
    got = _mean_recall(
        _topk_sets(similarity.ivfpq_topk(emb, similarity.QUERY_IDS, 10)), exact
    )
    assert got >= 0.3, f"IVF-PQ recall degraded: {got:.2f}"


def test_rp_sketch_recall_floor_and_beats_noise(spark):
    """JL sketch-then-rerank: recall@10 vs exact must clear a floor
    AND decisively beat the random-pool expectation (pool/corpus ≈ 5%
    at this SF) — the sketch must carry real signal, not just pool
    width."""
    emb = load_table(spark, SF, "embeddings")
    exact = _topk_sets(
        similarity.cosine_topk_bruteforce(emb, similarity.QUERY_IDS, 10)
    )
    got = _mean_recall(
        _topk_sets(similarity.rp_topk(emb, similarity.QUERY_IDS, 10)), exact
    )
    n = emb.count()
    noise_expectation = similarity.RP_POOL / n  # 0.2 at this 500-vec SF
    assert got >= 0.5, f"RP sketch recall degraded: {got:.2f}"
    assert got - noise_expectation >= 0.3, (got, noise_expectation)
