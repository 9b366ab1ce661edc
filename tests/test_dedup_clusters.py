"""Quadratic-free minhash cluster mode (r5 verdict item 4).

The scale claim is that star edges (bucket member → bucket min) close
into EXACTLY the clusters the all-pairs bucket join would produce,
at linear instead of per-bucket-quadratic edge count — these tests pin
both the semantic equivalence and the edge-count bound.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_topic_dumper_spark.operators.dedup import (
    minhash_cluster_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    minhash_star_edges,
)
from kafka_topic_dumper_spark.operators.graph import connected_components
from kafka_topic_dumper_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_star_edge_closure_equals_pair_closure(spark):
    """Connected components over star edges must equal components over
    the full per-bucket pair join — same partition of the same nodes."""
    docs = load_table(spark, SF, "documents")
    star = connected_components(minhash_star_edges(docs), "src", "dst")
    pairs = minhash_lsh_candidates(minhash_signatures(docs))
    full = connected_components(pairs, "doc_a", "doc_b")
    got = {(r.node, r.component_id) for r in star.collect()}
    want = {(r.node, r.component_id) for r in full.collect()}
    assert got == want


def test_star_edges_are_linear_in_membership(spark):
    """Edge count must be bounded by banded membership rows (≤ docs ×
    bands), never by per-bucket pair counts."""
    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    n_edges = minhash_star_edges(docs, bands=8).count()
    assert n_edges <= n_docs * 8


def test_cluster_dedup_partitions_the_corpus(spark):
    """Every document lands in exactly one cluster: member counts sum
    to the corpus size, and each survivor is its own cluster's min."""
    docs = load_table(spark, SF, "documents")
    out = minhash_cluster_dedup(docs)
    total = out.agg(F.sum("n_members")).first()[0]
    assert total == docs.count()
    # survivors are distinct cluster keys
    assert out.select("survivor_id").distinct().count() == out.count()


def test_connected_components_empty_edges_returns_empty(spark):
    """Regression (code-review r6): an empty edge set — a corpus with
    no near-duplicates at all — must converge to an empty label table
    on the first sweeps, not burn max_iter and raise."""
    from kafka_topic_dumper_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "src long, dst long")
    out = connected_components(edges, "src", "dst")
    assert out.count() == 0


def test_quality_survivor_keeps_best_copy(spark):
    """Planted NEAR-dup cluster whose members differ in quality: the
    survivor must be the member with the highest classifier logit, not
    the lowest doc_id; singletons map to themselves."""
    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_lsh_dedup,
        quality_survivor_mapping,
    )
    from kafka_topic_dumper_spark.operators.text import quality_classifier

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    rows = [
        (1, base + " junkone", "en", "s", 80),
        (2, base + " junktwo", "en", "s", 80),
        (3, base + " junkthree", "en", "s", 80),
        (4, "totally different words here nothing shared at all with others ok", "en", "s", 60),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # precondition: the three variants really form one near-dup cluster
    strong = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_dedup(docs).filter("jaccard >= 0.5").collect()
    }
    assert strong, "planted near-dups must produce strong pairs"
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in strong)

    out = {r.doc_id: r for r in quality_survivor_mapping(docs).collect()}
    assert out[4].keep_doc_id == 4 and out[4].is_dup == 0

    logits = {
        r.doc_id: r.logit_centisum for r in quality_classifier(docs).collect()
    }
    want = min([1, 2, 3], key=lambda d: (-logits[d], d))
    assert {out[d].keep_doc_id for d in (1, 2, 3)} == {want}
    assert sum(out[d].is_dup for d in (1, 2, 3)) == 2


def test_contraction_cc_equals_propagation_cc(spark):
    """The large-star/small-star engine (r6 verdict item 4) must
    produce the identical (node, component_id) labeling as min-label
    propagation — on the real minhash star graph AND on the
    adversarial shapes where their round counts diverge."""
    from kafka_topic_dumper_spark.operators.graph import (
        connected_components_contraction,
    )

    docs = load_table(spark, SF, "documents")
    star = minhash_star_edges(docs)
    prop = {(r.node, r.component_id) for r in connected_components(star).collect()}
    cont = {
        (r.node, r.component_id)
        for r in connected_components_contraction(star).collect()
    }
    assert prop == cont and len(prop) > 0

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    prop_c = {(r.node, r.component_id) for r in connected_components(chain).collect()}
    cont_c = {
        (r.node, r.component_id)
        for r in connected_components_contraction(chain).collect()
    }
    assert prop_c == cont_c == {(i, 0) for i in range(201)}


def test_cc_method_dispatch(spark):
    """connected_components(method=...) routes to the contraction
    engine."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    got = {
        (r.node, r.component_id)
        for r in connected_components(edges, method="contraction").collect()
    }
    assert got == want


def test_cc_self_loop_nodes_and_unknown_method(spark):
    """A node appearing ONLY in self-loop edges must be labeled by
    BOTH engines (the contraction engine derives its node universe
    before filtering self-loops), and an unrecognized method raises
    instead of silently running propagation."""
    import pytest as _pytest

    from kafka_topic_dumper_spark.operators.graph import (
        connected_components_contraction,
    )

    edges = spark.createDataFrame(
        [(1, 2), (5, 5), (7, 7), (7, 8)], "src long, dst long"
    )
    want = {(1, 1), (2, 1), (5, 5), (7, 7), (8, 7)}
    prop = {
        (r.node, r.component_id)
        for r in connected_components(edges, method="propagation").collect()
    }
    cont = {
        (r.node, r.component_id)
        for r in connected_components_contraction(edges).collect()
    }
    assert prop == cont == want
    with _pytest.raises(ValueError, match="unknown connected-components"):
        connected_components(edges, method="contractoin")


def test_pagerank_fixed_point_properties(spark):
    """Integer fixed-point PageRank: matches a pure-Python replay on a
    hand graph, ranks sum below total injected mass (floor losses
    only), and a sink-free symmetric star ranks the hub highest."""
    from kafka_topic_dumper_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed_point,
    )

    # star: hub 0 — leaves 1..4 (symmetrized)
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.r for r in pagerank_fixed_point(df, iters=10).collect()}

    # independent replay
    from collections import defaultdict

    nodes = {0, 1, 2, 3, 4}
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    r = {n: PR_SCALE for n in nodes}
    for _ in range(10):
        s = defaultdict(int)
        for u, v in edges:
            s[v] += r[u] // deg[u]
        r = {n: 150_000_000 + (85 * s[n]) // 100 for n in nodes}
    assert got == r
    assert got[0] == max(got.values())  # hub dominates
    assert sum(got.values()) <= len(nodes) * PR_SCALE


def test_ngram_containment_directed_asymmetry(spark):
    """Containment must be directional: a short doc whose grams are a
    strict subset of a long doc reads 100% one way and <100% the
    other; Jaccard (symmetric) cannot express this."""
    from kafka_topic_dumper_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " zeta eta theta iota kappa lam mu nu xi"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally different words here now ok")],
        "doc_id long, text string",
    )
    got = {
        (r.src_doc, r.dst_doc): r.containment_pct
        for r in ngram_containment_pairs(df, min_pct=1).collect()
    }
    assert got[(1, 2)] == 100          # short fully inside long
    assert 0 < got[(2, 1)] < 100       # long only partially covered
    assert (1, 3) not in got and (3, 1) not in got


def test_setsim_prefix_join_lossless_vs_naive(spark):
    """PPJoin prefix filtering must return EXACTLY the pairs the naive
    all-pairs inverted-index join finds at the same threshold — the
    pruning is a candidate filter, never a recall trade."""
    from kafka_topic_dumper_spark.operators.dedup import (
        ngram_jaccard_pairs,
        setsim_prefix_join_pairs,
    )

    docs = load_table(spark, SF, "documents")
    got = {
        (r.doc_a, r.doc_b, r.n_common, r.union_size)
        for r in setsim_prefix_join_pairs(docs).collect()
    }
    naive = ngram_jaccard_pairs(docs, max_df=10**9)  # cap inert
    want = {
        (r.doc_a, r.doc_b, r.n_common, r.n_a + r.n_b - r.n_common)
        for r in naive.collect()
        if 100 * r.n_common >= 80 * (r.n_a + r.n_b - r.n_common)
    }
    assert got == want and got


def test_setsim_prefix_join_integer_threshold_boundary(spark):
    """>= semantics on the integer-percent threshold: a pair at exactly
    J=4/6 (66.67%) is IN at min_pct=66 and OUT at min_pct=67, and the
    reported score is the floor percent."""
    from kafka_topic_dumper_spark.operators.dedup import (
        setsim_prefix_join_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "a b c d e f z")],
        "doc_id long, text string",
    )

    def pairs(pct):
        return {
            (r.doc_a, r.doc_b): r.jaccard_pct
            for r in setsim_prefix_join_pairs(df, min_pct=pct).collect()
        }

    at66 = pairs(66)
    assert at66[(1, 2)] == 100 and at66[(1, 3)] == 66 and at66[(2, 3)] == 66
    at67 = pairs(67)
    assert (1, 3) not in at67 and (2, 3) not in at67 and (1, 2) in at67


def test_editdist_join_lossless_vs_naive(spark):
    """The q-gram-lemma + length-band pruning must return EXACTLY the
    pairs the naive length-pruned all-pairs levenshtein scan finds."""
    from kafka_topic_dumper_spark.operators.dedup import editdist_join_pairs

    # half the corpus keeps the naive side ~4x cheaper while still
    # crossing every plan branch (lemma, banding, short fallback)
    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") % 2 == 0)
    got = {
        (r.doc_a, r.doc_b, r.edit_distance)
        for r in editdist_join_pairs(docs).collect()
    }
    d = docs.select("doc_id", "text", F.length("text").alias("len"))
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"),
        F.col("len").alias("la"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("tb"),
        F.col("len").alias("lb"),
    )
    naive = (
        a.join(
            b,
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= 30),
        )
        .withColumn("ed", F.levenshtein("ta", "tb"))
        .filter(F.col("ed") <= 30)
    )
    want = {(r.doc_a, r.doc_b, r.ed) for r in naive.collect()}
    assert got == want and got


def test_editdist_join_short_doc_fallback(spark):
    """Docs short enough that the lemma bound is <= 0 can share ZERO
    q-grams yet be within distance — they must come through the
    explicit short-pair path, not get silently dropped."""
    from kafka_topic_dumper_spark.operators.dedup import editdist_join_pairs

    df = spark.createDataFrame(
        [(1, "abc"), (2, "xyz"), (3, "a" * 200)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in editdist_join_pairs(df).collect()
    }
    assert got == {(1, 2): 3}  # zero shared grams, ed=3; doc 3 length-pruned


def test_triangle_counts_known_graphs(spark):
    """K4 gives every node C(3,2)=3 triangles; a star hub (the skew
    case the degree orientation exists for) has none; counts must come
    out exactly once per triangle."""
    from kafka_topic_dumper_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    star = [(100, i) for i in range(101, 121)]  # hub, no closures
    df = spark.createDataFrame(k4 + star, "doc_a long, doc_b long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_equal_naive(spark):
    """Degree-oriented wedge counting must equal the naive id-ordered
    triple join on the real candidate graph."""
    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from kafka_topic_dumper_spark.operators.graph import triangle_counts

    cand = minhash_lsh_candidates(
        minhash_signatures(load_table(spark, SF, "documents"))
    ).persist()
    got = {r.node: r.n_triangles for r in triangle_counts(cand).collect()}
    e = [(r.doc_a, r.doc_b) for r in cand.collect()]
    es = set(e)
    from collections import Counter

    want = Counter()
    for u, v in e:
        for w, z in e:
            if w == v and (u, z) in es:
                want[u] += 1; want[v] += 1; want[z] += 1
    assert got == dict(want)
    cand.unpersist()


def test_clustering_coefficient_known_graphs(spark):
    """K4 → every node cc=100%; a 3-path's middle node has degree 2,
    no triangle, cc=0; endpoints (degree 1) are excluded."""
    from kafka_topic_dumper_spark.operators.graph import (
        clustering_coefficients,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    path = [(10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + path, "doc_a long, doc_b long")
    got = {r.node: (r.degree, r.n_triangles, r.cc_pct)
           for r in clustering_coefficients(df).collect()}
    assert {n: got[n] for n in (1, 2, 3, 4)} == {n: (3, 3, 100) for n in (1, 2, 3, 4)}
    assert got[11] == (2, 0, 0)
    assert 10 not in got and 12 not in got


def test_label_propagation_splits_bridged_cliques(spark):
    """Two triangles joined by one bridge edge: ONE connected
    component but TWO label-propagation communities — the density
    signal CC cannot express. Deterministic labels verified against
    the hand-computed synchronous sweep."""
    from kafka_topic_dumper_spark.operators.graph import label_propagation

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.community_id for r in label_propagation(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    comp = {
        r.node: r.component_id
        for r in connected_components(df, "doc_a", "doc_b").collect()
    }
    assert len(set(comp.values())) == 1  # one component, two communities


def test_weighted_pagerank_reduces_and_shifts(spark):
    """With all weights 1 the weighted recurrence (an edge frame with a
    ``w`` column) is IDENTICAL to the unweighted one (wtot = deg,
    (1*r) div wtot = r div deg); making one edge heavy shifts rank
    toward its target."""
    from kafka_topic_dumper_spark.operators.graph import pagerank_fixed_point

    base = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
    ew = spark.createDataFrame(
        [(s, d, 1) for s, d in base], "src long, dst long, w long"
    )
    eu = spark.createDataFrame(base, "src long, dst long")
    got_w = {r.node: r.r for r in pagerank_fixed_point(ew).collect()}
    got_u = {r.node: r.r for r in pagerank_fixed_point(eu).collect()}
    assert got_w == got_u

    heavy = spark.createDataFrame(
        [(s, d, 10 if (s, d) == (1, 2) else 1) for s, d in base],
        "src long, dst long, w long",
    )
    got_h = {r.node: r.r for r in pagerank_fixed_point(heavy).collect()}
    assert got_h[2] > got_w[2] and got_h[3] < got_w[3]


def test_hits_matches_python_replay(spark):
    """Integer max-normalized HITS replayed exactly in pure Python on a
    small bipartite graph — floors and maxima at the identical points."""
    from kafka_topic_dumper_spark.operators.graph import (
        HITS_ITERS,
        HITS_SCALE,
        hits_scores,
    )

    E = [(1, 10), (1, 11), (2, 10), (3, 11), (3, 12)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {(r.node, r.role): r.score for r in hits_scores(df).collect()}

    h = {s: HITS_SCALE for s, _ in E}
    a: dict = {}
    for _ in range(HITS_ITERS):
        raw_a: dict = {}
        for s, d in E:
            raw_a[d] = raw_a.get(d, 0) + h[s]
        mx = max(raw_a.values())
        a = {d: (v * HITS_SCALE) // mx for d, v in raw_a.items()}
        raw_h: dict = {}
        for s, d in E:
            raw_h[s] = raw_h.get(s, 0) + a[d]
        mx = max(raw_h.values())
        h = {s: (v * HITS_SCALE) // mx for s, v in raw_h.items()}
    want = {(n, "hub"): v for n, v in h.items()}
    want |= {(n, "authority"): v for n, v in a.items()}
    assert got == want
    # the breadth hub (1: two strong authorities) tops the ranking
    assert got[(1, "hub")] == HITS_SCALE


def test_kcore_peeling_matches_python_fixpoint(spark):
    """Fixed-round k-core peeling: (a) on a handcrafted graph where a
    clique hangs off a chain, the chain peels and the clique survives
    with its exact in-core degrees; (b) on the registry candidate
    graph, 4 rounds reach the true fixpoint (recomputed by a pure-
    Python peel loop) and every survivor has core_degree >= k."""
    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from kafka_topic_dumper_spark.operators.graph import kcore_membership

    # (a) K4 clique {1,2,3,4} + a tail 4-5-6: the tail peels at k=3
    clique = [(i, j) for i in (1, 2, 3, 4) for j in (1, 2, 3, 4) if i < j]
    edges = clique + [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.core_degree
        for r in kcore_membership(df, k=3, rounds=3).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # (b) registry graph: fixed rounds == python fixpoint
    pairs = minhash_lsh_candidates(
        minhash_signatures(load_table(spark, SF, "documents"))
    )
    edge_list = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    adj: dict[int, set] = {}
    for u, v in edge_list:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    alive = set(adj)
    while True:
        drop = {n for n in alive if sum(m in alive for m in adj[n]) < 3}
        if not drop:
            break
        alive -= drop
    expect = {
        n: sum(m in alive for m in adj[n]) for n in alive
    }
    got = {
        r.node: r.core_degree for r in kcore_membership(pairs).collect()
    }
    assert got == expect
    assert all(d >= 3 for d in got.values())


def test_cotrading_projection_topk_rule_and_bound(spark):
    """Bipartite projection semantics on a handcrafted graph: only a
    supplier's top-k accounts (by distinct orders, id tie-break)
    pair up, so a hub's weak customers never explode the output; the
    pair count is bounded by |suppliers|·C(k,2)."""
    from kafka_topic_dumper_spark.operators.graph import (
        cotrading_projection,
    )

    # supplier 1: customers 10,11,12 with strengths 3,2,1 orders;
    # supplier 2: customers 11,12 with 1 each
    lineitem, orders = [], []
    oid = 0
    def add(supp, cust, n_orders):
        nonlocal oid
        for _ in range(n_orders):
            oid += 1
            orders.append((oid, cust))
            lineitem.append((oid, supp))
    add(1, 10, 3); add(1, 11, 2); add(1, 12, 1)
    add(2, 11, 1); add(2, 12, 1)
    li = spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long")
    od = spark.createDataFrame(orders, "o_orderkey long, o_custkey long")

    # k=2: supplier 1 keeps {10, 11} (12 drops), supplier 2 keeps all
    got = sorted(
        (r.cust_a, r.cust_b, r.shared_suppliers)
        for r in cotrading_projection(li, od, top_k=2).collect()
    )
    assert got == [(10, 11, 1), (11, 12, 1)]

    # bound: with k=3 everything pairs; never more than S*C(k,2)
    full = cotrading_projection(li, od, top_k=3).collect()
    assert len(full) <= 2 * 3
