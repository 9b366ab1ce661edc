"""Connected components over a pair/edge DataFrame — the cluster-
assignment stage of a dedup pipeline (MinHash/SimHash emit near-dup
PAIRS; training-data dedup needs CLUSTERS, then one canonical doc per
cluster) — plus the other iterative graph engines (PageRank, HITS,
label propagation, k-core).

Spark-first shape: iterative min-label propagation expressed as stock
DataFrame joins/aggregations — the same hash-partitioned equi-join
Catalyst already optimizes, repeated until fixpoint. Each sweep moves
every node's label one hop, so the iteration count is the graph
DIAMETER, and near-dup graphs are unions of tiny quasi-cliques
(diameter ≤ ~3): convergence in a handful of sweeps. Deeper graphs
(mutual-kNN clusters chain) trigger the ADAPTIVE pointer-jumping
shortcut inside the loop — path compression from sweep 4 on, the
measured middle ground between plain propagation and a full
large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), which remains the
swap-in for adversarial O(log n) worst cases.

Every iterative engine here follows one discipline:

- Lineage truncation goes through :func:`_truncate`, once per sweep.
  persist() is NOT enough for iterative plans: the logical tree
  doubles per sweep (union of a join of the previous tree) and
  Catalyst chokes on the exponential plan long before the data is
  big. With a checkpoint dir configured the sweep is written there
  (reliable: it survives executor loss on a cluster); without one it
  is local-checkpointed into executor memory, which is fine locally
  and avoids the disk round-trip. Checkpoint blocks from superseded
  sweeps are freed by Spark's ContextCleaner once unreferenced.
- An iteration-invariant input is pinned with ``tracked_persist``
  inside the engine's own ``operator_caches()`` scope, so the pin is
  released when the engine returns or raises. The pinned frame is
  one the engine derives itself, never the caller's object (whose
  own cache would otherwise be dropped). Every returned frame is
  already checkpointed, so the release changes no result.

The convergence tests are driver-side scalars — metadata-plane, like
GraphX/GraphFrames' own CC."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.functions.caching import (
    operator_caches,
    tracked_persist,
)

# PageRank, HITS and LPA rescan their pins every sweep; a deserialized
# pin (DataFrame.persist's default level) costs no decoding per scan
_DESER = StorageLevel.MEMORY_AND_DISK_DESER


def _truncate(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage: a reliable
    checkpoint when the context has a checkpoint dir, else a local one."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    method: str = "propagation",
) -> DataFrame:
    """Undirected connected components. ``edges`` holds one row per
    edge (either direction); returns ``(node, component_id)`` for every
    node that appears in an edge, where ``component_id`` is the MINIMUM
    node id reachable from it — a deterministic, engine-independent
    labeling (both methods produce the identical output; tested
    against each other on chain/star/random graphs).

    ``method``: "propagation" → min-label propagation with adaptive
    pointer-jumping (shallow star graphs: fewest shuffles);
    "contraction" → large-star/small-star contraction
    (:func:`connected_components_contraction` — deep/chained graphs,
    where propagation's sweep count tracks the diameter). The
    propagation form raises if ``max_iter`` sweeps don't reach the
    fixpoint (propagation is monotone: labels only ever decrease, so
    non-convergence means the diameter exceeds the budget, not a
    cycle)."""
    if method == "contraction":
        return connected_components_contraction(edges, src, dst, max_iter)
    if method != "propagation":
        raise ValueError(
            f"unknown connected-components method {method!r}; "
            "expected 'propagation' or 'contraction'"
        )
    with operator_caches():
        # The symmetric edge list is the ITERATION-INVARIANT input:
        # every sweep joins against it, and without a persist each
        # sweep (plus its convergence count) re-derives the whole
        # upstream pipeline — for minhash-cluster dedup that is the full
        # shingle→signature→banding chain, re-executed per iteration
        # (measured 15.8 s → 6.3 s at the R=1 probe from this one
        # persist). Edge-count-sized, the same thing GraphX materializes
        # for iteration.
        sym = tracked_persist(
            edges.select(F.col(src).alias("es"), F.col(dst).alias("ed")).union(
                edges.select(F.col(dst).alias("es"), F.col(src).alias("ed"))
            )
        )

        labels = (
            sym.select(F.col("es").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
        prev_sum: object = object()  # sentinel: never equals a real sum
        for sweep in range(max_iter):
            # each neighbor offers its current label to the other
            # endpoint; a node keeps the min of its own label and all
            # offers
            offers = sym.join(
                labels, sym["es"] == labels["node"], "inner"
            ).select(F.col("ed").alias("node"), F.col("label"))
            new_labels = (
                labels.union(offers)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            # ADAPTIVE pointer-jumping shortcut (path compression):
            # relabel every node through its label's OWN label —
            # label(n) ← min(label(n), label(label(n))). Labels are node
            # ids and only ever decrease, so the jump is monotone and
            # the fixpoint is unchanged. Adaptive because the cost
            # profile is measured, not assumed (sf0.1): star-shaped
            # dedup graphs converge in ≤4 sweeps and an unconditional
            # jump is pure per-sweep overhead (dedup_minhash_clusters
            # 2.43 s → 3.13 s); chain-shaped graphs (mutual-kNN
            # clusters) need 16 plain sweeps but 10 with the jump. So
            # the jump switches on only once sweep 4 proves the graph
            # has depth — shallow graphs never pay it, deep graphs get
            # the compression exactly where sweep count (a full
            # edge-list shuffle each) is the 100 TB cost that matters.
            if sweep >= 3:
                lab2 = new_labels.select(
                    F.col("node").alias("ln"), F.col("label").alias("ll")
                )
                new_labels = (
                    new_labels.join(
                        lab2, new_labels["label"] == lab2["ln"], "left"
                    ).select(
                        "node",
                        F.least(
                            F.col("label"),
                            F.coalesce(F.col("ll"), F.col("label")),
                        ).alias("label"),
                    )
                )
            labels = _truncate(new_labels)
            # Convergence check via the label-sum invariant: propagation
            # is monotone (labels only ever DECREASE), so the sum over
            # all nodes strictly decreases until the fixpoint and is
            # equal iff no label moved. One single-stage aggregation
            # over the just-checkpointed relation — no second
            # label-sized shuffle per iteration. decimal(38,0) keeps the
            # sum exact far beyond any realistic node-count × id range.
            # sum() over an empty relation is NULL — normalized to 0 so
            # the empty-graph case (no near-duplicates anywhere)
            # converges on sweep 2 instead of burning max_iter sweeps
            # and raising.
            raw = labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).first()[0]
            cur_sum = 0 if raw is None else raw
            if cur_sum == prev_sum:
                return labels.select("node", F.col("label").alias("component_id"))
            prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} sweeps"
    )


def connected_components_contraction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Undirected connected components by alternating LARGE-STAR /
    SMALL-STAR contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — named as the swap-in since r4,
    landed in r7 after the scale probe measured label propagation's
    sweep count GROWING across decades: 3/11/14 sweeps at R=1/10/100
    on the minhash cluster graph).

    Same contract as :func:`connected_components`: returns
    ``(node, component_id)`` for every node appearing in an edge, with
    ``component_id`` = the component's minimum node id.

    Why contraction wins on deep graphs: label propagation moves
    labels ONE HOP per sweep (pointer-jumping compresses some of the
    path), so sweeps track the cluster diameter; each star operation
    instead REWRITES the edge set so every node points at the minimum
    of its neighborhood — heights collapse multiplicatively and the
    round count is O(log diameter) with aggressively shrinking
    constants (the paper proves O(log² n) worst-case, observes ~5
    rounds on multi-billion-edge graphs). Per round: two
    groupBy-min + join pairs over the CURRENT edge set, which also
    SHRINKS as stars contract — vs propagation's fixed-size symmetric
    edge list joined every sweep.

    Operations (edge set E, treated symmetrically):

    - large-star: for each node u, every STRICTLY LARGER neighbor is
      re-pointed at m = min(N(u) ∪ {u});
    - small-star: edges oriented large→small; for each u, every
      ≤-neighbor AND u itself re-point at m = min(N≤(u) ∪ {u}).

    Fixpoint: E is a star forest rooted at component minima — both
    operations leave it unchanged. Convergence is checked exactly
    (count equality + exceptAll empty on DISTINCT edge sets), not by a
    hashable signature, and each round's output is lineage-truncated
    like the propagation loop."""
    # Materialize the (possibly expensive) upstream edge derivation
    # ONCE, self-loops included, then derive both the node universe and
    # the working edge set from the truncated blocks: nodes must come
    # from the UNFILTERED edges so a node appearing only in self-loop
    # edges still gets labeled (as propagation does — the two engines
    # are contract-equal), and deriving it post-checkpoint means the
    # final labels join re-reads cheap local blocks instead of
    # re-running the whole candidate pipeline.
    e_all = _truncate(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    )
    nodes = (
        e_all.select(F.col("u").alias("node"))
        .union(e_all.select(F.col("v").alias("node")))
        .distinct()
    )
    e = e_all.filter(F.col("u") != F.col("v"))

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.min("v").alias("mv")
        ).select("u", F.least("mv", F.col("u")).alias("m"))
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        oriented = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        re_pointed = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_pointed = mins.select("u", F.col("m").alias("v"))
        return (
            re_pointed.union(self_pointed)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    for _ in range(max_rounds):
        new_e = _truncate(_small_star(_large_star(e)))
        # exact set equality: both sides are distinct, so equal counts
        # plus an empty one-sided difference prove it
        fixpoint = new_e.count() == e.count() and new_e.exceptAll(e).isEmpty()
        e = new_e
        if fixpoint:
            break
    else:
        raise RuntimeError(
            f"connected_components_contraction did not converge in "
            f"{max_rounds} rounds"
        )
    # At the fixpoint every non-root points at its component min; roots
    # (the minima) have no outgoing edge — they label themselves.
    return nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("component_id")),
        "node",
        "left",
    ).select(
        "node", F.coalesce("component_id", F.col("node")).alias("component_id")
    )


# --- PageRank (round 8) ---------------------------------------------------

PR_SCALE = 1_000_000_000
PR_ITERS = 10
PR_DAMPING_PCT = 85


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = PR_ITERS,
    damping_pct: int = PR_DAMPING_PCT,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, in INTEGER
    fixed-point so the result is bit-exact across engines: ranks start
    at 1e9 per node, each step is
    ``r' = teleport + (85 · Σ_{u→v} (r(u) div deg(u))) div 100`` with
    floor division at both points — integer sums are order-free, so no
    float-accumulation-order divergence is possible (the established
    cross-engine discipline; contrast the centi-logit classifier).
    Mass lost to the floors is deterministic and identical in the
    DuckDB replay.

    An edge frame with a ``w`` column is WEIGHTED: rank mass flows in
    proportion to edge weight instead of uniformly, per-edge
    contribution ``(w·r(u)) div W(u)`` with W(u) the total out-weight,
    floors at the identical points. With all weights 1 the two
    recurrences coincide. int64 headroom: w·r tops out ~10^16 at this
    SF; at ~10^6+ nodes with heavy weights move the product to DECIMAL
    (the exact_money rationale).

    Spark-first shape: each iteration is ONE edge-sized equi-join
    (ranks are node-sized, joined on the edge source) plus ONE
    dst-keyed integer sum — the same two shuffles per sweep as the CC
    propagation engine, edge-linear at 100 TB. Ranks are truncated
    per iteration (see the module docstring).

    ``redistribute_dangling=True`` adds the standard dangling-mass
    term for general DIRECTED graphs: nodes with no out-edges (sinks)
    would otherwise leak their rank out of the system each sweep. The
    sink set is computed once (node-set anti-join on the degree
    table); per sweep the dangling mass ``dm = Σ_{sink u} r(u)`` is a
    1-row aggregate broadcast back into the update (no driver
    collect), and every node's incoming sum gains ``dm div n`` before
    damping — integer floors at fixed points, so the DuckDB unrolled
    replay stays bit-exact. Default False preserves the historical
    behavior for the symmetrized callers (every node has out-edges by
    construction, dm ≡ 0)."""
    weighted = "w" in edges.columns
    with operator_caches():
        # The edge list is the ITERATION-INVARIANT input and is scanned
        # once each for nodes (twice via the union), out-degree, and ed
        # — without a pin every one of those re-executes the caller's
        # upstream derivation (for the trading-graph callers:
        # lineitem⋈orders + distinct, re-run up to 4×; measured
        # 10.4 s → 7.9 s at sf0.1 on the directed dangling caller).
        e = tracked_persist(
            edges.select("src", "dst", *(["w"] if weighted else [])), _DESER
        )
        nodes = tracked_persist(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct(),
            _DESER,
        )
        if weighted:
            out = e.groupBy("src").agg(F.sum("w").alias("wtot"))
            flow = "(w * r) div wtot"
        else:
            out = e.groupBy("src").agg(F.count("*").alias("deg"))
            flow = "r div deg"
        ed = tracked_persist(e.join(out, "src"), _DESER)
        teleport = PR_SCALE * (100 - damping_pct) // 100
        mass, flag, no_flag = "s", [], []
        if redistribute_dangling:
            # Sink flag rides INSIDE the ranks relation (one left join
            # against the out-degree table, once): each sweep's dangling
            # mass is then a plain filtered 1-row aggregate over ranks —
            # no per-sweep sink-set join. Contributions carry a NULL
            # flag, which the per-node max ignores. n is one scalar per
            # graph, a metadata-sized driver value that constant-folds
            # into the update expression.
            nodes = tracked_persist(
                nodes.join(
                    out.select(
                        F.col("src").alias("node"), F.lit(True).alias("has_out")
                    ),
                    "node",
                    "left",
                ).select("node", F.col("has_out").isNull().alias("is_sink")),
                _DESER,
            )
            mass = f"(s + dm div {nodes.count()})"
            flag = ["is_sink"]
            no_flag = [F.lit(None).cast("boolean").alias("is_sink")]
        ranks = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("r"), *flag)
        # The per-sweep update UNIONS a zero-contribution row per node
        # into the aggregation instead of left-joining the node set
        # afterwards: every node then gets its row from the same
        # groupBy shuffle the edge contributions already pay (node-sized
        # extra input, no new exchange), and the per-sweep
        # broadcast-join stage disappears — results bit-identical (sum
        # gains a 0; absent-key coalesce(0) becomes a present 0),
        # measured ~5-10% per query at sf0.1 and one fewer stage per
        # sweep at any scale.
        zero = nodes.select("node", F.lit(0).cast("long").alias("c"), *flag)
        for _ in range(iters):
            contrib = ed.join(ranks, ed.src == ranks.node).select(
                F.col("dst").alias("node"), F.expr(flow).alias("c"), *no_flag
            )
            s = (
                contrib.union(zero)
                .groupBy("node")
                .agg(F.sum("c").alias("s"), *[F.max(c).alias(c) for c in flag])
            )
            if redistribute_dangling:
                dm = ranks.filter("is_sink").agg(
                    F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm")
                )
                s = s.crossJoin(F.broadcast(dm))
            ranks = _truncate(
                s.select(
                    "node",
                    (
                        F.lit(teleport)
                        + F.expr(f"({damping_pct} * {mass}) div 100")
                    ).cast("long").alias("r"),
                    *flag,
                )
            )
    return ranks.select("node", "r")


def triangle_counts(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Per-node TRIANGLE participation counts over an undirected edge
    list via the degree-oriented wedge join (Schank & Wagner 2005 /
    Cohen's MapReduce formulation) — the classic bound: orienting every
    edge from its lower-(degree, id) endpoint to the higher one caps
    each node's out-degree at O(√m), so the wedge join generates
    O(m^1.5) candidates instead of Σ deg² (a single hub would otherwise
    be quadratic in its degree — the skew trap). Each triangle is
    generated exactly once (its two lowest-ordered corners form the
    wedge), then credited to all three corners.

    The (degree, id) total order is packed into one integer key
    ``deg·2^32 + id`` so orientation is a plain comparison — portable,
    and safe while ids and degrees stay below 2^31/2^32 (true by
    construction here; repartition the key at planetary node counts).
    Plan: two self-joins on node-id keys + one explode/groupBy — no
    iteration, no driver state."""
    edges = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    deg = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .select("n", (F.col("d") * F.lit(1 << 32) + F.col("n")).alias("k"))
    )
    e = (
        edges.join(deg.select(F.col("n").alias("u"), F.col("k").alias("ku")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("k").alias("kv")), "v")
    )
    oriented = e.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("t"),
        F.greatest("ku", "kv").alias("kt"),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s")) & (F.col("o1.kt") < F.col("o2.kt")),
    ).select(
        F.col("o1.s").alias("x"),
        F.col("o1.t").alias("y"),
        F.col("o2.t").alias("z"),
    )
    closing = oriented.select(
        F.col("s").alias("y"), F.col("t").alias("z")
    )
    tri = wedges.join(closing, ["y", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


def clustering_coefficients(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Local clustering coefficient per node — how much of each
    node's neighborhood is itself connected, the tight-clique-vs-
    hub-collision discriminator: ``cc = 2·T(v) / (d(v)·(d(v)−1))``
    for nodes with degree ≥ 2, reported as the floor INTEGER percent
    ``(200·T) div (d·(d−1))`` so the score is bit-exact cross-engine.
    Triangle counts ride :func:`triangle_counts` (degree-oriented
    wedge join, O(m^1.5)); degrees are one map-side-combinable
    groupBy; nodes with no triangles still appear with cc 0."""
    edges = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    tri = triangle_counts(pairs, a, b)
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.expr(
                "CAST((200 * coalesce(n_triangles, 0))"
                " div (degree * (degree - 1)) AS INT)"
            ).alias("cc_pct"),
        )
    )


LPA_SWEEPS = 4


def label_propagation(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    sweeps: int = LPA_SWEEPS,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation
    (Raghavan et al. 2007), made fully deterministic: every node
    starts as its own label; each sweep every node adopts the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label (the argmax is a row_number over (count DESC, label ASC) —
    no RNG, no visit order). A fixed ``sweeps`` count rather than a
    convergence test keeps the plan finite and the oracle an unrolled
    CTE chain — the same discipline as the PageRank row. Communities
    are finer than connected components: a sparse bridge between two
    dense near-dup cliques keeps one COMPONENT but two LABEL
    communities.

    Per sweep: one edge-sized join (labels are node-sized, joined on
    the symmetrized edge source) + one (node,label) count + one
    per-node top-1 window — edge-linear, and the label table is
    truncated per sweep (see the module docstring)."""
    edges = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    with operator_caches():
        sym = tracked_persist(
            edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v"))),
            _DESER,
        )
        labels = sym.select(F.col("u").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
        for _ in range(sweeps):
            votes = (
                sym.join(labels, sym.u == labels.node)
                .groupBy(F.col("v").alias("nd"), "lbl")
                .agg(F.count("*").alias("c"))
            )
            w = Window.partitionBy("nd").orderBy(F.col("c").desc(), F.col("lbl"))
            labels = _truncate(
                votes.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("nd").alias("node"), "lbl")
            )
    return labels.select("node", F.col("lbl").alias("community_id"))


def lpa_oracle_sql(cand_cte: str, sweeps: int = LPA_SWEEPS) -> str:
    """Unrolled DuckDB replay of :func:`label_propagation` over a
    ``cand(u, v)`` edge CTE — one (votes, top-1) CTE pair per sweep,
    identical (count DESC, label ASC) tie-break."""
    parts = [
        f"""{cand_cte}, sym AS (
            SELECT u, v FROM cand UNION ALL SELECT v, u FROM cand
        ), l0 AS (
            SELECT DISTINCT u AS node, u AS lbl FROM sym
        )"""
    ]
    for i in range(sweeps):
        parts.append(f""", v{i + 1} AS (
            SELECT e.v AS nd, l.lbl, count(*) AS c
            FROM sym e JOIN l{i} l ON l.node = e.u
            GROUP BY 1, 2
        ), l{i + 1} AS (
            SELECT nd AS node, lbl FROM (
                SELECT nd, lbl,
                       row_number() OVER (
                           PARTITION BY nd ORDER BY c DESC, lbl
                       ) AS rn
                FROM v{i + 1}
            ) WHERE rn = 1
        )""")
    return (
        "WITH "
        + "".join(parts)
        + f"""
        SELECT node, lbl AS community_id FROM l{sweeps}
        """
    )


COTRADE_TOP_K = 16


def cotrading_projection(
    lineitem: DataFrame,
    orders: DataFrame,
    top_k: int = COTRADE_TOP_K,
) -> DataFrame:
    """Bipartite projection of the customer↔supplier trading graph
    onto customers: an edge (c₁, c₂) weighted by how many suppliers
    count BOTH among their top-``top_k`` accounts (by distinct
    orders, customer-id tie-break) — the key-account-overlap graph
    behind "customers like you" over bipartite data.

    The scale hazard of ANY bipartite projection is the hub side:
    projecting through a supplier of degree d emits d²/2 pairs, so a
    popular supplier at corpus scale is a quadratic bomb. The remedy
    IS the semantics: each supplier projects only its strongest
    ``top_k`` relationships, bounding output at |suppliers|·k²/2 —
    supplier-linear with a constant cap, skew-proof by construction,
    and meaningful at ANY density (a raw degree cutoff degenerates on
    dense graphs: this corpus's every supplier has ~500 customers).
    Plan: one join + (supp, cust) count, a WindowGroupLimit-shaped
    per-supplier top-k, one self-join on supplier over the capped
    lists, one pair count. ``kept`` feeds both self-join sides and
    Catalyst does not reuse the aliased subtree, so it is persisted —
    the join/countDistinct/window pipeline materializes once instead
    of twice (r18; the before-plan shows the full chain duplicated).
    ``kept`` is ≤ |suppliers|·top_k rows — supplier-linear, the
    bounded projection artifact you would store at scale."""
    strength = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("supp"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(F.countDistinct("o_orderkey").alias("w"))
    )
    win = Window.partitionBy("supp").orderBy(F.col("w").desc(), "cust")
    kept = tracked_persist(
        strength.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= top_k)
        .select("supp", "cust")
    )
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.supp") == F.col("b.supp"))
            & (F.col("a.cust") < F.col("b.cust")),
        )
        .groupBy(
            F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_suppliers"))
    )


def cotrading_oracle_sql(top_k: int = COTRADE_TOP_K) -> str:
    return f"""
        WITH strength AS (
            SELECT l.l_suppkey AS supp, o.o_custkey AS cust,
                   count(DISTINCT o.o_orderkey) AS w
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ), kept AS (
            SELECT supp, cust FROM (
                SELECT supp, cust,
                       row_number() OVER (PARTITION BY supp
                           ORDER BY w DESC, cust) AS rk
                FROM strength
            ) WHERE rk <= {top_k}
        )
        SELECT a.cust AS cust_a, b.cust AS cust_b,
               CAST(count(*) AS BIGINT) AS shared_suppliers
        FROM kept a JOIN kept b
          ON a.supp = b.supp AND a.cust < b.cust
        GROUP BY a.cust, b.cust
        """


KCORE_K = 3
KCORE_ROUNDS = 4


def kcore_membership(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """k-core peeling (Seidman 1983) with a FIXED round count: each
    round recomputes degrees over the subgraph induced by the current
    survivor set and drops every node of degree < k. Peeling is
    confluent — the removal set only grows and is order-independent —
    so R rounds is a well-defined prefix of the fixpoint on any
    engine, which keeps the oracle an unrolled CTE chain (the LPA /
    PageRank discipline; at sf0.01 four rounds reach the fixpoint,
    asserted by the convergence unit test). The k-core is the standard
    dense-cluster extractor over a near-dup candidate graph: hubs
    riding chance bucket collisions peel away, genuine duplicate
    cliques (every member ≥ k neighbors) survive.

    Per round: two edge×survivor semi-joins + one count — edge-linear,
    shuffle only on node ids; the edge set is truncated per round (see
    the module docstring). Emits each
    surviving node with its degree inside the SURVIVOR-induced
    subgraph."""
    base = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    # peel over a SHRINKING materialized edge set: each round's
    # semi-joins run against the survivor-induced edges of the
    # previous round (edge sets only shrink under peeling), and the
    # final survivor degree is a plain count over the last edge set —
    # no extra induction pass. The truncation doubles as the
    # materialization of each round's edge set.
    edges = _truncate(
        base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    for _ in range(rounds):
        deg = edges.groupBy("u").agg(F.count("*").alias("c"))
        alive = deg.filter(F.col("c") >= k).select("u")
        edges = _truncate(
            edges.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
        )
    return edges.groupBy("u").agg(F.count("*").alias("c")).select(
        F.col("u").alias("node"), F.col("c").cast("bigint").alias("core_degree")
    )


def kcore_oracle_sql(
    cand_cte: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> str:
    """Unrolled DuckDB replay of :func:`kcore_membership` over a
    ``cand(u, v)`` edge CTE — one (degree, survivor) CTE pair per
    peel round, then the final survivor-induced degree.

    MATERIALIZED on sym and every a{i}: DuckDB inlines plain CTEs, and
    ``sym`` (the expensive banded self-join) is referenced by EVERY
    round — un-materialized, the oracle recomputes the banding once
    per round and goes from seconds to minutes at sf0.1 (the HITS
    oracle's exact lesson, graph.py::hits_oracle_sql)."""
    parts = [
        f"""{cand_cte}, sym AS MATERIALIZED (
            SELECT u, v FROM cand UNION ALL SELECT v, u FROM cand
        ), a0 AS MATERIALIZED (
            SELECT DISTINCT u AS node FROM sym
        )"""
    ]
    for i in range(rounds):
        parts.append(f""", d{i + 1} AS (
            SELECT e.u AS node, count(*) AS c
            FROM sym e
            JOIN a{i} x ON e.u = x.node
            JOIN a{i} y ON e.v = y.node
            GROUP BY e.u
        ), a{i + 1} AS MATERIALIZED (
            SELECT node FROM d{i + 1} WHERE c >= {k}
        )""")
    return (
        "WITH "
        + "".join(parts)
        + f""", dfin AS (
            SELECT e.u AS node, count(*) AS c
            FROM sym e
            JOIN a{rounds} x ON e.u = x.node
            JOIN a{rounds} y ON e.v = y.node
            GROUP BY e.u
        )
        SELECT node, CAST(c AS BIGINT) AS core_degree FROM dfin
        """
    )


def pagerank_oracle_sql(
    edges_cte: str, iters: int = PR_ITERS, damping_pct: int = PR_DAMPING_PCT
) -> str:
    """DuckDB mirror: the identical integer recurrence UNROLLED into
    one CTE per iteration (r1..rN) — no recursive-CTE aggregate
    restrictions, and the unrolled chain is exactly the Spark loop."""
    teleport = PR_SCALE * (100 - damping_pct) // 100
    steps = [
        f"""r0 AS (
            SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes
        )"""
    ]
    for i in range(1, iters + 1):
        steps.append(
            f"""r{i} AS (
            SELECT n.node,
                   CAST({teleport} + ({damping_pct} * coalesce(s.s, 0)) // 100
                        AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.r // d.deg) AS s
                FROM edges e
                JOIN r{i - 1} r ON e.src = r.node
                JOIN deg d ON e.src = d.src
                GROUP BY e.dst
            ) s ON n.node = s.node
        )"""
        )
    chain = ",\n        ".join(steps)
    return f"""
        WITH {edges_cte}, nodes AS (
            SELECT src AS node FROM edges
            UNION
            SELECT dst FROM edges
        ), deg AS (
            SELECT src, count(*) AS deg FROM edges GROUP BY src
        ),
        {chain}
        SELECT node, r FROM r{iters}
        """


def pagerank_dangling_oracle_sql(
    edges_cte: str, iters: int = PR_ITERS, damping_pct: int = PR_DAMPING_PCT
) -> str:
    """DuckDB mirror of :func:`pagerank_fixed_point` with
    ``redistribute_dangling=True``: the identical integer recurrence
    unrolled one CTE per iteration, each sweep's dangling mass a 1-row
    cross-joined aggregate over the sink set — floor points identical
    to the Spark expression (``dm // n`` before the damping floor).
    The base relations are ``MATERIALIZED`` CTEs: each of the
    ``iters`` unrolled steps references edges/deg/sinks/nn, and
    letting DuckDB inline them re-opens the parquet per reference —
    10 sweeps × 4 scans trips the process fd limit. Each ``r{i}`` is
    materialized too: it reads ``r{i-1}`` twice (rank flow and
    dangling mass), so an inlined chain doubles in size per sweep and
    runs DuckDB out of memory."""
    teleport = PR_SCALE * (100 - damping_pct) // 100
    steps = [
        f"""r0 AS (
            SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes
        )"""
    ]
    for i in range(1, iters + 1):
        steps.append(
            f"""r{i} AS MATERIALIZED (
            SELECT n.node,
                   CAST({teleport} + ({damping_pct} *
                        (coalesce(s.s, 0) + dm.dm // nn.n)) // 100
                        AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.r // d.deg) AS s
                FROM edges_m e
                JOIN r{i - 1} r ON e.src = r.node
                JOIN deg d ON e.src = d.src
                GROUP BY e.dst
            ) s ON n.node = s.node
            CROSS JOIN (
                SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dm
                FROM sinks k JOIN r{i - 1} r ON k.node = r.node
            ) dm
            CROSS JOIN nn
        )"""
        )
    chain = ",\n        ".join(steps)
    return f"""
        WITH {edges_cte}, edges_m AS MATERIALIZED (
            SELECT src, dst FROM edges
        ), nodes AS MATERIALIZED (
            SELECT src AS node FROM edges_m
            UNION
            SELECT dst FROM edges_m
        ), deg AS MATERIALIZED (
            SELECT src, count(*) AS deg FROM edges_m GROUP BY src
        ), sinks AS MATERIALIZED (
            SELECT n.node FROM nodes n
            LEFT JOIN deg d ON n.node = d.src
            WHERE d.src IS NULL
        ), nn AS MATERIALIZED (
            SELECT count(*) AS n FROM nodes
        ),
        {chain}
        SELECT node, r FROM r{iters}
        """


def pagerank_weighted_oracle_sql(
    edges_cte: str, iters: int = PR_ITERS, damping_pct: int = PR_DAMPING_PCT
) -> str:
    """Unrolled DuckDB replay of :func:`pagerank_fixed_point` over a
    weighted ``edges(src, dst, w)`` CTE — per-edge floor ``(w·r) // W`` exactly
    as the Spark expression."""
    teleport = PR_SCALE * (100 - damping_pct) // 100
    steps = [
        f"""r0 AS (
            SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes
        )"""
    ]
    for i in range(1, iters + 1):
        steps.append(
            f"""r{i} AS (
            SELECT n.node,
                   CAST({teleport} + ({damping_pct} * coalesce(s.s, 0)) // 100
                        AS BIGINT) AS r
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum((e.w * r.r) // d.wtot) AS s
                FROM edges e
                JOIN r{i - 1} r ON e.src = r.node
                JOIN wdeg d ON e.src = d.src
                GROUP BY e.dst
            ) s ON n.node = s.node
        )"""
        )
    chain = ",\n        ".join(steps)
    return f"""
        WITH {edges_cte}, nodes AS (
            SELECT src AS node FROM edges
            UNION
            SELECT dst FROM edges
        ), wdeg AS (
            SELECT src, sum(w) AS wtot FROM edges GROUP BY src
        ),
        {chain}
        SELECT node, r FROM r{iters}
        """


HITS_ITERS = 4
HITS_SCALE = 1_000_000


def hits_scores(
    edges: DataFrame, iters: int = HITS_ITERS
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over directed
    (src → dst) edges in INTEGER fixed point: each sweep is
    ``a(d) = Σ h(src)`` then ``h(s) = Σ a(dst)``, each followed by
    max-normalization ``x' = (x·SCALE) div max(x)`` — an integer floor
    against a deterministic scalar, so the whole iteration is
    bit-exact cross-engine (the L2 normalization of the textbook needs
    sqrt of a SUM and a per-element divide — replacing it with
    max-normalization preserves the ranking fixed point and keeps
    every intermediate int64: h ≤ SCALE ⇒ a ≤ deg·SCALE ≤ ~10^13).

    Plan: per sweep, one edge-sized join + dst-keyed sum, the max as a
    1-row broadcast crossJoin (in-plan, metadata-sized — no driver
    collect), then the mirrored pass for hubs; per-sweep truncation
    like the PageRank/CC engines. Output: one row per node with its
    role-appropriate score (hub for sources, authority for
    destinations); an empty edge list gives an empty frame."""
    with operator_caches():
        e = tracked_persist(edges.select("src", "dst"), _DESER)
        h = (
            e.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.lit(HITS_SCALE).cast("long").alias("x"))
        )
        a = None
        for _ in range(iters):
            # the scalar maxima travel the metadata plane (a 1-row
            # first() off a checkpointed table, embedded as a literal) —
            # the same discipline as ordered_prefix_sum's bucket bases; a
            # broadcast crossJoin of the aggregate would re-plan the
            # whole lineage inside each broadcast-exchange thread
            raw_a = _truncate(
                e.join(h, e.src == h.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("x").alias("raw"))
            )
            amx = raw_a.agg(F.max("raw")).first()[0]
            if amx is None:  # no edges: the max of an empty aggregate
                return raw_a.select(
                    "node", F.lit("hub").alias("role"), F.col("raw").alias("score")
                )
            a = raw_a.select(
                "node", F.expr(f"(raw * {HITS_SCALE}) div {amx}").alias("x")
            )
            raw_h = _truncate(
                e.join(a, e.dst == a.node)
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("x").alias("raw"))
            )
            hmx = raw_h.agg(F.max("raw")).first()[0]
            h = raw_h.select(
                "node", F.expr(f"(raw * {HITS_SCALE}) div {hmx}").alias("x")
            )
    return h.select(
        "node", F.lit("hub").alias("role"), F.col("x").alias("score")
    ).union(
        a.select("node", F.lit("authority").alias("role"), F.col("x").alias("score"))
    )


def hits_oracle_sql(edges_cte: str, iters: int = HITS_ITERS) -> str:
    """Unrolled DuckDB replay of :func:`hits_scores` — one (raw-a,
    norm-a, raw-h, norm-h) CTE quartet per sweep, identical integer
    floors against the identical scalar maxima. Every step CTE is
    MATERIALIZED: DuckDB inlines plain CTEs, and each quartet
    references its predecessor twice (main branch + the scalar max
    subquery), so inlining re-evaluates the chain 2^(2·iters) times —
    materialization keeps the replay linear like the Spark loop."""
    steps = [
        f"""h0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, CAST({HITS_SCALE} AS BIGINT) AS x
            FROM edges
        )"""
    ]
    for i in range(1, iters + 1):
        steps.append(f""", ra{i} AS MATERIALIZED (
            SELECT e.dst AS node, sum(h.x) AS raw
            FROM edges e JOIN h{i - 1} h ON e.src = h.node
            GROUP BY 1
        ), a{i} AS MATERIALIZED (
            SELECT node,
                   (raw * {HITS_SCALE}) // (SELECT max(raw) FROM ra{i}) AS x
            FROM ra{i}
        ), rh{i} AS MATERIALIZED (
            SELECT e.src AS node, sum(a.x) AS raw
            FROM edges e JOIN a{i} a ON e.dst = a.node
            GROUP BY 1
        ), h{i} AS MATERIALIZED (
            SELECT node,
                   (raw * {HITS_SCALE}) // (SELECT max(raw) FROM rh{i}) AS x
            FROM rh{i}
        )""")
    chain = "".join(steps)
    return f"""
        WITH {edges_cte}, {chain}
        SELECT node, 'hub' AS role, CAST(x AS BIGINT) AS score FROM h{iters}
        UNION ALL
        SELECT node, 'authority' AS role, CAST(x AS BIGINT) AS score
        FROM a{iters}
        """


def register(reg) -> None:
    from pyspark.sql import SparkSession

    from kafka_topic_dumper_spark.sources.tables import load_table

    edges_cte = """edges AS (
            SELECT src, dst FROM (
                SELECT DISTINCT o.o_custkey * 2 AS src,
                       l.l_suppkey * 2 + 1 AS dst
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            )
            UNION ALL
            SELECT dst, src FROM (
                SELECT DISTINCT o.o_custkey * 2 AS src,
                       l.l_suppkey * 2 + 1 AS dst
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            )
        )"""

    from kafka_topic_dumper_spark.operators.dedup import (
        minhash_banded_cte_sql,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    @reg(
        "graph_triangle_counts",
        f"""
        WITH {minhash_banded_cte_sql()}, cand AS (
            SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ), tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM cand e1
            JOIN cand e2 ON e2.u = e1.v
            JOIN cand e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        GROUP BY node
        """,
    )
    def graph_triangle_counts(spark: SparkSession, sf_dir: str):
        """Per-doc triangle participation in the MinHash-LSH candidate
        graph (round 8) — the local-clustering signal that separates
        tight duplicate cliques from chance bucket collisions. Spark
        side uses the degree-oriented O(m^1.5) wedge join; the oracle
        is the naive id-ordered triple self-join, so the hash-match
        proves the orientation scheme counts every triangle exactly
        once."""
        docs = load_table(spark, sf_dir, "documents")
        return triangle_counts(minhash_lsh_candidates(minhash_signatures(docs)))

    _cand_cte = f"""{minhash_banded_cte_sql()}, cand AS (
            SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        )"""

    @reg("graph_cotrading_projection", cotrading_oracle_sql())
    def graph_cotrading_projection(spark: SparkSession, sf_dir: str):
        """Top-k-accounts bipartite projection (round 9): customer
        pairs weighted by how many suppliers rank both among their
        16 strongest accounts — quadratic-bomb-proof by the per-
        supplier cap, the scalable 'customers like you' edge list."""
        return cotrading_projection(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
        )

    @reg("graph_kcore", kcore_oracle_sql(_cand_cte))
    def graph_kcore(spark: SparkSession, sf_dir: str):
        """3-core of the MinHash-LSH candidate graph (round 9) by
        fixed-round confluent peeling: chance-collision hubs peel
        away, genuine duplicate cliques survive with their
        core-induced degree. Bit-exact vs the unrolled DuckDB peel
        chain."""
        docs = load_table(spark, sf_dir, "documents")
        return kcore_membership(
            minhash_lsh_candidates(minhash_signatures(docs))
        )

    @reg("graph_label_propagation", lpa_oracle_sql(_cand_cte))
    def graph_label_propagation(spark: SparkSession, sf_dir: str):
        """Deterministic 4-sweep synchronous label-propagation
        communities over the MinHash-LSH candidate graph (round 8):
        finer than connected components — dense near-dup cliques keep
        their own label across a sparse bridge. Bit-exact vs the
        unrolled DuckDB sweep chain."""
        docs = load_table(spark, sf_dir, "documents")
        return label_propagation(
            minhash_lsh_candidates(minhash_signatures(docs))
        )

    @reg(
        "graph_clustering_coefficient",
        f"""
        WITH {minhash_banded_cte_sql()}, cand AS (
            SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ), deg AS (
            SELECT node, count(*) AS degree FROM (
                SELECT u AS node FROM cand
                UNION ALL SELECT v FROM cand
            ) GROUP BY node HAVING count(*) >= 2
        ), tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM cand e1
            JOIN cand e2 ON e2.u = e1.v
            JOIN cand e3 ON e3.u = e1.u AND e3.v = e2.v
        ), tcnt AS (
            SELECT node, count(*) AS n_triangles
            FROM (SELECT unnest([x, y, z]) AS node FROM tri)
            GROUP BY node
        )
        SELECT d.node,
               CAST(d.degree AS BIGINT) AS degree,
               CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
               CAST((200 * coalesce(t.n_triangles, 0))
                    // (d.degree * (d.degree - 1)) AS INTEGER) AS cc_pct
        FROM deg d LEFT JOIN tcnt t ON d.node = t.node
        """,
    )
    def graph_clustering_coefficient(spark: SparkSession, sf_dir: str):
        """Local clustering coefficient over the MinHash-LSH candidate
        graph (round 8): integer-percent neighborhood density per node
        — near-1 for genuine duplicate cliques, near-0 for chance
        bucket collisions around a hub."""
        docs = load_table(spark, sf_dir, "documents")
        return clustering_coefficients(
            minhash_lsh_candidates(minhash_signatures(docs))
        )

    weighted_edges_cte = """pairs AS (
            SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s,
                   count(DISTINCT o.o_orderkey) AS w
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ), edges AS (
            SELECT c AS src, s AS dst, w FROM pairs
            UNION ALL
            SELECT s, c, w FROM pairs
        )"""

    @reg(
        "graph_pagerank_weighted",
        pagerank_weighted_oracle_sql(weighted_edges_cte),
    )
    def graph_pagerank_weighted(spark: SparkSession, sf_dir: str):
        """WEIGHTED PageRank over the trading graph (round 8): edge
        weight = distinct orders between the pair, so rank mass flows
        with trading INTENSITY, not mere adjacency — repeat business
        outranks one-off breadth. Bit-exact vs the unrolled weighted
        recurrence."""
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        pairs = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(
                (F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"),
            )
            .agg(F.countDistinct("o_orderkey").alias("w"))
        )
        edges = pairs.select(
            F.col("c").alias("src"), F.col("s").alias("dst"), "w"
        ).union(
            pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w")
        )
        return pagerank_fixed_point(edges)

    hits_edges_cte = """edges AS (
            SELECT DISTINCT o.o_custkey * 2 AS src,
                   l.l_suppkey * 2 + 1 AS dst
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )"""

    @reg("graph_hits_scores", hits_oracle_sql(hits_edges_cte))
    def graph_hits_scores(spark: SparkSession, sf_dir: str):
        """HITS over the directed customer→supplier purchase graph
        (round 8): customers scored as HUBS (breadth of well-connected
        suppliers they buy from), suppliers as AUTHORITIES (weight of
        well-connected buyers) — the complementary centrality to
        PageRank. Integer fixed point with max-normalization,
        bit-exact vs the unrolled quartet chain."""
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        edges = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        return hits_scores(edges)

    @reg(
        "graph_pagerank_dangling",
        pagerank_dangling_oracle_sql(hits_edges_cte),
    )
    def graph_pagerank_dangling(spark: SparkSession, sf_dir: str):
        """PageRank WITH dangling-mass redistribution over the raw
        DIRECTED customer→supplier purchase graph (round 11): every
        supplier is a sink (no out-edges), so without the term ~half
        the graph leaks its rank each sweep and supplier ranks
        degenerate toward teleport. Exercises the general-directed
        code path the symmetrized callers never hit; bit-exact vs the
        unrolled DuckDB recurrence with the per-sweep 1-row dangling
        aggregate."""
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        edges = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        return pagerank_fixed_point(edges, redistribute_dangling=True)

    @reg("graph_pagerank_supplier_network", pagerank_oracle_sql(edges_cte))
    def graph_pagerank_supplier_network(spark: SparkSession, sf_dir: str):
        """PageRank over the symmetrized customer↔supplier bipartite
        graph (an edge per distinct trading pair from lineitem⋈orders):
        10 integer fixed-point iterations, bit-exact vs the unrolled
        DuckDB recurrence. The graph-centrality curation primitive
        (domain authority weighting, influence-weighted sampling)."""
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        pairs = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("c"),
                (F.col("l_suppkey") * 2 + 1).alias("s"),
            )
            .distinct()
        )
        edges = pairs.select(
            F.col("c").alias("src"), F.col("s").alias("dst")
        ).union(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        return pagerank_fixed_point(edges)
