"""Edge-case robustness: operators must degrade to empty/zero results
on degenerate inputs (empty tables, sub-shingle-length docs, single
events) instead of erroring — the inputs a 100 TB corpus inevitably
contains."""

from __future__ import annotations

import pytest

from kafka_topic_dumper_spark.operators import dedup, similarity, text
from kafka_topic_dumper_spark.operators.analytics import sessionize
from kafka_topic_dumper_spark.operators.relational import salted_join

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS_SCHEMA = (
    "event_id long, user_id long, ts timestamp_ntz, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], schema=DOCS_SCHEMA)


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (1, "ab", "en", "s", 2),  # shorter than any shingle/k-gram
            (2, "one two", "en", "s", 7),  # 2 tokens — no 3-gram shingles
            (3, "x", "en", "s", 1),  # single token
        ],
        schema=DOCS_SCHEMA,
    )


def test_dedup_ops_on_empty_corpus(spark, empty_docs):
    assert dedup.exact_dedup(empty_docs).count() == 0
    assert dedup.minhash_lsh_dedup(empty_docs).count() == 0
    assert dedup.simhash_near_pairs(empty_docs).count() == 0
    assert dedup.canonical_mapping(empty_docs).count() == 0


def test_text_ops_on_empty_corpus(spark, empty_docs):
    assert text.winnowing_fingerprints(empty_docs).count() == 0
    assert text.token_doc_frequency(empty_docs).count() == 0
    assert text.repetition_quality(empty_docs).count() == 0
    assert text.lang_corpus_stats(empty_docs).count() == 0


def test_short_docs_produce_no_shingles_but_valid_rows(spark, tiny_docs):
    # no 3-gram shingles → no signatures → no candidate pairs; no error
    assert dedup.minhash_lsh_dedup(tiny_docs).count() == 0
    # winnowing: docs shorter than k+w-1 chars yield no fingerprints,
    # longer ones yield >=1; all without failing
    fp = text.winnowing_fingerprints(tiny_docs)
    assert fp.filter(fp.doc_id == 3).count() == 0
    # repetition metrics defined even with zero 2-grams
    rows = {r.doc_id: r for r in text.repetition_quality(tiny_docs).collect()}
    assert rows[3].dup_2gram_frac == 0.0
    assert rows[2].dup_2gram_frac == 0.0
    assert rows[3].mean_word_len == 1.0


def test_bigram_lm_short_and_empty_docs(spark, empty_docs, tiny_docs):
    # empty corpus: model build over zero bigrams must not divide by
    # zero or error — just an empty result
    assert text.bigram_lm_quality(empty_docs).count() == 0
    # single-token and empty-ish docs emit no bigrams and are absent
    # from the output (same inner-join semantics as the DuckDB oracle);
    # the 2-token doc scores exactly one bigram
    rows = {r.doc_id: r for r in text.bigram_lm_quality(tiny_docs).collect()}
    assert 3 not in rows
    assert rows[2].n_bigrams == 1
    # degenerate model: "two" is the ONLY successor ever observed, so
    # smoothed P("two"|"one") = (1+1)/(1+1) = 1 → exactly 0 bits
    assert rows[2].bits_per_bigram == 0.0
    assert rows[2].ppl_proxy == 1.0


def test_quantize_int8_zero_vector_and_saturation(spark):
    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),          # all-zero: scale 0 branch
            (2, [127.0, -127.0, 1.0]),     # extremes saturate exactly
            (3, [1.0, 0.5, -0.25]),
        ],
        schema="vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in similarity.quantize_int8(emb).collect()}
    assert rows[1].scale == 0.0
    assert rows[1].n_saturated == 0
    assert rows[1].mean_sq_step_err == 0.0
    assert rows[2].n_saturated == 2  # the two ±max components hit ±127
    assert rows[3].max_abs_step_err <= 0.5  # residuals bounded by half a step


def test_sessionize_single_event_and_empty(spark):
    empty = spark.createDataFrame([], schema=EVENTS_SCHEMA)
    assert sessionize(empty).count() == 0
    import datetime

    one = spark.createDataFrame(
        [(1, 7, datetime.datetime(2026, 1, 1), "purchase", 5.0, "{}")],
        schema=EVENTS_SCHEMA,
    )
    rows = sessionize(one).collect()
    assert len(rows) == 1
    assert rows[0].n_events == 1 and rows[0].converted == 1


def test_salted_join_empty_sides(spark):
    big = spark.createDataFrame([(1, "a")], schema="k long, v string")
    empty = spark.createDataFrame([], schema="k2 long, w string")
    assert salted_join(big, empty, "k", "k2").count() == 0
    assert salted_join(empty.selectExpr("k2 as k", "w as v"), big.selectExpr("k as k2", "v as w"), "k", "k2").count() == 0


def test_decimal_money_flag_survives_int64_overflow_scale(spark, monkeypatch):
    """q1's docstring promise made airtight: at ~10^8 rows per group
    the 3-factor charge sum exceeds int64; the DECIMAL(38) switch must
    aggregate it exactly. Adversarial stand-in: 100k max-price rows in
    ONE group — per-row term 1e14, true sum 1.0201e19 > 2^63-1."""
    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.functions import exact_money

    df = spark.range(100_000).select(
        F.lit(999_999_999.99).alias("price"),
        F.lit(0.0).alias("disc"),
        F.lit(0.0).alias("tax"),
    )
    per_row = round(999_999_999.99 * 100) * 100 * 100
    expected = per_row * 100_000
    assert expected > 2**63 - 1  # the scenario actually overflows int64

    monkeypatch.setenv("SPARK_GRAFT_MONEY_DECIMAL", "1")
    got = (
        df.agg(
            F.sum(
                exact_money.cents(F.col("price"))
                * exact_money.pct_units(1 - F.col("disc"))
                * exact_money.pct_units(1 + F.col("tax"))
            ).alias("s")
        ).collect()[0]["s"]
    )
    assert int(got) == expected


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir configured, label propagation must take
    the RELIABLE checkpoint branch (cluster-fault-tolerant lineage
    truncation) and produce identical components. The dir stays set
    for the session afterwards — both branches tolerate that."""
    from kafka_topic_dumper_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # precondition: local branch so far
    want = {
        (r.node, r.component_id)
        for r in connected_components(edges, "src", "dst").collect()
    }
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    assert sc.getCheckpointDir() is not None
    got = {
        (r.node, r.component_id)
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == want
    import os
    assert os.listdir(str(tmp_path / "ckpt"))  # reliable path actually wrote


def test_connected_components_basic(spark):
    from kafka_topic_dumper_spark.operators.graph import connected_components

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        ["src", "dst"],
    )
    got = {
        (r.node, r.component_id)
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_diameter_budget(spark):
    import pytest as _pytest

    from kafka_topic_dumper_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    labels = connected_components(chain, "src", "dst").collect()
    assert {r.component_id for r in labels} == {0}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, "src", "dst", max_iter=2)


def test_connected_components_matches_union_find(spark):
    """Property: CC labels equal an independent union-find's min-node
    labels on random graphs (self-loops, dups, multi-component)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kafka_topic_dumper_spark.operators.graph import connected_components

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(st.integers(0, 24), st.integers(0, 24)),
            min_size=1,
            max_size=40,
        )
    )
    def run(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        expected = {
            n: min(members) for members in comp.values() for n in members
        }
        got = {
            r.node: r.component_id
            for r in connected_components(
                spark.createDataFrame(edges, ["src", "dst"]), "src", "dst"
            ).collect()
        }
        assert got == expected

    run()


def test_tokenize_pack_ids_null_and_empty_text(spark, empty_docs):
    """The capstone on degenerate corpora: NULL text contributes no
    cells (explode of NULL is empty on both engines), an empty corpus
    yields the empty schema, and non-null docs still pack densely."""
    from kafka_topic_dumper_spark.operators.packing import tokenize_pack_ids

    assert tokenize_pack_ids(empty_docs, seq_len=8, buckets=2).count() == 0

    docs = spark.createDataFrame(
        [
            (1, None, "en", "s", 0),
            (2, "a b c", "en", "s", 5),
            (3, "", "en", "s", 0),  # split('') -> [''] : one empty token
            (4, "d e", "en", "s", 3),
        ],
        schema=DOCS_SCHEMA,
    )
    cells = tokenize_pack_ids(docs, seq_len=4, buckets=2).collect()
    by_doc = {}
    for c in cells:
        by_doc.setdefault(c.doc_id, []).append(c)
    assert 1 not in by_doc  # NULL text: no cells
    assert len(by_doc[2]) == 3 and len(by_doc[3]) == 1 and len(by_doc[4]) == 2
    # dense global positions: 6 tokens -> seqs 0 (4 cells) and 1 (2)
    per_seq = {}
    for c in cells:
        per_seq.setdefault(c.seq_id, set()).add(c.pos_in_seq)
    assert per_seq == {0: {0, 1, 2, 3}, 1: {0, 1}}


def test_bpe_merges_on_empty_and_tiny_corpus(spark, empty_docs, tiny_docs):
    from kafka_topic_dumper_spark.operators.bpe import (
        learn_bpe_merges,
        train_and_encode,
    )

    assert learn_bpe_merges(empty_docs).count() == 0
    assert train_and_encode(empty_docs).count() == 0
    merges = learn_bpe_merges(tiny_docs).collect()
    # "ab" and the words of "one two" supply at least one 2-char pair
    assert len(merges) >= 1
    enc = {r.doc_id: r for r in train_and_encode(tiny_docs).collect()}
    assert 3 not in enc  # single-char doc has no length>=2 words
    assert enc[1].n_words == 1


def test_corpus_drift_empty_snapshot_yields_null_shares(spark, empty_docs):
    """mod=1 puts every doc in snapshot A; snapshot B's total is 0 and
    shares must be NULL (engine-consistent), never inf/nan — and the
    empty corpus yields no rows at all."""
    from kafka_topic_dumper_spark.operators.text import corpus_drift

    assert corpus_drift(empty_docs).count() == 0
    docs = spark.createDataFrame(
        [(2, "a b c", "en", "s", 5), (4, "d e", "en", "s", 3)],
        schema=DOCS_SCHEMA,
    )
    rows = corpus_drift(docs, mod=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.toks_b == 0 and r.share_b is None and r.share_drift is None
    assert r.share_a == 1.0


def test_nfc_normalize_null_empty_and_idempotent(spark):
    """The NFC kernel: NULL→NULL (the SQL contract), empty→empty,
    decomposed sequences compose, and NFC is idempotent."""
    from kafka_topic_dumper_spark.operators.text import nfc_normalize_strings

    df = spark.createDataFrame(
        [(1, "cafe\u0301"), (2, None), (3, ""), (4, "caf\u00e9")],
        "doc_id long, raw string",
    )
    got = {r.doc_id: r.nfc for r in nfc_normalize_strings(df, "raw").collect()}
    assert got[1] == "caf\u00e9"  # composed
    assert got[2] is None
    assert got[3] == ""
    assert got[4] == "caf\u00e9"
    # idempotent: normalizing the normalized column changes nothing
    again = nfc_normalize_strings(
        spark.createDataFrame(
            [(k, v) for k, v in got.items()], "doc_id long, raw string"
        ),
        "raw",
    )
    assert {r.doc_id: r.nfc for r in again.collect()} == got


def test_asof_tolerance_discards_stale_matches(spark):
    """The tolerance form equals the plain as-of join where the match
    is fresh, and nulls BOTH match columns where the purchase is older
    than the bound."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import (
        asof_last_purchase_tolerance,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, 7, "purchase", t0),
        (2, 7, "click", t0 + dt.timedelta(minutes=44)),   # fresh: 44 < 45
        (3, 7, "click", t0 + dt.timedelta(minutes=46)),   # stale: 46 > 45
        (4, 8, "click", t0),                              # no purchase at all
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    got = {r.event_id: (r.last_purchase_event_id, r.last_purchase_ts)
           for r in asof_last_purchase_tolerance(df).collect()}
    assert got[2] == (1, t0)
    assert got[3] == (None, None)
    assert got[4] == (None, None)
    # the purchase matches itself at lag 0
    assert got[1] == (1, t0)


def test_rolling_anomaly_flags_spike_only(spark):
    """A user with a flat history and one spike: only the spike row is
    flagged; rows before min_window never appear; the integer test
    matches a direct float z-score recomputation."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import rolling_anomaly

    t0 = dt.datetime(2024, 3, 1)
    vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.1, 500.0, 10.0]
    rows = [
        (i + 1, 5, "click", t0 + dt.timedelta(minutes=i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string,"
        " ts timestamp_ntz, value double",
    )
    got = {r.event_id: r.is_anomaly for r in rolling_anomaly(df).collect()}
    # events 1..8 have n_window < 8 → filtered out
    assert set(got) == {9, 10, 11}
    assert got[9] is False
    assert got[10] is True            # the spike
    # post-spike: the spike inflates the window variance, so a normal
    # 10.0 must NOT be flagged — recomputed directly from the frame
    import statistics
    win = [int(v * 100) for v in vals[1:10]]   # 20-preceding frame, rows 2..10
    mu = statistics.mean(win)
    var = statistics.pvariance(win)
    assert ((1000 - mu) ** 2 > 9 * var) == got[11] is False


def test_cusum_window_identity_matches_sequential_recursion(spark):
    """The operator's core claim: the window-algebra form
    (P_t − min prefix / max prefix − P'_t) equals the textbook
    sequential recursion C_t = max(0, C_{t-1} ± (x_t − μ₀ ∓ κ)),
    replayed in pure Python — and a planted upward drift raises the
    flag while the stable prefix stays quiet."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import (
        cusum_changepoints,
    )

    t0 = dt.datetime(2024, 4, 1)
    # stable around 50.00, then a sustained +200.00 shift
    vals = [50.0, 51.0, 49.0, 50.5, 49.5, 50.0] + [250.0] * 6
    rows = [
        (i + 1, 3, "view", v, t0 + dt.timedelta(minutes=i))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string,"
        " value double, ts timestamp_ntz",
    )
    got = {
        r.event_id: (r.cusum_pos, r.cusum_neg, r.drift_flag)
        for r in cusum_changepoints(df, slack_c=2500, h_c=20000).collect()
    }

    import math
    vc = [math.floor(v * 100) for v in vals]
    mu0 = math.floor(sum(vc) / len(vc))
    cp = cn = 0
    for i, x in enumerate(vc):
        cp = max(0, cp + x - mu0 - 2500)
        cn = max(0, cn - (x - mu0) - 2500)
        assert got[i + 1] == (cp, cn, cp > 20000 or cn > 20000), i
    # the UPWARD statistic stays at zero through the stable prefix
    # (every pre-shift step is below μ₀) and fires after the shift
    assert got[6][0] == 0 and got[12][0] > 20000 and got[12][2]


def test_ewma_spike_flag_fires_on_spike_and_matches_replay(spark):
    """The round-10 advisor finding made concrete: the smoothed level
    must EXCLUDE the current row, else v·den > 2·num is algebraically
    unsatisfiable for v ≥ 0. A flat history with one 10× spike must
    flag exactly the spike row; num/den must match a pure-Python
    replay of the lag-1..D dyadic sum; the first row (den = 0) never
    flags."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import (
        EWMA_DEPTH,
        ewma_smoothing,
    )

    t0 = dt.datetime(2024, 5, 1)
    vals = [10.0] * 6 + [100.0] + [10.0] * 2
    rows = [
        (i + 1, 7, "click", t0 + dt.timedelta(minutes=i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string,"
        " ts timestamp_ntz, value double",
    )
    got = {
        r.event_id: (r.ewma_num, r.ewma_den, r.spike_flag)
        for r in ewma_smoothing(df).collect()
    }

    vc = [int(v * 100) for v in vals]
    for t in range(len(vc)):
        num = sum(
            vc[t - i] * (1 << (EWMA_DEPTH - i))
            for i in range(1, min(t, EWMA_DEPTH) + 1)
        )
        den = sum(
            1 << (EWMA_DEPTH - i)
            for i in range(1, min(t, EWMA_DEPTH) + 1)
        )
        assert got[t + 1] == (num, den, vc[t] * den > 2 * num), t
    # the spike row (and ONLY it) fires; the first row (den=0) is quiet
    assert [e for e, (_, _, f) in sorted(got.items()) if f] == [7]
    assert got[1][1] == 0 and got[1][2] is False


def test_pagerank_dangling_matches_replay_and_feeds_sources(spark):
    """Dangling-mass redistribution on a 3-node graph with a sink:
    the integer recurrence (dm // n folded in before the damping
    floor) matches a pure-Python replay exactly, and a source node
    with no in-edges — stuck at bare teleport without the term —
    strictly gains rank from the redistributed sink mass."""
    from kafka_topic_dumper_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    with_d = {
        r.node: r.r
        for r in pagerank_fixed_point(
            edges, iters=4, redistribute_dangling=True
        ).collect()
    }
    plain = {
        r.node: r.r
        for r in pagerank_fixed_point(edges, iters=4).collect()
    }

    deg = {1: 2, 2: 1}
    teleport = PR_SCALE * 15 // 100
    r = {n: PR_SCALE for n in (1, 2, 3)}
    for _ in range(4):
        s = {2: r[1] // 2, 3: r[1] // 2 + r[2] // 1}
        dm = r[3]                      # node 3 is the sink
        r = {
            n: teleport + (85 * (s.get(n, 0) + dm // 3)) // 100
            for n in (1, 2, 3)
        }
    assert with_d == r
    # node 1 has no in-edges: bare teleport without the term
    assert plain[1] == teleport
    assert with_d[1] > plain[1]


def test_kneser_ney_normalizes_and_matches_python_replay(spark):
    """KN invariant: per context v, Σ_w P(w|v) = 1 exactly (discount
    mass fully redistributed through the continuation distribution) —
    verified from a pure-Python count replay; per-doc scores match
    the same replay."""
    import math
    from collections import Counter, defaultdict

    from kafka_topic_dumper_spark.operators.text import kneser_ney_quality

    texts = {
        1: "the cat sat on the mat",
        2: "the dog sat on the log",
        3: "a cat and a dog",
    }
    docs = spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.kn_bits_per_bigram)
        for r in kneser_ney_quality(docs).collect()
    }

    pc: Counter = Counter()
    for t in texts.values():
        toks = t.split()
        for a, b in zip(toks, toks[1:]):
            pc[(a, b)] += 1
    cp: Counter = Counter()
    fwd: Counter = Counter()
    bwd: Counter = Counter()
    for (a, b), c in pc.items():
        cp[a] += c
        fwd[a] += 1
        bwd[b] += 1
    n_pairs = len(pc)
    D = 0.75

    def p(a, b):
        return max(pc[(a, b)] - D, 0.0) / cp[a] + (D * fwd[a] / cp[a]) * (
            bwd[b] / n_pairs
        )

    # normalization over the continuation vocabulary
    for v in cp:
        total = sum(p(v, w) for w in bwd)
        assert abs(total - 1.0) < 1e-12, v

    for d, t in texts.items():
        toks = t.split()
        nlps = [-math.log2(p(a, b)) for a, b in zip(toks, toks[1:])]
        assert got[d][0] == len(nlps)
        assert got[d][1] == round(sum(nlps) / len(nlps), 4), d


def test_asof_nearest_tie_and_direction_rules(spark):
    """Nearest as-of: backward wins exact ties, purchases match
    themselves at gap 0, one-sided users fall back to the available
    side, purchase-free users get nulls."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import (
        asof_nearest_purchase,
    )

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 7, "purchase", t0),
        (2, 7, "click", t0 + 3 * m),     # equidistant: back @3m vs fwd @3m
        (3, 7, "purchase", t0 + 6 * m),
        (4, 7, "click", t0 + 10 * m),    # only backward (purchase @6m)
        (5, 8, "click", t0),             # only forward for user 8
        (6, 8, "purchase", t0 + 2 * m),
        (7, 9, "click", t0),             # no purchase at all
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    got = {
        r.event_id: (r.nearest_purchase_event_id, r.gap_us)
        for r in asof_nearest_purchase(df).collect()
    }
    assert got[1] == (1, 0)                       # self-match
    assert got[2] == (1, 3 * 60_000_000)          # tie → backward
    assert got[4] == (3, 4 * 60_000_000)
    assert got[5] == (6, 2 * 60_000_000)          # forward fallback
    assert got[7] == (None, None)


def test_source_entropy_known_distributions(spark):
    """Entropy sanity on handcrafted sources: a uniform 4-token source
    reads exactly 2 bits, a single-token source exactly 0, and a
    skewed source lands strictly between."""
    from kafka_topic_dumper_spark.operators.text import source_token_entropy

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "uniform", 7),
            (2, "x x x x", "en", "constant", 7),
            (3, "y y y z", "en", "skewed", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.source: (r.n_tokens, r.vocab, r.entropy_bits)
        for r in source_token_entropy(docs).collect()
    }
    assert got["uniform"] == (4, 4, 2.0)
    assert got["constant"] == (4, 1, 0.0)
    import math
    h = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert got["skewed"] == (4, 2, round(h, 4))
    assert 0 < got["skewed"][2] < 2


def test_jsd_bounds_and_identity(spark):
    """JSD sanity: identical snapshot distributions → exactly 0 bits;
    disjoint vocabularies → exactly 1 bit; everything in [0, 1]."""
    from kafka_topic_dumper_spark.operators.text import source_snapshot_jsd

    # (doc_id div 20) % 2 = 0 → snapshot A; ids 0..19 are A, 20..39 B
    docs = spark.createDataFrame(
        [
            (0, "p q r", "en", "same", 5),
            (20, "p q r", "en", "same", 5),
            (1, "aa bb", "en", "disjoint", 5),
            (21, "cc dd", "en", "disjoint", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.source: r.jsd_bits for r in source_snapshot_jsd(docs).collect()}
    assert got["same"] == 0.0
    assert got["disjoint"] == 1.0


def test_benford_profile_on_genuine_benford_data(spark):
    """On data CONSTRUCTED to follow Benford (exponential spacing
    10^(k/N)), every digit's observed share must sit within 2% of
    log10(1 + 1/d); shares sum to 1 and counts cover all rows."""
    import math

    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.operators.analytics import benford_profile

    n = 5000
    df = spark.range(n).select(
        F.pow(F.lit(10.0), F.col("id") * 6.0 / n).alias("o_totalprice")
    )
    rows = {r.digit: r for r in benford_profile(df).collect()}
    assert set(rows) == set(range(1, 10))
    assert sum(r.n for r in rows.values()) == n
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-6
    for d in range(1, 10):
        expect = math.log10(1 + 1 / d)
        assert abs(rows[d].share - expect) < 0.02, d
        assert rows[d].benford_share == round(expect, 6)


def test_mad_robustness_vs_stddev(spark):
    """MAD's semantic claim: a single extreme spike leaves the MAD of
    an otherwise-flat series unchanged while the stddev explodes;
    values recomputed directly."""
    import datetime as dt
    import statistics

    from kafka_topic_dumper_spark.operators.analytics import mad_by_type

    t0 = dt.datetime(2024, 6, 1)
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10000.0]
    rows = [
        (i + 1, 1, "a", v, t0 + dt.timedelta(minutes=i))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string,"
        " value double, ts timestamp_ntz",
    )
    [r] = mad_by_type(df).collect()
    vc = sorted(int(v * 100) for v in vals)
    med = statistics.median(vc)
    mad = statistics.median(sorted(abs(v - med) for v in vc))
    assert (r.n, r.median_c, r.mad_c) == (7, med, mad)
    assert r.mad_c < 100            # the spike didn't move MAD past 1 unit
    assert statistics.pstdev(vc) > 100 * r.mad_c  # ...while stddev exploded


def test_spread_input_widens_narrow_memoizes_and_noops_wide(spark):
    """r19 (r18 advice): spread_input widens a narrow input to
    defaultParallelism, no-ops on an already-wide one, and memoizes
    the width probe per (session, plan) so repeated plan construction
    does not re-trigger physical planning on the driver."""
    from kafka_topic_dumper_spark.functions import parallelism as p

    n = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1)
    wide = spark.range(0, 1000, 1, n + 2)

    p._PROBE_MEMO.clear()
    out = p.spread_input(narrow)
    assert out.rdd.getNumPartitions() == n
    # same values survive the round-robin exchange
    assert sorted(r.id for r in out.collect()) == list(range(1000))
    # wide input passes through UNCHANGED (same object, no repartition)
    assert p.spread_input(wide) is wide

    # memo: a semantically-equal second construction hits the cache
    assert len(p._PROBE_MEMO) == 2
    again = spark.range(0, 1000, 1, 1)
    p.spread_input(again)
    assert len(p._PROBE_MEMO) == 2  # no new probe entry
