"""Round-6 training-pipeline operators: SemDeDup semantic dedup,
sliding-window chunking, reproducible epoch shuffle, stratified
sampling. Each test checks the operator's SEMANTIC contract with an
independent (numpy / python) recomputation at smoke SF — the DuckDB
differential for the same rows runs in test_registry_differential.py.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from kafka_topic_dumper_spark.operators.dedup import semantic_dedup
from kafka_topic_dumper_spark.operators.packing import (
    chunk_documents,
    epoch_shuffle,
    stratified_sample,
)
from kafka_topic_dumper_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _emb_matrix(spark):
    rows = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, X


def test_semantic_dedup_drop_rule_matches_numpy(spark):
    """dropped(i) ⇔ ∃ j in cell(i), j < i, cos(i,j) ≥ τ — recomputed
    independently in numpy over the same deterministic codebook."""
    tau = 0.35  # drops a non-trivial set at smoke SF
    emb = load_table(spark, SF, "embeddings")
    kept = {
        r.vec_id: r.cell for r in semantic_dedup(emb, threshold=tau).collect()
    }

    ids, X = _emb_matrix(spark)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    nrm = np.linalg.norm(X, axis=1)
    cidx = np.nonzero(ids < 16)[0]
    cos_c = (X @ X[cidx].T) / np.outer(nrm, nrm[cidx])
    # argmax with cid (=vec_id ascending) tie-break, as the kernel does
    cell = ids[cidx][np.argmax(cos_c, axis=1)]
    cos = (X @ X.T) / np.outer(nrm, nrm)
    expect_kept = {}
    for i, vid in enumerate(ids):
        mates = np.nonzero((cell == cell[i]) & (ids < vid))[0]
        if not (len(mates) and (cos[i, mates] >= tau).any()):
            expect_kept[int(vid)] = int(cell[i])
    assert kept == expect_kept
    assert len(kept) < len(ids), "threshold must exercise the drop path"


def test_semantic_dedup_trained_codebook_same_drop_rule(spark):
    """The trained-codebook path obeys the identical drop rule under
    ITS assignment: every dropped id has a lower-id cell-mate at ≥ τ,
    every kept id has none."""
    from kafka_topic_dumper_spark.operators.similarity import (
        ivf_assign,
        ivf_codebook_trained,
    )

    tau = 0.35
    emb = load_table(spark, SF, "embeddings")
    cb = ivf_codebook_trained(emb)
    kept_ids = {
        r.vec_id for r in semantic_dedup(emb, threshold=tau, codebook=cb).collect()
    }
    assign = {r.vec_id: r.cell for r in ivf_assign(emb, codebook=cb).collect()}

    ids, X = _emb_matrix(spark)
    nrm = np.linalg.norm(X, axis=1)
    cos = (X @ X.T) / np.outer(nrm, nrm)
    pos = {int(v): i for i, v in enumerate(ids)}
    for vid, cell in assign.items():
        mates = [
            u for u, c in assign.items() if c == cell and u < vid
        ]
        has_dup = any(cos[pos[vid], pos[u]] >= tau for u in mates)
        assert (vid in kept_ids) == (not has_dup), vid


def test_chunk_documents_reconstructs_token_stream(spark):
    docs = load_table(spark, SF, "documents")
    out = chunk_documents(docs, window=16, stride=8).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in texts.items():
        toks = [t for t in text.lower().split() if t]
        chunks = sorted(by_doc.get(doc_id, []), key=lambda r: r.chunk_id)
        if not toks:
            assert chunks == []
            continue
        starts = list(range(0, len(toks), 8))
        assert [c.chunk_id for c in chunks] == list(range(len(starts)))
        for c, s in zip(chunks, starts):
            want = toks[s : s + 16]
            assert c.chunk_text.split(" ") == want
            assert c.n_tokens == len(want)


def test_epoch_shuffle_is_md5_order_and_reproducible(spark):
    docs = load_table(spark, SF, "documents")
    out = epoch_shuffle(docs, n_epochs=2).collect()
    doc_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    for epoch in (0, 1):
        got = sorted(
            ((r.position, r.doc_id) for r in out if r.epoch == epoch)
        )
        want = sorted(
            doc_ids,
            key=lambda d: (hashlib.md5(f"{epoch}:{d}".encode()).hexdigest(), d),
        )
        assert [d for _, d in got] == want
        assert [p for p, _ in got] == list(range(1, len(doc_ids) + 1))
    # epochs genuinely reorder relative to each other
    o0 = [d for _, d in sorted((r.position, r.doc_id) for r in out if r.epoch == 0)]
    o1 = [d for _, d in sorted((r.position, r.doc_id) for r in out if r.epoch == 1)]
    assert o0 != o1


def test_stratified_sample_counts_and_determinism(spark):
    docs = load_table(spark, SF, "documents")
    out = stratified_sample(docs, k=3)
    got = out.collect()
    sizes = {
        (r.lang, r.source): r.n
        for r in docs.groupBy("lang", "source").agg(F.count("*").alias("n")).collect()
    }
    per_stratum: dict[tuple, list] = {}
    for r in got:
        per_stratum.setdefault((r.lang, r.source), []).append(r)
    assert set(per_stratum) == set(sizes)
    for key, rows in per_stratum.items():
        assert len(rows) == min(3, sizes[key])
        assert sorted(r.sample_rank for r in rows) == list(range(1, len(rows) + 1))
    # deterministic across invocations
    again = sorted((r.lang, r.source, r.sample_rank, r.doc_id) for r in out.collect())
    assert again == sorted((r.lang, r.source, r.sample_rank, r.doc_id) for r in got)


def test_chunk_documents_plan_has_no_shuffle(spark):
    """Chunking must stay a pure map stage — no Exchange in the plan."""
    docs = load_table(spark, SF, "documents")
    plan = chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_duplicate_spans_match_bruteforce(spark):
    """Maximal-span semantics recomputed brute-force in python: hash
    every 8-gram, keep grams occurring >= 2 times corpus-wide, merge
    consecutive duplicated starts per doc into maximal spans."""
    from kafka_topic_dumper_spark.operators.dedup import duplicate_spans

    L = 8
    docs = load_table(spark, SF, "documents")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicate_spans(docs, gram_len=L, min_count=2).collect()
    )

    toks = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in docs.collect()
    }
    from collections import Counter

    counts = Counter()
    positions = {}
    for d, t in toks.items():
        for i in range(len(t) - L + 1):
            g = " ".join(t[i : i + L])
            counts[g] += 1
            positions.setdefault(d, []).append((i + 1, g))
    want = []
    for d, plist in positions.items():
        dup = [p for p, g in plist if counts[g] >= 2]
        run = []
        for p in dup:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    want.append((d, run[0], run[-1] + L - 1, len(run)))
                run = [p]
        if run:
            want.append((d, run[0], run[-1] + L - 1, len(run)))
    assert got == sorted(want)
    assert got, "smoke corpus must contain duplicated spans"


def test_stratified_sample_plan_has_partial_topk(spark):
    """rank <= k must plan as WindowGroupLimit (map-side partial top-k
    before the stratum shuffle) — the property that keeps the shuffled
    volume at O(strata x k) instead of the corpus."""
    docs = load_table(spark, SF, "documents")
    plan = (
        stratified_sample(docs, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_epoch_shuffle_plan_is_distributed(spark):
    """The per-epoch position must NOT come from a single-task window:
    no SinglePartition exchange anywhere; the one shuffle hashes on
    (epoch, bucket) so each of the 256 hex-prefix buckets sorts in
    parallel."""
    docs = load_table(spark, SF, "documents")
    plan = (
        epoch_shuffle(docs, 2)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(epoch" in plan, plan


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# texts with empty strings, whitespace-only, multi-space runs, and
# token counts landing exactly on window/stride boundaries — the
# off-by-one surface of the chunker and the span detector
_texts = st.lists(
    st.one_of(
        st.just(""),
        st.just("   "),
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "dd"]), min_size=0, max_size=20
        ).map(lambda ts: "  ".join(ts)),
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_texts)
def test_chunk_documents_property(spark, texts):
    """chunk_documents over arbitrary corpora == the python spec:
    starts 0, S, 2S… < n_tokens; chunk = toks[s : s+W]; zero-token
    docs yield zero chunks."""
    W, S = 4, 2
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text)
        for r in chunk_documents(docs, window=W, stride=S).collect()
    )
    want = []
    for i, t in enumerate(texts):
        toks = [x for x in t.lower().split() if x]
        for ci, s in enumerate(range(0, len(toks), S)):
            c = toks[s : s + W]
            want.append((i, ci, len(c), " ".join(c)))
    assert got == sorted(want)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_texts)
def test_duplicate_spans_property(spark, texts):
    """duplicate_spans over arbitrary corpora == the python spec
    (gram_len=2, min_count=2), including docs shorter than the gram."""
    from collections import Counter

    from kafka_topic_dumper_spark.operators.dedup import duplicate_spans

    L = 2
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicate_spans(docs, gram_len=L, min_count=2).collect()
    )
    counts = Counter()
    pos = {}
    for i, t in enumerate(texts):
        toks = [x for x in t.lower().split() if x]
        for s in range(len(toks) - L + 1):
            g = " ".join(toks[s : s + L])
            counts[g] += 1
            pos.setdefault(i, []).append((s + 1, g))
    want = []
    for d, plist in pos.items():
        run = []
        for p, g in plist:
            if counts[g] >= 2:
                if run and p == run[-1] + 1:
                    run.append(p)
                else:
                    if run:
                        want.append((d, run[0], run[-1] + L - 1, len(run)))
                    run = [p]
            else:
                if run:
                    want.append((d, run[0], run[-1] + L - 1, len(run)))
                run = []
        if run:
            want.append((d, run[0], run[-1] + L - 1, len(run)))
    assert got == sorted(want)


def test_resize_raw_images_bytes_match_python(spark):
    """The RAW resize is REAL: reconstruct each synthetic image in
    python, nearest-neighbor resize with the same index math, and
    compare the SUM the kernel reported — plus re-derive a few source
    buffers end-to-end to prove header/byte layout round-trips."""
    import numpy as np

    from kafka_topic_dumper_spark.operators.multimodal import (
        resize_raw_images,
        synth_raw_images,
    )

    docs = load_table(spark, SF, "documents").limit(25)
    payloads = synth_raw_images(docs)
    got = {
        r.doc_id: (r.out_w, r.out_h, r.pixel_sum)
        for r in resize_raw_images(payloads, 16, 16).collect()
    }
    raw = {r.doc_id: bytes(r.payload) for r in payloads.collect()}
    import struct

    for doc_id, payload in raw.items():
        w, h, c = struct.unpack("<iii", payload[:12])
        assert (w, h, c) == (8 + doc_id % 9, 8 + doc_id % 7, 3)
        img = np.frombuffer(payload, dtype=np.uint8, offset=12).reshape(h, w, c)
        idx = np.arange(w * h * c, dtype=np.int64)
        assert np.array_equal(img.reshape(-1), ((doc_id + idx) % 256).astype(np.uint8))
        sy = (np.arange(16) * h) // 16
        sx = (np.arange(16) * w) // 16
        resized = img[sy[:, None], sx[None, :], :]
        assert got[doc_id] == (16, 16, int(resized.astype(np.int64).sum()))


def test_remove_duplicate_spans_matches_python(spark):
    """Cleaned corpus == python recompute: tokens covered by any
    duplicated L-gram window removed, order preserved, fully-covered
    docs dropped."""
    from collections import Counter

    from kafka_topic_dumper_spark.operators.dedup import remove_duplicate_spans

    L = 8
    docs = load_table(spark, SF, "documents")
    got = {
        r.doc_id: (r.n_tokens_kept, r.cleaned_text)
        for r in remove_duplicate_spans(docs, gram_len=L, min_count=2).collect()
    }

    toks = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in docs.collect()
    }
    counts = Counter()
    for t in toks.values():
        for i in range(len(t) - L + 1):
            counts[" ".join(t[i : i + L])] += 1
    want = {}
    for d, t in toks.items():
        covered = set()
        for i in range(len(t) - L + 1):
            if counts[" ".join(t[i : i + L])] >= 2:
                covered.update(range(i, i + L))
        kept = [tok for i, tok in enumerate(t) if i not in covered]
        if kept:
            want[d] = (len(kept), " ".join(kept))
    assert got == want
    assert any(
        got[d][0] < len(toks[d]) for d in got
    ), "some doc must actually lose tokens"


def test_png_payloads_are_real_spec_conformant_streams(spark):
    """The synth PNGs are genuine PNG byte streams: signature, IHDR
    fields, CRC-valid chunks, zlib-inflatable IDAT — and the scanline
    filter bytes actually cycle through all five types, so the decode
    differential exercises Sub/Up/Average/Paeth, not just None."""
    import struct
    import zlib

    from kafka_topic_dumper_spark.operators.multimodal import synth_png_images

    docs = load_table(spark, SF, "documents").limit(10)
    for r in synth_png_images(docs).collect():
        buf = bytes(r.payload)
        assert buf[:8] == b"\x89PNG\r\n\x1a\n"
        pos, idat, ihdr = 8, b"", None
        while pos < len(buf):
            (ln,) = struct.unpack(">I", buf[pos : pos + 4])
            tag = buf[pos + 4 : pos + 8]
            data = buf[pos + 8 : pos + 8 + ln]
            (crc,) = struct.unpack(">I", buf[pos + 8 + ln : pos + 12 + ln])
            assert zlib.crc32(tag + data) & 0xFFFFFFFF == crc, tag
            if tag == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif tag == b"IDAT":
                idat += data
            pos += 12 + ln
        w, h, depth, ctype, _, _, ilace = ihdr
        assert (w, h) == (8 + r.doc_id % 9, 8 + r.doc_id % 7)
        assert (depth, ctype, ilace) == (8, 2, 0)
        raw = zlib.decompress(idat)
        stride = w * 3
        assert len(raw) == h * (stride + 1)
        filters = [raw[y * (stride + 1)] for y in range(h)]
        assert filters == [y % 5 for y in range(h)]


def test_png_decode_matches_numpy_reconstruction(spark):
    """decode(encode(x)) == x for every pixel (via the arithmetic sum)
    and for the declared dimensions."""
    from kafka_topic_dumper_spark.operators.multimodal import (
        decode_png_images,
        synth_png_images,
    )

    docs = load_table(spark, SF, "documents").limit(25)
    got = {
        r.doc_id: (r.width, r.height, r.n_channels, r.pixel_sum)
        for r in decode_png_images(synth_png_images(docs)).collect()
    }
    for doc_id, (w, h, c, s) in got.items():
        assert (w, h, c) == (8 + doc_id % 9, 8 + doc_id % 7, 3)
        idx = np.arange(w * h * 3, dtype=np.int64)
        assert s == int(((doc_id + idx) % 256).sum())


def test_png_decoder_rejects_corruption_and_unsupported(spark):
    """A flipped payload byte must fail the CRC check loudly (never
    silently decode garbage), and out-of-subset streams (16-bit,
    interlaced) must raise the documented ValueError."""
    import struct
    import zlib

    import pytest

    from kafka_topic_dumper_spark.operators.multimodal import (
        decode_png_images,
        synth_png_images,
    )

    good = bytes(
        synth_png_images(load_table(spark, SF, "documents").limit(1))
        .collect()[0]
        .payload
    )

    def run(payload: bytes):
        df = spark.createDataFrame(
            [(0, bytearray(payload))], "doc_id long, payload binary"
        )
        return decode_png_images(df).collect()

    bad = bytearray(good)
    bad[40] ^= 0xFF  # inside IHDR/IDAT data -> CRC must catch it
    with pytest.raises(Exception, match="CRC mismatch|unsupported|bad filter"):
        run(bytes(bad))

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    sixteen_bit = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(2 * (1 + 2 * 6))))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(Exception, match="unsupported PNG subset"):
        run(sixteen_bit)


def test_png_decoder_greyscale_path(spark):
    """Color type 0 (8-bit greyscale) is inside the supported subset:
    a hand-built 3x2 grey PNG using Up+Paeth filters decodes to the
    exact pixel sum."""
    import struct
    import zlib

    from kafka_topic_dumper_spark.operators.multimodal import decode_png_images

    # pixels row0 = [10, 20, 30], row1 = [40, 60, 80]
    row0 = bytes([10, 20, 30])
    # filter 2 (Up) on row0 with zero prev; filter 4 (Paeth) on row1 at
    # bpp=1 — the single-channel Paeth case where every byte after the
    # first has a genuine left neighbor. Hand-computed predictors for
    # raw [40, 60, 80] over prior [10, 20, 30]: byte 0 picks up (10),
    # bytes 1-2 pick left (40, 60) -> filtered [30, 20, 20].
    f_row0 = bytes([2]) + row0
    f_row1 = bytes([4]) + bytes([(40 - 10) & 0xFF, (60 - 40) & 0xFF, (80 - 60) & 0xFF])

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(f_row0 + f_row1))
        + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame([(7, bytearray(png))], "doc_id long, payload binary")
    [r] = decode_png_images(df).collect()
    assert (r.width, r.height, r.n_channels) == (3, 2, 1)
    assert r.pixel_sum == 10 + 20 + 30 + 40 + 60 + 80


def test_quality_calibration_and_token_budget(spark):
    """Per-source calibration keeps exactly floor(n/2) docs per source;
    the token-budget selection is the greedy quality-descending prefix
    that fits, computed by the distributed ordered prefix sum (never a
    single-partition window) — checked against a driver-side replay."""
    from kafka_topic_dumper_spark.operators.text import (
        quality_calibrated_rank,
        quality_score,
        token_budget_selection,
    )

    docs = load_table(spark, SF, "documents")
    cal = quality_calibrated_rank(docs).collect()
    by_source = {}
    for r in cal:
        by_source.setdefault(r.source, []).append(r)
    for source, rows in by_source.items():
        n = rows[0].n_source
        assert len(rows) == n
        assert sum(r.keep_top_half for r in rows) == n // 2, source
        assert sorted(r.rank_in_source for r in rows) == list(range(1, n + 1))

    budget = 15_000
    got = {r.doc_id: r.cum_tokens for r in token_budget_selection(docs).collect()}
    scored = sorted(
        (
            (-round(r.quality_score * 10000), r.doc_id, r.n_tokens)
            for r in quality_score(docs).collect()
            if r.quality_score is not None
        ),
    )
    want, acc = {}, 0
    for _qkey, doc_id, n_tok in scored:
        if acc + n_tok > budget:
            break
        acc += n_tok
        want[doc_id] = acc
    assert got == want and 0 < len(got)


def test_wav_parser_chunk_walk_and_guards(spark):
    """The RIFF parser must honor chunk even-padding (an odd-sized
    junk chunk before data shifts every later offset by its pad byte),
    skip unknown chunks, and reject bad magics / truncated chunks /
    unsupported formats loudly; int64 widening must survive the
    abs(-32768) int16-overflow footgun."""
    import struct

    import pytest as _pytest

    from kafka_topic_dumper_spark.operators.multimodal import wav_features

    def wav(junk_odd=False, rate=8000, samples=(-32768, 5, -7)):
        pcm = struct.pack(f"<{len(samples)}h", *samples)
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        if junk_odd:
            chunks += b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"
        chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def run(payload):
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id long, payload binary"
        )
        return wav_features(df).collect()

    for junk in (False, True):
        [r] = run(wav(junk_odd=junk))
        assert (r.n_samples, r.peak_abs, r.sum_abs) == (3, 32768, 32780)
        assert r.zero_crossings == 2 and r.sum_abs_ds2 == 32768 + 7

    with _pytest.raises(Exception, match="not a RIFF"):
        run(b"JUNKxxxxWAVE")
    with _pytest.raises(Exception, match="truncated"):
        run(wav()[:-1])
    stereo = wav()
    stereo = stereo.replace(
        struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16),
        struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16),
    )
    with _pytest.raises(Exception, match="unsupported WAV subset"):
        run(stereo)


def test_lzw_round_trip_all_branches():
    """The GIF LZW codec must round-trip through every branch: width
    growth 9->12, the 4096 dictionary reset, the KwKwK just-defined
    code, empty/1-byte streams, and random data."""
    import random

    from kafka_topic_dumper_spark.operators.multimodal import (
        lzw_decode,
        lzw_encode,
    )

    for n in (0, 1, 2, 224, 255, 256, 5000, 20000):
        data = bytes((i * 7 + i // 3) % 256 for i in range(n))
        assert lzw_decode(lzw_encode(data)) == data, n
    for n in (1, 3, 1000, 30000):  # runs of one byte: KwKwK territory
        assert lzw_decode(lzw_encode(b"a" * n)) == b"a" * n, n
    data = bytes([1, 2, 3, 4] * 30000)  # low entropy: forces 4096 reset
    assert lzw_decode(lzw_encode(data)) == data
    rng = random.Random(7)
    for trial in range(20):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(9000)))
        assert lzw_decode(lzw_encode(data)) == data, trial
    # a stream cut before its END code must raise, not silently return
    # a truncated prefix
    import pytest as _pytest

    full = lzw_encode(bytes(range(200)))
    with _pytest.raises(ValueError, match="truncated LZW"):
        lzw_decode(full[:-2])


def test_gif_and_avi_parser_guards(spark):
    """The GIF walk must accept 89a signatures and skip extension
    blocks; both container parsers must reject corrupt streams
    loudly."""
    import struct

    import pytest as _pytest

    from kafka_topic_dumper_spark.operators.multimodal import (
        decode_gif_images,
        lzw_encode,
        sample_avi_frames,
        synth_gif_images,
    )

    def run(fn, payload):
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id long, payload binary"
        )
        return fn(df).collect()

    # build a GIF89a with a graphic-control extension before the image
    [base] = (
        synth_gif_images(
            spark.createDataFrame([(3,)], "doc_id long")
        ).collect()
    )
    gif = bytes(base.payload)
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE: label+4-byte block+term
    img_at = 6 + 7 + 768  # header + logical screen descriptor + palette
    assert gif[img_at] == 0x2C
    gif89 = b"GIF89a" + gif[6:img_at] + ext + gif[img_at:]
    [r] = run(decode_gif_images, gif89)
    w, h = 8 + 3 % 9, 8 + 3 % 7
    assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
    assert r.index_sum == sum((3 + i) % 256 for i in range(w * h))
    assert r.rgb_sum == 3 * r.index_sum

    with _pytest.raises(Exception, match="not a GIF"):
        run(decode_gif_images, b"NOTAGIF!")
    with _pytest.raises(Exception, match="not a RIFF/AVI"):
        run(sample_avi_frames, b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with _pytest.raises(Exception, match="corrupt LZW|decoded"):
        broken = bytearray(gif)
        # image descriptor (10B) + min-code byte + sub-block length,
        # then flip an LZW data byte
        broken[img_at + 10 + 1 + 1 + 1] ^= 0x55
        run(decode_gif_images, bytes(broken))


def test_lzw_end_of_stream_width_boundary():
    """Low-alphabet randomized round-trips pin the ADVICE-r7 edge: the
    encoder must mirror the decoder's final table append + early width
    bump before emitting END, or streams whose last append lands on a
    2^width - 1 boundary (and end byte-aligned) decode as 'truncated'."""
    import random

    from kafka_topic_dumper_spark.operators.multimodal import (
        lzw_decode,
        lzw_encode,
    )

    rng = random.Random(1234)
    for trial in range(400):
        alpha = rng.choice([2, 3, 4])
        n = rng.randint(200, 1500)
        data = bytes(rng.randrange(alpha) for _ in range(n))
        assert lzw_decode(lzw_encode(data)) == data, (trial, alpha, n)


def test_decoder_null_and_truncation_contract(spark):
    """All eight real decoders share ONE failure contract:
    a NULL payload raises ValueError('NULL ...'), and a hard-truncated
    stream raises ValueError('truncated ...') — never a raw TypeError,
    IndexError, or struct.error leaking out of the kernel."""
    import pytest as _pytest

    from kafka_topic_dumper_spark.operators import multimodal as mm

    kernels = [
        ("PNG", mm.synth_png_images, mm.decode_png_images),
        ("WAV", mm.synth_wav_audio, mm.wav_features),
        ("WAV", mm.synth_wav_audio, mm.wav_spectral),
        ("GIF", mm.synth_gif_images, mm.decode_gif_images),
        ("AVI", mm.synth_avi_video, mm.sample_avi_frames),
        ("JPEG", mm.synth_jpeg_images, mm.decode_jpeg_images),
        ("MJPEG", mm.synth_mjpeg_video, mm.decode_mjpeg_frames),
        ("RAW", mm.synth_raw_images, mm.phash_dct),
    ]
    docs = spark.createDataFrame([(5,)], "doc_id long")
    for name, synth, decode in kernels:
        [row] = synth(docs).collect()
        payload = bytes(row.payload)

        def run(p):
            df = spark.createDataFrame(
                [(5, bytearray(p) if p is not None else None)],
                "doc_id long, payload binary",
            )
            return decode(df).collect()

        with _pytest.raises(Exception) as null_exc:
            run(None)
        assert f"NULL {name} payload" in str(null_exc.value), name
        # cut mid-structure at several points; every cut must surface
        # as a ValueError carrying a loud message, not a raw
        # IndexError/struct.error traceback type
        for cut in (len(payload) // 3, len(payload) - 3):
            with _pytest.raises(Exception) as trunc_exc:
                run(payload[:cut])
            msg = str(trunc_exc.value)
            assert "ValueError" in msg or isinstance(
                trunc_exc.value, ValueError
            ), (name, cut, msg[:500])
            assert "TypeError" not in msg, (name, cut)


def test_jpeg_codec_round_trip_and_determinism():
    """The from-scratch baseline JPEG pair: determinism (same bytes →
    same pixels, twice), flat-image exactness (DC-only path), smooth-
    image closeness, dimension preservation incl. non-multiple-of-8
    edge blocks, and agreement with the independent oracle replay."""
    import numpy as np

    from kafka_topic_dumper_spark.functions.trained_oracles import (
        _jpeg_expected_rows,
    )
    from kafka_topic_dumper_spark.operators.multimodal import (
        jpeg_decode_gray,
        jpeg_encode_gray,
    )

    rng = np.random.default_rng(42)
    for _ in range(10):
        h, w = int(rng.integers(8, 33)), int(rng.integers(8, 33))
        px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        buf = jpeg_encode_gray(px)
        w2, h2, img = jpeg_decode_gray(buf)
        assert (w2, h2) == (w, h)
        assert jpeg_decode_gray(buf)[2].tobytes() == img.tobytes()

    flat = np.full((24, 17), 200, np.uint8)  # 17 → edge-replicated pad
    _, _, rec = jpeg_decode_gray(jpeg_encode_gray(flat))
    assert (rec == 200).all()

    y, x = np.mgrid[0:32, 0:32]
    smooth = ((np.sin(x / 6) + np.sin(y / 7)) * 40 + 128).astype(np.uint8)
    _, _, rec = jpeg_decode_gray(jpeg_encode_gray(smooth))
    assert np.abs(rec.astype(int) - smooth.astype(int)).max() <= 8

    # kernel == independent replay on the registry raster family
    for d, w, h, n, s in _jpeg_expected_rows("/root/testdata/sf0.001")[:40]:
        px = (
            ((d + np.arange(w * h, dtype=np.int64)) % 256)
            .astype(np.uint8)
            .reshape(h, w)
        )
        w2, h2, img = jpeg_decode_gray(jpeg_encode_gray(px))
        assert (w2, h2, w2 * h2, int(img.astype(np.int64).sum())) == (
            w,
            h,
            n,
            s,
        ), d


def test_jpeg_handcrafted_stream_and_subset_rejection():
    """Entropy-layer semantics pinned against a HAND-ASSEMBLED stream
    (catches symmetric encoder/decoder Huffman bugs the lossless
    round trip cannot), plus loud rejection of everything outside the
    supported subset."""
    import struct

    import numpy as np
    import pytest as _pytest

    from kafka_topic_dumper_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_QTABLE,
        _JPEG_ZIGZAG,
        jpeg_decode_gray,
        jpeg_encode_gray,
    )

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt_zig = bytes(_JPEG_QTABLE[_JPEG_ZIGZAG[k]] for k in range(64))
    headers = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + qt_zig)
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    )
    # One 8x8 block, hand-coded: DC category 2 (canonical DC code for
    # symbol 2 is '011'), value bits '10' = +2, then EOB (AC code
    # '1010'). Dequantized DC = 2*16 = 32; IDCT of a pure-DC block is
    # flat: (2896*32*2896*64... ) — every pixel = (2896*(32*2896*8)>>? )
    # Computed via the spec arithmetic below rather than hardcoded.
    bits = "011" + "10" + "1010"
    bits += "1" * (-len(bits) % 8)
    ent = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    stream = headers + ent + b"\xff\xd9"
    w, h, img = jpeg_decode_gray(stream)
    assert (w, h) == (8, 8)
    # expected flat value: P = ((M^T C M) + 2^25) >> 26 with only
    # C[0][0] = 32; every entry = (2896*32*2896 + 2^25) >> 26 = 128+...
    expect = ((2896 * 32 * 2896 + (1 << 25)) >> 26) + 128
    assert (img == expect).all(), (img[0][0], expect)

    # subset rejection
    flat = np.full((8, 8), 128, np.uint8)
    good = jpeg_encode_gray(flat)
    with _pytest.raises(ValueError, match="missing SOI"):
        jpeg_decode_gray(b"NOPE" + good[2:])
    sof2 = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="frame type"):
        jpeg_decode_gray(sof2)
    with _pytest.raises(ValueError, match="restart"):
        jpeg_decode_gray(
            good[:2] + seg(0xFFDD, b"\x00\x04") + good[2:]
        )
    with _pytest.raises(ValueError, match="truncated|no EOI|no SOS"):
        jpeg_decode_gray(good[:-4])
    # APPn/COM segments must be skipped, not rejected
    app0 = good[:2] + seg(0xFFE0, b"JFIF\x00") + good[2:]
    assert jpeg_decode_gray(app0)[2].tobytes() == jpeg_decode_gray(good)[2].tobytes()


def test_pareto_frontier_equals_bruteforce(spark):
    """The windowed O(n log n) skyline must equal the quadratic
    dominance definition, including the tie cases: equal-coordinate
    docs never dominate each other (both survive), while an equal-
    length doc with strictly more distinct tokens kills its peer."""
    from kafka_topic_dumper_spark.operators.text import pareto_frontier

    rows = [
        (1, "a b c"),        # len 5, 3 distinct
        (2, "a a a"),        # len 5, 1 distinct — dominated by 1
        (3, "a b c"),        # exact tie with 1 — both survive
        (4, "a b"),          # len 3, 2 distinct — frontier
        (5, "a b c d e f"),  # len 11, 6 distinct — frontier
        (6, "a b c d"),      # len 7, 4 distinct — frontier
        (7, "a a b b c c"),  # len 11, 3 distinct — dominated by 1/6
    ]
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows],
        "doc_id long, text string, n_chars long",
    )
    got = {r.doc_id for r in pareto_frontier(df).collect()}
    # brute force over the same metrics
    m = {i: (len(t), len(set(t.split()))) for i, t in rows}
    want = {
        i
        for i, (x, y) in m.items()
        if not any(
            (bx <= x and by >= y and (bx < x or by > y))
            for j, (bx, by) in m.items()
            if j != i
        )
    }
    assert got == want == {1, 3, 4, 5, 6}


def test_cms_estimate_never_undercounts(spark):
    """Count-min's one-sided error: for EVERY key (not just top-k) the
    sketch estimate is >= the exact count, and the sketch state is
    bounded by depth x width regardless of corpus size."""
    from kafka_topic_dumper_spark.operators.text import cms_heavy_hitters
    from kafka_topic_dumper_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    # k large enough to return every distinct bigram
    out = cms_heavy_hitters(docs, depth=3, width=16, k=10**6).collect()
    assert out and all(r.est_count >= r.exact_count for r in out)
    assert any(r.overcount > 0 for r in out)  # width=16 must collide

    # the counter table itself is the scale contract: <= depth*width rows
    from pyspark.sql import functions as F
    from kafka_topic_dumper_spark.functions.portable_hash import (
        HASH_DOMAIN31, MERSENNE61, cms_params,
    )
    from kafka_topic_dumper_spark.operators.text import _BIGRAMS, _tokens
    occ = (
        docs.select(_tokens().alias("toks"))
        .select(F.explode(F.expr(_BIGRAMS)).alias("bigram"))
    )
    assert occ.count() > 3 * 16  # corpus genuinely larger than the sketch


def test_bloom_admission_never_misses(spark):
    """Bloom's contract: NO false negatives — any batch doc whose
    fingerprint exists in the corpus MUST be flagged maybe_known; and
    the undersized demo filter does produce false positives."""
    from kafka_topic_dumper_spark.operators.dedup import bloom_admission
    from kafka_topic_dumper_spark.sources.tables import load_table

    # synthetic: batch doc 10 is an exact dup of corpus doc 1
    rows = [(i, f"unique text number {i}") for i in range(1, 10)]
    rows += [(10, rows[0][1]), (20, "never seen before text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bloom_admission(df).collect()}
    assert set(got) == {10, 20}
    assert got[10].actually_known == 1 and got[10].maybe_known == 1
    assert got[10].false_positive == 0

    # corpus-level invariant at sf0.001: actually_known=1 → maybe_known=1
    out = bloom_admission(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    ).collect()
    assert out
    assert not any(r.actually_known == 1 and r.maybe_known == 0 for r in out)


def test_hll_rho_matches_python_reference(spark):
    """The portable bitlen trick must compute the textbook rho (first
    1-bit position in the 26-bit rank suffix) for every hash value,
    and the per-source estimate must sit inside the m=64 accuracy
    envelope on real data."""
    import hashlib

    from pyspark.sql import functions as F
    from kafka_topic_dumper_spark.operators.text import (
        HLL_M,
        hll_shingle_cardinality,
    )
    from kafka_topic_dumper_spark.sources.tables import load_table

    # rho cross-check on crafted words through the same SQL expressions
    words = [f"w{i}" for i in range(200)]
    df = spark.createDataFrame([(w,) for w in words], "shingle string")
    got = {
        r.shingle: r.rho
        for r in df.selectExpr(
            "shingle",
            f"CAST(conv(substr(md5(shingle), 1, 8), 16, 10) AS BIGINT) div {HLL_M} AS w",
        )
        .withColumn(
            "rho",
            F.when(F.col("w") == 0, F.lit(27)).otherwise(
                27 - F.length(F.expr("trim(LEADING '0' FROM bin(w))"))
            ),
        )
        .collect()
    }
    for w_str in words:
        x = int(hashlib.md5(w_str.encode()).hexdigest()[:8], 16)
        w = x // HLL_M
        rho = 27 if w == 0 else 27 - w.bit_length()
        assert got[w_str] == rho, w_str

    out = hll_shingle_cardinality(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    ).collect()
    assert out
    for r in out:
        assert r.zero_registers == 0  # raw-branch regime, LC never needed
        assert 0.5 * r.n_exact < r.hll_estimate < 2.0 * r.n_exact


def test_equidepth_histogram_fill_rule(spark):
    """Distributed prefix-sum ranking must reproduce the serial fill
    rule exactly: bucket sizes differ by at most 1, cover N, and edges
    are non-overlapping ascending."""
    from kafka_topic_dumper_spark.operators.analytics import (
        EQUIDEPTH_K,
        equidepth_histogram,
    )
    from kafka_topic_dumper_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    rows = sorted(
        equidepth_histogram(orders).collect(), key=lambda r: r.bucket
    )
    n = orders.count()
    assert [r.bucket for r in rows] == list(range(EQUIDEPTH_K))
    sizes = [r.n_rows for r in rows]
    assert sum(sizes) == n and max(sizes) - min(sizes) <= 1
    for prev, cur in zip(rows, rows[1:]):
        assert prev.hi_cents <= cur.lo_cents  # ties may touch, not cross
        assert prev.lo_cents <= prev.hi_cents


def test_groupwise_ols_matches_closed_form(spark):
    """The Spark OLS must equal the exact-integer closed form computed
    in Python to the last bit (same int sums, same IEEE ops)."""
    from collections import defaultdict

    from kafka_topic_dumper_spark.operators.analytics import groupwise_ols
    from kafka_topic_dumper_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    got = {r.event_type: r for r in groupwise_ols(events).collect()}

    acc = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, sx, sy, sxy, sxx
    for r in events.select("event_type", "ts", "value").collect():
        x = r.ts.hour
        y = round(r.value * 100)
        a = acc[r.event_type]
        a[0] += 1; a[1] += x; a[2] += y; a[3] += x * y; a[4] += x * x
    for et, (n, sx, sy, sxy, sxx) in acc.items():
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        intercept = (float(sy) - slope * float(sx)) / float(n)
        assert got[et].n_rows == n
        assert got[et].slope_cents_per_hour == slope, et
        assert got[et].intercept_cents == intercept, et


def test_event_transition_matrix_crafted(spark):
    """Per-user lag semantics: transitions never cross users, shares
    are floor percents of each source type's outgoing total."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import (
        event_transition_matrix,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: a -> b -> a
        (1, 1, "a", t0), (2, 1, "b", t0 + dt.timedelta(minutes=1)),
        (3, 1, "a", t0 + dt.timedelta(minutes=2)),
        # user 2: a -> c  (no cross-user a->a between id 3 and this)
        (4, 2, "a", t0), (5, 2, "c", t0 + dt.timedelta(minutes=1)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    got = {(r.from_type, r.to_type): (r.n_transitions, r.share_pct)
           for r in event_transition_matrix(df).collect()}
    assert got == {
        ("a", "b"): (1, 50),
        ("a", "c"): (1, 50),
        ("b", "a"): (1, 100),
    }


def test_hourly_autocorrelation_known_series(spark):
    """A linearly increasing hourly series has lag-1 r = 1.0 exactly;
    a constant series is filtered (zero variance, never NaN)."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import (
        hourly_autocorrelation,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # "up": counts 1,2,3,4 across four consecutive hours
    for h, n in enumerate([1, 2, 3, 4]):
        for _ in range(n):
            eid += 1
            rows.append((eid, 1, "up", t0 + dt.timedelta(hours=h, minutes=eid % 50)))
    # "flat": constant 2 per hour — zero variance, must be filtered
    for h in range(4):
        for _ in range(2):
            eid += 1
            rows.append((eid, 1, "flat", t0 + dt.timedelta(hours=h, minutes=eid % 50)))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    got = {r.event_type: r for r in hourly_autocorrelation(df).collect()}
    assert set(got) == {"up"}
    assert got["up"].n_pairs == 3 and got["up"].lag1_autocorr == 1.0


def test_tfidf_keywords_rank_semantics(spark):
    """A term unique to one doc must outrank corpus-wide terms; exactly
    k rows per doc with ranks 1..k."""
    from kafka_topic_dumper_spark.operators.text import tfidf_keywords

    rows = [
        (1, "common common common unique common"),
        (2, "common words here common"),
        (3, "common words also common common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.rnk): r.keyword for r in tfidf_keywords(df, k=2).collect()
    }
    # doc 1: 'unique' df=1 score 1*3/1=3 < 'common' tf=4 score 4*3/3=4
    assert got[(1, 1)] == "common" and got[(1, 2)] == "unique"
    # doc 2: 'here' (df=1, score 3.0) > 'common' (tf=2, score 2.0)
    #        > 'words' (df=2, score 1.5)
    assert got[(2, 1)] == "here" and got[(2, 2)] == "common"
    assert len(got) == 6


def test_gini_known_distributions(spark):
    """Equal values give G=0; one order holding all the value among 4
    gives the textbook (2*400-500)/400 = 0.75."""
    from kafka_topic_dumper_spark.operators.analytics import gini_by_segment

    cust = spark.createDataFrame(
        [(1, "EQ"), (2, "SKEW")], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [(i, 1, 5.00) for i in range(1, 5)]
        + [(10, 2, 0.00), (11, 2, 0.00), (12, 2, 0.00), (13, 2, 1.00)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    got = {r.segment: r for r in gini_by_segment(orders, cust).collect()}
    assert got["EQ"].gini == 0.0 and got["EQ"].n_orders == 4
    assert got["SKEW"].gini == 0.75 and got["SKEW"].n_orders == 4


def test_hourly_ohlc_order_semantics(spark):
    """Open is the FIRST value by (ts, event_id) and close the LAST —
    including the same-timestamp tie broken by event_id."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import hourly_ohlc

    t0 = dt.datetime(2024, 1, 1, 9, 0)
    rows = [
        (2, 1, "buy", 5.00, t0),                      # same ts, higher id
        (1, 1, "buy", 3.00, t0),                      # same ts, lower id → open
        (3, 1, "buy", 9.00, t0 + dt.timedelta(minutes=30)),
        (4, 1, "buy", 1.00, t0 + dt.timedelta(minutes=59)),  # close
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp_ntz",
    )
    out = hourly_ohlc(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.open_cents, r.high_cents, r.low_cents, r.close_cents) == (
        300, 900, 100, 100,
    )
    assert r.n_events == 4


def test_vocab_growth_invariants(spark):
    """vocab_size is strictly increasing along doc order and its final
    value equals the corpus's total distinct-bigram count."""
    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.operators.text import (
        _BIGRAMS,
        _tokens,
        vocab_growth,
    )
    from kafka_topic_dumper_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    curve = sorted(vocab_growth(docs).collect(), key=lambda r: r.doc_id)
    assert curve
    sizes = [r.vocab_size for r in curve]
    assert all(b > a for a, b in zip(sizes, sizes[1:]))
    assert sizes[-1] == sum(r.new_bigrams for r in curve)
    total = (
        docs.select("doc_id", _tokens().alias("toks"))
        .select(F.explode(F.expr(_BIGRAMS)).alias("b"))
        .distinct()
        .count()
    )
    assert sizes[-1] == total


def test_interarrival_gaps_never_cross_users(spark):
    """Gaps are per (user, type): two users interleaved in time must
    not create cross-user gaps; microsecond exactness preserved."""
    import datetime as dt

    from kafka_topic_dumper_spark.operators.analytics import (
        interarrival_quartiles,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, "a", t0),
        (2, 2, "a", t0 + dt.timedelta(seconds=1)),       # other user between
        (3, 1, "a", t0 + dt.timedelta(seconds=10, microseconds=500000)),
        (4, 2, "a", t0 + dt.timedelta(seconds=2)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    out = interarrival_quartiles(df).collect()
    assert len(out) == 1
    r = out[0]
    # user1 gap 10.5s = 10_500_000 us, user2 gap 1s = 1_000_000 us
    assert r.n_gaps == 2 and r.max_gap_us == 10_500_000
    assert r.p50_gap_us == (10_500_000 + 1_000_000) / 2


def test_mjpeg_container_and_codec_composition(spark):
    """The MJPEG path is the real AVI walk × the real JPEG codec:
    frame COUNT follows doc_id %% 3 + 1, timestamps derive from the
    FILE's 33333 µs clock (floor-ms), the walker rejects non-MJPG
    handlers loudly, and each decoded frame equals the independent
    integer replay."""
    import struct

    import pytest as _pytest

    from kafka_topic_dumper_spark.functions.trained_oracles import (
        _mjpeg_frame_sum,
    )
    from kafka_topic_dumper_spark.operators.multimodal import (
        decode_mjpeg_frames,
        synth_mjpeg_video,
    )

    docs = spark.createDataFrame([(4,), (11,)], "doc_id long")
    rows = sorted(
        (r.doc_id, r.frame_idx, r.frame_offset_ms, r.width, r.height,
         r.pixel_sum)
        for r in decode_mjpeg_frames(synth_mjpeg_video(docs)).collect()
    )
    expect = []
    for d in (4, 11):
        for f in range(d % 3 + 1):
            w, h, s = _mjpeg_frame_sum(d, f)
            expect.append((d, f, f * 33333 // 1000, w, h, s))
    assert rows == sorted(expect)
    # 33333 µs clock: frame 1 lands at 33 ms, not 33.333 — floor, not round
    assert any(r[1] == 1 and r[2] == 33 for r in rows)

    # a 'vids' stream advertising a non-MJPG codec must be rejected
    [payload_row] = synth_mjpeg_video(
        spark.createDataFrame([(4,)], "doc_id long")
    ).collect()
    buf = bytearray(bytes(payload_row.payload))
    at = bytes(buf).index(b"vids") + 4
    assert bytes(buf[at : at + 4]) == b"MJPG"
    buf[at : at + 4] = b"H264"
    df = spark.createDataFrame(
        [(4, bytes(buf))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="unsupported video codec"):
        decode_mjpeg_frames(df).collect()


def test_phash_dct_brightness_invariance_and_structure(spark):
    """The REAL pHash's semantic claim: a constant brightness offset
    (no wrap) only shifts DC, so the AC-median hash collides at
    hamming 0 — while a structurally different raster does not. Also:
    each hash has 31 one-bits exactly (median threshold on 63
    distinct-or-not coefficients ⇒ ≤31 above strict median)."""
    import struct

    import numpy as np

    from kafka_topic_dumper_spark.operators.multimodal import phash_dct

    def raw(doc_id, px, w, h):
        return (
            doc_id,
            bytearray(
                struct.pack("<iii", w, h, 3)
                + px.astype(np.uint8).tobytes()
            ),
        )

    w, h = 16, 12
    grad = (np.arange(w * h * 3) % 97).reshape(-1)  # max 96: +40 can't wrap
    rows = [
        raw(1, grad, w, h),
        raw(2, grad + 40, w, h),                      # brightness offset
        raw(3, (np.arange(w * h * 3) * 31 % 251), w, h),  # different structure
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.phash, r.n_ones) for r in phash_dct(df).collect()}
    assert got[1][0] == got[2][0]          # hamming 0 under brightness shift
    assert got[1][0] != got[3][0]
    for ph, n_ones in got.values():
        assert bin(ph).count("1") == n_ones <= 31


def test_wav_spectral_band_structure_and_padding(spark):
    """Spectral WAV features: a constant (DC-only) signal puts ALL
    energy in band0 with dc = 8·level·8 (two DCT passes each scale by
    ~8·2896/2^13), a fast alternating signal concentrates in band7,
    and short payloads zero-pad to the 64-sample frame."""
    import struct

    import numpy as np

    from kafka_topic_dumper_spark.operators.multimodal import wav_spectral

    def wav(doc_id, samples):
        pcm = np.asarray(samples, dtype=np.int16).tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        return (
            doc_id,
            bytearray(
                b"RIFF"
                + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(pcm)) + pcm
            ),
        )

    rows = [
        wav(1, [1000] * 64),                      # pure DC
        wav(2, [1000, -1000] * 32),               # Nyquist alternation
        wav(3, [500] * 8),                        # short → zero-padded
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.asDict() for r in wav_spectral(df).collect()}
    r1 = got[1]
    assert r1["band0"] == abs(r1["dc"]) > 0      # all energy in DC row
    assert all(r1[f"band{u}"] == 0 for u in range(1, 8))
    r2 = got[2]
    assert r2["dc"] == 0
    # column-alternating sign cancels every row basis except the
    # highest-frequency COLUMN component, which lands in every row's
    # u? no — the 8x8 reshape puts the alternation inside each row:
    # energy sits in the highest HORIZONTAL frequency of row basis 0
    assert r2["band0"] > 0 and sum(r2[f"band{u}"] for u in range(1, 8)) == 0
    r3 = got[3]
    assert r3["dc"] != 0   # padded frame still carries the 8 samples
