"""`prep` CLI action: documents parquet → quality filter → canonical
dedup → vocab + fixed-shape token shards, end-to-end through main()."""

from __future__ import annotations

from kafka_topic_dumper_spark import cli
from kafka_topic_dumper_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_prep_end_to_end(spark, tmp_path):
    out = str(tmp_path / "prep_out")
    rc = cli.main(
        [
            "prep",
            "--input",
            f"{SF}/documents.parquet",
            "--output",
            out,
            "--seq-len",
            "128",
            "--vocab-size",
            "256",
        ]
    )
    assert rc == 0

    vocab = spark.read.parquet(out + "/vocab")
    assert vocab.columns == ["tok", "token_id"]
    n_vocab = vocab.count()
    assert 0 < n_vocab <= 256
    ids = sorted(r.token_id for r in vocab.collect())
    assert ids == list(range(1, n_vocab + 1))

    shards = spark.read.parquet(out + "/shards")
    rows = shards.collect()
    assert rows and all(len(r.token_ids) == 128 for r in rows)
    # sequences cover exactly the kept corpus's token count
    total_real = sum(r.n_real for r in rows)
    assert total_real > 0
    # kept docs ≤ input docs (quality filter + dedup only ever drop)
    n_docs = load_table(spark, SF, "documents").count()
    assert total_real <= n_docs * 200  # sanity bound, not exact


def test_prep_requires_args(spark):
    assert cli.main(["prep"]) == 2


def test_prep_dry_run(spark, tmp_path):
    out = str(tmp_path / "never_written")
    rc = cli.main(
        ["prep", "--input", f"{SF}/documents.parquet", "--output", out, "-x"]
    )
    assert rc == 0
    import os

    assert not os.path.exists(out)


def test_prep_near_dup_minhash_matches_batch_rule(spark, tmp_path, monkeypatch):
    """`prep --near-dup=minhash` must admit EXACTLY the set the
    registry row's oracle rule defines over the exact-dedup survivors:
    a doc is dropped iff a smaller-id survivor shares any MinHash-LSH
    band key. The CLI runs the ONLINE streaming filter; the
    expectation here is the independent batch computation. The replay
    copy of the corpus is removed when the command returns."""
    import tempfile

    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.operators.dedup import (
        canonical_mapping,
        minhash_band_keys,
        minhash_signatures,
    )
    from kafka_topic_dumper_spark.operators.text import quality_classifier

    out = str(tmp_path / "prep_neardup_out")
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    rc = cli.main(
        [
            "prep",
            "--input",
            f"{SF}/documents.parquet",
            "--output",
            out,
            "--seq-len",
            "128",
            "--vocab-size",
            "256",
            "--near-dup",
            "minhash",
        ]
    )
    assert rc == 0
    assert not list(scratch.glob("prep_neardup_*"))
    got = {r.doc_id for r in spark.read.parquet(out + "/kept_docs").collect()}

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept = docs.join(
        quality_classifier(docs).filter(F.col("keep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    survivors = kept.join(
        canonical_mapping(kept).filter(F.col("is_dup") == 0).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    banded = minhash_band_keys(minhash_signatures(survivors))
    dropped = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    expect = {
        r.doc_id
        for r in survivors.join(dropped, "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    }
    assert got == expect
    assert len(got) < survivors.count() or not (
        {r.doc_id for r in dropped.collect()}
    ), "corpus should exercise the near-dup drop path"


def test_prep_writes_kept_docs_manifest(spark, tmp_path):
    """The default (no near-dup) prep writes the admitted-set manifest
    too, and it equals the quality+exact-dedup survivor set."""
    import os

    out = str(tmp_path / "prep_manifest_out")
    rc = cli.main(
        ["prep", "--input", f"{SF}/documents.parquet", "--output", out,
         "--seq-len", "128", "--vocab-size", "256"]
    )
    assert rc == 0
    assert os.path.isdir(out + "/kept_docs")
    n = spark.read.parquet(out + "/kept_docs").count()
    assert 0 < n <= spark.read.parquet(f"{SF}/documents.parquet").count()


def test_prep_near_dup_setsim_matches_batch_rule(spark, tmp_path):
    """`prep --near-dup=setsim` must admit exactly the quality+dedup
    survivors minus every doc_b of a setsim pair at J >= 80% — the
    smaller-id-survives rule over the LOSSLESS prefix-join pair set."""
    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.operators.dedup import (
        canonical_mapping,
        setsim_prefix_join_pairs,
    )
    from kafka_topic_dumper_spark.operators.text import quality_classifier

    out = str(tmp_path / "prep_setsim_out")
    rc = cli.main(
        [
            "prep",
            "--input",
            f"{SF}/documents.parquet",
            "--output",
            out,
            "--seq-len",
            "128",
            "--vocab-size",
            "256",
            "--near-dup",
            "setsim",
        ]
    )
    assert rc == 0
    got = {r.doc_id for r in spark.read.parquet(out + "/kept_docs").collect()}

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept = docs.join(
        quality_classifier(docs).filter(F.col("keep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    survivors = kept.join(
        canonical_mapping(kept).filter(F.col("is_dup") == 0).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    drops = {
        r.doc_b
        for r in setsim_prefix_join_pairs(
            survivors.select("doc_id", "text")
        ).collect()
    }
    want = {r.doc_id for r in survivors.collect()} - drops
    assert got == want and got


def test_prep_token_budget_caps_corpus_quality_first(spark, tmp_path):
    """`prep --token-budget=N` must keep exactly the
    token_budget_selection set over the quality+dedup survivors —
    the highest-quality docs whose cumulative token count fits N —
    and the resulting shard count must shrink accordingly."""
    from pyspark.sql import functions as F

    from kafka_topic_dumper_spark.operators.dedup import canonical_mapping
    from kafka_topic_dumper_spark.operators.text import (
        quality_classifier,
        token_budget_selection,
    )

    budget = 3000
    out = str(tmp_path / "prep_budget_out")
    rc = cli.main(
        [
            "prep",
            "--input",
            f"{SF}/documents.parquet",
            "--output",
            out,
            "--seq-len",
            "128",
            "--vocab-size",
            "256",
            "--token-budget",
            str(budget),
        ]
    )
    assert rc == 0
    got = {r.doc_id for r in spark.read.parquet(out + "/kept_docs").collect()}

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept = docs.join(
        quality_classifier(docs).filter(F.col("keep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    survivors = kept.join(
        canonical_mapping(kept)
        .filter(F.col("is_dup") == 0)
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    expect_rows = token_budget_selection(survivors, budget).collect()
    expect = {r.doc_id for r in expect_rows}
    assert got == expect
    assert 0 < len(got) < survivors.count()  # budget genuinely bites
    assert max(r.cum_tokens for r in expect_rows) <= budget


def test_help_renders():
    """--help must not crash: argparse %-expands every help string, so a
    bare % in help text (the r14 '80%,' bug) raises ValueError at
    format time. format_help() exercises every option's help."""
    import pytest

    with pytest.raises(SystemExit) as exc:
        cli.main(["--help"])
    assert exc.value.code == 0
