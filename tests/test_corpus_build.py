"""End-to-end corpus build (r4 VERDICT directive #6): the clean → dedup →
decontaminate → mix → pack composition, its JSONL shard export with
manifest, and the audit gate that refuses to ship a bad corpus."""

import json
import os

import pytest

from pyspark.sql import functions as F

from gravitydb_spark.pipeline_queries import (
    CorpusAuditError,
    build_corpus,
    export_corpus_jsonl,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_build_corpus_composition_tightens_monotonically(spark, sf_dir):
    """Each stage only removes documents: packed ⊆ clean ⊆ documents, and
    the packed output respects the sequence budget invariants."""
    from gravitydb_spark.pipeline_queries import SEQ_BUDGET, clean_corpus

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    clean_ids = {r["doc_id"] for r in clean_corpus(spark, sf_dir).collect()}
    packed = build_corpus(spark, sf_dir).collect()
    packed_ids = {r["doc_id"] for r in packed}
    assert packed_ids <= clean_ids <= set(range(0, n_docs * 10))
    assert 0 < len(packed_ids) < len(clean_ids) < n_docs
    for r in packed:
        assert 0 <= r["seq_offset"] < SEQ_BUDGET
        assert r["seq_id"] <= r["seq_id_end"]


def test_export_manifest_round_trip(spark, sf_dir, tmp_path):
    """The manifest must be reproducible from the shards alone: re-reading
    the JSONL gives the same per-shard doc counts, token sums, and doc_id
    checksums, and the same packed rows build_corpus returns."""
    out = str(tmp_path / "corpus_out")
    manifest = export_corpus_jsonl(spark, sf_dir, out, n_shards=3)

    with open(os.path.join(out, "manifest.json")) as f:
        assert json.load(f) == manifest
    assert manifest["n_shards"] == 3
    assert manifest["total_docs"] == sum(s["n_docs"] for s in manifest["shards"])

    back = spark.read.json(os.path.join(out, "shards"))
    # partition column `shard` is discovered from the directory layout
    from gravitydb_spark.pipeline_queries import _h32

    got = {
        r["shard"]: r
        for r in back.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(_h32(F.col("doc_id").cast("string"))).alias("doc_checksum"),
        )
        .collect()
    }
    assert len(got) == 3
    for s in manifest["shards"]:
        r = got[s["shard"]]
        assert r["n_docs"] == s["n_docs"]
        assert r["n_tokens"] == s["n_tokens"]
        assert r["doc_checksum"] == s["doc_checksum"]

    # the exported rows ARE the packed corpus
    packed = {
        (r["doc_id"], r["seq_id"], r["seq_offset"])
        for r in build_corpus(spark, sf_dir).collect()
    }
    exported = {
        (r["doc_id"], r["seq_id"], r["seq_offset"]) for r in back.collect()
    }
    assert exported == packed


def test_audit_gate_blocks_bad_corpus(spark, tmp_path, monkeypatch):
    """A corpus violating the audit (duplicate doc_ids here) must raise
    CorpusAuditError and write NOTHING."""
    import gravitydb_spark.pipeline_queries as pq

    def fake_build(spark_, sf_dir_):
        return spark.createDataFrame(
            [(1, "src0", 40, 0, 0, 0), (1, "src0", 40, 0, 40, 0)],
            "doc_id long, source string, n_tokens long,"
            " seq_id long, seq_offset long, seq_id_end long",
        )

    monkeypatch.setattr(pq, "build_corpus", fake_build)
    sf_fake = str(tmp_path / "sf_fake")
    spark.createDataFrame(
        [(1, "some text here", "en", "src0", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_fake}/documents.parquet")

    out = str(tmp_path / "bad_out")
    with pytest.raises(CorpusAuditError, match="duplicate doc_ids"):
        export_corpus_jsonl(spark, sf_fake, out, n_shards=2)
    assert not os.path.exists(os.path.join(out, "shards"))
    assert not os.path.exists(os.path.join(out, "manifest.json"))


def test_cli_corpus_build_verb(tmp_path):
    """The corpus-build CLI verb exports manifested shards and prints
    the manifest JSON."""
    import json
    import subprocess
    import sys as _sys

    out = str(tmp_path / "cli_corpus")
    r = subprocess.run(
        [
            _sys.executable,
            "-m",
            "gravitydb_spark.cli",
            "corpus-build",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--out",
            out,
            "--shards",
            "2",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    manifest = json.loads(r.stdout)
    assert manifest["n_shards"] == 2 and manifest["total_docs"] > 0
    with open(os.path.join(out, "manifest.json")) as f:
        assert json.load(f) == manifest
