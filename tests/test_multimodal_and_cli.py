"""Multimodal binary-column ops, skew handling, and the CLI entry."""

from __future__ import annotations

import json
import subprocess
import sys

from pyspark.sql import functions as F

from docling_ibm_models_spark.operators.multimodal import (
    fake_features,
    media_metadata_stage,
    sniff_mime,
)
from docling_ibm_models_spark.pipeline.extract import salt_partition
from docling_ibm_models_spark.sources.pages_source import pages_from_documents

from .conftest import SF_SMALL


def test_sniff_mime():
    assert sniff_mime(b"\x89PNG\r\n\x1a\nrest") == "image/png"
    assert sniff_mime(b"\xff\xd8\xff\xe0") == "image/jpeg"
    assert sniff_mime(b"<!DOCTYPE html>") == "text/html"
    assert sniff_mime(b"") == "application/octet-stream"
    assert sniff_mime(None) == "application/octet-stream"


def test_fake_features_deterministic():
    assert fake_features(b"abc") == fake_features(b"abc")
    assert fake_features(b"abc") != fake_features(b"abd")
    assert len(fake_features(b"x", dim=8)) == 8


def test_media_metadata_stage(spark):
    pages = pages_from_documents(spark, SF_SMALL).limit(50)
    meta = media_metadata_stage(pages).collect()
    assert len(meta) == 50
    for r in meta:
        assert r.mime == "text/html"  # synthetic pages start with <!DOCTYPE
        assert r.n_bytes > 0
        assert len(r.content_hash) == 32
        assert len(r.features) == 16


def test_salt_partition_balances_hostile_skew(spark):
    """Adversarial host skew: 90% of urls on one host. Salting by full-url
    hash spreads rows near-uniformly across partitions."""
    rows = [(f"https://bighost.example/{i}", f"p{i}") for i in range(900)]
    rows += [(f"https://host{i}.example/x", f"q{i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["url", "text"])
    P = 16
    counts = (
        salt_partition(df, P)
        .groupBy("partition_id")
        .count()
        .collect()
    )
    sizes = [r["count"] for r in counts]
    assert len(sizes) == P
    assert max(sizes) < 2.2 * (1000 / P)  # no partition dominates


def test_cli_entry_runs_and_resumes(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pages_from_documents(spark, SF_SMALL, parallelism=4).write.parquet(pages_dir)

    cmd = [
        sys.executable, "-m", "docling_ibm_models_spark.run",
        "--pages", pages_dir, "--out", out_dir,
        "--partitions", "4", "--master", "local[4]",
    ]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r1.returncode == 0, r1.stderr[-2000:]
    rep1 = json.loads([l for l in r1.stdout.splitlines() if l.startswith("{")][-1])
    assert rep1["docs_processed"] == 500

    # second invocation: everything committed → no-op resume
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd="/root/repo")
    rep2 = json.loads([l for l in r2.stdout.splitlines() if l.startswith("{")][-1])
    assert rep2["partitions_processed"] == 0
    assert rep2["partitions_done_before"] == 4

    out = spark.read.parquet(f"{out_dir}/doc_text")
    assert out.count() == 500
