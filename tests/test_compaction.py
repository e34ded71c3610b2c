"""Small-file compaction: many tiny files → few target-size files with
byte-identical content and an atomic swap (no half-written directory)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from docling_ibm_models_spark.pipeline.compaction import (
    _plan_groups,
    compact_parquet_dir,
)

from .conftest import SF_SMALL


def test_plan_groups_bin_packing():
    files = [(f"f{i}", 10) for i in range(10)] + [("big", 120)]
    groups = _plan_groups(files, target_bytes=100)
    assert ["big"] in groups  # oversized file untouched, own group
    sizes = [sum(10 for f in g if f != "big") for g in groups if g != ["big"]]
    assert all(s <= 100 for s in sizes)
    assert sum(len(g) for g in groups) == 11  # every file assigned once


def test_compact_preserves_content_and_reduces_files(spark, tmp_path):
    src = str(tmp_path / "many")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    docs.repartition(40).write.parquet(src)  # 40 tiny files
    before = sorted(
        r.content
        for r in spark.read.parquet(src)
        .select(F.md5(F.concat_ws("|", "doc_id", "text")).alias("content"))
        .collect()
    )
    n_files_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files_before == 40

    report = compact_parquet_dir(spark, src, target_bytes=512 * 1024)
    assert report.files_before == 40
    assert report.files_after < 40
    n_files_after = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files_after == report.files_after
    assert os.path.exists(f"{src}/_SUCCESS")
    # no leftover tmp/bak directories (atomic swap completed)
    assert not os.path.exists(src + ".__compact_tmp")
    assert not os.path.exists(src + ".__compact_bak")

    after = sorted(
        r.content
        for r in spark.read.parquet(src)
        .select(F.md5(F.concat_ws("|", "doc_id", "text")).alias("content"))
        .collect()
    )
    assert before == after  # byte-identical row content


def test_compact_empty_dir_is_noop(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    report = compact_parquet_dir(spark, str(d))
    assert report.files_before == report.files_after == 0


def test_compact_carries_sidecars_and_recovers(spark, tmp_path):
    """Non-parquet sidecar entries (e.g. the lineage _manifest_v2 dir)
    survive compaction; an interrupted swap is repaired on the next run."""
    import os

    from docling_ibm_models_spark.pipeline.compaction import _recover, compact_parquet_dir

    path = str(tmp_path / "lake")
    df = spark.range(0, 2000).selectExpr("id", "id * 2 AS v")
    df.repartition(16).write.parquet(path)
    os.makedirs(os.path.join(path, "_manifest_v2"))
    with open(os.path.join(path, "_manifest_v2", "chunk-0.json"), "w") as f:
        f.write('{"rows": 2000}')

    rep = compact_parquet_dir(spark, path, target_bytes=10 * 1024 * 1024)
    assert rep.files_after < rep.files_before
    assert os.path.exists(os.path.join(path, "_manifest_v2", "chunk-0.json"))
    assert spark.read.parquet(path).count() == 2000

    # simulate a hard crash between the two commit renames
    os.rename(path, path + ".compact_bak")
    assert not os.path.exists(path)
    assert _recover(path, "compact") is True
    assert spark.read.parquet(path).count() == 2000
    assert os.path.exists(os.path.join(path, "_manifest_v2", "chunk-0.json"))
