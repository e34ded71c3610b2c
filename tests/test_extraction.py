"""End-to-end main-content extraction: byte-identical text per url
(north rule gate), lineage, and resume-from-checkpoint."""

from __future__ import annotations

import contextlib
import re
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from docling_ibm_models_spark import schemas
from docling_ibm_models_spark.functions.html_extract import (
    extract_main_content,
    normalize_text,
)
from docling_ibm_models_spark.pipeline.extract import doc_text_clean, extract_doc_text
from docling_ibm_models_spark.pipeline.lineage import (
    _append_rows,
    _footer_schema,
    committed_partitions,
    read_incremental,
    run_extraction,
    snapshot_id_for,
)
from docling_ibm_models_spark.sources.pages_source import pages_from_documents, render_page

from .conftest import SF_SMALL


def test_extractor_pure_roundtrip_all_docs():
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    assert len(rows) == 500
    for doc_id, text, lang, source in rows:
        url, _ts, html, expected, _ = render_page(doc_id, text, lang, source)
        got, spans = extract_main_content(html)
        assert got == expected, f"extraction mismatch for {url}"
        # spans tile the text exactly
        assert spans[0][0] == 0 and spans[-1][1] == len(got)
        for s, e, lbl, _i in spans:
            assert got[s:e] == got[s:e].strip()


def test_extractor_strips_boilerplate_generic():
    html = b"""<html><head><title>T</title><script>x=1</script></head><body>
    <nav><a href='/'>Home</a><a href='/b'>Blog</a></nav>
    <div class="ad-banner">Buy now! Limited offer on everything today only</div>
    <p>This is the actual article content, long enough to be kept as body text.</p>
    <div class="footer">copyright footer text that is fairly long as well</div>
    </body></html>"""
    text, spans = extract_main_content(html)
    assert text == "This is the actual article content, long enough to be kept as body text."
    assert [s[2] for s in spans] == ["text"]


def test_extractor_link_density_drop():
    links = "".join(f"<a href='/{i}'>Link number {i} with words</a> " for i in range(10))
    html = f"<html><body><div>{links}</div><p>Real paragraph content stays here with enough characters.</p></body></html>"
    text, _ = extract_main_content(html)
    assert text == "Real paragraph content stays here with enough characters."


def test_normalize_text():
    assert normalize_text("  a\n\t b   c ") == "a b c"


def test_spark_extraction_byte_identical(spark):
    pages = pages_from_documents(spark, SF_SMALL)
    out = doc_text_clean(extract_doc_text(pages))
    joined = out.join(pages.select("url", F.col("text").alias("expected")), "url")
    total = joined.count()
    mismatches = joined.filter(F.col("extracted_text") != F.col("expected")).count()
    assert total == 500
    assert mismatches == 0


def test_lineage_and_resume(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    pages_path = str(tmp_path / "pages")
    pages = pages_from_documents(spark, SF_SMALL, parallelism=8)
    pages.write.parquet(pages_path)
    snap = snapshot_id_for(f"{SF_SMALL}|replicas=1")

    # simulate a mid-run kill: only 2 of 4 chunks commit
    r1 = run_extraction(
        spark, pages_path, out_dir, snap, num_partitions=8, chunk_partitions=2, max_chunks=2
    )
    assert r1.partitions_processed == 4
    done = committed_partitions(spark, out_dir, snap)
    assert len(done) == 4

    # resume: processes exactly the remaining 4 partitions
    r2 = run_extraction(spark, pages_path, out_dir, snap, num_partitions=8, chunk_partitions=2)
    assert r2.partitions_done_before == 4
    assert r2.partitions_processed == 4
    assert r1.docs_processed + r2.docs_processed == 500

    # final output complete and byte-identical
    result = spark.read.parquet(f"{out_dir}/doc_text")
    assert result.count() == 500
    joined = result.join(pages.select("url", F.col("text").alias("expected")), "url")
    assert joined.filter(F.col("extracted_text") != F.col("expected")).count() == 0

    # lineage covers all 8 partitions, doc counts add up
    lin = spark.read.parquet(f"{out_dir}/lineage")
    agg = lin.filter(F.col("snapshot_id") == snap).agg(
        F.countDistinct("partition_id"), F.sum("doc_count")
    ).collect()[0]
    assert agg[0] == 8 and agg[1] == 500

    # per partition, lineage doc_count is the doc_text row count (the
    # accumulator counts exactly the committed pages) and wall_s the
    # kernel's summed seconds
    lin_rows = lin.filter(F.col("snapshot_id") == snap).collect()
    per_part = dict(result.groupBy("partition_id").count().collect())
    assert {r.partition_id: r.doc_count for r in lin_rows} == per_part
    assert all(r.wall_s > 0 for r in lin_rows)

    # re-run on completed state: no-op
    r3 = run_extraction(spark, pages_path, out_dir, snap, num_partitions=8)
    assert r3.partitions_processed == 0


# jobs of one 8-group chunk into a fresh out dir before the one-job commit:
# a Python-RDD manifest write, 8 schema inferences, the doc_text write over
# a cached chunk, 3 jobs for the lineage aggregate and 2 for its write. Now
# the only job is the doc_text write: the driver checks the pages footer
# and writes the manifest and lineage files itself.
_JOBS_PER_CHUNK_BEFORE = 15
_PYTHON_STAGE = re.compile(r"PythonRDD|MapInArrow|MapInPandas|EvalPython")


@contextlib.contextmanager
def _job_group(sc, name):
    """Tag the jobs started inside the block with job group ``name``."""
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously


def test_one_chunk_commit_runs_one_python_job(spark, tmp_path):
    """A chunk commit is exactly one Spark job, the kernel's doc_text
    write; the footer check and the manifest and lineage appends run on the
    driver."""
    pages_path = str(tmp_path / "pages")
    pages_from_documents(spark, SF_SMALL, parallelism=8).write.parquet(pages_path)
    sc = spark.sparkContext
    with _job_group(sc, "one_chunk"):
        report = run_extraction(spark, pages_path, str(tmp_path / "out"),
                                snapshot_id_for("one"), num_partitions=8)
    jobs = sc.statusTracker().getJobIdsForGroup("one_chunk")
    assert len(jobs) == 1 < _JOBS_PER_CHUNK_BEFORE
    assert report.chunks == len(report.chunk_wall_s) == 1 and report.chunk_wall_s[0] > 0

    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    stages = [
        str(graph.makeDotFile(store.operationGraphForStage(s)))
        for s in sc.statusTracker().getJobInfo(jobs[0]).stageIds
    ]
    assert len(stages) == 1
    assert "WriteFiles" in stages[0] and "MapInArrow" in stages[0]
    assert set(_PYTHON_STAGE.findall(stages[0])) == {"MapInArrow"}


def test_pages_footer_mismatch_raises_before_any_job(spark, tmp_path):
    """Pages are read with ``schemas.PAGES``: a pages table whose ``html``
    is a string is refused from its footer before any Spark job runs or
    anything is written."""
    pages_path = str(tmp_path / "pages")
    out_dir = tmp_path / "out"
    (
        pages_from_documents(spark, SF_SMALL, parallelism=2)
        .withColumn("html", F.col("html").cast("string"))
        .write.parquet(pages_path)
    )
    sc = spark.sparkContext
    with _job_group(sc, "footer_mismatch"):
        with pytest.raises(ValueError, match="'html'.*string.*binary"):
            run_extraction(spark, pages_path, str(out_dir), snapshot_id_for("footer"),
                           num_partitions=2)
    assert list(sc.statusTracker().getJobIdsForGroup("footer_mismatch")) == []
    assert not out_dir.exists()


def test_driver_written_lineage_file_has_lineage_schema(spark, tmp_path):
    """A lineage append is one renamed parquet file whose footer carries
    exactly ``schemas.LINEAGE`` (names, types, non-null fields)."""
    path = str(tmp_path / "lineage")
    _append_rows(spark, [(7, 3, 12, 0.5, "committed")], schemas.LINEAGE, path)
    files = sorted(p.name for p in (tmp_path / "lineage").iterdir() if p.suffix == ".parquet")
    assert len(files) == 1 and files[0].startswith("part-")
    assert _footer_schema(spark, f"{path}/{files[0]}") == schemas.LINEAGE
    assert spark.read.schema(schemas.LINEAGE).parquet(path).collect() == [
        (7, 3, 12, 0.5, "committed")
    ]


def test_unrenamed_lineage_file_is_not_committed(spark, tmp_path):
    """A crash between writing a lineage file and renaming it into place
    leaves a hidden ``_tmp-`` file: its rows are not committed, readers
    ignore it, and a resume re-processes its chunk."""
    pages_path = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pages_from_documents(spark, SF_SMALL, parallelism=4).write.parquet(pages_path)
    snap = snapshot_id_for("crash-before-rename")
    stray = pa.Table.from_pylist(
        [
            {"snapshot_id": snap, "partition_id": g, "doc_count": 1, "wall_s": 0.1,
             "status": "committed"}
            for g in (2, 3)
        ],
        schema=to_arrow_schema(schemas.LINEAGE),
    )
    (tmp_path / "out" / "lineage").mkdir(parents=True)
    pq.write_table(stray, f"{out_dir}/lineage/_tmp-{uuid.uuid4()}.parquet")
    # the stray file alone: lineage/ exists but holds no committed row
    assert committed_partitions(spark, out_dir, snap) == set()

    r1 = run_extraction(spark, pages_path, out_dir, snap, num_partitions=4,
                        chunk_partitions=2, max_chunks=1)
    assert r1.partitions_done_before == 0 and r1.partitions_processed == 2
    assert committed_partitions(spark, out_dir, snap) == {0, 1}
    df, seen = read_incremental(spark, out_dir, snap, set())
    assert seen == {0, 1}
    assert {r.partition_id for r in df.select("partition_id").distinct().collect()} == {0, 1}

    r2 = run_extraction(spark, pages_path, out_dir, snap, num_partitions=4, chunk_partitions=2)
    assert r2.partitions_done_before == 2 and r2.partitions_processed == 2
    assert committed_partitions(spark, out_dir, snap) == {0, 1, 2, 3}
    assert spark.read.parquet(f"{out_dir}/doc_text").count() == 500


def test_idempotent_rerun_partition_overwrite(spark, tmp_path):
    """Re-processing an already-committed chunk must not duplicate rows."""
    out_dir = str(tmp_path / "out2")
    pages_path = str(tmp_path / "pages2")
    pages_from_documents(spark, SF_SMALL, parallelism=4).write.parquet(pages_path)
    snap = snapshot_id_for("idem")
    run_extraction(spark, pages_path, out_dir, snap, num_partitions=4)
    # force re-process everything under a new snapshot: dynamic partition
    # overwrite replaces, not appends
    run_extraction(spark, pages_path, out_dir, snap + 1, num_partitions=4)
    assert spark.read.parquet(f"{out_dir}/doc_text").count() == 500


def test_snapshot_drift_guard(spark, tmp_path):
    """Resuming a pinned snapshot after the input file set changed must
    refuse loudly instead of silently mixing inputs."""
    import pytest as _pytest

    out_dir = str(tmp_path / "out3")
    pages_path = str(tmp_path / "pages3")
    pages = pages_from_documents(spark, SF_SMALL, parallelism=4)
    pages.limit(100).write.parquet(pages_path)
    snap = snapshot_id_for("drift")
    run_extraction(spark, pages_path, out_dir, snap, num_partitions=4,
                   chunk_partitions=2, max_chunks=1)
    # input drifts under the same snapshot id
    pages.limit(50).write.mode("append").parquet(pages_path)
    with _pytest.raises(ValueError, match="drifted"):
        run_extraction(spark, pages_path, out_dir, snap, num_partitions=4)
    # a fresh snapshot id over the new file set is fine
    run_extraction(spark, pages_path, out_dir, snap + 7, num_partitions=4)


def test_corrupt_manifest_raises(spark, tmp_path):
    """An unreadable ``_manifest_v2`` must fail the run, not read as empty
    and silently re-pin the snapshot under a different partitioning."""
    out_dir = tmp_path / "out"
    pages_path = str(tmp_path / "pages")
    pages_from_documents(spark, SF_SMALL, parallelism=4).write.parquet(pages_path)
    snap = snapshot_id_for("corrupt-manifest")
    run_extraction(spark, pages_path, str(out_dir), snap, num_partitions=2, max_chunks=0)
    manifest = [p for p in (out_dir / "_manifest_v2").iterdir() if p.suffix == ".parquet"]
    assert len(manifest) == 1
    manifest[0].write_bytes(b"this is not a parquet file")
    (manifest[0].parent / f".{manifest[0].name}.crc").unlink(missing_ok=True)
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE.*_manifest_v2"):
        run_extraction(spark, pages_path, str(out_dir), snap, num_partitions=4)


def test_snapshot_partitioning_change_guard(spark, tmp_path):
    """Resuming a pinned snapshot with a different group count must refuse
    with the partitioning-specific message (same input, different
    num_partitions would remap partition_ids onto different file groups)."""
    import pytest as _pytest

    out_dir = str(tmp_path / "out4")
    pages_path = str(tmp_path / "pages4")
    # 4 data files (limit() would coalesce to one file -> one group at any
    # num_partitions, making the guard untestable)
    pages_from_documents(spark, SF_SMALL, parallelism=4).write.parquet(pages_path)
    snap = snapshot_id_for("regroup")
    run_extraction(spark, pages_path, out_dir, snap, num_partitions=4,
                   chunk_partitions=2, max_chunks=1)
    with _pytest.raises(ValueError, match="partitioning changed"):
        run_extraction(spark, pages_path, out_dir, snap, num_partitions=2)
    # original partitioning resumes fine
    run_extraction(spark, pages_path, out_dir, snap, num_partitions=4)


def test_incremental_read_consumes_only_new_partitions(spark, tmp_path):
    """read_incremental: a consumer checkpointing partition_ids sees each
    committed partition exactly once, via a partition-pruned scan."""
    from docling_ibm_models_spark.pipeline.lineage import (
        read_incremental,
        run_extraction,
        snapshot_id_for,
    )
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    pages_dir = str(tmp_path / "pages")
    pages_from_documents(spark, SF_SMALL, parallelism=4).write.parquet(pages_dir)
    out = str(tmp_path / "out")
    snap = snapshot_id_for("incr-test")

    # stage 1: producer commits 2 of 4 partitions
    run_extraction(spark, pages_dir, out, snap, num_partitions=4,
                   chunk_partitions=2, max_chunks=1)
    df1, seen1 = read_incremental(spark, out, snap, set())
    urls1 = {r.url for r in df1.select("url").collect()}
    assert len(seen1) == 2 and urls1

    # the incremental scan must be partition-pruned, not a full read
    from .test_plan_quality import plan_of

    assert "partition_id" in plan_of(df1).split("PartitionFilters", 1)[-1].split("\n")[0]

    # second read with the same checkpoint: nothing new
    empty, seen_same = read_incremental(spark, out, snap, seen1)
    assert empty.count() == 0 and seen_same == seen1

    # stage 2: producer finishes; consumer sees exactly the complement
    run_extraction(spark, pages_dir, out, snap, num_partitions=4, chunk_partitions=2)
    df2, seen2 = read_incremental(spark, out, snap, seen1)
    urls2 = {r.url for r in df2.select("url").collect()}
    assert len(seen2) == 4
    assert urls1.isdisjoint(urls2)
    all_urls = {r.url for r in spark.read.parquet(f"{out}/doc_text").select("url").collect()}
    assert urls1 | urls2 == all_urls


def test_arrow_extraction_matches_driver_reference(spark):
    """Every mapInArrow row equals ``extract_main_content`` run on the
    driver over the same html — incl. the nested spans column, which the
    Arrow kernel builds natively from flat offset arrays, so this pins its
    offsets."""
    pages = pages_from_documents(spark, SF_SMALL)
    html_by_url = {r.url: bytes(r.html) for r in pages.select("url", "html").collect()}
    rows = doc_text_clean(extract_doc_text(pages)).collect()
    assert sorted(r.url for r in rows) == sorted(html_by_url)
    for r in rows:
        text, spans = extract_main_content(html_by_url[r.url])
        got_spans = [(s.start, s.end, s.label, s.block_idx) for s in r.spans]
        assert (r.extracted_text, got_spans) == (text, spans), r.url
        assert (r.n_blocks, r.n_chars) == (len(spans), len(text)), r.url
