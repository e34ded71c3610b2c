"""Resumable, lineage-tracked extraction runs (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Protocol (Iceberg-style, implemented over partitioned parquet since the
sandbox has no Iceberg catalog; the layout maps 1:1 onto Iceberg file scan
tasks + ``df.writeTo(...).append()`` + a lineage table on a real cluster):

* a **snapshot_id** pins the input (deterministic hash of the input path +
  generation params — the stand-in for an Iceberg ``VERSION AS OF``),
* the input's data files are deterministically bucketed into **file
  groups** (= lineage partitions) by sorted order; each chunk of groups is
  ONE Spark write job that reads only its own files (scan pruning — resume
  never rescans committed work, unlike a row-level url-hash filter which
  would re-read everything), extracts, and writes doc_text under
  ``out/doc_text/partition_id=…`` with dynamic partition overwrite
  (idempotent per partition). The extraction kernel adds each
  partition's pages and kernel seconds to an accumulator during that job;
  once the write has returned, the chunk's lineage rows are built from the
  accumulator on the driver and appended under ``out/lineage/``. A chunk's
  lineage commits only after its data commits, so lineage is always an
  under-approximation of durable work — safe to resume from.
* **resume** = read lineage, select committed partition_ids for this
  snapshot, process only the complement's files.

A chunk commit runs exactly one Spark job, the doc_text write. The
one-row manifest and lineage appends (``_append_rows``) are driver-side
file-system work, the way a Delta Lake commit is one small log file put
by the driver: the rows are serialized with pyarrow, written through the
table's Hadoop ``FileSystem`` to a hidden ``_tmp-<uuid>.parquet`` and
renamed to ``part-<uuid>.parquet``. ``lineage/`` and ``_manifest_v2/`` stay
plain parquet tables; Spark's file index skips ``_``-prefixed files, so a
crash before the rename leaves no visible row. Readers check
``fs.exists`` before reading, so a fresh out dir costs no failed read and
an unreadable table raises instead of reading as empty. Parquet pages are
read with ``schemas.PAGES``, checked once per run against one input
footer on the driver, instead of a schema-inference job.

Reference parity note: the reference has no incremental machinery at all
(SURVEY.md §2.7); this module is the Spark-native capability the north rule
adds.
"""

from __future__ import annotations

import json
import time
import uuid
import zlib
from dataclasses import dataclass, field
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from docling_ibm_models_spark import schemas
from docling_ibm_models_spark.pipeline.extract import extract_doc_text, partition_stats

_MANIFEST = StructType(
    [
        StructField("snapshot_id", LongType()),
        StructField("fingerprint", LongType()),
        StructField("num_groups", IntegerType()),
    ]
)


def snapshot_id_for(input_desc: str) -> int:
    """Deterministic 63-bit snapshot id from an input descriptor string."""
    return zlib.crc32(input_desc.encode()) * 2654435761 % (1 << 62)


@dataclass
class RunReport:
    snapshot_id: int
    partitions_total: int
    partitions_done_before: int
    partitions_processed: int
    docs_processed: int
    chunks: int
    chunk_wall_s: list[float] = field(default_factory=list)  # one per committed chunk


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` on the driver's Hadoop config."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jvm_path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def list_file_groups(
    spark: SparkSession,
    input_path: str,
    num_groups: int,
    suffix: str | tuple[str, ...] = ".parquet",
) -> list[list[str]]:
    """Deterministically bucket the input's data files into lineage groups.

    Local stand-in for planning Iceberg file scan tasks: sorted file list,
    round-robin into ``num_groups`` buckets (files are size-balanced by the
    writer, so round-robin keeps groups even). ``suffix`` selects the data
    files (``.parquet`` for lake tables, ``.warc``/``.warc.gz`` for raw
    crawl archives)."""
    fs, jvm_path = _hadoop_path(spark, input_path)
    files = sorted(
        str(f.getPath())
        for f in fs.listStatus(jvm_path)
        if f.isFile() and f.getPath().getName().endswith(suffix)
    )
    groups: list[list[str]] = [[] for _ in range(min(num_groups, max(1, len(files))))]
    for i, f in enumerate(files):
        groups[i % len(groups)].append(f)
    return groups


def _append_rows(spark: SparkSession, rows: list[tuple], schema: StructType, path: str) -> None:
    """Append ``rows`` to the parquet table at ``path`` as one new file,
    written by the driver (no Spark job): serialized with pyarrow, put
    under a hidden ``_tmp-`` name, then renamed into place."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.fieldNames(), row)) for row in rows], schema=to_arrow_schema(schema)
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    fs, table_dir = _hadoop_path(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = uuid.uuid4()
    tmp = Path(table_dir, f"_tmp-{name}.parquet")
    out = fs.create(tmp, False)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, Path(table_dir, f"part-{name}.parquet")):
        raise OSError(f"could not rename {tmp} into place under {path}")


def _exists(spark: SparkSession, path: str) -> bool:
    fs, jvm_path = _hadoop_path(spark, path)
    return fs.exists(jvm_path)


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of one parquet file, read from its footer on the
    driver (no Spark job) with the session's type-mapping settings."""
    jvm = spark._jvm
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsc.hadoopConfiguration(), jvm.org.apache.hadoop.fs.Path(path)
    )
    converter = jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    return StructType.fromJson(
        json.loads(converter.convert(footer.getFileMetaData().getSchema()).json())
    )


def _check_pages_footer(spark: SparkSession, path: str) -> None:
    """Refuse a pages file whose columns do not carry ``schemas.PAGES``'s
    names and types. Pages are read with that schema; this one footer read
    replaces Spark's schema inference, which also reads one footer but as
    a Spark job."""
    types = {f.name: f.dataType for f in _footer_schema(spark, path).fields}
    for f in schemas.PAGES.fields:
        if f.name not in types:
            raise ValueError(f"pages file {path} has no column {f.name!r} (schemas.PAGES)")
        if types[f.name] != f.dataType:
            raise ValueError(
                f"pages column {f.name!r} in {path} is {types[f.name].simpleString()}, "
                f"schemas.PAGES has {f.dataType.simpleString()}"
            )


def _check_snapshot_manifest(
    spark: SparkSession, out_dir: str, snapshot_id: int, groups: list[list[str]]
) -> None:
    """Snapshot pinning safety (the ``VERSION AS OF`` analogue): a
    snapshot_id is a claim that (input file set, group partitioning) is
    frozen. Record the SORTED-file-list fingerprint plus the group count on
    first run; refuse to resume if either drifted under the same
    snapshot_id — a changed file set would silently mix inputs, a changed
    ``num_groups`` would remap partition_ids onto different file groups
    and corrupt the resume bookkeeping. The two failure modes get distinct
    messages."""
    files = sorted(f for g in groups for f in g)
    fingerprint = zlib.crc32("\n".join(files).encode())
    num_groups = len(groups)
    # v2: sorted-file fingerprint + explicit num_groups. The v1 manifest
    # (round-robin-flattened fingerprint, no num_groups column) is
    # schema- AND value-incompatible, so v2 lives at its own path — a v1
    # out_dir re-pins on the next run instead of silently mixing schemas
    # in one directory or false-alarming on the changed fingerprint basis.
    path = f"{out_dir}/_manifest_v2"
    prev = {}
    if _exists(spark, path):
        prev = {
            r.snapshot_id: (r.fingerprint, r.num_groups)
            for r in spark.read.schema(_MANIFEST).parquet(path).collect()
        }
    if snapshot_id in prev:
        prev_fp, prev_ng = prev[snapshot_id]
        if prev_fp != fingerprint:
            raise ValueError(
                f"input file set drifted under pinned snapshot {snapshot_id}: "
                "refusing to resume (use a new snapshot_id for new input)"
            )
        if prev_ng != num_groups:
            raise ValueError(
                f"partitioning changed under pinned snapshot {snapshot_id}: "
                f"{prev_ng} file groups at first run vs {num_groups} now — "
                "resume with the original num_partitions/chunk size, or use "
                "a new snapshot_id + output dir to re-partition"
            )
        return
    _append_rows(spark, [(snapshot_id, fingerprint, num_groups)], _MANIFEST, path)


def committed_partitions(spark: SparkSession, out_dir: str, snapshot_id: int) -> set[int]:
    path = f"{out_dir}/lineage"
    if not _exists(spark, path):
        return set()
    lin = spark.read.schema(schemas.LINEAGE).parquet(path)
    # one row per committed chunk partition: a plain collect, no shuffle
    rows = (
        lin.filter(
            (F.col("snapshot_id") == snapshot_id) & (F.col("status") == "committed")
        )
        .select("partition_id")
        .collect()
    )
    return {r.partition_id for r in rows}


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    snapshot_id: int,
    num_partitions: int = 32,
    chunk_partitions: int | None = None,
    max_chunks: int | None = None,
    input_format: str = "parquet",
) -> RunReport:
    """Run (or resume) the extraction of the pages table at ``pages_path``.

    ``chunk_partitions`` controls checkpoint granularity (file groups per
    commit). ``max_chunks`` lets tests simulate a mid-run kill: the run
    stops after N committed chunks; a later call resumes exactly there.
    ``input_format='warc'`` runs the same lineage/resume machinery directly
    over raw crawl archives (sources/warc_source.py) — group = set of
    archives, scan = binaryFile + parse, everything downstream identical.
    """
    suffix: str | tuple[str, ...]
    if input_format == "warc":
        from docling_ibm_models_spark.sources.warc_source import pages_from_warc

        suffix = (".warc", ".warc.gz")

        def read_group(files: list[str]) -> DataFrame:
            return pages_from_warc(spark, files)

    elif input_format == "parquet":
        suffix = ".parquet"

        def read_group(files: list[str]) -> DataFrame:
            return spark.read.schema(schemas.PAGES).parquet(*files)

    else:
        raise ValueError(f"unknown input_format {input_format!r}")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    groups = list_file_groups(spark, pages_path, num_partitions, suffix=suffix)
    if input_format == "parquet" and groups[0]:
        _check_pages_footer(spark, groups[0][0])
    _check_snapshot_manifest(spark, out_dir, snapshot_id, groups)
    num_groups = len(groups)
    chunk_partitions = chunk_partitions or num_groups
    done = committed_partitions(spark, out_dir, snapshot_id)
    todo = [g for g in range(num_groups) if g not in done]
    chunks = [
        todo[i : i + chunk_partitions] for i in range(0, len(todo), chunk_partitions)
    ]
    if max_chunks is not None:
        chunks = chunks[:max_chunks]

    docs_processed = 0
    processed_parts = 0
    chunk_wall_s = []
    for chunk in chunks:
        t0 = time.perf_counter()
        # one scan per group (narrow, file-pruned), unioned into one write
        # job. The write is a result stage: Spark applies a result task's
        # accumulator update once per partition and drops the updates of
        # failed attempts, so once it returns, ``stats`` holds exactly the
        # committed pages and kernel seconds of every group.
        stats = partition_stats(spark)
        extracted = reduce(
            DataFrame.unionByName,
            [extract_doc_text(read_group(groups[g]), partition_id=g, stats=stats) for g in chunk],
        )
        (
            extracted.write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(f"{out_dir}/doc_text")
        )
        counts = stats.value
        rows = [
            (snapshot_id, g, *counts.get(g, (0, 0.0)), "committed") for g in chunk
        ]
        _append_rows(spark, rows, schemas.LINEAGE, f"{out_dir}/lineage")
        docs_processed += sum(r[2] for r in rows)
        processed_parts += len(chunk)
        chunk_wall_s.append(time.perf_counter() - t0)

    return RunReport(
        snapshot_id=snapshot_id,
        partitions_total=num_groups,
        partitions_done_before=len(done),
        partitions_processed=processed_parts,
        docs_processed=docs_processed,
        chunks=len(chunks),
        chunk_wall_s=chunk_wall_s,
    )


def read_incremental(
    spark: SparkSession,
    out_dir: str,
    snapshot_id: int,
    seen_partitions: set[int] | None = None,
) -> tuple[DataFrame, set[int]]:
    """Incremental consumption — the Iceberg incremental-append-scan
    analogue for downstream training-data consumers ("give me everything
    extracted since my last read").

    The consumer keeps its own tiny checkpoint: the set of (committed)
    partition_ids it has already ingested. Each call returns (a) a
    DataFrame of ONLY the newly committed partitions — a partition-pruned
    scan over ``doc_text/partition_id=…``, so at 10^12 docs an
    incremental read touches just the new files, never the table — and
    (b) the updated checkpoint set to persist for the next call. Because
    lineage commits strictly after data (module protocol), every
    partition this returns is durably complete; a producer still running
    simply yields its remaining partitions on later calls."""
    seen = set(seen_partitions or ())
    committed = committed_partitions(spark, out_dir, snapshot_id)
    new = sorted(committed - seen)
    df = spark.read.parquet(f"{out_dir}/doc_text")
    if new:
        out = df.where(F.col("partition_id").isin([int(p) for p in new]))
    else:
        out = df.where(F.lit(False))
    return out, committed
