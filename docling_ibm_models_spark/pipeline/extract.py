"""End-to-end extraction stage: pages → doc_text, Spark-first.

Shape (SURVEY.md §3, "Spark lifecycle of our engine"):

    pages scan (file-group pruned) → one ``mapInArrow`` stage running the
    pure-Python extraction kernel per Arrow batch (no per-row Python at
    the JVM boundary) → doc_text rows carrying their partition_id.

**Lineage counters ride an accumulator, not the rows.** Given a
``partition_stats`` accumulator, the kernel adds ``{partition_id: (pages,
kernel_s)}`` per Arrow batch; the caller reads it after the action that
consumed the rows (pipeline/lineage.py reads it after the doc_text write),
so the per-partition lineage needs no second job over the data.

**Why the default path has NO shuffle.** Extraction is a narrow per-row map
whose cost is proportional to html bytes, and parquet scan splits are
byte-balanced by ``spark.sql.files.maxPartitionBytes`` — so per-task work is
naturally even and a pre-shuffle would only move every html payload across
the cluster for nothing (measured locally: the salt shuffle added 2-10 s of
erratic wall to a 2.5 s narrow stage at local[32]). Key-skew salting
(``salt_partition``) is provided for the *keyed* operators (joins,
aggregations) and for adversarial host-skew inputs, where it belongs.
Lineage partitioning therefore follows the Iceberg model: the unit of
commit/resume is the input *file group* (pipeline/lineage.py), which prunes
the scan on resume instead of re-filtering every row by url-hash.

The analogous reference flow is single-process Python
(/root/reference/docling_ibm_models/tableformer/data_management/tf_predictor.py:698-836);
here the only process boundary is the JVM↔Python Arrow exchange.
"""

from __future__ import annotations

import functools
import time

from pyspark import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_ibm_models_spark import schemas
from docling_ibm_models_spark.functions.html_extract import extract_main_content


class _PartitionStatsParam(AccumulatorParam):
    """``{partition_id: (pages, kernel_s)}``, merged by summing per key."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for pid, (pages, secs) in other.items():
            p0, s0 = acc.get(pid, (0, 0.0))
            acc[pid] = (p0 + pages, s0 + secs)
        return acc


def partition_stats(spark: SparkSession) -> Accumulator:
    """A fresh accumulator for :func:`extract_doc_text`'s ``stats``: after an
    action over the extracted rows, ``.value`` maps each partition_id to
    (pages extracted, summed kernel seconds)."""
    return spark.sparkContext.accumulator({}, _PartitionStatsParam())


def salt_partition(df: DataFrame, num_partitions: int, key: str = "url") -> DataFrame:
    """Explicit skew neutralization for KEYED downstream ops: hash-shuffle
    on the FULL key, then tag each row with its physical partition index.

    The repartition hashes the raw key value (murmur3, JVM-side), so rows
    spread near-uniformly over ``num_partitions`` regardless of how hostile
    the on-disk layout or host distribution is (north rule: "partitioning /
    shuffle / skew handled explicitly"). ``partition_id`` is then BY
    CONSTRUCTION aligned with the physical partition (``pmod(murmur3(key),
    P)`` — deterministic per key), so per-partition lineage accounting
    (pages, kernel seconds) stays meaningful.

    Earlier versions computed ``partition_id = pmod(xxhash64(key), P)``
    first and repartitioned ON that column — balls-in-bins: murmur3 over
    only P distinct bucket tags leaves ~1/e of the physical partitions
    empty and stacks others 2-3×, i.e. the skew tool itself re-introduced
    skew (pinned by tests/test_skew_salting.py).

    The narrow extraction path deliberately does not salt — see module
    docstring.
    """
    return df.repartition(num_partitions, F.col(key)).withColumn(
        "partition_id", F.spark_partition_id()
    )


def _extract_batches_arrow(batches, stats: Accumulator | None = None):
    """mapInArrow extraction kernel — the production hot path.

    Consumes/produces ``pyarrow.RecordBatch`` directly (the north-star
    shape: "mapInArrow over page batches, no per-row Python at the JVM
    boundary"), skipping the pandas materialization layer entirely: input
    columns are read as Arrow arrays, the nested ``spans`` column is built
    natively from flat offset/value arrays (``ListArray.from_arrays`` over
    a ``StructArray``) instead of per-row Python dicts that Spark's pandas
    serializer would have to re-discover, and output batches are zero-copy
    Arrow. With ``stats``, each batch adds its pages and kernel seconds
    (the batch's own work, not time spent waiting on the JVM) per
    partition_id."""
    import pyarrow as pa
    import pyarrow.compute as pc

    span_type = pa.struct(
        [
            pa.field("start", pa.int64(), nullable=False),
            pa.field("end", pa.int64(), nullable=False),
            pa.field("label", pa.string(), nullable=False),
            pa.field("block_idx", pa.int32(), nullable=False),
        ]
    )
    for rb in batches:
        if rb.num_rows == 0:
            continue
        t0 = time.monotonic()
        names = rb.schema.names
        cols = {n: rb.column(i) for i, n in enumerate(names)}
        texts: list[str] = []
        nblocks: list[int] = []
        nchars: list[int] = []
        starts: list[int] = []
        ends: list[int] = []
        labels: list[str] = []
        bidx: list[int] = []
        offsets: list[int] = [0]
        for h in cols["html"].to_pylist():
            text, spans = extract_main_content(h)
            texts.append(text)
            nblocks.append(len(spans))
            nchars.append(len(text))
            for s, e, lbl, i in spans:
                starts.append(s)
                ends.append(e)
                labels.append(lbl)
                bidx.append(i)
            offsets.append(len(starts))
        span_struct = pa.StructArray.from_arrays(
            [
                pa.array(starts, pa.int64()),
                pa.array(ends, pa.int64()),
                pa.array(labels, pa.string()),
                pa.array(bidx, pa.int32()),
            ],
            fields=list(span_type),
        )
        spans_col = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), span_struct)
        out = pa.RecordBatch.from_arrays(
            [
                cols["url"],
                cols["lang"],
                pa.array(texts, pa.string()),
                pa.array(nblocks, pa.int32()),
                pa.array(nchars, pa.int64()),
                spans_col,
                cols["partition_id"],
            ],
            names=schemas.DOC_TEXT.fieldNames(),
        )
        if stats is not None:
            secs = time.monotonic() - t0
            n = rb.num_rows
            counts = pc.value_counts(cols["partition_id"]).to_pylist()
            stats.add({c["values"]: (c["counts"], secs * c["counts"] / n) for c in counts})
        yield out


def extract_doc_text(
    pages: DataFrame,
    num_partitions: int | None = None,
    partition_id: int | None = None,
    stats: Accumulator | None = None,
) -> DataFrame:
    """pages (input_hint shape) → doc_text rows.

    Default: narrow map over the scan splits (no shuffle); ``partition_id``
    tags all rows with the caller's lineage partition (file-group id). If
    ``num_partitions`` is given instead, rows are salt-shuffled by url-hash
    and partition_id is the salt bucket (legacy/keyed mode). ``stats``, a
    :func:`partition_stats` accumulator, receives per-partition pages and
    kernel seconds from every task that runs the kernel.
    """
    if num_partitions is not None:
        salted = salt_partition(pages, num_partitions)
    else:
        salted = pages.withColumn("partition_id", F.lit(int(partition_id or 0)))
    # explicit projection: only url/lang/html/partition_id cross the Arrow
    # boundary (ground-truth `text` + warc_ts stay JVM-side / pruned at scan)
    pruned = salted.select("url", "lang", "html", "partition_id")
    kernel = _extract_batches_arrow
    if stats is not None:
        kernel = functools.partial(_extract_batches_arrow, stats=stats)
    return pruned.mapInArrow(kernel, schema=schemas.DOC_TEXT)


def doc_text_clean(extracted: DataFrame) -> DataFrame:
    """The user-facing doc_text columns of ``extracted``."""
    return extracted.select(*schemas.DOC_TEXT.fieldNames())
