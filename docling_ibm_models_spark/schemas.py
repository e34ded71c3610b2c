"""Explicit Spark schemas for every table in the pipeline (SURVEY.md §1.2).

The reference is schemaless nested-dict Python; here every stage boundary is
a fixed Arrow-friendly schema so Catalyst can prune columns and the Arrow
exchange stays zero-copy-ish.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Primary input: Common-Crawl-style pages (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),  # oracle column for smoke checks
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Extraction output: linear main-content text + block spans per url
# ---------------------------------------------------------------------------
SPAN = StructType(
    [
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("label", StringType(), False),
        StructField("block_idx", IntegerType(), False),
    ]
)

DOC_TEXT = StructType(
    [
        StructField("url", StringType(), False),
        StructField("lang", StringType(), True),
        StructField("extracted_text", StringType(), True),
        StructField("n_blocks", IntegerType(), False),
        StructField("n_chars", LongType(), False),
        StructField("spans", ArrayType(SPAN), False),
        StructField("partition_id", IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Per-partition lineage rows (north rule: resumable with lineage + metrics).
# One row per file group of a committed chunk: ``doc_count`` is the pages
# extracted from the group and ``wall_s`` the extraction kernel's seconds
# summed over every Arrow batch of the group (CPU-side work in the Python
# workers, not the chunk's wall clock; tasks run in parallel, so it can
# exceed it).
# ---------------------------------------------------------------------------
LINEAGE = StructType(
    [
        StructField("snapshot_id", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("doc_count", LongType(), False),
        StructField("wall_s", DoubleType(), False),
        StructField("status", StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Rendered page records (iOCR-page analogue; SURVEY.md §1.1)
# ---------------------------------------------------------------------------
BBOX = StructType(
    [
        StructField("l", DoubleType(), False),
        StructField("t", DoubleType(), False),
        StructField("r", DoubleType(), False),
        StructField("b", DoubleType(), False),
    ]
)

TOKEN = StructType(
    [
        StructField("id", LongType(), False),
        StructField("text", StringType(), False),
        StructField("l", DoubleType(), False),
        StructField("t", DoubleType(), False),
        StructField("r", DoubleType(), False),
        StructField("b", DoubleType(), False),
        StructField("confidence", DoubleType(), True),
    ]
)

PAGE_RECS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("image", BinaryType(), True),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("tokens", ArrayType(TOKEN), False),
        StructField("table_bboxes", ArrayType(ArrayType(DoubleType())), False),
    ]
)

# Layout predictions: one row per detected cluster (reference
# layout_predictor.py:170-177 output dict, exploded)
LAYOUT_CLUSTER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("l", DoubleType(), False),
        StructField("t", DoubleType(), False),
        StructField("r", DoubleType(), False),
        StructField("b", DoubleType(), False),
        StructField("label", StringType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)

# TableFormer response cell (reference tf_predictor.py:913-927)
TEXT_CELL_BBOX = StructType(
    [
        StructField("b", DoubleType(), False),
        StructField("l", DoubleType(), False),
        StructField("r", DoubleType(), False),
        StructField("t", DoubleType(), False),
        StructField("token", StringType(), False),
    ]
)

TF_CELL = StructType(
    [
        StructField("cell_id", IntegerType(), False),
        StructField("bbox", StructType(
            [
                StructField("b", DoubleType(), False),
                StructField("l", DoubleType(), False),
                StructField("r", DoubleType(), False),
                StructField("t", DoubleType(), False),
                StructField("token", StringType(), True),
            ]
        ), False),
        StructField("row_span", IntegerType(), False),
        StructField("col_span", IntegerType(), False),
        StructField("start_row_offset_idx", IntegerType(), False),
        StructField("end_row_offset_idx", IntegerType(), False),
        StructField("start_col_offset_idx", IntegerType(), False),
        StructField("end_col_offset_idx", IntegerType(), False),
        StructField("indentation_level", IntegerType(), False),
        StructField("text_cell_bboxes", ArrayType(TEXT_CELL_BBOX), False),
        StructField("column_header", BooleanType(), False),
        StructField("row_header", BooleanType(), False),
        StructField("row_section", BooleanType(), False),
    ]
)

TABLES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("table_id", IntegerType(), False),
        StructField("otsl_seq", ArrayType(StringType()), False),
        StructField("num_rows", IntegerType(), False),
        StructField("num_cols", IntegerType(), False),
        StructField("table_cells", ArrayType(TF_CELL), False),
    ]
)

# M8 figure-classifier stage output (real preprocessing + stubbed forward)
FIGURE_CLASS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("l", DoubleType(), False),
        StructField("t", DoubleType(), False),
        StructField("figure_class", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("top3", ArrayType(StringType()), False),
    ]
)

# M7 code/formula stage output (real SAM vision features + generated text)
CODE_FORMULA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("label", StringType(), False),
        StructField("l", DoubleType(), False),
        StructField("t", DoubleType(), False),
        StructField("r", DoubleType(), False),
        StructField("b", DoubleType(), False),
        StructField("text", StringType(), False),
        StructField("feat_norm", DoubleType(), False),
        StructField("feat_head", ArrayType(DoubleType()), False),
    ]
)

# Reading-order input elements (reference reading_order_rb.py:18-46)
PAGE_ELEMENT = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("cid", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("label", StringType(), False),
        StructField("l", DoubleType(), False),
        StructField("r", DoubleType(), False),
        StructField("t", DoubleType(), False),
        StructField("b", DoubleType(), False),
        StructField("page_width", DoubleType(), False),
        StructField("page_height", DoubleType(), False),
    ]
)

READING_ORDER_OUT = StructType(
    list(PAGE_ELEMENT.fields) + [StructField("reading_rank", IntegerType(), False)]
)
