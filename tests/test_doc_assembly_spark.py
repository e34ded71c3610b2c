"""Spark reading-order stage: distributed result == pure-Python result."""

from __future__ import annotations

from docling_ibm_models_spark import schemas
from docling_ibm_models_spark.operators.reading_order import predict_reading_order
from docling_ibm_models_spark.pipeline.doc_assembly import order_elements
from docling_ibm_models_spark.sources.elements_source import (
    shuffled,
    synth_page_elements,
)


def _rows_for(url, elems):
    return [
        (url, e.page_no, e.cid, f"text-{e.cid}", e.label,
         float(e.l), float(e.r), float(e.t), float(e.b),
         float(e.page_width), float(e.page_height))
        for e in elems
    ]


def test_spark_reading_order_matches_local(spark):
    rows = []
    expected = {}
    for d in range(12):
        url = f"doc-{d}"
        truth = synth_page_elements(d)
        for e in truth:
            e.text = f"text-{e.cid}"
        ordered = predict_reading_order(list(truth))
        expected[url] = [e.cid for e in ordered]
        rows += _rows_for(url, shuffled(truth, d * 3 + 1))
    df = spark.createDataFrame(rows, schema=schemas.PAGE_ELEMENT)
    out = order_elements(df).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r.url, r.reading_rank)):
        got.setdefault(r.url, []).append(r.cid)
    assert got == expected
