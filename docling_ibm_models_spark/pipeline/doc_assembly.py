"""Spark stage: reading order + document text assembly.

Stage 3 of the SURVEY.md §3 lifecycle: reading order is a per-document
graph algorithm over ≤ hundreds of elements, so it runs as a grouped
pandas UDF per ``url`` (``applyInPandas`` — one shuffle on the url key,
naturally skew-safe since documents are bounded); the final linear text is
then assembled JVM-side with a sort-aggregate over
``(page_no, reading_rank)`` — the same shape as the oracle-checked
``reading_order_assembly`` query (plans/queries.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from docling_ibm_models_spark import schemas
from docling_ibm_models_spark.operators.reading_order import (
    Element,
    predict_reading_order,
)


def _order_one_doc(pdf: pd.DataFrame) -> pd.DataFrame:
    elems = [
        Element(
            cid=int(r.cid), text=r.text, label=r.label,
            l=float(r.l), r=float(r.r), t=float(r.t), b=float(r.b),
            page_no=int(r.page_no), page_width=float(r.page_width),
            page_height=float(r.page_height),
        )
        for r in pdf.itertuples()
    ]
    ordered = predict_reading_order(elems)
    rank = {e.cid: i for i, e in enumerate(ordered)}
    out = pdf.copy()
    out["reading_rank"] = [rank[int(c)] for c in pdf["cid"]]
    return out


def order_elements(elements: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """page_elements → +reading_rank, grouped per url.

    ``num_partitions`` caps the grouping shuffle's width: for tiny inputs
    the default 32 shuffle partitions cold-spawn 32 python workers to rank
    a few hundred rows (~10-17 s of pure spawn cost in this sandbox). The
    pre-repartition on the SAME key is reused by the groupBy (no second
    Exchange). Leave None at scale."""
    if num_partitions is not None:
        elements = elements.repartition(num_partitions, "url")
    return elements.groupBy("url").applyInPandas(
        lambda pdf: _order_one_doc(pdf), schema=schemas.READING_ORDER_OUT
    )


