"""Table-cell ↔ OCR-token spatial matching — from scratch.

The reference's CellMatcher
(/root/reference/docling_ibm_models/tableformer/data_management/tf_cell_matcher.py)
is a per-table nested-loop spatial theta-join plus coordinate plumbing; this
module re-creates its observable behavior (verified against the imported
reference on randomized tables in tests/test_matcher_parity.py — no code
copied) as pure functions the Spark layer calls per table inside Arrow
batches. The *relational* formulation of the same join is exposed as the
``spatial_iopdf_join`` query (plans/queries.py) for the DuckDB oracle.

Per-table cardinalities are ≤ a few hundred cells, so in-UDF Python loops
are the right granularity (SURVEY.md §2.4 J2 note); cross-table parallelism
comes from the Arrow batch and partitioning.

Behavioral quirks preserved deliberately (byte parity):
* the intersection guard compares ``b2[1] > b2[3]`` (not b1/b2 mixed) —
  tf_cell_matcher.py:72;
* OTSL walk emits a table cell for ``xcel`` too (tf_cell_matcher.py:382)
  even though the bbox-sync check does not count xcel;
* duplicate {table_cell_id, iopdf} matches are dropped, the match counter
  counts only appended entries (tf_cell_matcher.py:517-526).
"""

from __future__ import annotations

import numpy as np

from docling_ibm_models_spark.operators.otsl_ops import (
    otsl_spans_from_html_tokens,
)

_CELL_EMIT_TAGS = ("fcel", "ecel", "xcel", "ched", "rhed", "srow")


def bbox_intersection(b1, b2):
    """Intersection bbox of two x1y1x2y2 boxes, or None.

    Keeps the reference's exact (asymmetric) no-overlap guard
    (tf_cell_matcher.py:72): the fourth comparison is ``b2[1] > b2[3]``."""
    if b1[2] < b2[0] or b2[2] < b1[0] or b1[1] > b2[3] or b2[1] > b2[3]:
        return None
    return [max(b1[0], b2[0]), max(b1[1], b2[1]), min(b1[2], b2[2]), min(b1[3], b2[3])]


def translate_bboxes(table_bbox, cell_bboxes):
    """Table-normalized top-left-origin cell bboxes → page coords
    (bottom-left origin), same float-op sequence as the reference
    (tf_cell_matcher.py:420-463) so results are bitwise equal."""
    tx1, ty1, tx2, ty2 = table_bbox[0], table_bbox[1], table_bbox[2], table_bbox[3]
    w = tx2 - tx1
    h = ty2 - ty1
    b = np.asarray(cell_bboxes)
    shifted = np.asarray([tx1, ty2, tx1, ty2]) + np.asarray([w, -h, w, -h]) * b
    reordered = shifted[:, [0, 3, 2, 1]]
    out = []
    for x1, y1, x2, y2 in reordered.tolist():
        out.append([x1, ty2 - y2 + ty1, x2, ty2 - y1 + ty1])
    return out


def build_table_cells(html_seq, otsl_seq, bboxes, classes):
    """OTSL walk → table cells with grid (row_id, column_id) and span values.

    Spans come from the HTML round trip exactly as the reference does it
    (tf_cell_matcher.py:255-269 via html_to_otsl → otsl_spans; our local
    re-derivation is parity-proven in tests/test_otsl_parity.py)."""
    spans = otsl_spans_from_html_tokens(html_seq)
    cells = []
    cell_id = 0
    row_id = 0
    col_id = 0
    for tag in otsl_seq:
        if tag == "nl":
            row_id += 1
            col_id = 0
            continue
        if tag in _CELL_EMIT_TAGS:
            bbox = list(bboxes[cell_id]) if cell_id < len(bboxes) else [0.0, 0.0, 0.0, 0.0]
            cell_class = classes[cell_id] if cell_id < len(classes) else 2
            cell = {
                "cell_id": cell_id,
                "row_id": row_id,
                "column_id": col_id,
                "bbox": bbox,
                "cell_class": cell_class,
                "label": tag,
                "multicol_tag": "",
            }
            cs, rs = spans.get(cell_id, (0, 0))
            if cs > 0:
                cell["colspan_val"] = cs
            if rs > 0:
                cell["rowspan_val"] = rs
            cells.append(cell)
            cell_id += 1
        col_id += 1
    return cells


def match_iopdf(table_cells, pdf_cells):
    """J2 — intersection-over-pdf-cell-area spatial join
    (tf_cell_matcher.py:465-527): every overlapping pair with iopdf > 0,
    keyed by pdf cell id, deduped on identical match records."""
    if not pdf_cells:
        return {}, 0
    areas = [
        (p["bbox"][2] - p["bbox"][0]) * (p["bbox"][3] - p["bbox"][1])
        for p in pdf_cells
    ]
    # skip exact-duplicate (cell_id, bbox) entries: they would generate
    # byte-identical match records, which the value-dedupe below drops
    # anyway — pruning them up front is output-equivalent but avoids
    # re-running the whole pdf loop per duplicate (post-processor step 1
    # legitimately produces many duplicates)
    seen_cells: set[tuple] = set()
    unique_cells = []
    for tcell in table_cells:
        key = (tcell["cell_id"], tuple(tcell["bbox"]))
        if key not in seen_cells:
            seen_cells.add(key)
            unique_cells.append(tcell)
    matches: dict[int, list[dict]] = {}
    count = 0
    for tcell in unique_cells:
        tid = tcell["cell_id"]
        tb = tcell["bbox"]
        for j, pcell in enumerate(pdf_cells):
            ib = bbox_intersection(tb, pcell["bbox"])
            if ib is None:
                continue
            iopdf = 0
            if float(areas[j]) > 0:
                iopdf = (ib[2] - ib[0]) * (ib[3] - ib[1]) / float(areas[j])
            if iopdf > 0:
                rec = {"table_cell_id": tid, "iopdf": iopdf}
                bucket = matches.setdefault(pcell["id"], [])
                if not bucket:
                    bucket.append(rec)
                    count += 1
                elif rec not in bucket:
                    bucket.append(rec)
                    count += 1
    return matches, count


def normalize_pdf_cells(tokens):
    """Copy tokens, lowering dict bboxes {l,t,r,b} to [l,t,r,b] lists
    (tf_cell_matcher.py:129-140)."""
    out = []
    for tok in tokens:
        tok = dict(tok)
        bb = tok["bbox"]
        if isinstance(bb, dict):
            tok["bbox"] = [bb["l"], bb["t"], bb["r"], bb["b"]]
        else:
            tok["bbox"] = list(bb)
        out.append(tok)
    return out


def match_cells(iocr_page, table_bbox, prediction, iou_thres=0.05):
    """Full J2 orchestration (tf_cell_matcher.py:110-175): normalize
    tokens, translate predicted bboxes to page coords, build grid cells,
    spatial-join. Returns the reference-shaped matching_details dict."""
    pdf_cells = normalize_pdf_cells(iocr_page["tokens"])
    bboxes_page = translate_bboxes(table_bbox, prediction["bboxes"])
    table_cells = build_table_cells(
        prediction["html_seq"], prediction["rs_seq"], bboxes_page, prediction["classes"]
    )
    matches: dict = {}
    count = 0
    if pdf_cells:
        matches, count = match_iopdf(table_cells, pdf_cells)
    return {
        "iou_threshold": iou_thres,
        "table_bbox": table_bbox,
        "prediction_bboxes_page": bboxes_page,
        "prediction": prediction,
        "pdf_cells": pdf_cells,
        "page_height": iocr_page["height"],
        "page_width": iocr_page["width"],
        "table_cells": table_cells,
        "matches": matches,
    }
