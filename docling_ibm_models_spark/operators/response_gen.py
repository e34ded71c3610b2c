"""TF response generation & bbox bookkeeping — from scratch.

Re-creates the deterministic output-shaping half of the reference's
TFPredictor (/root/reference/docling_ibm_models/tableformer/data_management/
tf_predictor.py): bbox/tag sync repair (A10, :219-269), the
docling-output ↔ pdf-cell merge (J4, :369-425), the response-generation
join (J5, :891-986) and the row/col index compaction (A11, :502-564 inline
in multi_table_predict). Parity is verified in
tests/test_response_parity.py against the reference methods imported with
fake torch modules; no code copied.

All functions are per-table pure Python for the Arrow-batched UDF layer;
the relational skeleton of A11 is the ``dense_rank_compaction`` oracle
query and of J5/J4 the equi-join + collect_list shape described in
SURVEY.md §2.4.
"""

from __future__ import annotations


def delete_bboxes_at(bboxes, indexes):
    """Drop bboxes at the given positions (reference _deletebbox)."""
    return [b for i, b in enumerate(bboxes) if i not in indexes]


def remove_bbox_span_desync(prediction):
    """A10 — delete the 1 extra bbox emitted after each span tag ('>'),
    using the reference's counter semantics (:227-244)."""
    counter = 0
    to_delete = []
    for tok in prediction["html_seq"]:
        if tok == "<td>":
            counter += 1
        if tok == ">":
            counter += 1
            to_delete.append(counter)
    return delete_bboxes_at(prediction["bboxes"], to_delete)


def check_bbox_sync(prediction):
    """A10 — bbox count must equal cell-emitting tag count; repair when
    desynced (:246-269)."""
    count_td = 0
    for tok in prediction["html_seq"]:
        if tok in ("<td>", ">") or tok in ("fcel", "ecel", "ched", "rhed", "srow"):
            count_td += 1
    if len(prediction["bboxes"]) != count_td:
        return False, remove_bbox_span_desync(prediction)
    return True, prediction["bboxes"]


def merge_tf_output(docling_output, pdf_cells):
    """J4 — nest matched pdf-cell bboxes into each output cell, dedupe by
    (col,row) key keeping the first (equi-join + collect_list shape,
    reference :369-425)."""
    cells_map: dict[str, dict] = {}
    for item in docling_output:
        key = f"{item['start_col_offset_idx']}_{item['start_row_offset_idx']}"
        if key not in cells_map:
            cells_map[key] = {
                "bbox": item["bbox"],
                "row_span": item["row_span"],
                "col_span": item["col_span"],
                "start_row_offset_idx": item["start_row_offset_idx"],
                "end_row_offset_idx": item["end_row_offset_idx"],
                "start_col_offset_idx": item["start_col_offset_idx"],
                "end_col_offset_idx": item["end_col_offset_idx"],
                "indentation_level": item["indentation_level"],
                "text_cell_bboxes": [],
                "column_header": item["column_header"],
                "row_header": item["row_header"],
                "row_section": item["row_section"],
            }
        for p in pdf_cells:
            if p["id"] == item["cell_id"]:
                cells_map[key]["text_cell_bboxes"].append(
                    {
                        "b": p["bbox"][3],
                        "l": p["bbox"][0],
                        "r": p["bbox"][2],
                        "t": p["bbox"][1],
                        "token": p["text"],
                    }
                )
    return list(cells_map.values())


def generate_tf_response(table_cells, matches):
    """J5 — matches ⋈ table_cells on table_cell_id → docling tf_cell
    records with span offsets and header flags (reference :891-986)."""
    out = []
    for pdf_cell_id, mlist in matches.items():
        cell = {
            "bbox": {},
            "row_span": 1,
            "col_span": 1,
            "start_row_offset_idx": -1,
            "end_row_offset_idx": -1,
            "start_col_offset_idx": -1,
            "end_col_offset_idx": -1,
            "indentation_level": 0,
            "text_cell_bboxes": [{}],
            "column_header": False,
            "row_header": False,
            "row_section": False,
            "cell_id": int(pdf_cell_id),
        }
        row_ids: set = set()
        col_ids: set = set()
        labels: set = set()
        for m in mlist:
            found = [t for t in table_cells if t["cell_id"] == m["table_cell_id"]]
            if not found:
                continue
            t = found[0]
            row_ids.add(t["row_id"])
            col_ids.add(t["column_id"])
            labels.add(t["label"])
            if t["label"] == "ched":
                cell["column_header"] = True
            if t["label"] == "rhed":
                cell["row_header"] = True
            if t["label"] == "srow":
                cell["row_section"] = True
            cell["start_col_offset_idx"] = t["column_id"]
            cell["end_col_offset_idx"] = t["column_id"] + 1
            cell["start_row_offset_idx"] = t["row_id"]
            cell["end_row_offset_idx"] = t["row_id"] + 1
            if "colspan_val" in t:
                cell["col_span"] = t["colspan_val"]
                cell["end_col_offset_idx"] = t["column_id"] + cell["col_span"]
            if "rowspan_val" in t:
                cell["row_span"] = t["rowspan_val"]
                cell["end_row_offset_idx"] = t["row_id"] + cell["row_span"]
            if "bbox" in t:
                b = t["bbox"]
                cell["bbox"] = {"b": b[3], "l": b[0], "r": b[2], "t": b[1]}
        cell["row_ids"] = list(row_ids)
        cell["column_ids"] = list(col_ids)
        l_labels = list(labels)
        cell["label"] = l_labels[0] if l_labels else "None"
        out.append(cell)
    return out


def compact_row_col_indexes(tf_responses):
    """A11 — replace gapped col/row IDs by their dense rank; end offsets
    re-derived from spans (reference :502-564 inline). Mutates in place and
    returns (num_cols, num_rows) — len of distinct end ids, as the
    reference counts them."""
    start_cols, end_cols, start_rows, end_rows = [], [], [], []
    for c in tf_responses:
        if c["start_col_offset_idx"] not in start_cols:
            start_cols.append(c["start_col_offset_idx"])
        if c["end_col_offset_idx"] not in end_cols:
            end_cols.append(c["end_col_offset_idx"])
        if c["start_row_offset_idx"] not in start_rows:
            start_rows.append(c["start_row_offset_idx"])
        if c["end_row_offset_idx"] not in end_rows:
            end_rows.append(c["end_row_offset_idx"])
    start_cols.sort()
    end_cols.sort()
    start_rows.sort()
    end_rows.sort()
    for c in tf_responses:
        c["start_col_offset_idx"] = start_cols.index(c["start_col_offset_idx"])
        c["end_col_offset_idx"] = c["start_col_offset_idx"] + c["col_span"]
        c["start_row_offset_idx"] = start_rows.index(c["start_row_offset_idx"])
        c["end_row_offset_idx"] = c["start_row_offset_idx"] + c["row_span"]
    return len(end_cols), len(end_rows)
