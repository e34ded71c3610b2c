"""Seeded random inputs shared by the parity tests: spanned HTML tables,
table-structure predictions and OCR pages. Imports nothing from the
reference package, so tests that only need the inputs run without it."""

from __future__ import annotations

import random

from docling_ibm_models_spark.operators import otsl_ops

CELL_TAGS_SYNC = ("fcel", "ched", "rhed", "srow", "ecel")


def random_grid_table(rng: random.Random):
    """Random well-formed spanned table → (structure_tokens, cell_empties)."""
    R, C = rng.randint(1, 6), rng.randint(1, 6)
    taken = [[False] * C for _ in range(R)]
    per_row_cells: list[list[tuple[int, int, bool]]] = [[] for _ in range(R)]
    for y in range(R):
        for x in range(C):
            if taken[y][x]:
                continue
            max_cs = 1
            while x + max_cs < C and not taken[y][x + max_cs] and max_cs < 3:
                max_cs += 1
            cs = rng.randint(1, max_cs) if rng.random() < 0.4 else 1
            max_rs = 1
            while y + max_rs < R and all(
                not taken[y + max_rs][xx] for xx in range(x, x + cs)
            ) and max_rs < 3:
                max_rs += 1
            rs = rng.randint(1, max_rs) if rng.random() < 0.4 else 1
            for yy in range(y, y + rs):
                for xx in range(x, x + cs):
                    taken[yy][xx] = True
            per_row_cells[y].append((cs, rs, rng.random() < 0.2))
    toks: list[str] = []
    empties: list[bool] = []
    for row in per_row_cells:
        toks.append("<tr>")
        for cs, rs, empty in row:
            empties.append(empty)
            if cs == 1 and rs == 1:
                toks.extend(["<td>", "</td>"])
            else:
                toks.append("<td")
                if cs > 1:
                    toks.append(f' colspan="{cs}"')
                if rs > 1:
                    toks.append(f' rowspan="{rs}"')
                toks.extend([">", "</td>"])
        toks.append("</tr>")
    return toks, empties


def random_prediction(rng: random.Random):
    toks, empties = random_grid_table(rng)
    tags = otsl_ops.html_to_otsl(toks, empties).tags
    # relabel some anchors as header/section tags to exercise all cell tags
    tags = [
        rng.choice(["fcel", "ched", "rhed", "srow"]) if t == "fcel" and rng.random() < 0.3 else t
        for t in tags
    ]
    html_seq = otsl_ops.otsl_to_html(tags)
    n_bboxes = sum(1 for t in tags if t in CELL_TAGS_SYNC)
    bboxes = []
    for _ in range(n_bboxes):
        x1, y1 = rng.uniform(0, 0.9), rng.uniform(0, 0.9)
        bboxes.append([x1, y1, x1 + rng.uniform(0.01, 0.1), y1 + rng.uniform(0.01, 0.1)])
    classes = [rng.randint(0, 2) for _ in range(n_bboxes)]
    return {"rs_seq": tags, "html_seq": html_seq, "bboxes": bboxes, "classes": classes}


def random_page(rng: random.Random, n_tokens: int):
    tokens = []
    for i in range(n_tokens):
        x1, y1 = rng.uniform(0, 950), rng.uniform(0, 1150)
        tokens.append(
            {
                "id": i,
                "text": f"tok{i}",
                "bbox": {"l": x1, "t": y1, "r": x1 + rng.uniform(5, 60), "b": y1 + rng.uniform(5, 20)},
            }
        )
    return {"tokens": tokens, "width": 1000, "height": 1200}


def grid_prediction(rng: random.Random):
    """``random_prediction`` with each cell's bbox laid on its row/column
    slot of the table (jittered), so neighbouring columns and rows can share
    page tokens the way real table predictions do."""
    pred = random_prediction(rng)
    rows: list[list[str]] = [[]]
    for tag in pred["rs_seq"]:
        if tag == "nl":
            rows.append([])
        else:
            rows[-1].append(tag)
    rows = [row for row in rows if row]
    R, C = len(rows), max(len(row) for row in rows)
    bboxes = []
    for y, row in enumerate(rows):
        for x, tag in enumerate(row):
            if tag in CELL_TAGS_SYNC:
                j = [rng.uniform(-0.1, 0.1) for _ in range(4)]
                bboxes.append([(x + 0.1 + j[0]) / C, (y + 0.1 + j[1]) / R, (x + 0.9 + j[2]) / C, (y + 0.9 + j[3]) / R])
    pred["bboxes"] = bboxes
    return pred


def random_table_page(rng: random.Random, table_bbox, n_tokens: int):
    """OCR page whose tokens all fall inside ``table_bbox``, each up to 0.4
    of the table wide, so many straddle a column boundary."""
    x0, y0, x1, y1 = table_bbox
    W, H = x1 - x0, y1 - y0
    tokens = []
    for i in range(n_tokens):
        w, h = rng.uniform(0.03, 0.4) * W, rng.uniform(0.03, 0.15) * H
        left, top = rng.uniform(x0, x1 - w), rng.uniform(y0, y1 - h)
        tokens.append({"id": i, "text": f"tok{i}", "bbox": {"l": left, "t": top, "r": left + w, "b": top + h}})
    return {"tokens": tokens, "width": 1000, "height": 1200}
