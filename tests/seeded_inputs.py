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
