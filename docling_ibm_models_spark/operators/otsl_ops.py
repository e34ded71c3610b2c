"""OTSL tag-sequence operations — from-scratch, grid-based.

OTSL (One Table Structure Language, Lysak et al. 2023, arXiv:2305.03393) is
the reference's table-structure representation: a row-major token sequence
over ``{fcel, ecel, ched, rhed, srow, lcel, ucel, xcel, nl}`` where ``lcel``
extends the cell to its left, ``ucel`` the cell above, and ``xcel`` a 2-D
span; ``nl`` terminates a grid row.

Behavioral parity surface (verified in tests/test_otsl_parity.py by importing
the reference and comparing on random tables — no code copied):
/root/reference/docling_ibm_models/tableformer/otsl.py:30-245
(``otsl_clean``, ``otsl_sqr_chk``, ``otsl_pad_to_sqr``, ``otsl_to_html``)
and the span map of :248-554 (``html_to_otsl``). The reference parser's
quirk-exact tag stream is not ported; the grid-based :func:`html_to_otsl`
here builds the OTSL tags of the tests' seeded tables.

Unlike the reference's token-stream state machine, this implementation
materializes a 2-D occupancy grid and derives everything from it. These are
pure functions; the Spark layer calls them per table inside Arrow-batched
UDFs (tables are small — a few hundred cells — so per-table Python is the
right granularity; cross-table parallelism comes from the Arrow batch).
"""

from __future__ import annotations

from dataclasses import dataclass

CELL_TAGS = ("fcel", "ched", "rhed", "srow", "ecel")
_CELL_TAG_SET = frozenset(CELL_TAGS)
SPECIALS = frozenset(("<pad>", "<unk>", "<start>", "<end>"))


def clean(tags: list[str]) -> list[str]:
    """Drop special tokens (reference otsl.py:30-36 behavior)."""
    return [t for t in tags if t not in SPECIALS]


def split_rows(tags: list[str]) -> list[list[str]]:
    """Row-major split on ``nl`` (empty rows vanish, like itertools.groupby)."""
    rows: list[list[str]] = []
    cur: list[str] = []
    for t in tags:
        if t == "nl":
            if cur:
                rows.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        rows.append(cur)
    return rows


def is_square(tags: list[str]) -> bool:
    """True when every grid row has the first row's length (otsl.py:39-65)."""
    rows = split_rows(tags)
    if not rows:
        return True
    w = len(rows[0])
    return all(len(r) == w for r in rows)


def pad_to_square(tags: list[str], pad_tag: str) -> list[str]:
    """Pad every row to the max row length with ``pad_tag`` (otsl.py:68-81)."""
    rows = split_rows(tags)
    w = max((len(r) for r in rows), default=0)
    out: list[str] = []
    for r in rows:
        out.extend(r)
        out.extend([pad_tag] * (w - len(r)))
        out.append("nl")
    return out


def _span_extent_right(rows: list[list[str]], x: int, y: int) -> int:
    """Width of the span anchored at (y, x): walk right over non-anchor tags.

    Mirrors the observable result of reference ``otsl_check_right``
    (otsl.py:112-122) including its end-of-row behavior: if the walk hits the
    row end while still on a continuation tag, that trailing cell counts.
    """
    stop = _CELL_TAG_SET | {"ucel", "nl"}
    d = 1
    cx = x
    cur = "lcel"
    while cur not in stop and cx < len(rows[y]) - 1:
        cx += 1
        d += 1
        cur = rows[y][cx]
    if cur in stop:
        d -= 1
    return d


def _span_extent_down(rows: list[list[str]], x: int, y: int) -> int:
    """Height of the span anchored at (y, x) (reference otsl.py:99-109)."""
    stop = _CELL_TAG_SET | {"lcel", "nl"}
    d = 1
    cy = y
    cur = "ucel"
    while cur not in stop and cy < len(rows) - 1:
        cy += 1
        d += 1
        cur = rows[cy][x]
    if cur in stop:
        d -= 1
    return d


def otsl_to_html(tags: list[str]) -> list[str]:
    """OTSL sequence → HTML structure token list.

    Byte-compatible with reference ``otsl_to_html`` (otsl.py:125-245),
    including its quirks: passthrough when the first token is not a cell tag;
    ``lcel``-padding of non-square inputs; ``<thead>``/``</thead>`` inserted
    around runs of rows containing ``ched``; 2-D spans cancelled when they
    overlap an already-registered 2-D span; and the 2-D span emitting
    ``rowspan`` then ``colspan`` only when its width > 1.
    """
    if not tags:
        return []
    if tags[0] not in _CELL_TAG_SET:
        return list(tags)  # already HTML tokens
    if not is_square(tags):
        tags = pad_to_square(tags, "lcel")
    rows = split_rows(tags)

    html: list[str] = []
    seen_2d: set[tuple[int, int]] = set()
    in_thead = False
    for y, row in enumerate(rows):
        if not in_thead and "ched" in row:
            html.append("<thead>")
            in_thead = True
        elif in_thead and "ched" not in row:
            html.append("</thead>")
            in_thead = False
        html.append("<tr>")
        for x, tag in enumerate(row):
            if tag not in _CELL_TAG_SET:
                continue
            right = row[x + 1] if x + 1 < len(row) else None
            below = rows[y + 1][x] if y + 1 < len(rows) else None
            rdist = ddist = xr = xd = 0
            spanned = False
            if right == "lcel":
                rdist = _span_extent_right(rows, x, y)
                spanned = True
            if below == "ucel":
                ddist = _span_extent_down(rows, x, y)
                spanned = True
            if right == "xcel":
                xr = _span_extent_right(rows, x, y)
                xd = _span_extent_down(rows, x, y)
                spanned = True
                cells_2d = [(cx, cy) for cx in range(x, x + xr) for cy in range(y, y + xd)]
                if any(c in seen_2d for c in cells_2d):
                    spanned = False
                else:
                    seen_2d.update(cells_2d)
            if spanned:
                html.append("<td")
                if rdist > 1:
                    html.append(f' colspan="{rdist}"')
                if ddist > 1:
                    html.append(f' rowspan="{ddist}"')
                if xr > 1:
                    html.append(f' rowspan="{xd}"')
                    html.append(f' colspan="{xr}"')
                html.append(">")
                html.append("</td>")
            else:
                html.append("<td>")
                html.append("</td>")
        html.append("</tr>")
    return html


def otsl_spans_from_html_tokens(structure_tokens: list[str]) -> dict[int, list[int]]:
    """Per-cell span map ``{cell_index: [colspan, rowspan]}`` from HTML
    structure tokens — the exact surface the reference's inference path
    consumes (tf_cell_matcher.py:264-269 reads only ``otsl_spans`` from
    ``html_to_otsl``).

    The reference's parser computes these span entries purely locally from
    each cell's attribute tokens (otsl.py:468-515: rules keyed on
    prev/next token only), so this re-derivation is a simple scan. Its
    *tag-stream* output additionally has a cursor quirk for 2-D spans
    (the xcel loop at otsl.py:501-515 never advances ``current_column``,
    misplacing later rowspan continuations); the span map is unaffected,
    and our grid-based :func:`html_to_otsl` intentionally does not
    reproduce that corrupted tag stream.
    """
    spans: dict[int, list[int]] = {}
    cell = -1
    cs = rs = 1
    open_td = False
    for tok in structure_tokens:
        if tok in ("<td>", "<td"):
            cell += 1
            cs = rs = 1
            open_td = tok == "<td"
        elif open_td:
            parsed = _parse_span_attr(tok)
            if parsed:
                kind, val = parsed
                if kind == "colspan":
                    cs = val
                else:
                    rs = val
            elif tok == ">":
                if cs > 1 or rs > 1:
                    spans[cell] = [cs, rs]
                open_td = False
    return spans


# ---------------------------------------------------------------------------
# HTML structure tokens → OTSL (grid-based re-derivation)
# ---------------------------------------------------------------------------


@dataclass
class OtslTable:
    tags: list[str]  # flat OTSL incl. nl terminators
    spans: dict[int, list[int]]  # cell index → [colspan, rowspan] (spans > 1 only)
    rows: int
    cols: int


def _parse_span_attr(tok: str) -> tuple[str, int] | None:
    tok = tok.strip()
    for kind in ("colspan", "rowspan"):
        prefix = f'{kind}="'
        if tok.startswith(prefix) and tok.endswith('"'):
            try:
                return kind, int(tok[len(prefix) : -1])
            except ValueError:
                return None
    return None


def html_to_otsl(structure_tokens: list[str], cell_is_empty: list[bool] | None = None) -> OtslTable:
    """HTML structure token stream → OTSL grid.

    Accepts the PubTabNet-style token vocabulary the reference consumes
    (otsl.py:248-554): ``<td>``, ``<td``, ``' colspan="k"'``, ``' rowspan="k"'``,
    ``'>'``, ``</td>``, ``<tr>``, ``</tr>``, ``<thead>``, ``<tbody>``.

    Algorithm (unlike the reference's stream state machine): first collect
    per-row anchor cells with their (colspan, rowspan), then place them on an
    occupancy grid left-to-right with pending-rowspan carry, then emit OTSL
    tags position by position:
      anchor → fcel/ecel · horizontal-only cover → lcel ·
      vertical-only cover → ucel · 2-D cover → xcel.
    """
    # pass 1: rows of (colspan, rowspan, empty)
    rows: list[list[tuple[int, int, bool]]] = []
    cur: list[tuple[int, int, bool]] | None = None
    pending: tuple[int, int] | None = None  # (colspan, rowspan) of open <td
    cell_ind = 0
    for tok in structure_tokens:
        if tok == "<tr>":
            cur = [] if cur is None else cur
        elif tok == "</tr>":
            rows.append(cur or [])
            cur = []
        elif tok in ("<td>", "<td"):
            if cur is None:
                cur = []
            pending = (1, 1)
            if tok == "<td>":
                empty = bool(cell_is_empty[cell_ind]) if cell_is_empty else False
                cur.append((1, 1, empty))
                cell_ind += 1
                pending = None
        elif tok == ">":
            if pending is not None and cur is not None:
                empty = bool(cell_is_empty[cell_ind]) if cell_is_empty else False
                cur.append((pending[0], pending[1], empty))
                cell_ind += 1
                pending = None
        elif pending is not None:
            parsed = _parse_span_attr(tok)
            if parsed:
                kind, val = parsed
                cs, rs = pending
                pending = (val, rs) if kind == "colspan" else (cs, val)
    if cur:
        rows.append(cur)

    # pass 2: occupancy grid. grid[y][x] = (anchor_y, anchor_x, cs, rs) | None
    grid: list[list[tuple[int, int, int, int] | None]] = []
    anchors: dict[tuple[int, int], bool] = {}  # (y,x) → empty?
    for y, row_cells in enumerate(rows):
        if len(grid) <= y:
            grid.append([])
        x = 0
        for cs, rs, empty in row_cells:
            while x < len(grid[y]) and grid[y][x] is not None:
                x += 1
            # extend rows/cols lazily
            for yy in range(y, y + rs):
                while len(grid) <= yy:
                    grid.append([])
                while len(grid[yy]) < x + cs:
                    grid[yy].append(None)
            for yy in range(y, y + rs):
                for xx in range(x, x + cs):
                    grid[yy][xx] = (y, x, cs, rs)
            anchors[(y, x)] = empty
            x += cs
    n_rows = len(rows)
    grid = grid[:n_rows]  # rowspans overflowing the last row are clipped
    width = max((len(r) for r in grid), default=0)

    # pass 3: emit OTSL + spans map keyed by emitted-cell index
    tags: list[str] = []
    spans: dict[int, list[int]] = {}
    emitted = 0
    for y in range(n_rows):
        for x in range(width):
            cell = grid[y][x] if x < len(grid[y]) else None
            if cell is None:
                tags.append("fcel")  # hole in a ragged table: treat as filled
                emitted += 1
                continue
            ay, ax, cs, rs = cell
            rs_eff = min(rs, n_rows - ay)  # clipped extent
            if (y, x) == (ay, ax):
                tags.append("ecel" if anchors[(y, x)] else "fcel")
                if cs > 1 or rs > 1:
                    spans[emitted] = [cs, rs]
                emitted += 1
            elif y == ay:
                tags.append("lcel" if rs_eff == 1 else "xcel")
            elif x == ax and cs == 1:
                tags.append("ucel")
            else:
                tags.append("xcel")
        tags.append("nl")
    return OtslTable(tags=tags, spans=spans, rows=n_rows, cols=width)


