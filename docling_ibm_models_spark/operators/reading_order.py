"""Rule-based reading order — from scratch.

Re-creates the observable behavior of the reference's
ReadingOrderPredictor
(/root/reference/docling_ibm_models/reading_order/reading_order_rb.py):
per-page header/body/footer partition (:89-95), "just-above" dominance DAG
(:309-360), optional horizontal dilation (:362-403), geometric head sort
(:405-428, via PageElement.__lt__ :35-43) and DFS with up-search
(:444-490). The reference's caption/footnote linking and hyphenation
merges are not ported: no query or pipeline stage consumes them. The
reference is not importable here (docling_core not installed), so geometry
predicates follow the public docling-core BoundingBox semantics
(bottom-left origin, eps=1e-3). Correctness is established two ways
(tests/test_reading_order.py): behaviorally per the reference's own
protocol (Spearman ≥ 0.9 per page on shuffled synthetic layouts — mirrors
/root/reference/tests/test_reading_order.py:142-151), and by TRUE parity
of the order against the reference module imported with a faked
docling_core sharing this geometry vocabulary, on randomized layouts.

Notes on reference quirks mirrored here:
* ``l2r_map`` is permanently disabled (guard ``False`` at :302) — kept
  out entirely, and the ``is_horizontally_connected`` computation at
  :337-342 is dead (never used in the decision) — omitted.

Spark integration: one document's elements fit trivially in memory
(≤ hundreds), so the Spark layer runs this per url via ``applyInPandas``
(grouped by url) and assembles final text with a window over
(page_no, reading_rank) — see pipeline/doc_assembly.py.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass

EPS = 1.0e-3

# DocItemLabel string values (public docling-core enum values)
PAGE_HEADER = "page_header"
PAGE_FOOTER = "page_footer"
CAPTION = "caption"
FOOTNOTE = "footnote"
TABLE = "table"
PICTURE = "picture"
CODE = "code"
TEXT = "text"


@dataclass
class Element:
    """Bottom-left-origin page element (FIXTURES.md §5 schema)."""

    cid: int
    text: str
    label: str
    l: float  # noqa: E741
    r: float
    t: float
    b: float
    page_no: int = 0
    page_width: float = 0.0
    page_height: float = 0.0

    # -- geometry (docling-core BoundingBox semantics, bottom-left origin) --
    def overlaps_horizontally(self, other: "Element") -> bool:
        return not (self.r <= other.l or other.r <= self.l)

    def overlaps_vertically(self, other: "Element") -> bool:
        return not (self.t <= other.b or other.t <= self.b)

    def overlaps(self, other: "Element") -> bool:
        return self.overlaps_horizontally(other) and self.overlaps_vertically(other)

    def is_strictly_above(self, other: "Element", eps: float = EPS) -> bool:
        return self.b + eps > other.t

    def is_strictly_left_of(self, other: "Element", eps: float = EPS) -> bool:
        return self.r + eps < other.l

    def __lt__(self, other: "Element") -> bool:
        # reference PageElement.__lt__ (:35-43): same page → higher-first
        # when horizontally overlapping, else left-first
        if self.page_no == other.page_no:
            if self.overlaps_horizontally(other):
                return self.b > other.b
            return self.l < other.l
        return self.page_no < other.page_no


def _just_above_dag(elems: list[Element]):
    """O(n³) geometric dominance: dn/up maps of "i is just above j" edges
    (reference _init_ud_maps :309-360, minus the dead branches)."""
    up = {i: [] for i in range(len(elems))}
    dn = {i: [] for i in range(len(elems))}
    for j, ej in enumerate(elems):
        for i, ei in enumerate(elems):
            if i == j:
                continue
            just_above = ei.overlaps_horizontally(ej) and ei.is_strictly_above(ej)
            if not just_above:
                continue
            for w, ew in enumerate(elems):
                # no w vertically between i and j (sharing x-range with either)
                if ei.overlaps_horizontally(ew) or ej.overlaps_horizontally(ew):
                    if ei.is_strictly_above(ew) and ew.is_strictly_above(ej):
                        just_above = False
                        break
            if just_above:
                dn[i].append(j)
                up[j].append(i)
    return up, dn


def _dilate_horizontally(elems: list[Element], up, dn) -> list[Element]:
    """Widen each element toward its first up/dn neighbor (reference
    _do_horizontal_dilation :362-403).

    Reference quirk mirrored: the widened ``l/r`` are assigned to the
    dilated element BEFORE the overlap test (:384-385), and the guarded
    branch (:397-401) only re-assigns the same values plus the unchanged
    ``b/t`` — so the dilation is effectively unconditional; the overlap
    check gates nothing observable."""
    dilated = copy.deepcopy(elems)
    for i, d in enumerate(dilated):
        x0, x1 = d.l, d.r
        if up.get(i):
            x0 = min(x0, elems[up[i][0]].l)
            x1 = max(x1, elems[up[i][0]].r)
        if dn.get(i):
            x0 = min(x0, elems[dn[i][0]].l)
            x1 = max(x1, elems[dn[i][0]].r)
        d.l, d.r = x0, x1
    return dilated


def _order_page(elems: list[Element], dilate: bool = True) -> list[int]:
    """Topological DFS order of one page partition (reference _predict_page
    :213-283 + _find_heads/_sort_ud_maps/_find_order)."""
    n = len(elems)
    if n == 0:
        return []
    up, dn = _just_above_dag(elems)
    if dilate:
        up, dn = _just_above_dag(_dilate_horizontally(elems, up, dn))

    heads = sorted((i for i in range(n) if not up[i]), key=lambda i: elems[i])
    for i in range(n):
        dn[i] = sorted(dn[i], key=lambda j: elems[j])

    order: list[int] = []
    visited = [False] * n

    def up_search(j: int) -> int:
        for ind in up[j]:
            if not visited[ind]:
                return up_search(ind)
        return j

    def down(j: int):
        for i in dn[j]:
            k = up_search(i)
            if not visited[k]:
                order.append(k)
                visited[k] = True
                down(k)

    for h in heads:
        if not visited[h]:
            order.append(h)
            visited[h] = True
            down(h)

    # safety: append anything unreached (cycles cannot happen in the
    # strict-above DAG, but degenerate geometry might orphan nodes)
    for i in range(n):
        if not visited[i]:
            order.append(i)
    return order


def predict_reading_order(elements: list[Element], dilate: bool = True) -> list[Element]:
    """Document-level ordering: per page, headers → body → footers, each
    partition DFS-ordered (reference predict_reading_order :71-115)."""
    pages = sorted({e.page_no for e in elements})
    by_page: dict[int, dict[str, list[Element]]] = {
        p: {"hdr": [], "body": [], "ftr": []} for p in pages
    }
    for e in elements:
        kind = "hdr" if e.label == PAGE_HEADER else "ftr" if e.label == PAGE_FOOTER else "body"
        by_page[e.page_no][kind].append(e)
    out: list[Element] = []
    for p in pages:
        for kind in ("hdr", "body", "ftr"):
            group = by_page[p][kind]
            out.extend(group[i] for i in _order_page(group, dilate))
    return out
