"""Main-content extraction from raw HTML — from scratch, stdlib only.

This is the web-text analogue of the reference's page-understanding pipeline
(north rule: "HTML boilerplate strip, PDF/layout parse, DOM heuristics").
The algorithm is a block-segmentation + density-heuristic boilerplate
stripper in the tradition of Boilerpipe (Kohlschütter et al., WSDM 2010) and
jusText (Pomikálek 2011) — public literature, re-implemented from scratch:

1. stream-parse the HTML (``html.parser.HTMLParser``) into flat text blocks,
   one per block-level element, skipping non-content subtrees
   (``script/style/nav/...`` and elements whose class/id match a boilerplate
   lexicon),
2. score each block by text length and link density,
3. keep content blocks; keep headings that introduce kept content,
4. assemble the linear main-content text (blocks joined by a blank line) and
   emit byte-offset spans per block.

The reference's analogous surface is the layout-label blacklist filter
(/root/reference/docling_ibm_models/layoutmodel/layout_predictor.py:67-68,
161-163) plus reading-order assembly
(/root/reference/docling_ibm_models/reading_order/reading_order_rb.py:71-115);
here DOM structure substitutes for geometry.

Pure functions only — no Spark imports. The Spark layer wraps
:func:`extract_main_content` in an Arrow-batched ``mapInArrow`` stage
(pipeline/extract.py); nothing in this module runs per-row at the JVM
boundary.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape as _unescape
from html.parser import HTMLParser

# Subtrees that never contain main content.
_DROP_TAGS = frozenset(
    """script style noscript template svg canvas iframe object embed
    head title nav footer header aside form button select option label
    textarea figure menu dialog""".split()
)

# Void elements: never pushed on the open-element stack.
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Elements that delimit text blocks.
_BLOCK_TAGS = frozenset(
    """p h1 h2 h3 h4 h5 h6 li pre blockquote td th tr table ul ol dl dt dd
    div article section main body caption""".split()
)

# Boilerplate lexicon applied to class/id attributes (subtree dropped).
_BOILER_ATTR_RE = re.compile(
    r"(?:^|[\s_-])(nav|navbar|menu|footer|header|masthead|sidebar|ad|ads|"
    r"advert|advertisement|banner|promo|sponsor|comment|comments|share|"
    r"social|cookie|consent|subscribe|newsletter|breadcrumb|breadcrumbs|"
    r"related|recommend|widget|popup|modal|login|signup|pagination|paging|"
    r"toolbar|skip|hidden)(?:$|[\s_-])",
    re.IGNORECASE,
)

_WS_RE = re.compile(r"\s+")

# Block-level classification thresholds (Boilerpipe-style).
MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.33
MIN_HEADING_CHARS = 3

_HEADING_LABEL = {
    "h1": "title",
    "h2": "section_header",
    "h3": "section_header",
    "h4": "section_header",
    "h5": "section_header",
    "h6": "section_header",
}


def normalize_text(s: str) -> str:
    """Canonical whitespace normalization: collapse runs, strip ends.

    Shared by the extractor and the synthetic-page generator so the parity
    check exercises parsing/boilerplate removal, not whitespace handling.
    """
    return _WS_RE.sub(" ", s).strip()


@dataclass
class Block:
    tag: str
    parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    total_chars: int = 0
    cells: list[str] | None = None  # set for table rows

    @property
    def text(self) -> str:
        if self.cells is not None:
            cols = [c for c in (normalize_text(c) for c in self.cells) if c]
            return " | ".join(cols)
        return normalize_text("".join(self.parts))

    @property
    def link_density(self) -> float:
        return self.link_chars / self.total_chars if self.total_chars else 0.0


class _BlockParser(HTMLParser):
    """Flatten an HTML document into candidate text blocks."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._cur: Block | None = None
        self._drop_depth = 0
        self._boiler_stack: list[str] = []  # open tags inside a boiler subtree
        self._anchor_depth = 0
        self._pre_depth = 0
        self._row: Block | None = None  # current <tr> accumulation
        self._cell_parts: list[str] | None = None

    # -- block management ---------------------------------------------------
    def _flush(self) -> None:
        if self._cur is not None and self._cur.total_chars:
            self.blocks.append(self._cur)
        self._cur = None

    def _open_block(self, tag: str) -> None:
        self._flush()
        self._cur = Block(tag=tag)

    # -- parser callbacks ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            return
        if self._drop_depth:
            self._drop_depth += 1
            return
        if tag in _DROP_TAGS:
            self._drop_depth = 1
            return
        attr_blob = " ".join(v for k, v in attrs if k in ("class", "id", "role") and v)
        if attr_blob and _BOILER_ATTR_RE.search(attr_blob):
            self._drop_depth = 1
            return
        if tag == "a":
            self._anchor_depth += 1
        if tag == "pre":
            self._pre_depth += 1
        if tag == "tr":
            self._flush()
            self._row = Block(tag="tr", cells=[])
        elif tag in ("td", "th") and self._row is not None:
            self._cell_parts = []
        elif tag in _BLOCK_TAGS:
            self._open_block(tag)

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        if self._drop_depth:
            self._drop_depth -= 1
            return
        if tag == "a" and self._anchor_depth:
            self._anchor_depth -= 1
        if tag == "pre" and self._pre_depth:
            self._pre_depth -= 1
        if tag == "tr" and self._row is not None:
            if self._row.total_chars:
                self.blocks.append(self._row)
            self._row = None
        elif tag in ("td", "th") and self._row is not None and self._cell_parts is not None:
            self._row.cells.append("".join(self._cell_parts))
            self._cell_parts = None
        elif tag in _BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        # void elements (<br/>, <hr/>) — whitespace only
        self.handle_data(" ")

    def handle_data(self, data):
        if self._drop_depth:
            return
        if not data or (not data.strip() and self._pre_depth == 0):
            # pure whitespace still separates words
            data = " " if data else ""
            if not data:
                return
        n = len(data.strip())
        if self._cell_parts is not None:
            self._cell_parts.append(data)
            if self._row is not None:
                self._row.total_chars += n
                if self._anchor_depth:
                    self._row.link_chars += n
            return
        if self._row is not None:
            return  # stray text inside <tr> outside cells
        if self._cur is None:
            self._open_block("div")
        self._cur.parts.append(data)
        self._cur.total_chars += n
        if self._anchor_depth:
            self._cur.link_chars += n

    def close(self):
        super().close()
        self._flush()


# ---------------------------------------------------------------------------
# Fast tokenizer path
# ---------------------------------------------------------------------------
# stdlib html.parser walks the document with per-chunk callbacks and
# per-charref processing; profiling at the bench showed it allocation-bound
# (~1.6k pages/s/core, scaling 0.48 at 8→32 procs from memory pressure).
# This scanner drives the same Block state machine off one compiled
# alternation; quoted '>' in attributes is handled, comments/doctypes are
# skipped, and <script>/<style>/... raw text is skipped via a find() to the
# closing tag. Entities are unescaped per text node only when present.

_TOKEN_RE = re.compile(
    r"<!--.*?-->"  # comments
    r"|<!\[CDATA\[.*?\]\]>"  # cdata
    r"|<![^>]*>"  # doctype & other declarations
    r"|<\?[^>]*>"  # processing instructions
    r"|<(/?)([a-zA-Z][a-zA-Z0-9:-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>",  # tags
    re.DOTALL,
)

_ATTR_RE = re.compile(
    r"(class|id|role)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))", re.IGNORECASE
)

# Split alternatives of _TOKEN_RE for the inline loop's next-char dispatch:
# '<' followed by '!'/'?' can only be a declaration-family token, anything
# else only a tag — trying the 4 declaration branches on every tag token is
# pure waste. Branch order inside each pattern matches _TOKEN_RE exactly.
_DECL_RE = re.compile(
    r"<!--.*?-->|<!\[CDATA\[.*?\]\]>|<![^>]*>|<\?[^>]*>", re.DOTALL
)
_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9:-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>")

# Single-search tokenizer for the inline loop: ONE C-level ``search`` per
# token replaces the find('<') + next-char peek + per-family ``match`` of
# the previous shape (~3 Python→C transitions per tag → 1). Alternative
# order mirrors _TOKEN_RE (comment before the generic <!...> declaration);
# the trailing EMPTY alternative matches a bare '<' whose tag/declaration
# parses all fail, so the stray-'<'-is-text rule keeps exact segmentation
# parity with _scan_events (a stray '<' still splits text nodes, which
# matters for the pure-whitespace-collapse rule). The literal '<' prefix
# keeps the scan memchr-driven between tokens.
_MASTER_RE = re.compile(
    r"<(?:(/?)([a-zA-Z][a-zA-Z0-9:-]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>"
    r"|!--.*?-->|!\[CDATA\[.*?\]\]>|![^>]*>|\?[^>]*>|)",
    re.DOTALL,
)

# elements whose content is raw text (no nested tags)
_RAW_TEXT = {"script", "style", "textarea", "title", "noscript", "template"}

# Case-mismatched raw-text closers (</SCRIPT> for <script>): one precompiled
# case-insensitive regex per tag. The previous fallback recomputed
# html.lower() per miss — worst-case quadratic on documents with many
# mismatched closers, and Unicode length-changing lowercasing could misalign
# the offset reused against the original string (ADVICE r4). A regex search
# scans forward from pos on the ORIGINAL string: offsets always valid,
# amortized linear across a document.
_RAW_CLOSE_RE = {t: re.compile(f"</{t}", re.IGNORECASE) for t in _RAW_TEXT}


def _find_raw_close(html: str, tag: str, pos: int) -> int:
    """Index of the next ``</tag`` at/after ``pos``, any letter case; -1 if
    absent. Exact-case ``str.find`` first (the overwhelmingly common case,
    C fast path), case-insensitive regex only on miss."""
    close = html.find(f"</{tag}", pos)
    if close >= 0:
        return close
    m = _RAW_CLOSE_RE[tag].search(html, pos)
    return m.start() if m is not None else -1


def _scan_events(html: str):
    """Yield ('start'|'end'|'text', value, attrblob) events."""
    pos = 0
    n = len(html)
    while pos < n:
        lt = html.find("<", pos)
        if lt < 0:
            if pos < n:
                yield "text", html[pos:], None
            break
        if lt > pos:
            yield "text", html[pos:lt], None
        m = _TOKEN_RE.match(html, lt)
        if m is None:
            # stray '<' — treat as text
            yield "text", "<", None
            pos = lt + 1
            continue
        pos = m.end()
        tag = m.group(2)
        if tag is None:
            continue  # comment/doctype/PI
        tag = tag.lower()
        if m.group(1):  # closing tag
            yield "end", tag, None
        else:
            blob = m.group(3)
            selfclose = blob.rstrip().endswith("/")
            if selfclose:
                # mirror HTMLParser.handle_startendtag (whitespace only)
                yield "startend", tag, blob
                continue
            yield "start", tag, blob
            if tag in _RAW_TEXT:
                close = _find_raw_close(html, tag, pos)
                if close < 0:
                    pos = n
                else:
                    gt = html.find(">", close)
                    yield "end", tag, None
                    pos = n if gt < 0 else gt + 1


def _scan_blocks(html: str) -> list[Block]:
    """Tokenize AND drive the block state machine in one merged loop.

    Semantically identical to feeding ``_scan_events`` into ``_BlockParser``
    (the path ``_scan_blocks_dispatch`` keeps for differential testing) but
    ~35% faster: no generator resume per event, no method dispatch per
    callback, and the open block lives in local variables instead of
    attribute loads — at 10^12 pages this Python kernel is the dominant
    per-core cost of the extraction stage, so constant factors here move
    the cluster-size bill directly. Attr regexes run only on non-dropped
    start tags that can carry class/id/role, never inside dropped subtrees.
    """
    blocks: list[Block] = []
    cur_tag: str | None = None  # open block (None = closed)
    cur_parts: list[str] = []
    cur_total = 0
    cur_link = 0
    drop = 0  # depth inside a dropped subtree
    anchor = 0
    pre = 0
    row: Block | None = None
    cell_parts: list[str] | None = None
    has_amp = "&" in html
    find = html.find
    search = _MASTER_RE.search
    pos = 0
    n = len(html)
    while pos < n:
        m = search(html, pos)
        if m is None:
            tok_start = tok_end = n
        else:
            tok_start, tok_end = m.span()
        if tok_start > pos:
            # ---- text node (inline handle_data) ----
            seg = html[pos:tok_start]
            if not drop:
                if has_amp and "&" in seg:
                    seg = _unescape(seg)
                sseg = seg.strip()
                if sseg:
                    ns = len(sseg)
                else:
                    # pure whitespace still separates words (kept verbatim
                    # inside <pre>)
                    if pre == 0:
                        seg = " "
                    ns = 0
                if cell_parts is not None:
                    cell_parts.append(seg)
                    if row is not None:
                        row.total_chars += ns
                        if anchor:
                            row.link_chars += ns
                elif row is not None:
                    pass  # stray text inside <tr> outside cells
                else:
                    if cur_tag is None:
                        cur_tag = "div"
                    cur_parts.append(seg)
                    cur_total += ns
                    if anchor:
                        cur_link += ns
            if m is None:
                break
        pos = tok_end
        closing, tag, blob = m.group(1, 2, 3)
        if tag is None:
            # empty alternative (length-1 token) = stray '<' — treat as
            # text (1 content char); longer tokens are comment/cdata/
            # doctype/PI declarations, which emit nothing
            if pos - tok_start == 1 and not drop:
                if cell_parts is not None:
                    cell_parts.append("<")
                    if row is not None:
                        row.total_chars += 1
                        if anchor:
                            row.link_chars += 1
                elif row is None:
                    if cur_tag is None:
                        cur_tag = "div"
                    cur_parts.append("<")
                    cur_total += 1
                    if anchor:
                        cur_link += 1
            continue
        tag = tag.lower()
        if closing:
            # ---- end tag (inline handle_endtag) ----
            if tag in _VOID_TAGS:
                continue
            if drop:
                drop -= 1
                continue
            if tag == "a" and anchor:
                anchor -= 1
            if tag == "pre" and pre:
                pre -= 1
            if tag == "tr" and row is not None:
                if row.total_chars:
                    blocks.append(row)
                row = None
            elif tag in ("td", "th") and row is not None and cell_parts is not None:
                row.cells.append("".join(cell_parts))
                cell_parts = None
            elif tag in _BLOCK_TAGS:
                if cur_tag is not None and cur_total:
                    blocks.append(Block(cur_tag, cur_parts, cur_link, cur_total))
                cur_tag = None
                cur_parts = []
                cur_total = 0
                cur_link = 0
            continue
        if blob and (blob[-1] == "/" or (blob[-1].isspace() and blob.rstrip().endswith("/"))):
            # ---- self-closing tag: whitespace only (handle_startendtag) ----
            if not drop:
                if cell_parts is not None:
                    cell_parts.append(" ")
                elif row is None:
                    if cur_tag is None:
                        cur_tag = "div"
                    cur_parts.append(" ")
            continue
        # ---- start tag (inline handle_starttag) ----
        if tag in _VOID_TAGS:
            continue
        if drop:
            drop += 1
            if tag in _RAW_TEXT:
                # tokenizer-level skip of raw content (and its end tag),
                # exactly like _scan_events does regardless of drop state
                close = _find_raw_close(html, tag, pos)
                if close < 0:
                    pos = n
                else:
                    drop -= 1  # the matching end tag
                    gt = find(">", close)
                    pos = n if gt < 0 else gt + 1
            continue
        if tag in _DROP_TAGS:
            drop = 1
            if tag in _RAW_TEXT:
                close = _find_raw_close(html, tag, pos)
                if close < 0:
                    pos = n
                else:
                    drop -= 1  # the matching end tag
                    gt = find(">", close)
                    pos = n if gt < 0 else gt + 1
            continue
        if blob and ("class" in blob or "id" in blob or "role" in blob):
            vals = [g[1] or g[2] or g[3] or "" for g in _ATTR_RE.findall(blob)]
            ab = " ".join(v for v in vals if v)
            if ab and _BOILER_ATTR_RE.search(ab):
                drop = 1
                continue
        if tag == "a":
            anchor += 1
        if tag == "pre":
            pre += 1
        if tag == "tr":
            if cur_tag is not None and cur_total:
                blocks.append(Block(cur_tag, cur_parts, cur_link, cur_total))
            cur_tag = None
            cur_parts = []
            cur_total = 0
            cur_link = 0
            row = Block(tag="tr", cells=[])
        elif tag in ("td", "th") and row is not None:
            cell_parts = []
        elif tag in _BLOCK_TAGS:
            if cur_tag is not None and cur_total:
                blocks.append(Block(cur_tag, cur_parts, cur_link, cur_total))
            cur_tag = tag
            cur_parts = []
            cur_total = 0
            cur_link = 0
        if tag in _RAW_TEXT:
            # unreachable for the six current raw-text tags (all dropped
            # above) — kept for lexicon robustness if the sets ever diverge
            close = _find_raw_close(html, tag, pos)
            if close < 0:
                pos = n
            else:
                gt = find(">", close)
                if tag == "a" and anchor:
                    anchor -= 1
                if tag == "pre" and pre:
                    pre -= 1
                if tag in _BLOCK_TAGS:
                    if cur_tag is not None and cur_total:
                        blocks.append(Block(cur_tag, cur_parts, cur_link, cur_total))
                    cur_tag = None
                    cur_parts = []
                    cur_total = 0
                    cur_link = 0
                pos = n if gt < 0 else gt + 1
    if cur_tag is not None and cur_total:
        blocks.append(Block(cur_tag, cur_parts, cur_link, cur_total))
    return blocks


def _scan_blocks_dispatch(html: str) -> list[Block]:
    """Event-dispatch twin of ``_scan_blocks``: feed ``_scan_events`` into
    the ``_BlockParser`` state machine. Kept as the differential reference
    for the fast inline loop (tests/test_extract_properties.py asserts
    identical blocks). It is not equivalent to the stdlib-parser path,
    whose tokenizer splits malformed markup differently."""
    p = _BlockParser()
    has_amp = "&" in html
    unescape = _unescape if has_amp else None
    for kind, val, blob in _scan_events(html):
        if kind == "text":
            if unescape is not None and "&" in val:
                val = unescape(val)
            p.handle_data(val)
        elif kind == "start":
            if blob and ("class" in blob or "id" in blob or "role" in blob):
                attrs = [
                    (g[0].lower(), g[1] or g[2] or g[3] or "")
                    for g in _ATTR_RE.findall(blob)
                ]
            else:
                attrs = []
            p.handle_starttag(val, attrs)
        elif kind == "startend":
            p.handle_startendtag(val, [])
        else:
            p.handle_endtag(val)
    p._flush()
    return p.blocks


def _label_for(block: Block) -> str:
    if block.cells is not None:
        return "table_row"
    if block.tag in _HEADING_LABEL:
        return _HEADING_LABEL[block.tag]
    if block.tag == "pre":
        return "code"
    if block.tag == "li":
        return "list_item"
    if block.tag == "blockquote":
        return "quote"
    return "text"


def classify_blocks(blocks: list[Block]) -> list[tuple[str, str]]:
    """Boilerpipe-style content classification → list of (label, text).

    A block is content if it has enough text and low link density; headings
    and table rows are kept only when they introduce / belong to kept
    content (a heading directly preceding a content block; table rows with
    low link density).
    """
    texts = [b.text for b in blocks]
    is_content = [False] * len(blocks)
    for i, b in enumerate(blocks):
        t = texts[i]
        if not t:
            continue
        if b.cells is not None:
            is_content[i] = b.link_density <= MAX_LINK_DENSITY and len(t) >= MIN_HEADING_CHARS
        elif b.tag in _HEADING_LABEL:
            continue  # resolved in the second pass
        else:
            is_content[i] = len(t) >= MIN_CONTENT_CHARS and b.link_density <= MAX_LINK_DENSITY
    # second pass: headings kept when some following block is content
    for i, b in enumerate(blocks):
        if b.tag in _HEADING_LABEL and texts[i] and len(texts[i]) >= MIN_HEADING_CHARS:
            if b.link_density > 0.0:
                continue
            for j in range(i + 1, len(blocks)):
                if is_content[j]:
                    is_content[i] = True
                    break
    return [(_label_for(b), texts[i]) for i, b in enumerate(blocks) if is_content[i]]


def assemble(labeled: list[tuple[str, str]]) -> tuple[str, list[tuple[int, int, str, int]]]:
    """Join content blocks with a blank line; emit (start, end, label, idx) spans."""
    parts: list[str] = []
    spans: list[tuple[int, int, str, int]] = []
    pos = 0
    for idx, (label, text) in enumerate(labeled):
        if parts:
            pos += 2  # "\n\n"
        spans.append((pos, pos + len(text), label, idx))
        pos += len(text)
        parts.append(text)
    return "\n\n".join(parts), spans


def extract_main_content(html: bytes | str) -> tuple[str, list[tuple[int, int, str, int]]]:
    """bytes/str HTML → (main-content text, spans). Deterministic, pure.

    Uses the fast regex scanner; any scanner failure falls back to the
    stdlib-parser path (the same block state machine behind a different
    tokenizer, so malformed markup such as ``'<td<table>x'`` may segment
    differently)."""
    if html is None:
        return "", []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    try:
        blocks = _scan_blocks(html)
    except Exception:
        blocks = extract_blocks_stdlib(html)
    return assemble(classify_blocks(blocks))


def extract_blocks_stdlib(html: str) -> list[Block]:
    """Slow path: stdlib HTMLParser drive of the same state machine, used
    by :func:`extract_main_content` only when the fast scanner raises."""
    parser = _BlockParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        parser._flush()
    return parser.blocks
