"""Property-based robustness tests for the HTML extractor (hypothesis):
never crashes, spans always tile the text, fully deterministic."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_ibm_models_spark.functions.html_extract import (
    extract_main_content,
    normalize_text,
)

html_fragments = st.lists(
    st.one_of(
        st.text(max_size=80),
        st.sampled_from(
            [
                "<p>", "</p>", "<div class='sidebar'>", "</div>", "<table>",
                "<tr>", "<td>", "</td>", "</tr>", "</table>", "<script>",
                "</script>", "<a href='x'>", "</a>", "<h1>", "</h1>",
                "<!-- c -->", "<br/>", "&amp;", "&lt;", "<ul><li>", "</li></ul>",
                "<pre>", "</pre>", "<td", " colspan='2'", ">",
            ]
        ),
    ),
    max_size=40,
)


@given(html_fragments)
@settings(max_examples=300, deadline=None)
def test_extractor_total_and_consistent(frags):
    html = "".join(frags)
    text, spans = extract_main_content(html)
    # determinism
    assert (text, spans) == extract_main_content(html)
    # spans tile the text with 2-char separators
    pos = 0
    for i, (s, e, label, idx) in enumerate(spans):
        assert s == pos
        assert e >= s
        assert idx == i
        assert isinstance(label, str) and label
        pos = e + 2
    if spans:
        assert spans[-1][1] == len(text)
    else:
        assert text == ""


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_extractor_total_on_arbitrary_bytes(payload):
    text, spans = extract_main_content(payload)
    assert isinstance(text, str)
    assert (text, spans) == extract_main_content(payload)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once
    assert "  " not in once
    assert once == once.strip()


def _block_key(blocks):
    return [(b.tag, b.text, b.link_chars, b.total_chars, b.cells) for b in blocks]


@given(html_fragments)
@settings(max_examples=300, deadline=None)
def test_inline_scanner_matches_dispatch(frags):
    """Differential pair: the merged inline loop (the production hot path)
    and its event-dispatch twin must produce identical blocks, so any
    optimization of the inline loop that drifts from the twin fails here.
    The stdlib-HTMLParser drive is NOT compared: its tokenizer splits
    malformed markup differently (e.g. ``'<td<table>x'`` opens a ``td``
    block in the scanners and a ``div`` block under the stdlib parser)."""
    from docling_ibm_models_spark.functions.html_extract import (
        _scan_blocks,
        _scan_blocks_dispatch,
    )

    html = "".join(frags)
    assert _block_key(_scan_blocks(html)) == _block_key(_scan_blocks_dispatch(html))


@given(html_fragments)
@settings(max_examples=150, deadline=None)
def test_inline_scanner_raw_text_and_nesting(frags):
    """Adversarial wrapper: bury the fragment inside dropped subtrees with
    raw-text elements containing markup-like payloads — the drop-depth
    bookkeeping of the inline loop must stay in lockstep with dispatch."""
    from docling_ibm_models_spark.functions.html_extract import (
        _scan_blocks,
        _scan_blocks_dispatch,
    )

    body = "".join(frags)
    html = (
        "<nav><script>var x = '<div>not a tag</div>';</script></nav>"
        f"<div class='content'><p>{body}</p>"
        "<style>.x:before { content: '</p><p>'; }</style>"
        f"<pre>  {body}  </pre></div>"
        "<div class='sidebar'><textarea><p>ignored</p></textarea></div>"
    )
    assert _block_key(_scan_blocks(html)) == _block_key(_scan_blocks_dispatch(html))


def test_case_mismatched_raw_text_closer_is_skipped_linearly():
    """</SCRIPT> closing <script> (ADVICE r4): the fallback must find the
    mismatched closer WITHOUT recomputing html.lower() per element —
    correctness checked here, the linearity by construction (the regex
    scans forward from pos on the original string). Offsets must stay
    valid even when the document contains characters whose lower() changes
    length (U+0130 lowercases to 2 chars — the old lower().find offset
    would misalign everything after it)."""
    from docling_ibm_models_spark.functions.html_extract import (
        _scan_blocks,
        _scan_blocks_dispatch,
        extract_main_content,
    )

    parts = ["<p>İstanbul intro</p>"]
    for i in range(50):
        parts.append(f"<script>var hidden{i} = '<p>not text</p>';</SCRIPT>")
        parts.append(f"<p>visible paragraph {i} with enough words to keep</p>")
    html = "".join(parts)
    text, _ = extract_main_content(html)
    assert "hidden" not in text and "not text" not in text
    assert "visible paragraph 49" in text
    assert _block_key(_scan_blocks(html)) == _block_key(_scan_blocks_dispatch(html))


def test_unclosed_case_mismatched_raw_text_swallows_tail():
    """No closer at all (any case): raw-text skip runs to end-of-document —
    one terminal scan, not a quadratic cascade."""
    from docling_ibm_models_spark.functions.html_extract import (
        _scan_blocks,
        _scan_blocks_dispatch,
    )

    html = "<p>kept words before the style sink</p><style>p { color: red }"
    assert _block_key(_scan_blocks(html)) == _block_key(_scan_blocks_dispatch(html))
