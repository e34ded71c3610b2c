"""Parity of our grid-based OTSL ops vs the reference implementation.

The reference modules are numpy/stdlib-only and importable read-only from
/root/reference — we import them HERE (tests only) and compare observable
behavior on randomized tables. No reference code is copied; the engine's
implementation (operators/otsl_ops.py) is grid-based, the reference's is a
token-stream state machine.
"""

from __future__ import annotations

import random
import sys

import pytest

sys.path.insert(0, "/root/reference")

from docling_ibm_models_spark.operators import otsl_ops  # noqa: E402
from .seeded_inputs import random_grid_table  # noqa: E402

VOCAB = ["fcel", "ecel", "ched", "rhed", "srow", "lcel", "ucel", "xcel"]


@pytest.fixture(scope="module")
def ref_otsl():
    import docling_ibm_models.tableformer.otsl as ref_otsl

    return ref_otsl


def ref_html_to_otsl(ref_otsl, structure_tokens, empties):
    table = {
        "split": "t",
        "filename": "t",
        "html": {
            "structure": {"tokens": list(structure_tokens)},
            "cells": [{"tokens": ([] if e else ["f"])} for e in empties],
        },
    }
    ok, out = ref_otsl.html_to_otsl(table, None, False, False, True, False)
    assert ok
    return out


def _has_2d_span(toks):
    """True if any cell carries both colspan and rowspan. On such tables the
    reference parser's tag stream is corrupted by its cursor quirk
    (otsl.py:501-515 appends xcel without advancing current_column), so tag
    parity is only asserted on quirk-free tables; the span map / dims are
    quirk-free everywhere."""
    for i, t in enumerate(toks):
        if t.startswith(" colspan") and i + 1 < len(toks) and toks[i + 1].startswith(" rowspan"):
            return True
        if t.startswith(" rowspan") and i + 1 < len(toks) and toks[i + 1].startswith(" colspan"):
            return True
    return False


@pytest.mark.parametrize("seed", range(40))
def test_html_to_otsl_parity(seed, ref_otsl):
    rng = random.Random(seed)
    toks, empties = random_grid_table(rng)
    ref = ref_html_to_otsl(ref_otsl, toks, empties)
    ours = otsl_ops.html_to_otsl(toks, empties)
    assert ours.cols == ref["cols"]
    assert ours.rows == ref["rows"]
    assert {k: v for k, v in ours.spans.items()} == ref["otsl_spans"]
    if not _has_2d_span(toks):
        assert ours.tags == ref["html"]["structure"]["tokens"], (toks, empties)


@pytest.mark.parametrize("seed", range(200))
def test_html_to_otsl_ref_tag_stream_parity(seed, ref_otsl):
    """FULL tag-stream parity (incl. 2D-span tables where the reference's
    xcel cursor quirk corrupts the stream) via html_to_otsl_ref. When the
    quirk trips the reference's :359 guard (ok=False), ours returns None;
    when the reference raises IndexError mid-stream, ours must too."""
    rng = random.Random(1_000_003 + seed)
    toks, empties = random_grid_table(rng)
    table = {
        "split": "t",
        "filename": "t",
        "html": {
            "structure": {"tokens": list(toks)},
            "cells": [{"tokens": ([] if e else ["f"])} for e in empties],
        },
    }
    try:
        ok, ref = ref_otsl.html_to_otsl(table, None, False, False, True, False)
    except IndexError:
        with pytest.raises(IndexError):
            otsl_ops.html_to_otsl_ref(toks, empties)
        return
    ours = otsl_ops.html_to_otsl_ref(toks, empties)
    if not ok:
        assert ours is None, (toks, empties)
        return
    assert ours is not None
    assert ours.tags == ref["html"]["structure"]["tokens"], (toks, empties)
    assert {k: v for k, v in ours.spans.items()} == ref["otsl_spans"]
    assert ours.cols == ref["cols"]
    assert ours.rows == ref["rows"]


def test_quirk_divergence_pinned():
    """Pin the exact effect of the reference's 2D-span cursor bug: the
    random table at seed 1_000_075 emits a stream where rows AFTER a
    colspan+rowspan cell read the wrong up-expand column (fcel/ucel
    positions swap vs the true grid). html_to_otsl stays clean;
    html_to_otsl_ref reproduces the corruption byte-for-byte (asserted vs
    the live reference in test_html_to_otsl_ref_tag_stream_parity)."""
    rng = random.Random(1_000_003 + 72)
    toks, empties = random_grid_table(rng)
    assert _has_2d_span(toks)
    clean = otsl_ops.html_to_otsl(toks, empties).tags
    quirk = otsl_ops.html_to_otsl_ref(toks, empties).tags
    assert clean != quirk
    # row 2 of the fixture: the 2D span's lagging cursor swaps fcel/ucel
    assert clean[11:13] == ["ucel", "fcel"] and quirk[11:13] == ["fcel", "ucel"]


@pytest.mark.parametrize("seed", range(40))
def test_otsl_spans_inference_surface_parity(seed, ref_otsl):
    """The inference path (tf_cell_matcher.py:264-269) feeds otsl_to_html
    output back through html_to_otsl and reads ONLY otsl_spans. Our local
    span scan must match the reference byte-for-byte on that closed loop —
    including tables with 2-D spans."""
    rng = random.Random(7000 + seed)
    toks, empties = random_grid_table(rng)
    tags = otsl_ops.html_to_otsl(toks, empties).tags
    html_seq = otsl_ops.otsl_to_html(tags)
    table = {
        "split": "t",
        "filename": "t",
        "html": {"structure": {"tokens": list(html_seq)}},
    }
    ok, ref = ref_otsl.html_to_otsl(table, None, False, False, True, False)
    assert ok
    assert otsl_ops.otsl_spans_from_html_tokens(html_seq) == ref["otsl_spans"]


@pytest.mark.parametrize("seed", range(40))
def test_otsl_to_html_parity_on_valid_tables(seed, ref_otsl):
    rng = random.Random(1000 + seed)
    toks, empties = random_grid_table(rng)
    tags = otsl_ops.html_to_otsl(toks, empties).tags
    assert otsl_ops.otsl_to_html(tags) == ref_otsl.otsl_to_html(list(tags), False)


@pytest.mark.parametrize("seed", range(60))
def test_otsl_to_html_parity_on_tag_soup(seed, ref_otsl):
    """Adversarial: random tag soup incl. non-square and overlapping spans."""
    rng = random.Random(2000 + seed)
    tags = []
    for _ in range(rng.randint(1, 5)):
        tags.extend(rng.choice(VOCAB) for _ in range(rng.randint(1, 7)))
        tags.append("nl")
    assert otsl_ops.otsl_to_html(list(tags)) == ref_otsl.otsl_to_html(list(tags), False)


@pytest.mark.parametrize("seed", range(20))
def test_square_check_and_pad_parity(seed, ref_otsl):
    rng = random.Random(3000 + seed)
    tags = []
    for _ in range(rng.randint(1, 5)):
        tags.extend(rng.choice(VOCAB) for _ in range(rng.randint(1, 7)))
        tags.append("nl")
    assert otsl_ops.is_square(tags) == ref_otsl.otsl_sqr_chk(list(tags), "t", False)
    assert otsl_ops.pad_to_square(tags, "lcel") == ref_otsl.otsl_pad_to_sqr(
        list(tags), "lcel"
    )
    assert otsl_ops.clean(tags + ["<pad>", "<end>"]) == ref_otsl.otsl_clean(
        tags + ["<pad>", "<end>"]
    )


def test_sync_check_parity(ref_otsl):
    tags = ["fcel", "ecel", "lcel", "nl", "ucel", "ched", "srow", "nl"]
    for n in range(8):
        assert otsl_ops.tags_cells_in_sync(tags, n) == ref_otsl.otsl_tags_cells_sync_chk(
            tags, [{}] * n, "t", False
        )


@pytest.mark.parametrize(
    "attr",
    ['  colspan="2"', ' colspan="2" ', ' colspan="02"', ' colspan="21"',
     'colspan="2"', ' rowspan="0"'],
    ids=["two-space", "trailing-space", "zero-padded", "out-of-range",
         "no-leading-space", "rowspan-zero"],
)
def test_malformed_span_tokens_ignored_like_reference(attr, ref_otsl):
    """Non-canonical span attribute tokens are dict-misses in the reference
    (otsl.py:267-309) — the cell parses as a plain fcel. Assert our ref
    variant matches the live reference byte-for-byte on such streams."""
    toks = ["<tr>", "<td", attr, ">", "</td>", "<td>", "</td>", "</tr>",
            "<tr>", "<td>", "</td>", "<td>", "</td>", "</tr>"]
    empties = [False] * 4
    ref = ref_html_to_otsl(ref_otsl, toks, empties)
    ours = otsl_ops.html_to_otsl_ref(toks, empties)
    assert ours is not None
    assert ours.tags == ref["html"]["structure"]["tokens"], attr
    assert {k: v for k, v in ours.spans.items()} == ref["otsl_spans"], attr
