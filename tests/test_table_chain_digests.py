"""Golden regression digests of the table-structure chain's operators.

Each test runs one operator over the seeded inputs of
``tests/seeded_inputs.py`` and compares a sha256 of its full output with a
digest recorded at the commit that added this module. Floats are hashed at
full precision (``float.hex``), dict keys keep their type, and list order
counts.

These digests are regression evidence only: they pin what this code
returned when they were recorded, not that it matches the reference
implementation (that is what the parity tests check where the reference is
importable). Nothing here imports the reference, so the floor holds on any
machine. A digest changes only when an operator's output changes; re-record
it only for a change that is meant to alter that output, and say why.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from docling_ibm_models_spark.operators import cell_matcher, otsl_ops, post_processor

from .seeded_inputs import grid_prediction, random_page, random_prediction, random_table_page

SEEDS = range(120)
TABLE_BBOX = [100.0, 200.0, 800.0, 900.0]
TAG_SOUP = ["fcel", "ecel", "ched", "rhed", "srow", "lcel", "ucel", "xcel"]


def _canon(obj):
    """A repr-stable form of ``obj``: floats as exact hex, dicts as sorted
    ``(repr(key), value)`` pairs so int and str keys stay distinct."""
    if isinstance(obj, dict):
        return sorted((repr(k), _canon(v)) for k, v in obj.items())
    if isinstance(obj, (list, tuple)):
        return [_canon(v) for v in obj]
    if isinstance(obj, float):
        return float(obj).hex()
    if hasattr(obj, "item"):  # numpy scalar
        return _canon(obj.item())
    return obj


def _digest(outputs) -> str:
    return hashlib.sha256(repr(_canon(outputs)).encode()).hexdigest()


def _details(seed: int) -> dict:
    """``match_cells`` output for one seeded table and page; some tokens
    have empty text, which the post-processor filters out. Even seeds
    scatter cells and tokens over the page (``random_prediction``,
    ``random_page``); odd seeds lay them on the table's grid, where the
    post-processor's column de-duplication and overlap correction act."""
    rng = random.Random(seed)
    if seed % 2 == 0:
        pred = random_prediction(rng)
        page = random_page(rng, rng.randint(0, 80))
    else:
        pred = grid_prediction(rng)
        page = random_table_page(rng, TABLE_BBOX, rng.randint(0, 100))
    for tok in page["tokens"]:
        if rng.random() < 0.1:
            tok["text"] = ""
    return cell_matcher.match_cells(page, list(TABLE_BBOX), pred, iou_thres=0.05)


def _match_cells():
    return [_details(50_000 + s) for s in SEEDS]


def _process(correct_overlapping_cells: bool):
    return [
        post_processor.process(_details(60_000 + s), correct_overlapping_cells) for s in SEEDS
    ]


def _otsl_to_html():
    out = []
    for s in SEEDS:
        rng = random.Random(70_000 + s)
        out.append(otsl_ops.otsl_to_html(list(random_prediction(rng)["rs_seq"])))
        soup = []
        for _ in range(rng.randint(1, 5)):
            soup.extend(rng.choice(TAG_SOUP) for _ in range(rng.randint(1, 7)))
            soup.append("nl")
        out.append(otsl_ops.otsl_to_html(soup))
    return out


CASES = {
    "match_cells": (
        _match_cells,
        "2a00d02e92765f104910a6eaaebac9ffbc5c4c05d03830ce4977143f5644660c",
    ),
    "process": (
        lambda: _process(False),
        "4fc7c7429ad20ff828f48c5322d845c3348a7aeda00c9b19cd6ddbb92d4d3991",
    ),
    "process_overlap_correction": (
        lambda: _process(True),
        "a579885137d1d0339b97cceccb966f7db7b2f6ed2c4375dd7260c4fce10c139b",
    ),
    "otsl_to_html": (
        _otsl_to_html,
        "57971b10627c4d961b407520b27fd2df00bef2e6c291dbe51444785e65385d0c",
    ),
}


@pytest.mark.parametrize("case", CASES)
def test_operator_output_digest(case):
    run, expected = CASES[case]
    assert _digest(run()) == expected
