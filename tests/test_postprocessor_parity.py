"""Parity of our from-scratch matching post-processor vs the reference's
9-step pipeline on randomized tables (reference imported read-only)."""

from __future__ import annotations

import copy
import random
import sys

import pytest

sys.path.insert(0, "/root/reference")

from docling_ibm_models.tableformer.data_management.matching_post_processor import (  # noqa: E402
    MatchingPostProcessor,
)

from docling_ibm_models_spark.operators import cell_matcher as ours_cm  # noqa: E402
from docling_ibm_models_spark.operators import post_processor as ours_pp  # noqa: E402
from .seeded_inputs import random_page, random_prediction  # noqa: E402

REF_PP = MatchingPostProcessor({"predict": {"pdf_cell_iou_thres": 0.05}})


def make_details(seed: int, n_tokens: int | None = None, empty_frac: float = 0.1):
    rng = random.Random(seed)
    pred = random_prediction(rng)
    page = random_page(rng, n_tokens if n_tokens is not None else rng.randint(5, 80))
    # some tokens with empty text exercise the P9 filter
    for tok in page["tokens"]:
        if rng.random() < empty_frac:
            tok["text"] = ""
    table_bbox = [100.0, 200.0, 800.0, 900.0]
    return ours_cm.match_cells(page, table_bbox, pred, iou_thres=0.05)


@pytest.mark.parametrize("seed", range(40))
def test_process_parity(seed):
    details = make_details(20000 + seed)
    ref_out = REF_PP.process(copy.deepcopy(details))
    our_out = ours_pp.process(copy.deepcopy(details))
    assert our_out["pdf_cells"] == ref_out["pdf_cells"]
    assert our_out["matches"] == ref_out["matches"]
    assert our_out["table_cells"] == ref_out["table_cells"]


@pytest.mark.parametrize("seed", range(10))
def test_process_parity_with_overlap_correction(seed):
    details = make_details(30000 + seed)
    ref_out = REF_PP.process(copy.deepcopy(details), True)
    our_out = ours_pp.process(copy.deepcopy(details), True)
    assert our_out["table_cells"] == ref_out["table_cells"]
    assert our_out["matches"] == ref_out["matches"]


@pytest.mark.parametrize("seed", range(5))
def test_process_parity_no_initial_matches(seed):
    """Empty token list at match time → matches={} → step -1 regenerates."""
    details = make_details(40000 + seed, n_tokens=30)
    details["matches"] = {}
    ref_out = REF_PP.process(copy.deepcopy(details))
    our_out = ours_pp.process(copy.deepcopy(details))
    assert our_out["matches"] == ref_out["matches"]
    assert our_out["table_cells"] == ref_out["table_cells"]


def test_step_functions_parity_direct():
    details = make_details(55555)
    cells, matches = details["table_cells"], details["matches"]
    assert ours_pp.table_dimensions(cells) == REF_PP._get_table_dimension(cells)
    cols = ours_pp.table_dimensions(cells)[0]
    for col in range(cols):
        g_ref, b_ref = REF_PP._get_good_bad_cells_in_column(cells, col, matches)
        g, b = ours_pp.split_good_bad_in_column(cells, col, matches)
        assert (g, b) == (g_ref, b_ref)
        assert ours_pp.column_alignment(g) == REF_PP._find_alignment_in_column(g_ref)
        al = ours_pp.column_alignment(g)
        assert ours_pp.column_medians(g, al) == REF_PP._get_median_pos_size(g_ref, al)
