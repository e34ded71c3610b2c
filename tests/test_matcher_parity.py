"""Parity of our from-scratch cell matcher vs the reference CellMatcher on
randomized tables/pages (reference imported read-only; no code copied)."""

from __future__ import annotations

import random
import sys

import pytest

sys.path.insert(0, "/root/reference")

from docling_ibm_models.tableformer.data_management.tf_cell_matcher import (  # noqa: E402
    CellMatcher,
    find_intersection,
)

from docling_ibm_models_spark.operators import cell_matcher as ours  # noqa: E402
from .seeded_inputs import random_page, random_prediction  # noqa: E402

REF = CellMatcher({"predict": {"pdf_cell_iou_thres": 0.05}})


def test_intersection_parity_incl_guard_quirk():
    rng = random.Random(1)
    for _ in range(500):
        b1 = sorted([rng.uniform(0, 100) for _ in range(2)]) + sorted(
            [rng.uniform(0, 100) for _ in range(2)]
        )
        b1 = [b1[0], b1[2], b1[1], b1[3]]
        b2 = [rng.uniform(0, 100) for _ in range(4)]  # incl. degenerate boxes
        assert ours.bbox_intersection(b1, b2) == find_intersection(b1, b2)


@pytest.mark.parametrize("seed", range(30))
def test_match_cells_parity(seed):
    rng = random.Random(9000 + seed)
    pred = random_prediction(rng)
    page = random_page(rng, rng.randint(0, 60))
    table_bbox = [100.0, 200.0, 800.0, 900.0]
    ref = REF.match_cells(page, table_bbox, dict(pred))
    got = ours.match_cells(page, table_bbox, dict(pred), iou_thres=0.05)
    for key in (
        "prediction_bboxes_page",
        "table_cells",
        "pdf_cells",
        "matches",
        "page_height",
        "page_width",
        "iou_threshold",
        "table_bbox",
    ):
        assert got[key] == ref[key], f"mismatch in {key}"
