"""End-to-end deterministic-chain parity on the reference's OWN iOCR
fixtures (real 544-token ADS page — exercises the >300-pdf-cell guard
branch the random tests never hit; PHM page; empty-token page)."""

from __future__ import annotations

import copy
import json
import random
import sys
import zlib

import pytest

sys.path.insert(0, "/root/reference")

from docling_ibm_models.tableformer.data_management.matching_post_processor import (  # noqa: E402
    MatchingPostProcessor,
)

from docling_ibm_models_spark.operators import cell_matcher as ours_cm  # noqa: E402
from docling_ibm_models_spark.operators import post_processor as ours_pp  # noqa: E402
from docling_ibm_models_spark.operators import response_gen as ours_rg  # noqa: E402
from .ref_import import import_tf_predictor  # noqa: E402
from .seeded_inputs import random_prediction  # noqa: E402

REF_PP = MatchingPostProcessor({"predict": {"pdf_cell_iou_thres": 0.05}})
tfp = import_tf_predictor()

FIXTURES = {
    "ADS": (
        "/root/reference/tests/test_data/samples/ADS.2007.page_123.png_iocr.parse_format.json",
        [[178.0, 748.0, 1061.0, 976.0], [177.0, 1163.0, 1062.0, 1329.0]],
    ),
    "PHM": (
        "/root/reference/tests/test_data/samples/PHM.2013.page_30.png_iocr.parse_format.json",
        [[100.0, 186.0, 1135.0, 525.0]],
    ),
    "empty": (
        "/root/reference/tests/test_data/samples/empty_iocr.png.json",
        [[178.0, 748.0, 1061.0, 976.0]],
    ),
}


def load_page(path):
    page = json.load(open(path))["pages"][0]
    return {
        "tokens": page["tokens"],
        "width": page["width"],
        "height": page["height"],
    }


class _DummySelf:
    def _log(self):
        import logging

        return logging.getLogger("d")


@pytest.mark.parametrize("name", sorted(FIXTURES))
@pytest.mark.parametrize("seed", range(3))
def test_full_chain_on_reference_fixture_pages(name, seed):
    path, bboxes = FIXTURES[name]
    page = load_page(path)
    rng = random.Random(zlib.crc32(f"{name}:{seed}".encode()) & 0xFFFF)
    pred = random_prediction(rng)
    for table_bbox in bboxes:
        ref_details = None
        # reference chain
        from docling_ibm_models.tableformer.data_management.tf_cell_matcher import (
            CellMatcher,
        )

        ref_cm = CellMatcher({"predict": {"pdf_cell_iou_thres": 0.05}})
        ref_details = ref_cm.match_cells(
            copy.deepcopy(page), list(table_bbox), copy.deepcopy(pred)
        )
        our_details = ours_cm.match_cells(
            copy.deepcopy(page), list(table_bbox), copy.deepcopy(pred)
        )
        assert our_details["table_cells"] == ref_details["table_cells"]
        assert our_details["matches"] == ref_details["matches"]

        if pred["bboxes"] and page["tokens"]:
            ref_out = REF_PP.process(copy.deepcopy(ref_details))
            our_out = ours_pp.process(copy.deepcopy(our_details))
            assert our_out["matches"] == ref_out["matches"]
            assert our_out["table_cells"] == ref_out["table_cells"]
            if name == "ADS":
                # 544 tokens → the >300-pdf-cell alignment guard must fire;
                # guard skips 8.a so cells stay unaligned-but-sorted
                assert len(our_out["pdf_cells"]) > 300

            resp_ref = tfp.TFPredictor._generate_tf_response(
                _DummySelf(), ref_out["table_cells"], ref_out["matches"]
            )
            resp_our = ours_rg.generate_tf_response(
                our_out["table_cells"], our_out["matches"]
            )
            assert resp_our == resp_ref
            resp_our.sort(key=lambda c: c["cell_id"])
            merged_ref = tfp.TFPredictor._merge_tf_output(
                _DummySelf(), copy.deepcopy(resp_our), ref_out["pdf_cells"]
            )
            merged_our = ours_rg.merge_tf_output(resp_our, our_out["pdf_cells"])
            assert merged_our == merged_ref
