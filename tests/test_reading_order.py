"""Behavioral tests for the reading-order predictor, mirroring the
reference's own protocol (/root/reference/tests/test_reading_order.py:
Spearman rank correlation of recovered vs ground-truth order ≥ 0.9 per
page, mean ≥ 0.95)."""

from __future__ import annotations

from docling_ibm_models_spark.operators.reading_order import (
    Element,
    predict_reading_order,
)
from docling_ibm_models_spark.sources.elements_source import (
    shuffled,
    synth_page_elements,
)

N_DOCS = 40


def spearman(pred_order: list[int], true_order: list[int]) -> float:
    n = len(true_order)
    if n <= 1:
        return 1.0
    rank_pred = {cid: i for i, cid in enumerate(pred_order)}
    rank_true = {cid: i for i, cid in enumerate(true_order)}
    d2 = sum((rank_pred[c] - rank_true[c]) ** 2 for c in true_order)
    return 1 - 6 * d2 / (n * (n * n - 1))


def test_reading_order_spearman():
    scores = []
    for seed in range(N_DOCS):
        truth = synth_page_elements(seed)
        got = predict_reading_order(shuffled(truth, seed * 7 + 1))
        rho = spearman([e.cid for e in got], [e.cid for e in truth])
        assert rho >= 0.90, f"doc {seed}: spearman {rho:.3f}\n" + "\n".join(
            f"{e.cid} {e.label} l={e.l} t={e.t}" for e in got
        )
        scores.append(rho)
    assert sum(scores) / len(scores) >= 0.95


def test_header_body_footer_partition():
    truth = synth_page_elements(3)
    got = predict_reading_order(shuffled(truth, 99))
    labels = [e.label for e in got]
    if "page_header" in labels:
        assert labels[0] == "page_header"
    if "page_footer" in labels:
        assert labels[-1] == "page_footer"


def test_multi_page_order():
    truth = synth_page_elements(11, page_no=0) + [
        Element(
            cid=1000 + e.cid, text=e.text, label=e.label, l=e.l, r=e.r,
            t=e.t, b=e.b, page_no=1, page_width=e.page_width, page_height=e.page_height,
        )
        for e in synth_page_elements(12, page_no=1)
    ]
    got = predict_reading_order(shuffled(truth, 5))
    pages = [e.page_no for e in got]
    assert pages == sorted(pages)


# ---------------------------------------------------------------------------
# TRUE parity vs the reference ReadingOrderPredictor (docling_core faked
# with the shared geometry vocabulary — validates the graph algorithm:
# DAG build, dilation, head sort, DFS)
# ---------------------------------------------------------------------------

def _ref_module():
    import sys

    from .fake_docling_core import DocItemLabel, RefItem, Size, install

    install()
    sys.path.insert(0, "/root/reference")
    import docling_ibm_models.reading_order.reading_order_rb as ro

    return ro, DocItemLabel, Size


def _to_ref_elems(elems):
    ro, DocItemLabel, Size = _ref_module()
    out = []
    for e in elems:
        out.append(
            ro.PageElement(
                cid=e.cid, text=e.text, page_no=e.page_no,
                page_size=Size(width=e.page_width, height=e.page_height),
                label=DocItemLabel(e.label), l=e.l, r=e.r, t=e.t, b=e.b,
            )
        )
    return out


def test_reference_reading_order_parity():
    ro, _, _ = _ref_module()
    pred = ro.ReadingOrderPredictor()
    for seed in range(25):
        truth = synth_page_elements(seed)
        shuf = shuffled(truth, seed * 31 + 7)
        ref_sorted = pred.predict_reading_order(_to_ref_elems(shuf))
        got = predict_reading_order(list(shuf))
        assert [e.cid for e in got] == [e.cid for e in ref_sorted], f"seed {seed}"
