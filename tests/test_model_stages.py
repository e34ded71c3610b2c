"""Model-stage plumbing: pages → page_recs → layout / table structure,
with broadcast weights and executor singletons. Kernels are deterministic
stubs; the per-table chain is the reference-parity operator stack."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_ibm_models_spark.models import harness
from docling_ibm_models_spark.models.layout_stub import default_weights as layout_w
from docling_ibm_models_spark.models.tableformer_stub import (
    DeterministicTableFormer,
)
from docling_ibm_models_spark.models.tableformer_stub import (
    default_weights as tf_w,
)
from docling_ibm_models_spark.pipeline.stages import (
    layout_stage,
    page_records_stage,
    table_structure_stage,
    typeset_tokens,
)
from docling_ibm_models_spark.sources.pages_source import pages_from_documents

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def page_recs(spark):
    pages = pages_from_documents(spark, SF_SMALL).limit(60)
    return page_records_stage(pages).cache()


def test_page_records_schema_and_tokens(spark, page_recs):
    rows = page_recs.collect()
    assert len(rows) == 60
    for r in rows[:10]:
        assert r.width == 1237 and r.height == 1612
        assert len(r.tokens) > 0
        for t in r.tokens[:5]:
            assert t.r > t.l and t.b > t.t


def test_layout_stage_clusters(spark, page_recs):
    bc = harness.broadcast_weights(spark, layout_w())
    clusters = layout_stage(page_recs, bc)
    rows = clusters.collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.l <= 1237 and 0 <= r.r <= 1237
        assert 0 <= r.t <= 1612 and 0 <= r.b <= 1612
        assert r.confidence >= 0.3
        assert r.label in {
            "Caption", "Footnote", "Formula", "List-item", "Page-footer",
            "Page-header", "Picture", "Section-header", "Table", "Text",
            "Title", "Document Index", "Code", "Checkbox-Selected",
            "Checkbox-Unselected", "Form", "Key-Value Region", "Paragraph",
        }
    # determinism: second run identical
    again = sorted(map(tuple, clusters.collect()))
    assert sorted(map(tuple, rows)) == again


def test_table_structure_stage(spark, page_recs):
    bc = harness.broadcast_weights(spark, tf_w())
    tables = table_structure_stage(page_recs, bc)
    rows = tables.collect()
    assert len(rows) > 0
    # token-aware invariant: a table region with no tokens inside yields no
    # cells (nothing to match), and most token-bearing regions yield cells
    recs = {r.url: r for r in page_recs.collect()}
    with_tok, with_tok_cells = 0, 0
    for r in rows:
        rec = recs[r.url]
        tb = rec.table_bboxes[r.table_id]
        toks = [
            t
            for t in rec.tokens
            if not (t.r < tb[0] or t.l > tb[2] or t.b < tb[1] or t.t > tb[3])
        ]
        if toks:
            with_tok += 1
            with_tok_cells += bool(r.table_cells)
        else:
            assert not r.table_cells, f"cells matched in a token-free region: {r.url}"
    assert with_tok > 0
    assert with_tok_cells >= with_tok * 0.7, f"{with_tok_cells}/{with_tok}"
    non_empty = [r for r in rows if r.table_cells]
    for r in non_empty:
        assert r.num_rows >= 1 and r.num_cols >= 1
        assert len(r.otsl_seq) > 0
        for c in r.table_cells:
            assert c.end_row_offset_idx == c.start_row_offset_idx + c.row_span
            assert c.end_col_offset_idx == c.start_col_offset_idx + c.col_span


def test_table_stage_matches_local_chain(spark, page_recs):
    """Distributed result == running the same deterministic chain locally."""
    bc = harness.broadcast_weights(spark, tf_w())
    first = page_recs.orderBy("url").first()
    spark_rows = (
        table_structure_stage(page_recs, bc)
        .where(F.col("url") == first.url)
        .orderBy("table_id")
        .collect()
    )
    model = DeterministicTableFormer(tf_w())
    iocr = {
        "tokens": [
            {"id": t.id, "text": t.text, "bbox": [t.l, t.t, t.r, t.b]}
            for t in first.tokens
        ],
        "width": first.width,
        "height": first.height,
    }
    for t_idx, bbox in enumerate(first.table_bboxes):
        local = model.predict_table(
            iocr, list(bbox), bytes(first.image) + bytes([t_idx])
        )
        got = spark_rows[t_idx]
        assert list(got.otsl_seq) == local["otsl_seq"]
        assert got.num_rows == local["num_rows"]
        assert got.num_cols == local["num_cols"]
        assert len(got.table_cells) == len(local["tf_cells"])
        for gc, lc in zip(got.table_cells, local["tf_cells"]):
            assert gc.row_span == lc["row_span"]
            assert gc.start_col_offset_idx == lc["start_col_offset_idx"]
            assert len(gc.text_cell_bboxes) == len(lc["text_cell_bboxes"])


def test_typeset_deterministic():
    a = typeset_tokens("alpha beta gamma delta " * 30)
    b = typeset_tokens("alpha beta gamma delta " * 30)
    assert a == b
    assert any(t["t"] > a[0]["t"] for t in a)  # wrapped to multiple lines


def test_code_formula_stage_real_vision_path(spark, page_recs):
    """M7 stage: Code/Formula clusters → real preprocessing + SAM forward
    (parity-tested numerics) → text + features. The Spark-served features
    must equal a driver-side CodeFormulaVisionTower.encode on the same
    payload, and the stage must be deterministic across repeated runs."""
    import numpy as np

    from docling_ibm_models_spark.models.aux_predictors import (
        CodeFormulaVisionTower,
        default_vision_weights,
    )
    from docling_ibm_models_spark.pipeline.stages import code_formula_stage

    w = default_vision_weights()
    bc = harness.broadcast_weights(spark, w)
    clusters = layout_stage(page_recs, harness.broadcast_weights(spark, layout_w()))
    out = code_formula_stage(clusters, bc)
    rows = out.collect()
    assert rows, "no Code/Formula regions in the test slice"
    assert {r.label for r in rows} <= {"Code", "Formula"}
    for r in rows[:5]:
        assert r.feat_norm > 0
        assert len(r.feat_head) == 4
        assert r.text
    # driver-side replay of one row's payload
    r0 = rows[0]
    payload = f"{r0.url}|{r0.page_no}|{r0.l:.4f},{r0.t:.4f},{r0.r:.4f},{r0.b:.4f}".encode()
    tower = CodeFormulaVisionTower(w)
    f = tower.encode(payload)
    assert round(float(np.sqrt((f * f).sum())), 6) == r0.feat_norm
    assert [round(float(v), 6) for v in f[:4]] == list(r0.feat_head)
    # determinism across a second run
    rows2 = code_formula_stage(clusters, bc).collect()
    key = lambda r: (r.url, r.page_no, r.l, r.t)
    assert sorted(map(key, rows)) == sorted(map(key, rows2))
    m2 = {key(r): (r.text, r.feat_norm, tuple(r.feat_head)) for r in rows2}
    for r in rows:
        assert m2[key(r)] == (r.text, r.feat_norm, tuple(r.feat_head))


def test_figure_classifier_stage_real_preprocessing(spark, page_recs):
    """M8 stage: Picture clusters → real Resize-224/Normalize chain →
    stubbed forward → A13 top-k. Served output must equal a driver-side
    FigureClassifierVision replay and be deterministic."""
    from docling_ibm_models_spark.models.aux_predictors import (
        FIGURE_CLASSES,
        FigureClassifierVision,
    )
    from docling_ibm_models_spark.pipeline.stages import figure_classifier_stage

    bc = harness.broadcast_weights(spark, {})
    clusters = layout_stage(page_recs, harness.broadcast_weights(spark, layout_w()))
    rows = figure_classifier_stage(clusters, bc).collect()
    assert rows, "no Picture regions in the test slice"
    for r in rows[:5]:
        assert r.figure_class in FIGURE_CLASSES
        assert 0.0 < r.confidence <= 1.0
        assert len(r.top3) == 3 and r.top3[0] == r.figure_class
    r0 = rows[0]
    payload = f"{r0.url}|{r0.page_no}|{r0.l:.4f},{r0.t:.4f}".encode()
    # the stage payload embeds r,b too — recompute exactly as the stage does
    cl = [c for c in clusters.collect()
          if c.label == "Picture" and c.url == r0.url and c.l == r0.l and c.t == r0.t][0]
    payload = f"{cl.url}|{cl.page_no}|{cl.l:.4f},{cl.t:.4f},{cl.r:.4f},{cl.b:.4f}".encode()
    topk = FigureClassifierVision({}).predict([payload])[0]
    assert topk[0][0] == r0.figure_class
    assert round(float(topk[0][1]), 6) == r0.confidence
