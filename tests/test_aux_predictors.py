"""Parity for the M7/M8 deterministic parts vs the reference (fake-torch
imports), plus stub contracts."""

from __future__ import annotations

import logging
import random

import pytest

from docling_ibm_models_spark.models import aux_predictors as aux
from .ref_import import install

install()


class _Dummy:
    def _log(self):
        return logging.getLogger("d")


REF = _Dummy()


def test_strip_latex_tail_parity():
    from docling_ibm_models.code_formula_model.code_formula_predictor import (
        CodeFormulaPredictor,
    )

    rng = random.Random(0)
    pieces = [r"\quad", r"\\", r"\,", " c c c c", " l l l l l", "x", " ", "abc"]
    for _ in range(300):
        s = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 8)))
        assert aux.strip_latex_tail(s) == CodeFormulaPredictor._strip(REF, s)


def test_prompt_parity():
    from docling_ibm_models.code_formula_model.code_formula_predictor import (
        CodeFormulaPredictor,
    )

    for label in ("code", "formula"):
        assert aux.build_prompt(label) == CodeFormulaPredictor._get_prompt(REF, label)
    with pytest.raises(NotImplementedError):
        aux.build_prompt("picture")
    with pytest.raises(NotImplementedError):
        CodeFormulaPredictor._get_prompt(REF, "picture")


def test_topk_sort_contract():
    probs = [0.1, 0.5, 0.2, 0.2] + [0.0] * 12
    preds = aux.topk_sort(probs)
    assert preds[0] == ("bar_code", 0.5)
    assert [p for _, p in preds] == sorted(probs, reverse=True)
    # stable on ties: original class order preserved
    assert preds[1][0] == "chemistry_markush_structure"


def test_stub_predictors_deterministic():
    cf = aux.DeterministicCodeFormulaPredictor()
    a = cf.predict([b"img1", b"img2"], ["code", "formula"])
    b = cf.predict([b"img1", b"img2"], ["code", "formula"])
    assert a == b
    assert not a[1].endswith("\\\\")  # tail stripped

    fc = aux.DeterministicFigureClassifier()
    p = fc.predict([b"img1"])[0]
    assert len(p) == 16
    assert abs(sum(prob for _, prob in p) - 1.0) < 1e-9
    assert p == sorted(p, key=lambda t: t[1], reverse=True)


def test_predict_input_validation_reference_scenarios():
    """The reference's deterministic predict() input contract
    (tests/test_code_formula_predictor.py:63-111): bad temperature type ->
    Exception, negative -> Exception, None -> Exception, image/label count
    mismatch -> Exception, unsupported image type -> TypeError."""
    import pytest as _pytest

    from docling_ibm_models_spark.models.aux_predictors import (
        DeterministicCodeFormulaPredictor,
        validate_predict_inputs,
    )

    p = DeterministicCodeFormulaPredictor()
    img = b"\x00" * 10

    with _pytest.raises(TypeError):
        p.predict(["wrong"], ["code"])
    with _pytest.raises(Exception):
        p.predict([img], ["code"], "0.1")
    with _pytest.raises(Exception):
        p.predict([img], ["code"], -0.1)
    with _pytest.raises(Exception):
        p.predict([img], ["code"], None)
    with _pytest.raises(Exception):
        p.predict([img], ["code", "code"])
    # valid forms pass; do_sample mirrors the temperature==0 switch
    assert p.predict([img], ["code"], 0.0)
    assert validate_predict_inputs([img], ["x"], 0) is False
    assert validate_predict_inputs([img], ["x"], 0.5) is True


def test_figure_classifier_rejects_unsupported_payload():
    import pytest as _pytest

    from docling_ibm_models_spark.models.aux_predictors import (
        DeterministicFigureClassifier,
    )

    with _pytest.raises(TypeError):
        DeterministicFigureClassifier().predict(["wrong"])
    out = DeterministicFigureClassifier().predict([b"ok"])
    assert out and out[0][0][1] >= out[0][-1][1]  # sorted desc by confidence
