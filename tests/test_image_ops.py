"""Numpy image preprocessing (operators/image_ops.py): the TableFormer
normalize → cv2-bilinear resize → transpose chain and the PIL-bilinear
preprocessing of the code-formula and figure-classifier predictors. cv2,
torch and PIL are not installed in-container, so these pin the publicly
documented algorithms rather than recorded library goldens."""

from __future__ import annotations

import numpy as np

from docling_ibm_models_spark.operators import image_ops
from docling_ibm_models_spark.operators.image_ops import (
    prepare_image,
    resize_bilinear,
    tf_normalize,
    tf_resize,
)


# ---- TableFormer preprocessing chain (P1/P2/P4-P8) --------------------------


def test_tf_normalize_formula_quirk():
    # reference functional.py:53: offset 255*mean, std applied RAW (not
    # scaled by 255), no /255 yet
    img = np.full((2, 2, 3), 128, dtype=np.uint8)
    mean, std = [0.5, 0.25, 0.0], [2.0, 1.0, 0.5]
    out = tf_normalize(img, mean, std)
    # float64: the reference divides a float32 array by a float64 np.array,
    # which promotes — preserved as-is
    assert out.dtype == np.float64
    assert np.allclose(out[0, 0], [(128 - 127.5) / 2.0, (128 - 63.75) / 1.0, 256.0])


def test_resize_bilinear_exact_values():
    # 2 -> 3 on one axis: src = (d+0.5)*2/3 - 0.5 -> [-1/6, 1/2, 7/6]
    img = np.array([[0.0], [6.0]])
    out = resize_bilinear(img, 1, 3)
    assert np.allclose(out[:, 0], [0.0, 3.0, 6.0])  # clamped, midpoint, clamped


def test_tf_resize_int_smaller_edge_and_early_return():
    img = np.zeros((10, 5, 3), dtype=np.float32)
    assert tf_resize(img, 5) is img  # w == size -> untouched (ref :79-80)
    out = tf_resize(img, 4)
    assert out.shape == (8, 4, 3)  # smaller edge to 4, aspect kept
    out2 = tf_resize(np.zeros((5, 10, 3), dtype=np.float32), 4)
    assert out2.shape == (4, 8, 3)


def test_prepare_image_shape_and_range():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(32, 24, 3), dtype=np.uint8)
    mean = [0.94247851, 0.94254675, 0.94292611]
    std = [0.17910956, 0.17940403, 0.17931663]
    batch = prepare_image(img, mean, std, 448)
    # reference quirk: (batch, channels, WIDTH, HEIGHT)
    assert batch.shape == (1, 3, 448, 448)
    assert batch.dtype == np.float32
    # normalize then /255: values land in roughly [-6, +1] for uint8 input
    assert float(batch.min()) > -7 and float(batch.max()) < 2
    # deterministic
    assert np.array_equal(batch, prepare_image(img, mean, std, 448))


def test_three_channel_zoom_and_bilinear():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    bl = resize_bilinear(img.astype(np.float64), 10, 12)
    assert bl.shape == (12, 10, 3)
    # channels stay independent: a constant channel stays constant
    flat = np.zeros((4, 4, 3)); flat[..., 1] = 9.0
    out = resize_bilinear(flat, 7, 5)
    assert np.allclose(out[..., 0], 0) and np.allclose(out[..., 1], 9.0)


# ---------------------------------------------------------------------------
# SamOptImageProcessor preprocessing (M7 input side)
# ---------------------------------------------------------------------------
class TestPilBilinearResize:
    def test_identity_at_same_size(self):
        rng = np.random.default_rng(5)
        img = rng.uniform(0, 255, (7, 9, 3))
        out = image_ops.resize_bilinear_pil(img, 9, 7)
        np.testing.assert_allclose(out, img, rtol=0, atol=1e-12)

    def test_constant_preserved(self):
        img = np.full((11, 5, 3), 42.0)
        out = image_ops.resize_bilinear_pil(img, 13, 4)
        np.testing.assert_allclose(out, 42.0, rtol=0, atol=1e-12)

    def test_factor2_interior_taps_are_pil_triangle(self):
        """Interior output pixel at an exact 2x shrink mixes 4 inputs with
        triangle weights [0.125, 0.375, 0.375, 0.125] — the antialiased
        support PIL uses and cv2 INTER_LINEAR does not."""
        img = np.zeros((1, 8))
        img[0, 2] = 1.0
        out = image_ops.resize_bilinear_pil(img, 4, 1)
        # window of output 0 is clipped at the border and renormalized
        # (weights 0.75/0.75/0.25 over inputs 0..2); interior windows span
        # 4 taps with triangle weights [0.125, 0.375, 0.375, 0.125]
        np.testing.assert_allclose(out[0], [0.25 / 1.75, 0.375, 0.0, 0.0], atol=1e-12)
        img2 = np.zeros((1, 8))
        img2[0, 3] = 1.0
        out2 = image_ops.resize_bilinear_pil(img2, 4, 1)
        np.testing.assert_allclose(out2[0], [0.0, 0.375, 0.125, 0.0], atol=1e-12)

    def test_upscale_matches_classic_bilinear(self):
        """For scale >= 1 the PIL triangle filter degenerates to classic
        2-tap half-pixel bilinear — identical to the cv2-semantics
        resize_bilinear already ported for the TableFormer path."""
        rng = np.random.default_rng(11)
        img = rng.uniform(0, 255, (6, 5, 3))
        a = image_ops.resize_bilinear_pil(img, 11, 14)
        b = image_ops.resize_bilinear(img, 11, 14)
        np.testing.assert_allclose(a, b, rtol=1e-12, atol=1e-9)

    def test_code_formula_preprocess_chain(self):
        """resize → /255 CHW → normalize (sam_opt_image_processor.py:24-28),
        shape-contracted for the SAM encoder."""
        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
        mean, std = (0.485, 0.456, 0.406), (0.229, 0.224, 0.225)
        out = image_ops.code_formula_preprocess(img, mean, std, size=(64, 64))
        assert out.shape == (3, 64, 64)
        # undo normalize on a constant image → exact pixel recovery
        const = np.full((10, 10, 3), 128, dtype=np.uint8)
        out_c = image_ops.code_formula_preprocess(const, mean, std, size=(16, 16))
        recovered = out_c * np.asarray(std)[:, None, None] + np.asarray(mean)[:, None, None]
        np.testing.assert_allclose(recovered, 128 / 255.0, atol=1e-12)

    def test_figure_classifier_preprocess_constants(self):
        """M8 chain (document_figure_classifier_predictor.py:92-99): the
        reference-hardcoded normalize constants and 224x224 target."""
        rng = np.random.default_rng(29)
        img = rng.integers(0, 256, (30, 40, 3), dtype=np.uint8)
        out = image_ops.figure_classifier_preprocess(img)
        assert out.shape == (3, 224, 224)
        const = np.full((10, 10, 3), 64, dtype=np.uint8)
        out_c = image_ops.figure_classifier_preprocess(const)
        rec = out_c * np.asarray(image_ops.FIGURE_STD)[:, None, None] + np.asarray(
            image_ops.FIGURE_MEAN
        )[:, None, None]
        np.testing.assert_allclose(rec, 64 / 255.0, atol=1e-12)

    def test_pil_partition_of_unity_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=60, deadline=None)
        @given(src_h=st.integers(1, 37), src_w=st.integers(1, 37),
               dst_h=st.integers(1, 37), dst_w=st.integers(1, 37))
        def prop(src_h, src_w, dst_h, dst_w):
            img = np.full((src_h, src_w), 7.0)
            out = image_ops.resize_bilinear_pil(img, dst_w, dst_h)
            assert out.shape == (dst_h, dst_w)
            np.testing.assert_allclose(out, 7.0, rtol=0, atol=1e-10)

        prop()
