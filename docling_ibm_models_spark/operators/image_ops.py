"""Pixel-level image preprocessing in pure numpy (the container has no
cv2, torch or PIL): cv2 INTER_LINEAR resize, the TableFormer
normalize → resize → transpose chain (reference tf_predictor._prepare_image,
tf_predictor.py:990-1015) and the PIL-bilinear preprocessing of the
code-formula and figure-classifier predictors.

The reference's page-level ``resize_img`` (cv2 INTER_AREA to height 1024,
tf_predictor.py:427-455) is not ported: the table stage receives its crop
already at table scale, so no query or stage downsizes a page.
"""

from __future__ import annotations

import numpy as np


def _linear_coords(dst: int, src: int):
    """cv2 INTER_LINEAR coordinate mapping: src = (dst+0.5)*scale - 0.5,
    samples clamped at the border (BORDER_REPLICATE)."""
    scale = src / dst
    x = (np.arange(dst, dtype=np.float64) + 0.5) * scale - 0.5
    x0 = np.floor(x).astype(np.int64)
    fx = x - x0
    lo = np.clip(x0, 0, src - 1)
    hi = np.clip(x0 + 1, 0, src - 1)
    return lo, hi, fx


def resize_bilinear(img: np.ndarray, dw: int, dh: int) -> np.ndarray:
    """cv2.resize(..., INTER_LINEAR) semantics in numpy (float arithmetic;
    cv2's uint8 fixed-point fast path may differ by 1 LSB)."""
    h, w = img.shape[:2]
    acc = img.astype(np.float64)
    y0, y1, fy = _linear_coords(dh, h)
    x0, x1, fx = _linear_coords(dw, w)
    # separable: interpolate rows first ((dh, w, C) — small when the source
    # is small), then columns; 4 full-size gathers -> 2 + 2 tiny ones
    fy_col = fy.reshape(-1, *([1] * (acc.ndim - 1)))
    rows = acc[y0] * (1 - fy_col) + acc[y1] * fy_col
    fx_row = fx.reshape(1, -1, *([1] * (acc.ndim - 2)))  # align to width axis
    out = rows[:, x0] * (1 - fx_row) + rows[:, x1] * fx_row
    if np.issubdtype(img.dtype, np.integer):
        info = np.iinfo(img.dtype)
        return np.clip(np.rint(out), info.min, info.max).astype(img.dtype)
    return out.astype(img.dtype)


def tf_normalize(img: np.ndarray, mean, std) -> np.ndarray:
    """P2 — TableFormer channel normalization, numpy path of reference
    functional.normalize (functional.py:52-53): note the 255·mean offset
    while std is applied RAW (not scaled by 255) and the image is NOT yet
    divided by 255 — the /255 happens later in _prepare_image."""
    return (img.astype(np.float32) - 255.0 * np.array(mean)) / np.array(std)


def tf_resize(img: np.ndarray, size, interpolation: str = "BILINEAR") -> np.ndarray:
    """P4/P5 — reference functional.resize (functional.py:58-97): int size
    matches the SMALLER edge preserving aspect (early-return when already
    matched); (h, w) tuple resizes exactly. BILINEAR only (the reference's
    predict path never uses another mode)."""
    if interpolation != "BILINEAR":
        raise NotImplementedError("predict path uses BILINEAR only")
    if isinstance(size, int):
        h, w = img.shape[:2]
        if (w <= h and w == size) or (h <= w and h == size):
            return img
        if w < h:
            ow, oh = size, int(size * h / w)
        else:
            oh, ow = size, int(size * w / h)
        return resize_bilinear(img, ow, oh)
    oh, ow = size
    return resize_bilinear(img, int(ow), int(oh))


def prepare_image(
    img: np.ndarray, mean, std, resized_size: int
) -> np.ndarray:
    """P1+P2+P4-P8 — the reference's full TableFormer image preprocessing
    (tf_predictor._prepare_image, tf_predictor.py:990-1015) without torch:
    normalize → square BILINEAR resize → transpose to the reference's
    quirky (channels, WIDTH, HEIGHT) layout (:1011 — not the usual C,H,W)
    → /255 → add batch dim. Returns float32 (1, C, W, H)."""
    out = tf_normalize(img, mean, std)
    out = tf_resize(out, [resized_size, resized_size])
    out = out.transpose(2, 1, 0)  # (channels, width, height) — quirk kept
    out = (out / 255.0).astype(np.float32)
    return out[np.newaxis, ...]


# ---------------------------------------------------------------------------
# Code-formula (M7) preprocessing — SamOptImageProcessor
# (reference: code_formula_model/models/sam_opt_image_processor.py:11-29:
# torchvision F.resize on a PIL image → F.to_tensor → F.normalize)
# ---------------------------------------------------------------------------
def _pil_triangle_weights(dst: int, src: int):
    """PIL's bilinear (triangle-filter) resample coefficients, float path
    (Pillow ImagingResampleHorizontal: support scales with the shrink
    factor, so downscaling antialiases — unlike cv2 INTER_LINEAR). PIL
    itself is not installed in this container, so this follows the
    documented float algorithm; PIL's additional uint8 fixed-point
    rounding (≤1/255 per channel) is intentionally not reproduced."""
    scale = src / dst
    fscale = max(scale, 1.0)
    support = 1.0 * fscale  # triangle filter support = 1, scaled
    rows = []
    for i in range(dst):
        center = (i + 0.5) * scale
        lo = max(int(np.floor(center - support)), 0)
        hi = min(int(np.ceil(center + support)), src)
        js = np.arange(lo, hi)
        w = 1.0 - np.abs((js + 0.5 - center) / fscale)
        w = np.maximum(w, 0.0)
        rows.append((lo, hi, w / w.sum()))
    return rows


def resize_bilinear_pil(img: np.ndarray, dw: int, dh: int) -> np.ndarray:
    """Separable PIL-semantics bilinear resize over (H, W[, C]) float."""
    img = np.asarray(img, dtype=np.float64)
    h, w = img.shape[:2]
    out_h = np.empty((h, dw) + img.shape[2:], dtype=np.float64)
    for i, (lo, hi, wt) in enumerate(_pil_triangle_weights(dw, w)):
        seg = img[:, lo:hi]
        out_h[:, i] = np.tensordot(seg, wt, axes=([1], [0]))
    out = np.empty((dh, dw) + img.shape[2:], dtype=np.float64)
    for i, (lo, hi, wt) in enumerate(_pil_triangle_weights(dh, h)):
        out[i] = np.tensordot(out_h[lo:hi], wt, axes=([0], [0]))
    return out


def code_formula_preprocess(
    img_hwc_uint8: np.ndarray, mean, std, size: tuple[int, int] = (1024, 1024)
) -> np.ndarray:
    """SamOptImageProcessor.__call__ chain: resize to ``size`` (PIL
    bilinear) → to_tensor (HWC uint8 → CHW float /255) → per-channel
    normalize. ``mean``/``std`` ship with the checkpoint artifacts
    (code_formula_predictor.py:89 from_pretrained), so they are parameters
    here. Output (C, H, W) float64, ready for the SAM encoder
    (models/sam_encoder_np.py)."""
    x = resize_bilinear_pil(np.asarray(img_hwc_uint8, dtype=np.float64), size[1], size[0])
    x = x.transpose(2, 0, 1) / 255.0
    mean = np.asarray(mean, dtype=np.float64)[:, None, None]
    std = np.asarray(std, dtype=np.float64)[:, None, None]
    return (x - mean) / std


# M8 figure-classifier preprocessing constants — hardcoded in the reference
# (document_figure_classifier_predictor.py:92-99)
FIGURE_MEAN = (0.485, 0.456, 0.406)
FIGURE_STD = (0.47853944, 0.4732864, 0.47434163)


def figure_classifier_preprocess(img_hwc_uint8: np.ndarray) -> np.ndarray:
    """document_figure_classifier_predictor.py:92-99: torchvision
    Compose(Resize((224,224)), ToTensor, Normalize(mean, std)) — the same
    PIL-bilinear → /255 CHW → per-channel normalize chain as the
    code-formula processor, with the reference's hardcoded constants."""
    return code_formula_preprocess(img_hwc_uint8, FIGURE_MEAN, FIGURE_STD, size=(224, 224))
