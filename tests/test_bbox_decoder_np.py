"""M5/M3 parity: the repo's numpy forwards (models/bbox_decoder_np.py) vs
the REFERENCE classes themselves executed under the computing fake-torch
(tests/torch_np.py) with identical seeded synthetic weights.

Reference code under test (executed for real, numerics included):
  * BBoxDecoder.__init__ + inference — bbox_decoder_rs.py:18-168, including
    the `_input_filter` resnet block (utils.py:116-124, torchvision
    BasicBlock semantics) and utils.MLP (utils.py:260-274).
  * PositionalEncoding — transformer_rs.py:18-35.
"""

from __future__ import annotations

import numpy as np
import pytest

from docling_ibm_models_spark.models import bbox_decoder_np as bnp

from . import ref_import, torch_np

ATTENTION_DIM = 64
NUM_CLASSES = 2
SPATIAL = 5  # 5x5x256 feature map -> 25 pixels after stride-1 filter


def _import_ref_bbox():
    ref_import.install()
    import docling_ibm_models.tableformer.models.table04_rs.bbox_decoder_rs as bd
    import docling_ibm_models.tableformer.utils.utils as u

    # swap the mocked torch surface for the computing fake
    bd.torch = torch_np.torch
    bd.nn = torch_np.nn
    u.torch = torch_np.torch
    u.nn = torch_np.nn
    u.F = torch_np.F
    u.BasicBlock = torch_np.BasicBlock
    u.conv1x1 = torch_np.conv1x1
    return bd


def _set_lin(lin, d):
    lin.weight = d["w"].copy()
    lin.bias = d["b"].copy()


def _set_bn(bn, d):
    bn.weight = d["weight"].copy()
    bn.bias = d["bias"].copy()
    bn.running_mean = d["running_mean"].copy()
    bn.running_var = d["running_var"].copy()


def _set_block(blk, d):
    blk.conv1.weight = d["conv1"].copy()
    _set_bn(blk.bn1, d["bn1"])
    blk.conv2.weight = d["conv2"].copy()
    _set_bn(blk.bn2, d["bn2"])
    if "down_conv" in d:
        blk.downsample[0].weight = d["down_conv"].copy()
        _set_bn(blk.downsample[1], d["down_bn"])


def _ref_decoder(w):
    bd = _import_ref_bbox()
    ref = bd.BBoxDecoder(
        "cpu",
        attention_dim=ATTENTION_DIM,
        embed_dim=256,
        tag_decoder_dim=512,
        decoder_dim=512,
        num_classes=NUM_CLASSES,
        encoder_dim=512,
        dropout=0.5,
        cnn_layer_stride=1,
    )
    _set_block(ref._input_filter[0], w["input_filter"]["b1"])
    _set_block(ref._input_filter[1], w["input_filter"]["b2"])
    _set_lin(ref._attention._encoder_att, w["att_enc"])
    _set_lin(ref._attention._tag_decoder_att, w["att_tag"])
    _set_lin(ref._attention._language_att, w["att_lang"])
    _set_lin(ref._attention._full_att, w["att_full"])
    _set_lin(ref._init_h, w["init_h"])
    _set_lin(ref._f_beta, w["f_beta"])
    _set_lin(ref._class_embed, w["class_embed"])
    for lin, d in zip(ref._bbox_embed.layers, w["bbox_mlp"]):
        _set_lin(lin, d)
    return ref


@pytest.fixture(scope="module")
def weights():
    return bnp.synthetic_weights(seed=7, attention_dim=ATTENTION_DIM, num_classes=NUM_CLASSES)


@pytest.fixture(scope="module")
def ref(weights):
    return _ref_decoder(weights)


@pytest.mark.parametrize("seed,n_cells", [(0, 1), (1, 3), (2, 7), (3, 12), (4, 2)])
def test_bbox_inference_parity(weights, ref, seed, n_cells):
    rng = np.random.default_rng(100 + seed)
    enc = rng.normal(0.0, 0.3, (1, SPATIAL, SPATIAL, 256))
    tag_H = rng.normal(0.0, 0.5, (n_cells, 512))

    ref_classes, ref_boxes = ref.inference(
        torch_np.Tensor(enc), [torch_np.Tensor(tag_H[i : i + 1]) for i in range(n_cells)]
    )
    my_classes, my_boxes = bnp.bbox_inference(weights, enc, tag_H)

    assert my_classes.shape == (n_cells, NUM_CLASSES + 1)
    assert my_boxes.shape == (n_cells, 4)
    np.testing.assert_allclose(my_classes, ref_classes.a, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(my_boxes, ref_boxes.a, rtol=1e-10, atol=1e-12)
    # boxes are sigmoid outputs and must be non-degenerate
    assert np.all((my_boxes > 0.0) & (my_boxes < 1.0))
    assert np.std(my_boxes) > 1e-3


def test_bbox_inference_zero_cells(weights, ref):
    rng = np.random.default_rng(9)
    enc = rng.normal(0.0, 0.3, (1, SPATIAL, SPATIAL, 256))
    ref_classes, ref_boxes = ref.inference(torch_np.Tensor(enc), [])
    my_classes, my_boxes = bnp.bbox_inference(weights, enc, np.empty((0, 512)))
    assert my_classes.shape[0] == 0 and my_boxes.shape[0] == 0
    assert ref_classes.a.shape[0] == 0 and ref_boxes.a.shape[0] == 0


def test_input_filter_parity(weights, ref):
    """The shared resnet `_input_filter` (M3+M5) alone, NCHW in/out."""
    rng = np.random.default_rng(42)
    x = rng.normal(0.0, 0.5, (1, 256, SPATIAL, SPATIAL))
    ref_out = ref._input_filter(torch_np.Tensor(x))
    my_out = bnp.resnet_block_forward(x, weights["input_filter"])
    assert my_out.shape == (1, 512, SPATIAL, SPATIAL)
    np.testing.assert_allclose(my_out, ref_out.a, rtol=1e-10, atol=1e-12)


def test_encoder_input_prep_matches_reference_statements(weights, ref):
    """transformer_rs.py:175-185 pre-encoder pipeline, composed from the
    reference's own _input_filter under torch_np."""
    rng = np.random.default_rng(5)
    enc = rng.normal(0.0, 0.3, (1, SPATIAL, SPATIAL, 256))
    t = torch_np.Tensor(enc)
    r = ref._input_filter(t.permute(0, 3, 1, 2)).permute(0, 2, 3, 1)
    r = r.view(r.size(0), -1, r.size(3)).permute(1, 0, 2)
    mine = bnp.encoder_input_prep(weights, enc)
    assert mine.shape == (SPATIAL * SPATIAL, 1, 512)
    np.testing.assert_allclose(mine, r.a, rtol=1e-10, atol=1e-12)


def test_positional_encoding_parity():
    """transformer_rs.py:18-35 PositionalEncoding table, the reference
    class executed under torch_np."""
    ref_import.install()
    import docling_ibm_models.tableformer.models.table04_rs.transformer_rs as tr

    tr.torch = torch_np.torch
    tr.nn = torch_np.nn
    pe_mod = tr.PositionalEncoding(d_model=64, dropout=0.1, max_len=128)
    table = bnp.positional_encoding_table(64, max_len=128)
    np.testing.assert_allclose(table, pe_mod.pe.a, rtol=0, atol=0)


def test_encoder04_parity():
    """M2 deterministic surface: the reference Encoder04 class
    (encoder04_rs.py:16-72 — backbone truncation [:-3], AdaptiveAvgPool2d,
    NCHW→NHWC permute) executed under torch_np with a synthetic conv stack
    standing in for torchvision.models.resnet18, vs the repo's numpy
    encoder04_forward with the same stack."""
    import types

    from docling_ibm_models_spark.models import encoder_np

    ref_import.install()
    import docling_ibm_models.tableformer.models.table04_rs.encoder04_rs as enc

    enc.nn = torch_np.nn

    stack = encoder_np.synthetic_encoder_stack(seed=11, channels=(3, 8, 16))

    class MustNotRun(torch_np.Module):
        def forward(self, x):  # layer4/avgpool/fc — dropped by [:-3]
            raise AssertionError("truncated module was executed")

    def fake_resnet18():
        mods = []
        for layer in stack:
            cout, cin, k, _ = layer["conv"].shape
            c = torch_np.Conv2d(cin, cout, k, stride=layer["stride"],
                                padding=layer["padding"], bias=False)
            c.weight = layer["conv"].copy()
            bn = torch_np.BatchNorm2d(cout)
            bn.weight = layer["bn"]["weight"].copy()
            bn.bias = layer["bn"]["bias"].copy()
            bn.running_mean = layer["bn"]["running_mean"].copy()
            bn.running_var = layer["bn"]["running_var"].copy()
            mods.extend([c, bn, torch_np.ReLU()])
        mods.extend([MustNotRun(), MustNotRun(), MustNotRun()])

        class FakeResnet:
            def children(self):
                return iter(mods)

        return FakeResnet()

    enc.torchvision = types.SimpleNamespace(
        models=types.SimpleNamespace(resnet18=fake_resnet18)
    )
    ref = enc.Encoder04(enc_image_size=5, enc_dim=512)

    rng = np.random.default_rng(21)
    # 28x28 input → stack downsamples to 7x7 → adaptive pool 5x5 (uneven
    # bins, exercises the floor/ceil formula)
    x = rng.normal(0.0, 0.4, (1, 3, 28, 28))
    ref_out = ref.forward(torch_np.Tensor(x))
    mine = encoder_np.encoder04_forward(x, stack, enc_image_size=5)
    assert mine.shape == (1, 5, 5, 16)
    np.testing.assert_allclose(mine, ref_out.a, rtol=1e-10, atol=1e-12)

    # identity case: pool output size == feature size
    x2 = rng.normal(0.0, 0.4, (1, 3, 20, 20))
    ref2 = enc.Encoder04(enc_image_size=5, enc_dim=512)
    np.testing.assert_allclose(
        encoder_np.encoder04_forward(x2, stack, 5), ref2.forward(torch_np.Tensor(x2)).a,
        rtol=1e-10, atol=1e-12,
    )
