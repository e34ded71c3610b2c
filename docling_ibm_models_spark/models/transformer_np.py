"""M3 Tag_Transformer image-encoder forward as REAL numpy (reference:
docling_ibm_models/tableformer/models/table04_rs/transformer_rs.py:152-195).

The reference encoder is ``nn.TransformerEncoder(nn.TransformerEncoderLayer(
d_model, nhead, dim_feedforward), num_layers, enable_nested_tensor=False)``
applied to the flattened input-filter features with an ALL-FALSE bool mask
(transformer_rs.py:186-195 — the mask is constructed as ``zeros == ones``,
i.e. nothing is ever masked; preserved here as an explicit no-op).

Status honesty: the encoder layer math is torch LIBRARY code, so unlike
the bbox decoder there is no reference-authored numerics to execute for
parity. What this module claims: (a) a from-scratch vectorized numpy
implementation of the documented torch semantics (packed qkv projection,
per-head 1/sqrt(d) scaling, post-norm residuals, ReLU FFN, biased-variance
LayerNorm), cross-checked against an INDEPENDENT module-structured
implementation mirroring torch's class layout (tests/torch_np.py) built
from the same public spec — two implementations, one spec; and (b) the
reference-authored parts around it (input filter, flatten/permute, the
all-False mask, positional target prep) carry true reference parity via
models/bbox_decoder_np.py. Real checkpoint weights would slot into the
same weight dicts on a cluster.
"""

from __future__ import annotations

import math

import numpy as np

from docling_ibm_models_spark.models.bbox_decoder_np import encoder_input_prep

LN_EPS = 1e-5


def _layer_norm(x: np.ndarray, w: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + LN_EPS) * w + b


def _proj(x: np.ndarray, W: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``x @ W.T + b`` with the leading axes flattened to 2-D first.
    Float-identical to the 3-D form (same per-row dot products), but ~20×
    faster for the (L, 1, E) shapes this module lives on: numpy dispatches
    stacked matmul one BLAS gemm PER SLICE, and the per-call overhead
    dwarfs the tiny gemms of the decode loop (measured 2.6 ms vs 0.11 ms
    for (36,1,128)@(128,384))."""
    out = x.reshape(-1, x.shape[-1]) @ W.T + b
    return out.reshape(x.shape[:-1] + (-1,))


def _mha_self(x: np.ndarray, lw: dict, n_heads: int) -> np.ndarray:
    """Self-attention over (L, N, E) with packed in_proj, no masking (the
    reference's mask is all-False by construction)."""
    L, N, E = x.shape
    d = E // n_heads
    W, b = lw["in_proj_w"], lw["in_proj_b"]
    Q = _proj(x, W[:E], b[:E])
    K = _proj(x, W[E : 2 * E], b[E : 2 * E])
    V = _proj(x, W[2 * E :], b[2 * E :])

    def heads(t):
        return t.reshape(L, N * n_heads, d).transpose(1, 0, 2)

    Qh, Kh, Vh = heads(Q), heads(K), heads(V)
    scores = Qh @ Kh.transpose(0, 2, 1) / math.sqrt(d)
    scores -= scores.max(axis=-1, keepdims=True)
    e = np.exp(scores)
    attn = e / e.sum(axis=-1, keepdims=True)
    out = (attn @ Vh).transpose(1, 0, 2).reshape(L, N, E)
    return _proj(out, lw["out_w"], lw["out_b"])


def encoder_forward(layers: list[dict], x_lne: np.ndarray, n_heads: int) -> np.ndarray:
    """Post-norm transformer encoder stack over (L, N, E)."""
    x = x_lne
    for lw in layers:
        x = _layer_norm(x + _mha_self(x, lw, n_heads), lw["ln1_w"], lw["ln1_b"])
        ff = _proj(np.maximum(_proj(x, lw["ff1_w"], lw["ff1_b"]), 0.0), lw["ff2_w"], lw["ff2_b"])
        x = _layer_norm(x + ff, lw["ln2_w"], lw["ln2_b"])
    return x


def tag_encoder_forward(w: dict, enc_inputs_nhwc: np.ndarray, n_heads: int) -> np.ndarray:
    """transformer_rs.py:171-195 through ``encoder_out``: input filter →
    flatten → (positions, batch, dim) → N-layer encoder (all-False mask =
    no-op). ``w`` carries the shared ``input_filter`` plus ``enc_layers``."""
    x = encoder_input_prep(w, enc_inputs_nhwc)
    return encoder_forward(w["enc_layers"], x, n_heads)


def _attn_1q(q2: np.ndarray, K2: np.ndarray, V2: np.ndarray, Wq, bq, out_w, out_b, n_heads: int) -> np.ndarray:
    """Single-query attention over PRE-PROJECTED keys/values: q2 (1,E),
    K2/V2 (S,E). The head reshape/transpose and softmax are those of
    `_mha_self`; the K/V projections are done by the caller (they are
    row-wise, so projecting each history/memory row once is exact)."""
    E = q2.shape[-1]
    d = E // n_heads
    Q = q2 @ Wq.T + bq
    Qh = Q.reshape(1, n_heads, d).transpose(1, 0, 2)
    Kh = K2.reshape(-1, n_heads, d).transpose(1, 0, 2)
    Vh = V2.reshape(-1, n_heads, d).transpose(1, 0, 2)
    scores = Qh @ Kh.transpose(0, 2, 1) / math.sqrt(d)
    scores -= scores.max(axis=-1, keepdims=True)
    e = np.exp(scores)
    attn = e / e.sum(axis=-1, keepdims=True)
    out = (attn @ Vh).transpose(1, 0, 2).reshape(1, E)
    return out @ out_w.T + out_b


# The reference OTSL tag vocabulary (tableformer config word_map_tag; the
# ids match tests/fake_torch_rs.py and the prediction loop's tag ids in
# tablemodel04_rs.py:161-273).
OTSL_WORD_MAP = {
    "<pad>": 0, "<unk>": 1, "<start>": 2, "<end>": 3,
    "ecel": 4, "fcel": 5, "lcel": 6, "ucel": 7, "xcel": 8,
    "nl": 9, "ched": 10, "rhed": 11, "srow": 12,
}
OTSL_ID_TO_TAG = {v: k for k, v in OTSL_WORD_MAP.items()}


def tag_decode_loop(
    w: dict,
    memory: np.ndarray,
    word_map: dict,
    max_pred_len: int,
    n_heads: int,
    forced_tags: list[int] | None = None,
) -> dict:
    """The reference greedy cached decode loop (tablemodel04_rs.py:161-273)
    over REAL numerics: per step, embed the full corrected-tag history with
    positional encodings, run the TMTransformerDecoder cache discipline
    (layer 0 attends over the raw embedded history; layer i>0 attends over
    layer i-1's cached per-step outputs — TMTransformerDecoder.forward,
    transformer_rs.py:39-73), fc the last state to logits, argmax, then the
    in-loop grammar corrections and bbox-slot bookkeeping (which FEED BACK:
    the corrected tag is what gets embedded next step). Returns the tag-id
    sequence (with <start>/<end>), the (n_slots, E) tag_H matrix the bbox
    decoder consumes, and the span-merge map.

    Grammar quirks preserved: ``line_num`` starts 0 and is never
    incremented, so xcel→lcel applies at EVERY step; ucel-then-lcel→fcel.

    ``forced_tags``: optional PROPOSAL stream (pre-correction tag ids).
    When given, each step's proposed tag comes from this schedule instead
    of fc-argmax (constrained/teacher-forced decoding; when the schedule
    runs out, <end> is proposed) — the in-loop grammar corrections, cache
    updates, hidden states, tag_H slots, and merge bookkeeping still run
    the full real forward per step. Used by the serving stub, where no
    trained head exists to make the greedy argmax meaningful; greedy
    parity itself is pinned by tests/test_tag_decoder_np.py."""
    from docling_ibm_models_spark.models.bbox_decoder_np import (
        positional_encoding_table,
    )

    d_model = w["embedding"].shape[1]
    E = d_model
    pe = positional_encoding_table(d_model)
    layers = w["dec_layers"]
    assert memory.shape[1] == 1, "decode loop is single-sequence (N=1)"
    mem2 = memory[:, 0, :]  # (S, E)

    # Static cross-attention K/V per layer — the memory never changes, so
    # projecting it once per decode (instead of once per step per layer)
    # is float-identical and removes the dominant per-step matmul.
    kv_mem = [
        (
            mem2 @ lw["c_in_proj_w"][E : 2 * E].T + lw["c_in_proj_b"][E : 2 * E],
            mem2 @ lw["c_in_proj_w"][2 * E :].T + lw["c_in_proj_b"][2 * E :],
        )
        for lw in layers
    ]
    # Incremental self-attention K/V per layer: row t of layer i's history
    # is FIXED once written (layer 0's history is the embedded tag
    # sequence; layer i>0's is layer i-1's cached per-step outputs — the
    # reference TMTransformerDecoder cache discipline,
    # transformer_rs.py:39-73), so each row is K/V-projected exactly once
    # and the per-step cost is independent of history length. Numerically
    # exact: the projections are row-wise.
    cap = max_pred_len + 2
    k_hist = [np.empty((cap, E)) for _ in layers]
    v_hist = [np.empty((cap, E)) for _ in layers]
    t_len = 0

    def _append_hist(i: int, row2: np.ndarray) -> None:
        lw = layers[i]
        k_hist[i][t_len] = row2 @ lw["in_proj_w"][E : 2 * E].T + lw["in_proj_b"][E : 2 * E]
        v_hist[i][t_len] = row2 @ lw["in_proj_w"][2 * E :].T + lw["in_proj_b"][2 * E :]

    decoded_ids = [word_map["<start>"]]
    output_tags: list[int] = []
    tag_H: list[np.ndarray] = []
    skip_next_tag = True
    prev_tag_ucel = False
    first_lcel = True
    bboxes_to_merge: dict[int, int] = {}
    cur_bbox_ind = -1
    bbox_ind = 0

    cell_tags = {word_map[t] for t in ("fcel", "ecel", "ched", "rhed", "srow", "nl", "ucel")}
    while len(output_tags) < max_pred_len:
        pos = len(decoded_ids) - 1
        # last-token embedding + its positional row: the embedded full
        # history, restricted to the only row that's new
        q2 = w["embedding"][decoded_ids[-1]][None, :] + pe[pos]  # (1, E)
        _append_hist(0, q2)
        for i, lw in enumerate(layers):
            sa = _attn_1q(
                q2, k_hist[i][: t_len + 1], v_hist[i][: t_len + 1],
                lw["in_proj_w"][:E], lw["in_proj_b"][:E],
                lw["out_w"], lw["out_b"], n_heads,
            )
            x = _layer_norm(q2 + sa, lw["ln1_w"], lw["ln1_b"])
            ca = _attn_1q(
                x, kv_mem[i][0], kv_mem[i][1],
                lw["c_in_proj_w"][:E], lw["c_in_proj_b"][:E],
                lw["c_out_w"], lw["c_out_b"], n_heads,
            )
            x = _layer_norm(x + ca, lw["ln2_w"], lw["ln2_b"])
            ff = np.maximum(x @ lw["ff1_w"].T + lw["ff1_b"], 0.0) @ lw["ff2_w"].T + lw["ff2_b"]
            q2 = _layer_norm(x + ff, lw["ln3_w"], lw["ln3_b"])  # (1, E)
            if i + 1 < len(layers):
                _append_hist(i + 1, q2)
        t_len += 1
        last = q2  # (1, E) == reference decoded[-1, :, :]
        logits = last @ w["fc"]["w"].T + w["fc"]["b"]
        if forced_tags is None:
            new_tag = int(np.argmax(logits[0]))
        else:
            k = len(output_tags)
            new_tag = forced_tags[k] if k < len(forced_tags) else word_map["<end>"]

        if new_tag == word_map["xcel"]:  # line_num quirk: always line 0
            new_tag = word_map["lcel"]
        if prev_tag_ucel and new_tag == word_map["lcel"]:
            new_tag = word_map["fcel"]
        if new_tag == word_map["<end>"]:
            output_tags.append(new_tag)
            decoded_ids.append(new_tag)
            break
        output_tags.append(new_tag)

        if not skip_next_tag and new_tag in cell_tags:
            tag_H.append(last)
            if not first_lcel:
                bboxes_to_merge[cur_bbox_ind] = bbox_ind
            bbox_ind += 1
        if new_tag != word_map["lcel"]:
            first_lcel = True
        elif first_lcel:
            tag_H.append(last)
            first_lcel = False
            cur_bbox_ind = bbox_ind
            bboxes_to_merge[cur_bbox_ind] = -1
            bbox_ind += 1

        skip_next_tag = new_tag in (word_map["nl"], word_map["ucel"], word_map["xcel"])
        prev_tag_ucel = new_tag == word_map["ucel"]
        decoded_ids.append(new_tag)

    return {
        "seq": decoded_ids,
        "tag_H": np.concatenate(tag_H, axis=0) if tag_H else np.empty((0, d_model)),
        "bboxes_to_merge": bboxes_to_merge,
    }


def synthetic_decoder_layers(
    seed: int = 29, d_model: int = 512, dim_ff: int = 1024, num_layers: int = 2
) -> list[dict]:
    """Deterministic seeded stand-in for the checkpoint decoder weights."""
    rng = np.random.default_rng(seed)
    s = 1.0 / math.sqrt(d_model)
    layers = []
    for _ in range(num_layers):
        layers.append(
            {
                "in_proj_w": rng.normal(0.0, s, (3 * d_model, d_model)),
                "in_proj_b": rng.normal(0.0, 0.01, 3 * d_model),
                "out_w": rng.normal(0.0, s, (d_model, d_model)),
                "out_b": rng.normal(0.0, 0.01, d_model),
                "c_in_proj_w": rng.normal(0.0, s, (3 * d_model, d_model)),
                "c_in_proj_b": rng.normal(0.0, 0.01, 3 * d_model),
                "c_out_w": rng.normal(0.0, s, (d_model, d_model)),
                "c_out_b": rng.normal(0.0, 0.01, d_model),
                "ln1_w": rng.uniform(0.8, 1.2, d_model),
                "ln1_b": rng.normal(0.0, 0.02, d_model),
                "ln2_w": rng.uniform(0.8, 1.2, d_model),
                "ln2_b": rng.normal(0.0, 0.02, d_model),
                "ff1_w": rng.normal(0.0, s, (dim_ff, d_model)),
                "ff1_b": rng.normal(0.0, 0.01, dim_ff),
                "ff2_w": rng.normal(0.0, 1.0 / math.sqrt(dim_ff), (d_model, dim_ff)),
                "ff2_b": rng.normal(0.0, 0.01, d_model),
                "ln3_w": rng.uniform(0.8, 1.2, d_model),
                "ln3_b": rng.normal(0.0, 0.02, d_model),
            }
        )
    return layers


def synthetic_tag_head(seed: int, d_model: int, vocab_size: int, gain: float = 4.0) -> dict:
    """Embedding table + fc logits head. The fc gain is boosted (cf. the
    attention-collapse note in bbox synthetic weights): with 1/sqrt(d)
    weights the logit spread is sub-noise and argmax degenerates to a
    constant tag; gain separates the per-state logits so the greedy loop
    visits a non-trivial tag mix under synthetic weights."""
    rng = np.random.default_rng(seed)
    return {
        "embedding": rng.normal(0.0, 1.0, (vocab_size, d_model)),
        "fc": {
            "w": rng.normal(0.0, gain / math.sqrt(d_model), (vocab_size, d_model)),
            "b": rng.normal(0.0, 0.05, vocab_size),
        },
    }


def synthetic_encoder_layers(
    seed: int = 13, d_model: int = 512, dim_ff: int = 1024, num_layers: int = 4
) -> list[dict]:
    """Deterministic seeded stand-in for the checkpoint encoder weights."""
    rng = np.random.default_rng(seed)
    s = 1.0 / math.sqrt(d_model)
    layers = []
    for _ in range(num_layers):
        layers.append(
            {
                "in_proj_w": rng.normal(0.0, s, (3 * d_model, d_model)),
                "in_proj_b": rng.normal(0.0, 0.01, 3 * d_model),
                "out_w": rng.normal(0.0, s, (d_model, d_model)),
                "out_b": rng.normal(0.0, 0.01, d_model),
                "ln1_w": rng.uniform(0.8, 1.2, d_model),
                "ln1_b": rng.normal(0.0, 0.02, d_model),
                "ff1_w": rng.normal(0.0, s, (dim_ff, d_model)),
                "ff1_b": rng.normal(0.0, 0.01, dim_ff),
                "ff2_w": rng.normal(0.0, 1.0 / math.sqrt(dim_ff), (d_model, dim_ff)),
                "ff2_b": rng.normal(0.0, 0.01, d_model),
                "ln2_w": rng.uniform(0.8, 1.2, d_model),
                "ln2_b": rng.normal(0.0, 0.02, d_model),
            }
        )
    return layers
