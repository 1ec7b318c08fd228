"""Numpy CNN encoder (M1) + 2-D sinusoidal positional signal (M2).

Reproduces the reference encoder graph (/root/reference/model/encoder.py:17-68,
"vanilla" variant):

    cast→[-1,1] → conv64 SAME relu → maxpool 2x2/2 SAME
                → conv128 SAME relu → maxpool 2x2/2 SAME
                → conv256 SAME relu → conv256 SAME relu → maxpool (2,1) SAME
                → conv512 SAME relu → maxpool (1,2) SAME
                → conv512 VALID relu → add_timing_signal_nd

Convolutions run as im2col + one matmul per layer — vectorized over the whole
batch (the "batch vectorization" lever, SURVEY.md §4). Positional signal is the
tensor2tensor formula (/root/reference/model/components/positional.py:10-65).
"""

from __future__ import annotations

import math

import numpy as np

from ..config import ModelConfig
from .image_ops import normalize


def _pad_same(x: np.ndarray, kh: int, kw: int, sh: int, sw: int, value: float) -> np.ndarray:
    """TF 'SAME' padding: total pad = max((ceil(n/s)-1)*s + k - n, 0), more on
    the bottom/right."""
    n, h, w, c = x.shape
    ph = max((math.ceil(h / sh) - 1) * sh + kh - h, 0)
    pw = max((math.ceil(w / sw) - 1) * sw + kw - w, 0)
    return np.pad(
        x,
        ((0, 0), (ph // 2, ph - ph // 2), (pw // 2, pw - pw // 2), (0, 0)),
        constant_values=value,
    )


def _windows(x: np.ndarray, kh: int, kw: int, sh: int, sw: int) -> np.ndarray:
    """(N,H,W,C) → strided view (N,OH,OW,kh,kw,C)."""
    n, h, w, c = x.shape
    oh = (h - kh) // sh + 1
    ow = (w - kw) // sw + 1
    s = x.strides
    return np.lib.stride_tricks.as_strided(
        x,
        shape=(n, oh, ow, kh, kw, c),
        strides=(s[0], s[1] * sh, s[2] * sw, s[1], s[2], s[3]),
        writeable=False,
    )


# Max float32 elements the materialized im2col buffer may hold (8 MB).
# Two failure modes bound this from both sides (measured, single-process and
# 32-concurrent sweeps):
#   - too LARGE (≥ ~32 MB): buffers exceed glibc's dynamic mmap-threshold cap,
#     every conv call pays mmap/page-zero/munmap, and the churn serializes 32
#     concurrent python workers (5× total-CPU inflation at local[32]);
#   - too SMALL (the old 250k/1 MB): mid-size layers (oh·ow·k²·cin ≈ 0.3–1 M
#     elements per image at bench dims) drop to the per-image ROW-SLAB path —
#     many tiny GEMMs, 18–22% slower encode single-process.
# 2M elements keeps every typical layer on the batched path with buffers that
# glibc's adaptive threshold serves from the reused heap arena.
_IM2COL_MAX_ELEMS = 2_000_000


def conv2d(
    x: np.ndarray,
    W: np.ndarray,
    b: np.ndarray,
    padding: str = "SAME",
    stride: tuple[int, int] = (1, 1),
) -> np.ndarray:
    kh, kw, cin, cout = W.shape
    sh, sw = stride
    if padding == "SAME":
        x = _pad_same(x, kh, kw, sh, sw, 0.0)
    if stride != (1, 1):
        # strided path (the "cnn" encoder variant's (2,4)/2 conv,
        # /root/reference/model/encoder.py:53-55): windows view + one matmul
        x = np.ascontiguousarray(x, dtype=np.float32)
        win = _windows(x, kh, kw, sh, sw)
        n, oh, ow = win.shape[:3]
        flat = np.ascontiguousarray(win).reshape(n * oh * ow, kh * kw * cin)
        return (flat @ W.reshape(-1, cout) + b).reshape(n, oh, ow, cout).astype(np.float32)
    x = np.ascontiguousarray(x, dtype=np.float32)
    n, h, w, _ = x.shape
    oh, ow = h - kh + 1, w - kw + 1
    wflat = W.reshape(kh * kw * cin, cout)
    out = np.empty((n, oh, ow, cout), dtype=np.float32)
    elems_per_img = oh * ow * kh * kw * cin
    if elems_per_img <= _IM2COL_MAX_ELEMS:
        step = max(1, _IM2COL_MAX_ELEMS // elems_per_img)
        for s in range(0, n, step):
            win = _windows(x[s : s + step], kh, kw, 1, 1)
            m = win.shape[0]
            flat = win.reshape(m * oh * ow, kh * kw * cin)
            o = out[s : s + step]
            o[...] = (flat @ wflat).reshape(m, oh, ow, cout)
            o += b  # bias while the slab is cache-hot (vs one extra full pass)
    else:
        # one image's windows exceed the budget (oversized fallback bucket):
        # slab over output rows instead
        row_step = max(1, _IM2COL_MAX_ELEMS // max(ow * kh * kw * cin, 1))
        for i in range(n):
            xi = x[i : i + 1]
            for r in range(0, oh, row_step):
                rr = min(row_step, oh - r)
                win = _windows(xi[:, r : r + rr + kh - 1], kh, kw, 1, 1)
                flat = win.reshape(rr * ow, kh * kw * cin)
                o = out[i, r : r + rr]
                o[...] = (flat @ wflat).reshape(rr, ow, cout)
                o += b
    return out


def max_pool(x: np.ndarray, k: tuple[int, int], s: tuple[int, int]) -> np.ndarray:
    """max_pooling2d with SAME padding for the non-overlapping pools the
    encoders use (k == s: 2x2, 2x1, 1x2): each pooled axis takes the max of
    its even and odd halves. SAME pads an odd length with one -inf at the end,
    so the last element is its own window's max."""
    assert k == s and s in ((2, 2), (2, 1), (1, 2)), (k, s)
    for axis in (1, 2):
        if s[axis - 1] == 2:
            x = _max_pairs(x, axis)
    return x


def _max_pairs(x: np.ndarray, axis: int) -> np.ndarray:
    """Max over non-overlapping pairs along ``axis``, the odd tail copied."""
    n = x.shape[axis]
    at = (slice(None),) * axis
    out = np.empty(x.shape[:axis] + ((n + 1) // 2,) + x.shape[axis + 1 :], np.float32)
    np.maximum(x[at + (slice(0, n - 1, 2),)], x[at + (slice(1, None, 2),)],
               out=out[at + (slice(0, n // 2),)])
    if n % 2:
        out[at + (-1,)] = x[at + (-1,)]
    return out


def relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0, out=x)


def add_timing_signal_nd(
    x: np.ndarray, min_timescale: float = 1.0, max_timescale: float = 1.0e4
) -> np.ndarray:
    """tensor2tensor 2-D positional signal, numpy transcription of
    /root/reference/model/components/positional.py:10-65."""
    num_dims = x.ndim - 2
    channels = x.shape[-1]
    num_timescales = channels // (num_dims * 2)
    log_inc = math.log(max_timescale / min_timescale) / max(num_timescales - 1, 1)
    inv_timescales = min_timescale * np.exp(
        np.arange(num_timescales, dtype=np.float32) * -log_inc
    ).astype(np.float32)
    out = x
    for dim in range(num_dims):
        length = x.shape[dim + 1]
        position = np.arange(length, dtype=np.float32)
        scaled = position[:, None] * inv_timescales[None, :]
        signal = np.concatenate([np.sin(scaled), np.cos(scaled)], axis=1).astype(np.float32)
        prepad = dim * 2 * num_timescales
        postpad = channels - (dim + 1) * 2 * num_timescales
        signal = np.pad(signal, ((0, 0), (prepad, postpad)))
        shape = [1] * (x.ndim)
        shape[dim + 1] = length
        shape[-1] = channels
        out = out + signal.reshape(shape)
    return out.astype(np.float32)


def encode(
    batch_u8: np.ndarray, weights: dict[str, np.ndarray], cfg: ModelConfig
) -> np.ndarray:
    """uint8 (N,H,W) → encoded float32 (N,H',W',C).

    Includes the P6 normalize step (``image_ops.normalize``) exactly as the
    reference fuses it into the encoder (model/encoder.py:25-27).
    ``cfg.encoder_cnn`` selects the variant like the reference's
    getModel(model_name) (model/img2seq_torch.py:69-83): vanilla | cnn here,
    simple_cnn | resnet9 | densenet in kernels/encoder_zoo.py.
    """
    if cfg.encoder_cnn not in ("vanilla", "cnn"):
        from .encoder_zoo import ZOO

        return ZOO[cfg.encoder_cnn](batch_u8, weights, cfg)
    x = normalize(batch_u8)[:, :, :, None]
    # relu after each pool, on the pooled (smaller) map: max commutes with
    # relu, so this is exact
    x = conv2d(x, weights["conv0_W"], weights["conv0_b"], "SAME")
    x = relu(max_pool(x, (2, 2), (2, 2)))
    x = conv2d(x, weights["conv1_W"], weights["conv1_b"], "SAME")
    x = relu(max_pool(x, (2, 2), (2, 2)))
    x = relu(conv2d(x, weights["conv2_W"], weights["conv2_b"], "SAME"))
    x = conv2d(x, weights["conv3_W"], weights["conv3_b"], "SAME")
    if cfg.encoder_cnn == "vanilla":
        x = max_pool(x, (2, 1), (2, 1))
    x = conv2d(relu(x), weights["conv4_W"], weights["conv4_b"], "SAME")
    if cfg.encoder_cnn == "vanilla":
        x = max_pool(x, (1, 2), (1, 2))
    x = relu(x)
    if cfg.encoder_cnn == "cnn":
        # strided conv replaces the two asymmetric pools, no activation
        # (model/encoder.py:53-55)
        x = conv2d(x, weights["conv_s_W"], weights["conv_s_b"], "SAME", stride=(2, 2))
    x = relu(conv2d(x, weights["conv5_W"], weights["conv5_b"], "VALID"))
    if cfg.positional_embeddings:
        x = add_timing_signal_nd(x)
    return x
