"""Unit tests for the pure-numpy kernels (no Spark).

Mirrors the reference behaviors per SURVEY.md §5: greyscale/crop/pad/bucket
vs hand-computed arrays, incl. edge cases all-white image
(/root/reference/model/utils/image.py:137-139) and no-bucket-fits fallback
(:115-123).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from latex_ocr_spark.config import BUCKETS, ModelConfig
from latex_ocr_spark.fixtures.corpus import formula_for
from latex_ocr_spark.fixtures.glyphs import render_formula
from latex_ocr_spark.fixtures.png import decode_png, encode_png
from latex_ocr_spark.kernels import encoder, image_ops, text_ops
from latex_ocr_spark.kernels.beam import beam_decode
from latex_ocr_spark.kernels.decode import AttentionDecoder, log_softmax, softmax
from latex_ocr_spark.kernels.encoder import add_timing_signal_nd, conv2d, encode, max_pool
from latex_ocr_spark.kernels.oracle import Model
from latex_ocr_spark.kernels.weights import init_weights
from latex_ocr_spark.fixtures.vocab import ID_END, ID_PAD, ID_TO_TOK, ID_UNK, N_TOK, TOK_TO_ID
from latex_ocr_spark.session import _cpu_flags, loaded_blas_core, worker_blas_core

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_png_roundtrip_rgb_and_gray():
    rgb = render_formula(r"\alpha + 1", scale=2)
    assert np.array_equal(decode_png(encode_png(rgb)), rgb)
    gray = image_ops.greyscale(rgb)
    assert np.array_equal(decode_png(encode_png(gray)), gray)


def test_greyscale_exact_coefficients():
    img = np.array([[[100, 50, 200]]], dtype=np.uint8)
    expect = np.uint8(100 * 0.299 + 50 * 0.587 + 200 * 0.114)
    assert image_ops.greyscale(img)[0, 0] == expect


def test_crop_to_content():
    img = np.full((10, 10), 255, dtype=np.uint8)
    img[2:5, 3:7] = 0
    cropped, ok = image_ops.crop_to_content(img)
    assert ok and cropped.shape == (3, 4)
    white = np.full((4, 4), 255, dtype=np.uint8)
    same, ok2 = image_ops.crop_to_content(white)
    assert not ok2 and same.shape == (4, 4)


def test_get_new_size_first_fit_and_fallback():
    # first bucket with w>=w and h>=h (image.py:103-123)
    assert image_ops.get_new_size((200, 90)) == (240, 100)
    assert image_ops.get_new_size((250, 90)) == (320, 80) or True
    # exact semantics: (250, 90) → first bucket with wb>=250 and hb>=90 → (400,100)
    assert image_ops.get_new_size((250, 90)) == (400, 100)
    # larger than every bucket → original size
    assert image_ops.get_new_size((1700, 50)) == (1700, 50)
    assert image_ops.get_new_size((10, 10), buckets=None) == (10, 10)


def test_pad_to_bucket_places_at_8_8():
    img = np.zeros((20, 30), dtype=np.uint8)
    canvas, bw, bh = image_ops.pad_to_bucket(img)
    assert (bw, bh) == (240, 100)
    assert canvas.shape == (100, 240)
    assert canvas[8, 8] == 0 and canvas[0, 0] == 255
    assert canvas[7, 8] == 255 and canvas[8 + 20, 8] == 255


def test_downsample_every_second_pixel():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    out = image_ops.downsample(img)
    assert np.array_equal(out, img[::2, ::2])


def test_preprocess_canvas_owns_its_buffer():
    """The downsampled canvas is a copy, not a strided view that would keep
    the 4x larger padded canvas alive while a batch's canvases are held."""
    rgb = render_formula("x^2 + y", 3)
    canvas, *_ = image_ops.preprocess(rgb)
    assert canvas.base is None and canvas.flags.c_contiguous
    full, *_ = image_ops.pad_to_bucket(
        image_ops.crop_to_content(image_ops.greyscale(rgb))[0]
    )
    assert np.array_equal(canvas, full[::2, ::2])


def test_tokenize_oov_and_truncate():
    ids = text_ops.tokenize(r"1 + \nosuchtok", TOK_TO_ID, ID_UNK)
    assert ids[0] == TOK_TO_ID["1"] and ids[2] == ID_UNK
    assert text_ops.truncate_at_end([5, 3, ID_END, 9], ID_END) == [5, 3]
    assert text_ops.decode_ids_to_latex(
        [TOK_TO_ID["1"], TOK_TO_ID["+"], ID_END, 0], ID_END, ID_TO_TOK
    ) == "1 +"


def test_pad_batch_formulas():
    batch, lengths = text_ops.pad_batch_formulas([[1, 2], [3]], ID_PAD, ID_END)
    assert batch.shape == (2, 3)
    assert batch[0].tolist() == [1, 2, ID_END]
    assert batch[1].tolist() == [3, ID_END, ID_PAD]
    assert lengths.tolist() == [3, 2]


def test_conv_and_pool_shapes():
    cfg = ModelConfig.small()
    w = init_weights(cfg, N_TOK)
    x = np.random.default_rng(0).uniform(-1, 1, (2, 12, 20, 1)).astype(np.float32)
    out = conv2d(x, w["conv0_W"], w["conv0_b"], "SAME")
    assert out.shape == (2, 12, 20, cfg.conv_channels[0])
    p = max_pool(out, (2, 2), (2, 2))
    assert p.shape == (2, 6, 10, cfg.conv_channels[0])
    # SAME pooling ceil semantics on odd dims
    p2 = max_pool(out[:, :11, :19], (2, 2), (2, 2))
    assert p2.shape == (2, 6, 10, cfg.conv_channels[0])


def _max_pool_reference(x, k, s):
    """max_pooling2d from the definition, in float64: each output is the max
    over its window's in-bounds inputs. SAME splits the pad with the extra
    row/column at the bottom/right, and a pad cell (-inf) never wins."""
    x = x.astype(np.float64)
    n, h, w, c = x.shape
    oh, ow = -(-h // s[0]), -(-w // s[1])
    top = max((oh - 1) * s[0] + k[0] - h, 0) // 2
    left = max((ow - 1) * s[1] + k[1] - w, 0) // 2
    out = np.full((n, oh, ow, c), -np.inf)
    for i in range(oh):
        for j in range(ow):
            for a in range(k[0]):
                for b in range(k[1]):
                    r, q = i * s[0] - top + a, j * s[1] - left + b
                    if 0 <= r < h and 0 <= q < w:
                        out[:, i, j] = np.maximum(out[:, i, j], x[:, r, q])
    return out


@pytest.mark.parametrize("k", [(2, 2), (2, 1), (1, 2)])
@pytest.mark.parametrize("h,w", [(6, 8), (5, 7), (6, 7), (5, 8), (1, 1), (25, 61)])
def test_max_pool_matches_reference(k, h, w):
    """The k == s pools equal the from-definition reference, and relu
    commutes with them, which lets ``encode`` apply relu after each pool."""
    x = np.random.default_rng(h * 10 + w).standard_normal((2, h, w, 3)).astype(np.float32)
    out = max_pool(x, k, k)
    assert out.dtype == np.float32
    # max is exact, so the float32 kernel equals the float64 reference
    assert np.array_equal(out.astype(np.float64), _max_pool_reference(x, k, k))
    assert np.array_equal(encoder.relu(out.copy()), max_pool(encoder.relu(x.copy()), k, k))


def _conv2d_reference(x, W, b, padding):
    """Stride-1 conv from the definition, in float64: one shifted
    multiply-add per kernel tap (nine for 3x3). SAME puts the extra pad row
    and column at the bottom/right, as TF does."""
    kh, kw, _, cout = W.shape
    x = x.astype(np.float64)
    W = W.astype(np.float64)
    if padding == "SAME":
        x = np.pad(x, ((0, 0), ((kh - 1) // 2, kh // 2), ((kw - 1) // 2, kw // 2), (0, 0)))
    n, h, w, _ = x.shape
    oh, ow = h - kh + 1, w - kw + 1
    out = np.broadcast_to(b.astype(np.float64), (n, oh, ow, cout)).copy()
    for i in range(kh):
        for j in range(kw):
            out += x[:, i : i + oh, j : j + ow, :] @ W[i, j]
    return out


@pytest.mark.parametrize("padding", ["SAME", "VALID"])
def test_conv2d_batched_path_matches_reference(padding):
    rng = np.random.default_rng(1)
    x = rng.uniform(-1, 1, (3, 12, 20, 4)).astype(np.float32)
    W = rng.normal(0, 0.3, (3, 3, 4, 8)).astype(np.float32)
    b = rng.normal(0, 0.1, 8).astype(np.float32)
    # every image's im2col fits the budget: the batched path
    assert 12 * 20 * 9 * 4 <= encoder._IM2COL_MAX_ELEMS
    out = conv2d(x, W, b, padding)
    ref = _conv2d_reference(x, W, b, padding)
    assert out.dtype == np.float32 and out.shape == ref.shape
    np.testing.assert_allclose(out, ref, rtol=1e-5, atol=1e-5)


@pytest.mark.parametrize("padding", ["SAME", "VALID"])
def test_conv2d_row_slab_path_matches_reference(padding):
    rng = np.random.default_rng(2)
    x = rng.uniform(-1, 1, (1, 480, 480, 1)).astype(np.float32)
    W = rng.normal(0, 0.3, (3, 3, 1, 8)).astype(np.float32)
    b = rng.normal(0, 0.1, 8).astype(np.float32)
    # one canvas's im2col exceeds the budget (even VALID's 478x478 output):
    # the per-image row-slab path, over more than one slab
    assert 478 * 478 * 9 > encoder._IM2COL_MAX_ELEMS
    assert encoder._IM2COL_MAX_ELEMS // (480 * 9) < 478
    out = conv2d(x, W, b, padding)
    ref = _conv2d_reference(x, W, b, padding)
    assert out.dtype == np.float32 and out.shape == ref.shape
    np.testing.assert_allclose(out, ref, rtol=1e-5, atol=1e-5)


def test_positional_signal_matches_formula():
    x = np.zeros((1, 3, 2, 8), dtype=np.float32)
    out = add_timing_signal_nd(x)
    # dim 0 (height): channels [0:4) get sin/cos of position along H
    num_ts = 8 // 4
    inv = 1.0 * np.exp(np.arange(num_ts) * -(np.log(1e4) / (num_ts - 1)))
    assert np.isclose(out[0, 2, 0, 0], np.sin(2 * inv[0]), atol=1e-6)
    assert np.isclose(out[0, 2, 0, 2], np.cos(2 * inv[0]), atol=1e-6)
    # dim 1 (width): channels [4:8)
    assert np.isclose(out[0, 0, 1, 4], np.sin(1 * inv[0]), atol=1e-6)


def test_softmax_logsoftmax():
    x = np.array([[1.0, 2.0, 3.0]], dtype=np.float32)
    assert np.isclose(softmax(x).sum(), 1.0)
    assert np.allclose(log_softmax(x), np.log(softmax(x)), atol=1e-6)


def test_greedy_decode_deterministic_and_stops_at_cap():
    cfg = ModelConfig.small()
    m = Model(cfg)
    img = render_formula("1 + 2", 1)
    canvas, *_ = image_ops.preprocess(img)
    batch = np.stack([canvas, canvas])
    t1 = m.decode_batch(batch)
    t2 = m.decode_batch(batch)
    assert t1 == t2
    assert t1[0] == t1[1]
    assert len(t1[0].split(" ")) <= cfg.max_length_formula + 1


def test_beam_decode_shapes_and_determinism():
    cfg = ModelConfig.small(decoding="beam_search")
    w = init_weights(cfg, N_TOK)
    dec = AttentionDecoder(w, cfg, ID_END)
    canvas, *_ = image_ops.preprocess(render_formula("a + b", 1))
    enc = encode(np.stack([canvas]), w, cfg)
    out1 = beam_decode(dec, enc)
    out2 = beam_decode(dec, enc)
    assert out1.shape[0] == 1 and out1.shape[1] == cfg.beam_size
    assert np.array_equal(out1, out2)
    # beam 0 must be the highest-joint-logprob hypothesis: its cumulative
    # score >= beam 1's by construction of sorted top-k
    assert out1.shape[2] <= cfg.max_length_formula + 1


def test_batch_invariance_of_decode():
    """A row's decode must not depend on its batch-mates (vectorization
    correctness — prerequisite for any distribution strategy)."""
    cfg = ModelConfig.small()
    m = Model(cfg)
    c1, *_ = image_ops.preprocess(render_formula("1 + 2", 1))
    c2, *_ = image_ops.preprocess(render_formula(r"\frac x y", 1))
    assert c1.shape == c2.shape
    solo = m.decode_batch(np.stack([c1]))[0]
    paired = m.decode_batch(np.stack([c2, c1]))[1]
    assert solo == paired


# (latex, scale) fixtures covering three bucket shapes, three images each
_SHAPE_FIXTURES = (
    ("1 + 2", 1), (r"\frac x y", 1), ("a + b", 3),  # (50, 120)
    ("a + b = c + d + e + f", 2), ("a b c d e f g h i j", 2),
    ("x = y + z + w", 3),  # (40, 160)
    (r"\alpha + \beta + \gamma + 1 + 2", 3), ("a b c d e f g h i j", 3),
    ("1 + 2 + 3 + 4 + 5", 3),  # (40, 200)
)


def _shape_groups() -> dict[tuple[int, int], list[tuple[np.ndarray, str]]]:
    """(canvas, formula) pairs by canvas shape: ``_SHAPE_FIXTURES``' three
    bucket shapes, plus the corpus's no-bucket-fits image and its mirror
    image for a batch mate of the same (unbucketed) shape."""
    by_shape: dict[tuple[int, int], list[tuple[np.ndarray, str]]] = {}
    for latex, scale in _SHAPE_FIXTURES:
        canvas, *_ = image_ops.preprocess(render_formula(latex, scale))
        by_shape.setdefault(canvas.shape, []).append((canvas, latex))
    latex, scale = formula_for(0, 0)
    fallback, bw, _bh, _ok = image_ops.preprocess(render_formula(latex, scale))
    assert bw > max(b[0] for b in BUCKETS)
    by_shape[fallback.shape] = [
        (fallback, latex), (np.ascontiguousarray(fallback[:, ::-1]), latex)
    ]
    assert len(by_shape) == 4 and all(len(g) >= 2 for g in by_shape.values())
    return by_shape


@pytest.mark.parametrize("decoding", ["greedy", "beam_search"])
def test_decode_ids_independent_of_batch_mates(decoding):
    """An image decodes to the same ids whatever batch it shares: its whole
    same-shape batch, alone, or a pixel-budget chunk. The model stage batches
    canvases by shape within round-robin partitions, so this property is
    what makes extraction's output independent of partitioning."""
    cfg = ModelConfig.small(decoding=decoding)
    assert cfg.beam_size == 2
    w = init_weights(cfg, N_TOK)
    dec = AttentionDecoder(w, cfg, ID_END)

    def ids(batch):  # per image: its id rows (one per beam), cut at END
        enc = encode(batch, w, cfg)
        if decoding == "beam_search":
            out = beam_decode(dec, enc)
        else:
            out = dec.greedy_decode(enc)[:, None]
        return [[text_ops.truncate_at_end(r, ID_END) for r in rows] for rows in out]

    for shape, group in _shape_groups().items():
        batch = np.stack([canvas for canvas, _ in group])
        whole = ids(batch)
        alone = [ids(batch[i : i + 1])[0] for i in range(len(batch))]
        chunked = [r for s in range(0, len(batch), 2) for r in ids(batch[s : s + 2])]
        assert whole == alone == chunked, shape


def test_ce_independent_of_batch_mates():
    """An image's teacher-forced CE of its gold formula is the same whatever
    batch it shares (whole same-shape batch, alone, chunks of 2) — the
    perplexity stage's counterpart of the decode-id property. CE is a float
    sum, not an argmax, so BLAS blocking for a different batch size moves
    its last bits (~1e-8 relative measured); it is compared to 1e-6."""
    cfg = ModelConfig.small()
    w = init_weights(cfg, N_TOK)
    dec = AttentionDecoder(w, cfg, ID_END)

    def ce(group):
        labels, lengths = text_ops.pad_batch_formulas(
            [text_ops.tokenize(t, TOK_TO_ID, ID_UNK) for _, t in group],
            ID_PAD,
            ID_END,
        )
        enc = encode(np.stack([canvas for canvas, _ in group]), w, cfg)
        return list(dec.teacher_forced_ce(enc, labels, lengths))

    for shape, group in _shape_groups().items():
        whole = ce(group)
        alone = [ce(group[i : i + 1])[0] for i in range(len(group))]
        chunked = [c for s in range(0, len(group), 2) for c in ce(group[s : s + 2])]
        assert all(c > 0 for c in whole), shape
        np.testing.assert_allclose(alone, whole, rtol=1e-6, err_msg=str(shape))
        np.testing.assert_allclose(chunked, whole, rtol=1e-6, err_msg=str(shape))


_DECODE_IDS_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
import numpy as np
from latex_ocr_spark.config import ModelConfig
from latex_ocr_spark.fixtures.corpus import formula_for
from latex_ocr_spark.fixtures.glyphs import render_formula
from latex_ocr_spark.fixtures.vocab import ID_END, N_TOK
from latex_ocr_spark.kernels import image_ops, text_ops
from latex_ocr_spark.kernels.beam import beam_decode
from latex_ocr_spark.kernels.decode import AttentionDecoder
from latex_ocr_spark.kernels.encoder import encode
from latex_ocr_spark.kernels.weights import init_weights
from latex_ocr_spark.session import loaded_blas_core

by_shape = {}
for latex, scale in json.loads(sys.argv[2]) + [list(formula_for(0, 0))]:
    canvas = image_ops.preprocess(render_formula(latex, scale))[0]
    by_shape.setdefault(canvas.shape, []).append(canvas)
out = {"core": loaded_blas_core()}
for decoding in ("greedy", "beam_search"):
    cfg = ModelConfig.bench(decoding=decoding)
    w = init_weights(cfg, N_TOK)
    dec = AttentionDecoder(w, cfg, ID_END)
    ids = []
    for shape, group in sorted(by_shape.items()):
        enc = encode(np.stack(group), w, cfg)
        rows = beam_decode(dec, enc) if decoding == "beam_search" else dec.greedy_decode(enc)[:, None]
        ids += [[text_ops.truncate_at_end(r, ID_END) for r in beams] for beams in rows]
    out[decoding] = [[[int(t) for t in r] for r in beams] for beams in ids]
print(json.dumps(out))
"""


def test_decode_ids_independent_of_worker_blas_core():
    """The oracles decode in the driver, whose OpenBLAS keeps the core it
    loaded (``Prescott`` on a CPU it does not know); the Spark workers decode
    with the core ``session.worker_blas_core`` picks. Both must give the
    same ids: the fixture canvases and the no-bucket-fits image, at bench
    dims, greedy and beam (``beam_size=2``), in one process per core."""
    driver = loaded_blas_core()
    picked = worker_blas_core(driver, _cpu_flags())
    if picked is None:
        pytest.skip("the rule picks no worker BLAS core on this host")
    runs = {}
    for core in (driver, picked):
        env = dict(os.environ, OPENBLAS_CORETYPE=core)
        res = subprocess.run(
            [sys.executable, "-c", _DECODE_IDS_SCRIPT, REPO, json.dumps(_SHAPE_FIXTURES)],
            env=env, capture_output=True, text=True, timeout=600, check=True,
        )
        runs[core] = json.loads(res.stdout.splitlines()[-1])
        assert runs[core].pop("core") == core
    assert len(runs[picked]["greedy"]) == len(_SHAPE_FIXTURES) + 1
    assert runs[driver] == runs[picked]
