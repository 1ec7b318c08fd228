"""Image preprocessing kernels (P1–P6 in SURVEY.md §2.2).

Each function reproduces the corresponding reference semantics exactly
(bit-parity on uint8 paths); all are array-in/array-out so the Spark pandas
UDFs and the single-process oracle share them.
"""

from __future__ import annotations

import numpy as np

from ..config import BUCKETS, DOWN_RATIO, PAD_SIZE


def greyscale(img: np.ndarray) -> np.ndarray:
    """P1 — RGB→luma with the reference's exact coefficients and uint8 cast
    (/root/reference/model/utils/image.py:67-71). (H,W,3)→(H,W)."""
    if img.ndim == 2:
        return img.astype(np.uint8)
    out = img[:, :, 0] * 0.299 + img[:, :, 1] * 0.587 + img[:, :, 2] * 0.114
    return out.astype(np.uint8)


def crop_to_content(img: np.ndarray) -> tuple[np.ndarray, bool]:
    """P3 — bounding box of non-255 pixels
    (/root/reference/model/utils/image.py:126-147). Returns (cropped, had_content);
    all-white input is returned unchanged with had_content=False."""
    nnz = np.where(img != 255)
    if len(nnz[0]) == 0:
        return img, False
    y0, y1 = int(nnz[0].min()), int(nnz[0].max())
    x0, x1 = int(nnz[1].min()), int(nnz[1].max())
    return img[y0 : y1 + 1, x0 : x1 + 1], True


def get_new_size(old_size: tuple[int, int], buckets=BUCKETS) -> tuple[int, int]:
    """P4 — first bucket (w_b,h_b) with w_b>=w and h_b>=h, else original size
    (/root/reference/model/utils/image.py:103-123). old_size is (width, height)."""
    if buckets is None:
        return old_size
    w, h = old_size
    for wb, hb in buckets:
        if wb >= w and hb >= h:
            return wb, hb
    return old_size


def pad_to_bucket(
    img: np.ndarray, pad_size=PAD_SIZE, buckets=BUCKETS
) -> tuple[np.ndarray, int, int]:
    """P4 — pad 8px each side onto a white canvas snapped up to the first
    fitting bucket (/root/reference/model/utils/image.py:84-100). Returns
    (canvas, bucket_w, bucket_h); bucket dims = canvas dims (fallback included)."""
    top, left, bottom, right = pad_size
    h, w = img.shape[:2]
    new_w, new_h = get_new_size((w + left + right, h + top + bottom), buckets)
    canvas = np.full((new_h, new_w), 255, dtype=np.uint8)
    canvas[top : top + h, left : left + w] = img
    return canvas, new_w, new_h


def downsample(img: np.ndarray, ratio: int = DOWN_RATIO) -> np.ndarray:
    """P5 — every ratio-th pixel on both axes
    (/root/reference/model/utils/image.py:74-81). Returns a contiguous copy:
    a strided view would keep the whole padded canvas alive for as long as
    the caller holds the downsampled one."""
    return np.ascontiguousarray(img[::ratio, ::ratio])


def normalize(img: np.ndarray) -> np.ndarray:
    """P6 — uint8 → float32 in [-1,1]: (img-128)/128
    (/root/reference/model/encoder.py:25-27)."""
    out = img.astype(np.float32) - 128.0
    return out / 128.0


def preprocess(rgb: np.ndarray, buckets=BUCKETS) -> tuple[np.ndarray, int, int, bool]:
    """Full prepro chain P1→P3→P4→P5: returns (uint8 canvas downsampled,
    bucket_w, bucket_h, had_content). Matches the reference build chain
    (model/utils/image.py:196-199) with the array downsample variant."""
    gray = greyscale(rgb)
    cropped, ok = crop_to_content(gray)
    canvas, bw, bh = pad_to_bucket(cropped, buckets=buckets)
    return downsample(canvas), bw, bh, ok
