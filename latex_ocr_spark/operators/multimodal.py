"""Multimodal column operators: opaque binary media + typed metadata.

Images are fully implemented (PNG decode + feature extraction — the
extraction pipeline's real path). PDF input is handled only as far as an
embedded PNG image (``rasterize_pdf``); a full rasterizer is not shipped.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..fixtures.png import decode_png
from ..kernels import image_ops

IMAGE_FEATURES_SCHEMA = (
    "media_ref string, height int, width int, n_bytes long, "
    "mean_luma double, nonwhite_frac double, content_h int, content_w int"
)


def image_features(media: DataFrame) -> DataFrame:
    """Decode PNG binary columns and extract layout features (Arrow-batched)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for ref, png in zip(pdf["media_ref"], pdf["image"]):
                rgb = decode_png(bytes(png))
                gray = image_ops.greyscale(rgb)
                cropped, ok = image_ops.crop_to_content(gray)
                out.append(
                    {
                        "media_ref": ref,
                        "height": gray.shape[0],
                        "width": gray.shape[1],
                        "n_bytes": len(png),
                        "mean_luma": round(float(gray.mean()), 4),
                        "nonwhite_frac": round(float((gray != 255).mean()), 4),
                        "content_h": cropped.shape[0] if ok else 0,
                        "content_w": cropped.shape[1] if ok else 0,
                    }
                )
            yield pd.DataFrame(out)

    return media.select("media_ref", "image").mapInPandas(
        run, schema=IMAGE_FEATURES_SCHEMA
    )


def rasterize_pdf(pdf_bytes: bytes) -> np.ndarray:
    """PDF → RGB raster, predict.py input parity
    (/root/reference/predict.py:32-47 shells out to `magick convert` at
    density 200). STUB per the codec-stub policy: no rasterizer library ships
    in this container, so only PDFs carrying an embedded PNG image XObject are
    handled (pure-python scan for the PNG magic..IEND span — exactly what the
    fixture writer emits); anything else raises NotImplementedError where a
    real deployment plugs in pdfium/magick."""
    if not pdf_bytes.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    start = pdf_bytes.find(b"\x89PNG\r\n\x1a\n")
    end = pdf_bytes.find(b"IEND", start)
    if start == -1 or end == -1:
        raise NotImplementedError(
            "PDF rasterization requires pdfium/magick; this stub handles only "
            "PDFs with an embedded PNG image XObject"
        )
    return decode_png(pdf_bytes[start : end + 8])  # IEND + length/type/CRC

