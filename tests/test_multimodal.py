"""Multimodal operator tests: image features from a real PNG decode."""

from __future__ import annotations

from latex_ocr_spark.operators.multimodal import image_features
from latex_ocr_spark.sources import read_media


def test_image_features_real_decode(spark, corpus):
    media = read_media(spark, corpus).limit(20)
    feats = image_features(media).collect()
    src = {r.media_ref: r for r in media.collect()}
    assert len(feats) == len(src)
    for f in feats:
        s = src[f.media_ref]
        assert (f.height, f.width) == (s.height, s.width)
        assert f.n_bytes == len(s.image)
        assert 0.0 <= f.nonwhite_frac <= 1.0
        if f.nonwhite_frac > 0:
            assert f.content_h > 0 and f.content_w > 0

