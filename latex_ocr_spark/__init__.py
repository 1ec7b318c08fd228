"""latex_ocr_spark — a brand-new PySpark-native math-formula extraction engine.

Built from scratch (NOT a port) with the capabilities of the reference
LinXueyuanStdio/LaTeX_OCR (see SURVEY.md): it walks Iceberg/parquet tables of
interleaved text+media documents, routes ``kind='media'`` spans through a
bucketed-batch image→LaTeX inference path executed inside vectorized
pandas/Arrow UDFs with broadcast model weights, passes ``kind='text'`` spans
through untouched, and reassembles every document's span sequence by
``(doc_id, offset)``.

Layout:
    config.py     — model/bucket/vocab constants (mirrors reference configs/*.json)
    kernels/      — pure-numpy compute kernels shared by the Spark path and the
                    single-process oracle (image prepro, CNN encoder, attention
                    LSTM, greedy + beam decode)
    fixtures/     — deterministic synthetic corpus (PNG codec, glyph renderer,
                    interleaved docs + media tables); replaces the reference's
                    pdflatex/magick fixture build (no TeX toolchain needed)
    operators/    — Spark DataFrame operators (explode/route, shape-batched
                    inference, reassembly, checkpoint/resume, dedup,
                    similarity search, text analysis)
    pipeline.py   — the end-to-end extraction job
    eval/         — exact-match / edit-distance / BLEU aggregations
"""

__version__ = "0.1.0"
