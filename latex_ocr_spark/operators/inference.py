"""The model stage — the heart of the engine.

One pandas-UDF stage per media row (and nothing per-row-Python anywhere,
north rule): ``model_stage`` round-robins PNG rows over one partition per
core and runs a single mapInPandas, ``infer_rows``. Per Arrow batch it does
PNG decode → greyscale (P1) → crop (P3) → pad-to-bucket (P4) → downsample
(P5), batches the canvases by shape (the reference's bucketing, G1/G3, its
model/utils/data_generator.py:84-122 — one bucket is one shape), cuts each
shape's batch by a pixel budget so UDF memory is bounded, runs the CNN
encoder (M1-M2) with broadcast weights and hands each chunk's encodings to
a head. Extraction's head (``decode_media``) is the attention LSTM decode
(M3-M8) plus detokenize; perplexity's (eval/perplexity.py) scores the gold
formulas with teacher-forced cross-entropy.

Shape batching is local to each partition: the kernels are batch-invariant,
so no shuffle on the bucket key is needed, and the one exchange moves the PNG
rows themselves.

``preprocess_spans`` (bucket id as columns) serves the ``bucket_histogram``
query.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PAD_SIZE, ModelConfig, PipelineConfig
from ..fixtures.png import decode_png
from ..fixtures.vocab import ID_END, ID_TO_TOK
from ..kernels import image_ops
from ..kernels.beam import beam_decode
from ..kernels.decode import AttentionDecoder
from ..kernels.encoder import encode
from ..kernels.text_ops import decode_ids_to_latex

PREP_SCHEMA = (
    "doc_id string, part int, `offset` int, media_ref string, "
    "bucket_w int, bucket_h int"
)
DECODED_SCHEMA = (
    "doc_id string, part int, `offset` int, media_ref string, latex string"
)


def preprocess_spans(media_joined: DataFrame, pipe: PipelineConfig) -> DataFrame:
    """(doc_id, part, offset, media_ref, image) → each span's shape bucket
    (bucket_w, bucket_h) after prepro. No canvas crosses back into the JVM:
    the model stage preprocesses inside its own UDF."""
    buckets = list(pipe.buckets)

    def run(batches):
        for pdf in batches:
            bw, bh = [], []
            for png in pdf["image"]:
                _, w, h, _ok = image_ops.preprocess(
                    decode_png(bytes(png)), buckets=buckets
                )
                bw.append(int(w))
                bh.append(int(h))
            yield pdf[["doc_id", "part", "offset", "media_ref"]].assign(
                bucket_w=bw, bucket_h=bh
            )

    return media_joined.mapInPandas(run, schema=PREP_SCHEMA)


def fits_some_bucket(pipe: PipelineConfig, height_col, width_col):
    """Conservative metadata predicate on a media row's STORED dims: a raw
    (height, width) that fits a bucket after padding is GUARANTEED
    in-bucket after crop+pad (crop only shrinks, image_ops.get_new_size).
    Rows failing it may take the no-bucket-fits fallback shape. Extraction
    needs no routing on it (its decode UDF batches whatever shapes arrive);
    it serves to count such rows."""
    top, left, bottom, right = PAD_SIZE
    cond = F.lit(False)
    for bw, bh in pipe.buckets:
        cond = cond | (
            (width_col + (left + right) <= bw)
            & (height_col + (top + bottom) <= bh)
        )
    return cond


def shape_batches(canvases: list[np.ndarray], budget: int):
    """Index chunks of ``canvases`` to run as one model batch: same shape
    (one bucket is one shape; each no-bucket-fits size is its own), at most
    ``budget`` pixels (at least one canvas), shapes in sorted order."""
    by_shape: dict[tuple[int, int], list[int]] = {}
    for i, canvas in enumerate(canvases):
        by_shape.setdefault(canvas.shape, []).append(i)
    for (ch, cw), idxs in sorted(by_shape.items()):
        n_per_batch = max(1, budget // max(ch * cw, 1))
        for s in range(0, len(idxs), n_per_batch):
            yield idxs[s : s + n_per_batch]


def model_stage(
    rows: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
    head,
    schema: str,
) -> DataFrame:
    """Rows with a PNG ``image`` column → ``schema``: one round-robin
    exchange, one partition per core, then ONE mapInPandas (``infer_rows``).
    Per Arrow batch it PNG-decodes and preprocesses every row, cuts the
    canvases into ``shape_batches`` and encodes each chunk;
    ``head(dec, enc, chunk_rows)`` turns a chunk's encodings and its input
    rows (a pandas DataFrame) into that chunk's output rows. Output row
    order is by chunk, not by input.

    Size contract: a Python worker holds one Arrow batch — at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (2048, session.py) PNG
    rows and their preprocessed canvases — plus one ``batch_pixel_budget``
    chunk's activations and its head's state. The worst case is a batch of
    images that only the largest (1600×1600) bucket or the no-bucket-fits
    fallback takes: 2048 canvases of ≥ 800×800 downsampled pixels, ≥ 1.3 GB
    (measured: 200 such canvases held in one process grew its RSS by
    126 MiB, their own bytes — ``downsample`` copies, so a canvas does not
    keep its 4× larger padded base alive).
    The contract holds for every head (extraction's decode and perplexity's
    teacher-forced CE)."""
    cfg_dict = cfg.to_dict()
    budget = pipe.batch_pixel_budget
    buckets = list(pipe.buckets)
    n_parts = rows.sparkSession.sparkContext.defaultParallelism

    def infer_rows(batches):
        mcfg = ModelConfig.from_dict(cfg_dict)
        weights = weights_bc.value
        dec = AttentionDecoder(weights, mcfg, ID_END)
        for pdf in batches:
            canvases = [
                image_ops.preprocess(decode_png(bytes(png)), buckets=buckets)[0]
                for png in pdf["image"]
            ]
            for chunk in shape_batches(canvases, budget):
                enc = encode(np.stack([canvases[i] for i in chunk]), weights, mcfg)
                yield head(dec, enc, pdf.iloc[chunk])

    # Round-robin, not hash-on-shape: the kernels are batch-invariant
    # (tests/test_kernels.py), so which canvases share a batch never changes
    # the output, and an even row spread keeps every core busy whatever the
    # shape histogram. An explicit count also keeps AQE from coalescing the
    # stage onto fewer cores.
    return rows.repartition(n_parts).mapInPandas(infer_rows, schema=schema)


def _decode_head(dec: AttentionDecoder, enc: np.ndarray, rows):
    """Extraction's head: greedy or beam decode, then detokenize."""
    if dec.cfg.decoding == "beam_search":
        ids = beam_decode(dec, enc)[:, 0, :]
    else:
        ids = dec.greedy_decode(enc)
    return rows[["doc_id", "part", "offset", "media_ref"]].assign(
        latex=[decode_ids_to_latex(r, ID_END, ID_TO_TOK) for r in ids]
    )


def decode_media(
    media_joined: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
) -> DataFrame:
    """(doc_id, part, offset, media_ref, image) → (doc_id, part, offset,
    media_ref, latex): ``model_stage`` with the decode head. Size contract:
    ``model_stage``'s, which covers this stage and the perplexity stage
    alike."""
    return model_stage(
        media_joined, weights_bc, cfg, pipe, _decode_head, DECODED_SCHEMA
    )
