"""The media-decode operator — the heart of the engine.

One pandas-UDF stage per media row (and nothing per-row-Python anywhere,
north rule): ``decode_media`` round-robins the joined PNG rows over one
partition per core and runs a single mapInPandas, ``infer_rows``. Per Arrow
batch it does PNG decode → greyscale (P1) → crop (P3) → pad-to-bucket (P4) →
downsample (P5), batches the canvases by shape (the reference's bucketing,
G1/G3, its model/utils/data_generator.py:84-122 — one bucket is one shape),
cuts each shape's batch by a pixel budget so UDF memory is bounded, and runs
the CNN encoder + attention LSTM decode (M1-M8) with broadcast weights.

Shape batching is local to each partition: the kernels are batch-invariant,
so no shuffle on the bucket key is needed, and the one exchange moves the PNG
rows themselves.

``preprocess_spans`` (canvases + bucket id + salt as columns) serves the
teacher-forced perplexity stage (eval/perplexity.py), which still groups by
(bucket, salt).
"""

from __future__ import annotations

import zlib

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
    "bucket_w int, bucket_h int, salt int, ch int, cw int, canvas binary"
)
DECODED_SCHEMA = (
    "doc_id string, part int, `offset` int, media_ref string, latex string"
)


def preprocess_spans(media_joined: DataFrame, pipe: PipelineConfig) -> DataFrame:
    """(doc_id, part, offset, media_ref, image) → prepro'd canvases + bucket
    keys. ``part`` (the source identity-partition) is carried through the UDF
    so downstream sinks never re-derive it from the doc_id string — any
    DOCS_SCHEMA-conforming corpus keeps its own partition assignment."""
    buckets = list(pipe.buckets)
    n_salt = pipe.salt_buckets

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "part", "offset", "media_ref", "bucket_w", "bucket_h",
                "salt", "ch", "cw", "canvas")}
            for doc_id, part, offset, ref, png in zip(
                pdf["doc_id"], pdf["part"], pdf["offset"], pdf["media_ref"],
                pdf["image"],
            ):
                rgb = decode_png(bytes(png))
                canvas, bw, bh, _ok = image_ops.preprocess(rgb, buckets=buckets)
                out["doc_id"].append(doc_id)
                out["part"].append(int(part))
                out["offset"].append(int(offset))
                out["media_ref"].append(ref)
                out["bucket_w"].append(int(bw))
                out["bucket_h"].append(int(bh))
                # deterministic salt, independent of partitioning
                out["salt"].append(zlib.crc32(ref.encode()) % n_salt)
                out["ch"].append(canvas.shape[0])
                out["cw"].append(canvas.shape[1])
                out["canvas"].append(np.ascontiguousarray(canvas).tobytes())
            yield pd.DataFrame(out)

    return media_joined.mapInPandas(run, schema=PREP_SCHEMA)


def estimate_decode_groups(media_tbl: DataFrame, pipe: PipelineConfig) -> int:
    """Cheap metadata-only estimate of the (bucket, salt) group count of a
    ``preprocess_spans`` output — the perplexity stage's partition-sizing
    input, NOT a correctness input.

    Uses the media table's stored (height, width): the first-fit bucket of
    the RAW dims approximates the post-crop bucket (crop shrinks, pad adds
    16px — the bucket rarely moves), and the salt is the same crc32 the
    prepro UDF assigns. One narrow 3-column distinct-count vs the decode
    stage's wall — the stats lookup a warehouse would serve from table
    metadata at 100 TB (Iceberg partition stats / NDV sketches)."""
    bucket_id = F.lit(len(pipe.buckets))  # fallback: oversized
    for i in range(len(pipe.buckets) - 1, -1, -1):
        bw, bh = pipe.buckets[i]
        bucket_id = F.when(
            (F.col("width") <= bw) & (F.col("height") <= bh), F.lit(i)
        ).otherwise(bucket_id)
    return (
        media_tbl.select(
            bucket_id.alias("b"),
            (F.crc32(F.encode("media_ref", "utf-8")) % pipe.salt_buckets).alias(
                "s"
            ),
        )
        .distinct()
        .count()
    )


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


def _make_infer(weights_bc, cfg_dict: dict, budget: int):
    """Preprocessed canvases (2-D uint8 arrays, any mix of shapes) → their
    LaTeX strings, in input order."""

    def infer(canvases: list[np.ndarray]) -> list[str]:
        mcfg = ModelConfig.from_dict(cfg_dict)
        dec = AttentionDecoder(weights_bc.value, mcfg, ID_END)
        latex = [""] * len(canvases)
        for chunk in shape_batches(canvases, budget):
            enc = encode(
                np.stack([canvases[i] for i in chunk]), weights_bc.value, mcfg
            )
            if mcfg.decoding == "beam_search":
                out_ids = beam_decode(dec, enc)[:, 0, :]
            else:
                out_ids = dec.greedy_decode(enc)
            for i, row_ids in zip(chunk, out_ids):
                latex[i] = decode_ids_to_latex(row_ids, ID_END, ID_TO_TOK)
        return latex

    return infer


def decode_media(
    media_joined: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
) -> DataFrame:
    """(doc_id, part, offset, media_ref, image) → (doc_id, part, offset,
    media_ref, latex): one round-robin exchange of the PNG rows, one
    partition per core, then ONE mapInPandas (``infer_rows``) that PNG-decodes
    and preprocesses each Arrow batch and decodes it by shape.

    Size contract: a Python worker holds one Arrow batch — at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (2048, session.py) PNG
    rows and their preprocessed canvases — plus the activations of one
    ``batch_pixel_budget`` chunk. That is the bound the separate prepro UDF
    already had. The worst case is a batch of images that only the largest
    (1600×1600) bucket or the no-bucket-fits fallback takes: 2048 canvases
    of ≥ 800×800 downsampled pixels, ≥ 1.3 GB."""
    infer = _make_infer(weights_bc, cfg.to_dict(), pipe.batch_pixel_budget)
    buckets = list(pipe.buckets)
    n_parts = media_joined.sparkSession.sparkContext.defaultParallelism

    def infer_rows(batches):
        import pandas as pd

        for pdf in batches:
            canvases = [
                image_ops.preprocess(decode_png(bytes(png)), buckets=buckets)[0]
                for png in pdf["image"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "part": pdf["part"],
                 "offset": pdf["offset"], "media_ref": pdf["media_ref"],
                 "latex": infer(canvases)}
            )

    # Round-robin, not hash-on-shape: the kernels are batch-invariant
    # (tests/test_kernels.py), so which canvases share a batch never changes
    # the output, and an even row spread keeps every core busy whatever the
    # shape histogram. An explicit count also keeps AQE from coalescing the
    # stage onto fewer cores.
    return media_joined.repartition(n_parts).mapInPandas(
        infer_rows, schema=DECODED_SCHEMA
    )
