"""The bucketed-batch inference operator — the heart of the engine.

Two pandas-UDF stages (and nothing per-row-Python anywhere, north rule):

  1. ``preprocess_spans`` (mapInPandas): PNG decode → greyscale (P1) → crop
     (P3) → pad-to-bucket (P4) → downsample (P5); emits the bucket id — the
     batching/shuffle key (G1, /root/reference/model/utils/data_generator.py:84-122)
     — plus a salt to split hot buckets (SURVEY.md §7 'Skew').
  2. ``decode_groups`` (groupBy(bucket, salt).applyInPandas): batches
     same-shape canvases into dense uint8 tensors (G3 — trivial here because a
     bucket guarantees one shape) and runs the CNN encoder + attention LSTM
     decode (M1-M8) with broadcast weights, chunked by a pixel budget so UDF
     memory is bounded regardless of group size.

At cluster scale the repartition on (bucket, salt) is the one unavoidable
shuffle; its payload is the downsampled uint8 canvas (4× smaller than the
source PNG raster), and AQE coalesces the small buckets.
"""

from __future__ import annotations

import zlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PAD_SIZE, ModelConfig, PipelineConfig
from ..fixtures.png import decode_png
from ..fixtures.vocab import ID_END, ID_TO_TOK, N_TOK
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
    "doc_id string, part int, `offset` int, media_ref string, "
    "latex string, n_tokens int"
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
    """Cheap metadata-only estimate of the decode stage's (bucket, salt)
    group count — the partition-sizing input, NOT a correctness input.

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
    """Conservative metadata predicate for routing BEFORE preprocessing: a
    raw (height, width) that fits a bucket after padding is GUARANTEED
    in-bucket after crop+pad (crop only shrinks, image_ops.get_new_size).
    Rows failing it take the row-parallel decode path, which handles any
    shape — including bucketed ones the conservative test missed (the infer
    UDF same-shape-batches within each partition either way, and the
    kernels are batch-invariant, so routing never changes output). Routing
    on stored dims instead of filtering prepro output means the expensive
    PNG-decode prepro runs ONCE per row — filtering after the UDF made both
    union branches recompute it over the whole corpus."""
    top, left, bottom, right = PAD_SIZE
    cond = F.lit(False)
    for bw, bh in pipe.buckets:
        cond = cond | (
            (width_col + (left + right) <= bw)
            & (height_col + (top + bottom) <= bh)
        )
    return cond


def _make_infer(weights_bc, cfg_dict: dict, budget: int):
    def infer(pdf):
        import pandas as pd

        mcfg = ModelConfig.from_dict(cfg_dict)
        dec = AttentionDecoder(weights_bc.value, mcfg, ID_END)
        rows_doc, rows_part, rows_off, rows_ref, rows_tex, rows_n = (
            [], [], [], [], [], []
        )
        # within a (bucket, salt) group all canvases share a shape, except the
        # no-bucket-fits fallback group (bucket = padded size, one shape per
        # size anyway since bucket_w/bucket_h ARE the canvas dims pre-downsample)
        for (ch, cw), grp in pdf.groupby(["ch", "cw"], sort=True):
            n_per_batch = max(1, budget // max(ch * cw, 1))
            for s in range(0, len(grp), n_per_batch):
                batch = np.stack(
                    [np.frombuffer(a, dtype=np.uint8).reshape(ch, cw)
                     for a in grp["canvas"].iloc[s : s + n_per_batch]]
                )
                enc = encode(batch, weights_bc.value, mcfg)
                if mcfg.decoding == "beam_search":
                    out_ids = beam_decode(dec, enc)[:, 0, :]
                else:
                    out_ids = dec.greedy_decode(enc)
                sub = grp.iloc[s : s + n_per_batch]
                for row_ids, doc_id, part, offset, ref in zip(
                    out_ids, sub["doc_id"], sub["part"], sub["offset"],
                    sub["media_ref"],
                ):
                    latex = decode_ids_to_latex(row_ids, ID_END, ID_TO_TOK)
                    rows_doc.append(doc_id)
                    rows_part.append(int(part))
                    rows_off.append(int(offset))
                    rows_ref.append(ref)
                    rows_tex.append(latex)
                    rows_n.append(len(latex.split(" ")) if latex else 0)
        return pd.DataFrame(
            {"doc_id": rows_doc, "part": rows_part, "offset": rows_off,
             "media_ref": rows_ref, "latex": rows_tex, "n_tokens": rows_n}
        )

    return infer


def decode_partitions(cores: int, n_groups_est: int | None = None) -> int:
    """Decode-exchange partition count (measured, round-robin min-of-rounds
    at sf0.1): the optimum TRACKS THE GROUP COUNT, not the core count —
    ~groups/10 (≈60 partitions for ~600 groups) wins at 8, 16 AND 32
    cores (local[8]: 27.6 s vs 32.3 s with 2×cores; local[16]: 12.0 vs
    15.4; local[32]: 64 ≈ both formulas). Floor of 2× total cores keeps
    small corpora from under-splitting."""
    if n_groups_est:
        return max(round(n_groups_est / 10), 2 * cores, 16)
    return max(2 * cores, 16)


def decode_groups(
    prepped: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
    n_groups_est: int | None = None,
) -> DataFrame:
    """Bucket-grouped batch inference with broadcast weights (the in-bucket
    path; route inputs with ``fits_some_bucket`` and send the rest to
    ``decode_rows``)."""
    infer = _make_infer(weights_bc, cfg.to_dict(), pipe.batch_pixel_budget)

    # Explicit partition count: the canvases are mostly-white uint8 and
    # compress ~20× in the shuffle, so AQE's size-based coalescing would fold
    # the decode stage down to a couple of partitions and serialize the UDF
    # (observed: 2 workers for 314 groups). A user-specified count pins the
    # stage's parallelism to the cluster; groups still co-locate because the
    # hash partitioning is on exactly the grouping keys.
    sc = prepped.sparkSession.sparkContext
    n_parts = decode_partitions(sc.defaultParallelism, n_groups_est)

    return (
        prepped.repartition(n_parts, "bucket_w", "bucket_h", "salt")
        .groupBy("bucket_w", "bucket_h", "salt")
        .applyInPandas(infer, schema=DECODED_SCHEMA)
    )


def decode_rows(
    prepped: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
) -> DataFrame:
    """Row-parallel decode for (possibly) oversized fallback images
    (no bucket fits, model/utils/image.py:115-123): they are singleton
    groups with 10-20× the decode cost of a bucketed canvas, and hash
    placement lets several collide on one partition and become THE stage
    straggler (observed 8.8 s max task vs 2.4 s p90). They gain nothing
    from same-shape grouping (each shape is ~unique), so they round-robin
    instead; the infer kernel still same-shape-batches whatever lands
    together in a partition."""
    infer = _make_infer(weights_bc, cfg.to_dict(), pipe.batch_pixel_budget)
    sc = prepped.sparkSession.sparkContext

    def infer_rows(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf):
                yield infer(pdf)
            else:
                yield pd.DataFrame(
                    {"doc_id": [], "part": [], "offset": [], "media_ref": [],
                     "latex": [], "n_tokens": []}
                )

    # oversized rows are rare: one partition per core is plenty
    return prepped.repartition(max(sc.defaultParallelism, 8)).mapInPandas(
        infer_rows, schema=DECODED_SCHEMA
    )
