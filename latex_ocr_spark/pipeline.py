"""End-to-end extraction pipeline (the reference's evaluate/predict query,
SURVEY.md §3.3, re-expressed Spark-first):

    docs scan (partition-pruned)
      → posexplode(spans)                       # S2 analog
      → route: text spans pass through          # predicate
      → media spans ⋈ media table on media_ref  # J1/J2 equi join
      → repartition(defaultParallelism)         # round-robin, one part per core
      → mapInPandas infer_rows                  # P1,P3,P4,P5 + shape batching
                                                # (G1) + M1..M8, broadcast weights
      → unionByName(text spans)                 # set op
      → groupBy(doc_id).sort_array(collect_list)# (doc_id, offset) reassembly
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import ModelConfig, PipelineConfig
from .frames import persist
from .fixtures.vocab import N_TOK
from .kernels.weights import init_weights
from .operators.inference import decode_media
from .operators.reassemble import flat_text, reassemble
from .sources import read_docs, read_media


def explode_spans(docs: DataFrame) -> DataFrame:
    """docs → one row per span, keyed by (doc_id, part, offset)."""
    return docs.select(
        "doc_id",
        "part",
        F.explode("spans").alias("s"),
    ).select(
        "doc_id",
        "part",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def broadcast_weights(spark: SparkSession, cfg: ModelConfig):
    """Seeded deterministic weights, broadcast once per job (K4 analog —
    the reference restores a TF checkpoint per process, model/base.py:33-48)."""
    return spark.sparkContext.broadcast(init_weights(cfg, N_TOK))


def extract_spans_from_docs(
    spark: SparkSession,
    docs: DataFrame,
    media_tbl: DataFrame,
    cfg: ModelConfig | None = None,
    pipe: PipelineConfig | None = None,
    weights_bc=None,
) -> DataFrame:
    """Core extraction over an in-hand docs DataFrame (batch scan OR a
    streaming micro-batch inside foreachBatch — streaming.extraction_sink):
    one row per span with media spans' text rewritten to the decoded LaTeX.
    Columns: doc_id, part, kind, text, media_ref, offset."""
    cfg = cfg or ModelConfig.small()
    pipe = pipe or PipelineConfig()
    if weights_bc is None:
        weights_bc = broadcast_weights(spark, cfg)

    spans = explode_spans(docs)
    text_spans = spans.filter(F.col("kind") == "text")
    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "part", "offset", "media_ref"
    )

    joined = media_spans.join(
        media_tbl.select("media_ref", "image"), "media_ref"
    )
    # part rides through the UDF schema, so any corpus's own partition
    # assignment is preserved (never re-derived from the doc_id string)
    decoded = decode_media(joined, weights_bc, cfg, pipe)
    media_out = decoded.select(
        "doc_id",
        "part",
        F.lit("media").alias("kind"),
        F.col("latex").alias("text"),
        "media_ref",
        "offset",
    )
    return text_spans.unionByName(media_out)


# Always empty; kept because perfbench/run.py clears it before calling
# decode_groups_estimate.
_GROUPS_EST_CACHE: dict[tuple, int] = {}


def decode_groups_estimate(
    spark: SparkSession, corpus_dir: str, pipe: PipelineConfig
) -> int:
    """Compatibility stub that runs no Spark job and returns 0. It once
    estimated the perplexity stage's (bucket, salt) group count; both model
    stages now round-robin over ``defaultParallelism`` partitions
    (``inference.model_stage``). Kept only for the frozen bench callers."""
    return 0


def extract_spans(
    spark: SparkSession,
    corpus_dir: str,
    cfg: ModelConfig | None = None,
    pipe: PipelineConfig | None = None,
    parts: list[int] | None = None,
    weights_bc=None,
) -> DataFrame:
    """extract_spans_from_docs over a (partition-pruned) corpus-dir scan."""
    return extract_spans_from_docs(
        spark,
        read_docs(spark, corpus_dir, parts=parts),
        read_media(spark, corpus_dir),
        cfg=cfg,
        pipe=pipe,
        weights_bc=weights_bc,
    )


def extract_documents(
    spark: SparkSession,
    corpus_dir: str,
    cfg: ModelConfig | None = None,
    pipe: PipelineConfig | None = None,
    parts: list[int] | None = None,
    weights_bc=None,
) -> DataFrame:
    """Full pipeline output: (doc_id, part, spans) span-sequence per document."""
    flat = extract_spans(spark, corpus_dir, cfg, pipe, parts, weights_bc)
    return reassemble(flat)


def composed_training_pipeline(
    spark: SparkSession,
    corpus_dir: str,
    cfg: ModelConfig | None = None,
    parts: list[int] | None = None,
) -> DataFrame:
    """The composed end-to-end training-data pass a data team schedules
    daily (reference analog: the full build→evaluate chain,
    /root/reference/makefile:31-44): extraction (text spans + decoded media
    LaTeX) → per-doc reassembly into flat text → planted-dup union (the
    standard dedup-corpus rule, so the dedup stages have real work) →
    curate_corpus → MinHash-LSH dedup_apply → token_count over survivors.

    Composition hygiene: the reassembled corpus is persisted — the dup
    union references it three times and the dedup stage twice more, and
    without the persist every branch re-runs the expensive decode subtree
    (measured: 12 decode stages in the unpersisted composed plan). The
    curated frame is persisted for the same reason (corpus side AND pair
    side of the dedup consume it). Both frames are tiny relative to the
    media they derive from (doc_id + flat text), so at 100 TB these caches
    are the per-executor working set of the reassembled TEXT, not the
    images — the decode output is exactly what a real pipeline would
    checkpoint to distributed storage between stages.

    ``parts`` prunes the extraction scan to the listed doc partitions
    (directory-level PartitionFilters — the same knob as ``extract_spans``);
    the correctness gate runs a subset so the row's cost is bounded while
    still exercising the full composition.
    """
    from .operators import dedup as D

    flat = extract_spans(spark, corpus_dir, cfg=cfg, parts=parts)
    rebuilt = persist(flat_text(reassemble(flat)))
    rebuilt.createOrReplaceTempView("__rebuilt_pipeline")
    withdups = spark.sql(
        D.CORPUS_WITH_DUPS_SQL_SPARK.format(src="__rebuilt_pipeline")
    )
    return curate_and_budget(withdups)


def curate_and_budget(docs: DataFrame, keep_text: bool = False) -> DataFrame:
    """Curation + near-dup dedup + token budget over a (doc_id, text)
    corpus — the downstream half of the daily pipeline as one lazy frame,
    for the composed gate query (``job.py`` runs the same chain as the
    separately materialized stages of ``operators/checkpoint.py``):
    curate_corpus (language + quality gates + exact fingerprint dedup) →
    MinHash-LSH pair generation → dedup_apply (keeper-only corpus) →
    token_count (words / greedy-BPE subwords / chars per survivor).

    The curated frame is persisted because BOTH sides of the near-dup
    stage consume it (the corpus being filtered and the pair-generation
    input); without the persist the curation gates and their upstream
    recompute once per side. Every frame the chain persists or
    checkpoints is released by the caller's ``frames.scope()``."""
    from .operators import dedup as D
    from .operators import text_analysis as TA

    curated = persist(TA.curate_corpus(docs))
    survivors = D.dedup_apply(
        curated, D.minhash_lsh_pairs(curated, n=3, threshold=0.5)
    )
    return TA.token_count(survivors, keep_text=keep_text)
