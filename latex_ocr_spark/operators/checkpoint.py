"""Per-partition checkpoint/lineage + resumable restarts.

The reference's resumability precedents: incremental rebuild skips formulas
whose PNG already exists (F4, /root/reference/model/utils/image.py:238-245 —
semantically a left anti join) and epoch-resume parses the checkpoint filename
(model/base.py:33-48). At 10^12-document scale that becomes: process the docs
table one identity-partition at a time, write each partition's output
idempotently (overwrite its own directory), publish a lineage record with
metrics (A8 analog) whose filename carries its part and status, and on
restart anti-join the partition list against the parts one listing of those
filenames reports done, so completed partitions are never re-decoded (north
rule).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import ModelConfig, PipelineConfig
from ..frames import scope
from ..pipeline import broadcast_weights, extract_spans
from ..operators.reassemble import flat_text, reassemble
from ..sources import read_docs


def _ckpt_path(out_dir: str) -> str:
    return out_dir.rstrip("/") + "/_checkpoint"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under whatever scheme it carries —
    local, hdfs://, s3a://. All checkpoint state I/O goes through this so
    resumability works on the cluster deployments job.py advertises, not just
    the driver's local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _lineage_records(spark: SparkSession, out_dir: str) -> list[tuple[int, str, int]]:
    """(part, status, mtime ms) per published lineage record, parsed from
    the filenames (``part-<part>-<status>-<run_id>.json``) of one listStatus
    call: the record filename IS the resume state, as the reference's
    epoch-resume parses its checkpoint filename. ``rsplit`` keeps a stage
    record's part ``-1`` whole. Dot-prefixed files (an unfinished publish's
    temp record, checksum sidecars) never match."""
    fs, dirp = _hadoop_fs(spark, _ckpt_path(out_dir))
    if not fs.exists(dirp):
        return []
    records = []
    for st in fs.listStatus(dirp):
        name = st.getPath().getName()
        if name.startswith("part-") and name.endswith(".json"):
            part, status, _run_id = name[len("part-") : -len(".json")].rsplit("-", 2)
            records.append((int(part), status, st.getModificationTime()))
    return records


def completed_parts(spark: SparkSession, out_dir: str) -> set[int]:
    return {p for p, status, _ in _lineage_records(spark, out_dir) if status == "done"}


def clear_checkpoint(spark: SparkSession, out_dir: str) -> None:
    """Drop the checkpoint table (job.py --no-resume) via the Hadoop FS API."""
    fs, hpath = _hadoop_fs(spark, _ckpt_path(out_dir))
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _append_checkpoint(spark: SparkSession, out_dir: str, row: dict) -> None:
    """Publish one lineage record: one JSON-lines file per record (no
    table-format dependency; an Iceberg deployment would MERGE into a
    checkpoint table instead), written through the Hadoop FS API so it lands
    next to the output on HDFS/S3. The record is written to a dot-prefixed
    temp name and renamed into place, so a listed name always holds a
    complete record."""
    fs, dirp = _hadoop_fs(spark, _ckpt_path(out_dir))
    # .crc sidecars are tolerated: their names are dot-prefixed, so the
    # lineage readers skip them. (Do NOT call fs.setWriteChecksum(False) —
    # FileSystem.get caches instances per scheme/conf, so the flag would
    # leak to every other write in the JVM.)
    fs.mkdirs(dirp)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-{row['part']}-{row['status']}-{row['run_id']}.json"
    tmp, final = Path(dirp, "." + name), Path(dirp, name)
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray((json.dumps(row) + "\n").encode("utf-8")))
    finally:
        stream.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not publish lineage record {final}")


def _write_and_mark(
    spark: SparkSession,
    out_dir: str,
    df: DataFrame,
    status: str,
    aggs: tuple = (),
    part: int = -1,
    run_id: str | None = None,
) -> dict:
    """Write one restart unit's output, then publish its lineage record
    (output-then-mark: a record implies its write committed, so a crash
    re-runs at most the in-flight unit, and the overwrite makes that retry
    idempotent). An extraction partition (``part`` ≥ 0) lands in
    ``out_dir/docs/part=<k>/`` through a dynamic partition overwrite set on
    the write itself — never on the session conf, which another thread's
    write (the streaming sink's) could reset mid-job to the static mode that
    deletes every other ``part=`` directory; a corpus-wide stage (part -1,
    never colliding with partition resume) overwrites ``out_dir/<status>``.

    The record's metrics — ``n_docs`` plus the named ``aggs`` — ride the
    write job itself (``df.observe``): one pass, no post-write re-read of
    the output (at 10^12 docs a re-read would double the write-path I/O)."""
    run_id = run_id or uuid.uuid4().hex[:8]
    t0 = time.time()
    obs = Observation(f"{status}-{part}-{run_id}")
    writer = df.observe(obs, F.count(F.lit(1)).alias("n_docs"), *aggs).write.mode(
        "overwrite"
    )
    if part >= 0:
        writer.option("partitionOverwriteMode", "dynamic").partitionBy("part").parquet(
            os.path.join(out_dir, "docs")
        )
    else:
        writer.parquet(os.path.join(out_dir, status))
    stats = obs.get
    row = {
        "part": int(part),
        "status": status,
        "n_docs": int(stats["n_docs"] or 0),
        "n_images": int(stats.get("n_images") or 0),
        "n_tokens": int(stats.get("n_tokens") or 0),
        "wall_s": round(time.time() - t0, 3),
        "run_id": run_id,
    }
    _append_checkpoint(spark, out_dir, row)
    return row


def run_with_checkpoint(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    cfg: ModelConfig | None = None,
    pipe: PipelineConfig | None = None,
    fail_after: int | None = None,
    parts: list[int] | None = None,
) -> list[int]:
    """Run extraction partition-by-partition, resumably.

    Each identity partition is one pruned, idempotent job: output lands in
    ``out_dir/docs/part=<k>/`` via dynamic partition overwrite, then the
    lineage record is published (``_write_and_mark``).

    ``fail_after=k`` injects a failure after k partitions (for the resume test,
    FIXTURES.md §6). Returns the list of partitions processed in this run.
    """
    cfg = cfg or ModelConfig.small()
    pipe = pipe or PipelineConfig()
    run_id = uuid.uuid4().hex[:8]
    weights_bc = broadcast_weights(spark, cfg)

    all_parts = sorted(
        r.part
        for r in read_docs(spark, corpus_dir, parts=parts)
        .select("part")
        .distinct()
        .collect()
    )
    done = completed_parts(spark, out_dir)
    todo = [p for p in all_parts if p not in done]

    media_per_doc = F.size(F.filter("spans", lambda s: s["kind"] == F.lit("media")))
    tokens_per_doc = F.aggregate(
        "spans",
        F.lit(0),
        lambda acc, s: acc
        + F.when(
            s["kind"] == F.lit("media"), F.size(F.split(s["text"], " "))
        ).otherwise(0),
    )
    aggs = (
        F.sum(media_per_doc).alias("n_images"),
        F.sum(tokens_per_doc).alias("n_tokens"),
    )
    processed: list[int] = []
    for i, part in enumerate(todo):
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"injected failure before partition {part}")
        flat = extract_spans(
            spark, corpus_dir, cfg=cfg, pipe=pipe, parts=[part], weights_bc=weights_bc
        )
        _write_and_mark(
            spark, out_dir, reassemble(flat), "done", aggs, part=part, run_id=run_id
        )
        processed.append(part)
    return processed


# ---------------------------------------------------------------------------
# Downstream daily pipeline: extract → curate → dedup → budget, each stage a
# separate resumable unit. Extraction's restart unit is the partition; the
# downstream stages are corpus-wide passes (the dedup join is global by
# nature), so THEIR restart unit is the whole stage: output written first
# (idempotent overwrite), then the lineage row appended — a crash re-runs at
# most the in-flight stage, and reading the previous stage's MATERIALIZED
# parquet (never recomputing it) is the production contract between daily
# jobs. Reference analog: the staged build→evaluate chain,
# /root/reference/makefile:31-44. Each stage runs its write inside its own
# ``frames.scope()``, which releases every frame the stage persisted or
# checkpointed once the write has run.
# ---------------------------------------------------------------------------

DOWNSTREAM_STAGES = ("curate", "dedup", "budget", "mix")
# stage name → lineage status, which also names the stage's output subdir
_STAGE_STATUS = {
    "curate": "curated",
    "dedup": "deduped",
    "budget": "budgeted",
    "mix": "mixed",
}
# stage name → the schema of the output it writes. The next stage reads its
# predecessor's output with it: a schema-less parquet read would run a
# footer-inference job per read. The mix stage's output is read by no stage
# and its columns depend on its options, so it has none.
_STAGE_SCHEMA = {
    "curate": "doc_id bigint, text string",
    "dedup": "doc_id bigint, text string",
    "budget": "doc_id bigint, text string, n_words int, n_subwords bigint, n_chars int",
}


def _read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """``stage``'s materialized output, read with its declared schema."""
    return spark.read.schema(_STAGE_SCHEMA[stage]).parquet(
        os.path.join(out_dir, _STAGE_STATUS[stage])
    )


def stage_done(spark: SparkSession, out_dir: str, stage: str) -> bool:
    """True when ``stage``'s lineage record exists AND is at least as new as
    the newest extraction 'done' record. Records are published
    output-then-mark, so presence implies the stage's parquet write
    completed. The freshness clause is the downstream-dirty guard: a later
    run that extracts NEW partitions into the same output dir leaves the old
    stage records older than the newest extract record, so every downstream
    stage reruns over the refreshed corpus instead of silently serving stale
    output — including after a kill mid-downstream, where the stages that
    already reran are fresh (skipped) and the rest are stale (rerun)."""
    newest: dict[str, int] = {}
    for _, status, mtime in _lineage_records(spark, out_dir):
        newest[status] = max(newest.get(status, 0), mtime)
    status = _STAGE_STATUS[stage]
    return status in newest and newest[status] >= newest.get("done", 0)


@scope()
def run_curate_stage(
    spark: SparkSession, extracted_dir: str, out_dir: str
) -> dict:
    """Stage 2: language + quality gates + exact fingerprint dedup over the
    flattened extraction output → ``out_dir/curated`` (doc_id, text)."""
    from . import text_analysis as TA

    curated = TA.curate_corpus(flat_text(read_docs(spark, extracted_dir)))
    return _write_and_mark(spark, out_dir, curated, _STAGE_STATUS["curate"])


@scope()
def run_dedup_stage(spark: SparkSession, out_dir: str) -> dict:
    """Stage 3: MinHash-LSH near-dup pair generation + dedup_apply over the
    materialized curated corpus → ``out_dir/deduped`` (doc_id, text). Both
    consumers of the curated frame scan its parquet — no recompute of the
    curation gates."""
    from . import dedup as D

    curated = _read_stage(spark, out_dir, "curate")
    survivors = D.dedup_apply(
        curated, D.minhash_lsh_pairs(curated, n=3, threshold=0.5)
    )
    return _write_and_mark(spark, out_dir, survivors, _STAGE_STATUS["dedup"])


@scope()
def run_budget_stage(spark: SparkSession, out_dir: str) -> dict:
    """Stage 4: token budget (words / greedy-BPE subwords / chars) over the
    deduped survivors → ``out_dir/budgeted`` (doc_id, text + counts)."""
    from . import text_analysis as TA

    deduped = _read_stage(spark, out_dir, "dedup")
    budget = TA.token_count(deduped, keep_text=True)
    return _write_and_mark(
        spark,
        out_dir,
        budget,
        _STAGE_STATUS["budget"],
        (F.sum("n_subwords").alias("n_tokens"),),
    )


@scope()
def run_mix_stage(
    spark: SparkSession,
    out_dir: str,
    benchmark_dir: str | None = None,
    budgets: dict[str, int] | None = None,
    max_rep_ratio: float = 0.3,
    lm_top_frac: float | None = None,
    upsample_factors: dict[str, float] | None = None,
) -> dict:
    """Stage 5: training-mix finalization over the budgeted corpus →
    ``out_dir/mixed``. Four gates, cheapest first:

    1. Gopher-style repetition gate (``repetition_ratio`` ≤ max_rep_ratio)
       — pure per-row expressions, prunes rows before anything shuffles;
    2. CCNet-style LM fluency gate when ``lm_top_frac`` is configured —
       train the bigram LM on the repetition-gated corpus and keep the
       top fraction by cross-entropy (corpus-derived exact percentile
       threshold; docs with < 2 tokens drop — no LM evidence);
    3. benchmark decontamination when ``benchmark_dir`` is configured —
       docs sharing any 5-gram shingle with the eval set are anti-joined
       away (both the hit count and the anti-join key on doc_id);
    4. deterministic token-budget sampling per language stratum when
       ``budgets`` (lang → word budget) is configured — languages absent
       from the budget map sample at rate 0, i.e. budgets define the mix
       EXHAUSTIVELY (the standard mixing contract: unlisted strata are
       excluded, not passed through);
    5. repeat-factor upsampling when ``upsample_factors`` (lang → epochs)
       is configured — each stratum replicated f× in expectation at
       (doc_id, epoch) grain (floor(f) full copies + a deterministic
       fractional copy), so under-represented languages can be weighted
       ABOVE 1.0 where budgets can only trim down.

    Unset knobs skip their gate, so the stage degrades gracefully from the
    full mix to a repetition-only pass. The n_words lineage metric rides
    the sampled output when budgets or upsample factors apply."""
    from . import text_analysis as TA

    corpus = _read_stage(spark, out_dir, "budget").select("doc_id", "text")
    mixed = (
        TA.repetition_ratio(corpus, keep_text=True)
        .filter(F.col("rep_ratio") <= max_rep_ratio)
        .select("doc_id", "text")
    )
    if lm_top_frac is not None:
        from .lm import lm_fluency_gate

        mixed = lm_fluency_gate(mixed, top_frac=lm_top_frac)[0]
    if benchmark_dir:
        bench = spark.read.parquet(benchmark_dir).select("doc_id", "text")
        contaminated = (
            TA.decontaminate(mixed, bench)
            .filter(F.col("contaminated"))
            .select("doc_id")
        )
        mixed = mixed.join(contaminated, "doc_id", "left_anti")
    if budgets:
        mixed = TA.sample_to_budget(mixed, budgets, keep_text=True).select(
            "doc_id", "text", "lang", "n_words", "rate"
        )
    if upsample_factors:
        if "lang" not in mixed.columns:
            mixed = mixed.withColumn(
                "lang", TA._lang_pred_expr(F.col("text"))
            )
        mixed = TA.upsample_mix(
            mixed, upsample_factors, keep_text=True
        ).withColumn(
            "n_words",
            F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")),
        )
    aggs = (F.sum("n_words").alias("n_tokens"),) if budgets or upsample_factors else ()
    return _write_and_mark(spark, out_dir, mixed, _STAGE_STATUS["mix"], aggs)


def run_daily_pipeline(
    spark: SparkSession,
    extracted_dir: str,
    out_dir: str,
    stages: tuple = DOWNSTREAM_STAGES,
    resume: bool = True,
    fail_after_stage: str | None = None,
    mix_opts: dict | None = None,
) -> dict:
    """Run the downstream daily stages in order with per-stage resume:
    a stage whose lineage row already exists is skipped (``resume=True``),
    so a job killed between stages restarts without recomputing finished
    work. Returns {stage: lineage row, or "skipped"}.

    ``fail_after_stage`` injects a crash AFTER the named stage commits (for
    the kill-between-stages resume test, mirroring run_with_checkpoint's
    ``fail_after``)."""
    runners = {
        "curate": lambda: run_curate_stage(spark, extracted_dir, out_dir),
        "dedup": lambda: run_dedup_stage(spark, out_dir),
        "budget": lambda: run_budget_stage(spark, out_dir),
        "mix": lambda: run_mix_stage(spark, out_dir, **(mix_opts or {})),
    }
    results: dict = {}
    for stage in stages:
        if resume and stage_done(spark, out_dir, stage):
            results[stage] = "skipped"
        else:
            results[stage] = runners[stage]()
        if fail_after_stage == stage:
            raise RuntimeError(f"injected failure after stage {stage}")
    return results
