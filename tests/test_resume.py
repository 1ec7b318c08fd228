"""Resume test (FIXTURES.md §6): kill after k partitions, restart, verify the
final table is identical to a clean run and completed partitions are not
re-decoded (run_id proves which run produced each lineage row)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from latex_ocr_spark.config import ModelConfig
from latex_ocr_spark.operators.checkpoint import completed_parts, run_with_checkpoint
from latex_ocr_spark.operators.reassemble import flat_text

PARTS = [0, 1, 2, 3, 4, 5]


def _load_ckpt(out_dir):
    path = os.path.join(out_dir, "_checkpoint")
    rows = []
    for f in os.listdir(path):
        if f.startswith(".") or not f.endswith(".json"):
            continue
        with open(os.path.join(path, f)) as fh:
            rows.append(json.loads(fh.read()))
    return rows


def test_resume_after_injected_failure(spark, corpus, tmp_path_factory):
    cfg = ModelConfig.small()
    out_fail = str(tmp_path_factory.mktemp("out_resume"))
    out_clean = str(tmp_path_factory.mktemp("out_clean"))

    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoint(spark, corpus, out_fail, cfg=cfg, fail_after=2, parts=PARTS)
    done_first = completed_parts(spark, out_fail)
    assert len(done_first) == 2

    # a publish killed before its rename leaves a dot-prefixed temp record;
    # it must not mark its partition done
    pending = min(set(PARTS) - done_first)
    tmp = os.path.join(out_fail, "_checkpoint", f".part-{pending}-done-deadbeef.json")
    with open(tmp, "w") as fh:
        fh.write(json.dumps({"part": pending, "status": "done"}) + "\n")
    assert completed_parts(spark, out_fail) == done_first

    processed = run_with_checkpoint(spark, corpus, out_fail, cfg=cfg, parts=PARTS)
    assert set(processed).isdisjoint(done_first), "re-decoded a completed partition"
    assert pending in processed
    assert completed_parts(spark, out_fail) == set(done_first) | set(processed)

    # lineage rows for the first 3 partitions still carry the first run's id
    rows = _load_ckpt(out_fail)
    run_ids = {r["part"]: r["run_id"] for r in rows}
    first_run_ids = {run_ids[p] for p in done_first}
    second_run_ids = {run_ids[p] for p in processed}
    assert first_run_ids.isdisjoint(second_run_ids)
    for r in rows:
        assert r["status"] == "done"
        assert r["n_docs"] > 0

    run_with_checkpoint(spark, corpus, out_clean, cfg=cfg, parts=PARTS)

    a = spark.read.parquet(os.path.join(out_fail, "docs"))
    b = spark.read.parquet(os.path.join(out_clean, "docs"))
    flat = lambda df: df.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select("doc_id", "pos", "s.kind", "s.text", "s.media_ref", "s.offset")
    assert flat(a).exceptAll(flat(b)).count() == 0
    assert flat(b).exceptAll(flat(a)).count() == 0


def test_no_resume_clears_checkpoint_via_fs_api(spark, corpus, tmp_path_factory):
    """job.py --no-resume drops the checkpoint table through the Hadoop FS
    API and reprocesses every partition."""
    import job
    from latex_ocr_spark.operators.checkpoint import clear_checkpoint

    out = str(tmp_path_factory.mktemp("no_resume"))
    cfg_parts = [0, 1]
    run_with_checkpoint(spark, corpus, out, cfg=ModelConfig.small(), parts=cfg_parts)
    assert completed_parts(spark, out) == set(cfg_parts)
    clear_checkpoint(spark, out)
    assert completed_parts(spark, out) == set()
    processed = run_with_checkpoint(
        spark, corpus, out, cfg=ModelConfig.small(), parts=cfg_parts
    )
    assert set(processed) == set(cfg_parts), "cleared checkpoint must reprocess"


def test_partition_write_keeps_earlier_partitions(spark, tmp_path):
    """An extraction partition's write replaces only its own ``part=``
    directory while the session conf stays at its default static overwrite
    mode: the dynamic mode rides the write itself, so no conf toggle by
    another thread can turn the next partition's write into a wipe of the
    partitions already done."""
    from latex_ocr_spark.operators.checkpoint import _write_and_mark

    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    assert mode.lower() == "static"
    out = str(tmp_path)
    for part in (0, 1):
        df = spark.createDataFrame(
            [(f"doc-{part}", part, "text")], "doc_id string, part int, text string"
        )
        _write_and_mark(spark, out, df, "done", part=part)
    dirs = {d for d in os.listdir(f"{out}/docs") if d.startswith("part=")}
    assert dirs == {"part=0", "part=1"}
    assert spark.read.parquet(f"{out}/docs").count() == 2


def test_job_cli_end_to_end_and_resume(spark, tmp_path_factory):
    """job.py main(): fresh run processes every partition; second invocation
    resumes to a no-op (all partitions checkpointed)."""
    import job
    from latex_ocr_spark.operators.checkpoint import completed_parts
    from latex_ocr_spark.sources import build_corpus
    from tests.conftest import SF_DIR

    corpus = build_corpus(spark, SF_DIR)
    out = str(tmp_path_factory.mktemp("job_out"))
    rc = job.main(
        ["--input", corpus, "--output", out, "--local", "--cores", "8",
         "--profile", "small"]
    )
    assert rc == 0
    done = completed_parts(spark, out)
    assert done, "first run must checkpoint partitions"
    n_docs = spark.read.parquet(f"{out}/docs").count()
    assert n_docs > 0
    rc = job.main(
        ["--input", corpus, "--output", out, "--local", "--cores", "8",
         "--profile", "small"]
    )
    assert rc == 0
    assert completed_parts(spark, out) == done
    assert spark.read.parquet(f"{out}/docs").count() == n_docs


def test_job_cli_staged_pipeline(spark, tmp_path_factory):
    """job.py --stage all: extract → curate → dedup → budget through one
    output dir. Each downstream stage materializes its own parquet and
    appends one part=-1 lineage row (never confusing partition resume), and
    the final budgeted corpus agrees with the library-level
    curate_and_budget over the flattened extraction output. Re-running a
    single stage explicitly overwrites idempotently."""
    import job
    from latex_ocr_spark.operators.checkpoint import (
        DOWNSTREAM_STAGES,
        _lineage_records,
        _read_stage,
        stage_done,
    )
    from latex_ocr_spark.frames import scope
    from latex_ocr_spark.pipeline import curate_and_budget
    from latex_ocr_spark.sources import build_corpus
    from tests.conftest import SF_DIR

    corpus = build_corpus(spark, SF_DIR)
    out = str(tmp_path_factory.mktemp("job_staged"))
    rc = job.main(
        ["--input", corpus, "--output", out, "--local", "--cores", "8",
         "--profile", "small", "--stage", "all",
         "--budgets", "en=1000000", "--max-rep-ratio", "0.9"]
    )
    assert rc == 0
    done = completed_parts(spark, out)
    assert done, "extraction stage must checkpoint partitions"

    curated = spark.read.parquet(f"{out}/curated")
    deduped = spark.read.parquet(f"{out}/deduped")
    budgeted = spark.read.parquet(f"{out}/budgeted")
    mixed = spark.read.parquet(f"{out}/mixed")
    assert set(curated.columns) == {"doc_id", "text"}
    assert set(deduped.columns) == {"doc_id", "text"}
    assert set(budgeted.columns) == {
        "doc_id", "text", "n_words", "n_subwords", "n_chars"
    }
    # --budgets on the CLI → the sampled shape (lang/n_words/rate ride along)
    assert set(mixed.columns) == {"doc_id", "text", "lang", "n_words", "rate"}
    assert curated.count() >= deduped.count() == budgeted.count() > 0
    assert 0 < mixed.count() <= budgeted.count()
    # each stage writes exactly the schema the next stage reads it with
    for stage, written in (("curate", curated), ("dedup", deduped), ("budget", budgeted)):
        assert _read_stage(spark, out, stage).schema == written.schema, stage

    # lineage: exactly one row per downstream stage, partition rows untouched
    for status in ("curated", "deduped", "budgeted", "mixed"):
        rows = [r for r in _load_ckpt(out) if r["status"] == status]
        assert len(rows) == 1 and rows[0]["part"] == -1
    assert completed_parts(spark, out) == done
    # the resume state is the record filenames: part-<part>-<status>-<run_id>
    # parses back to the record's part, -1 included
    assert {(p, s) for p, s, _ in _lineage_records(spark, out)} == {
        (r["part"], r["status"]) for r in _load_ckpt(out)
    }

    # every resume check is one directory listing and runs no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("resume-checks", "lineage reads")
    try:
        assert completed_parts(spark, out) == done
        assert all(stage_done(spark, out, s) for s in DOWNSTREAM_STAGES)
        sc.parallelize([0], 1).count()  # control: the group sees its jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("resume-checks")) == 1

    # end-to-end agreement with the library path over the same extraction
    docs = spark.read.parquet(f"{out}/docs")
    with scope():
        expect = {
            (r.doc_id, r.n_subwords)
            for r in curate_and_budget(flat_text(docs)).collect()
        }
    got = {(r.doc_id, r.n_subwords) for r in budgeted.collect()}
    assert got == expect

    # idempotent explicit re-run of one stage over the same input
    n = budgeted.count()
    rc = job.main(
        ["--input", out, "--output", out, "--local", "--cores", "8",
         "--stage", "budget"]
    )
    assert rc == 0
    assert spark.read.parquet(f"{out}/budgeted").count() == n


def test_dedup_stage_releases_lsh_caches(spark, tmp_path, monkeypatch):
    """The dedup stage unpersists the shingle and banded-signature tables
    its MinHash-LSH persists, once its write has run: a daily job must not
    carry them cached through the stages that follow."""
    from pyspark import StorageLevel

    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.operators.checkpoint import run_dedup_stage

    cached = []
    band_candidates = D.minhash_band_candidates

    def spy(*args, **kwargs):
        candidates, sh, banded = band_candidates(*args, **kwargs)
        cached.extend((sh, banded))
        return candidates, sh, banded

    monkeypatch.setattr(D, "minhash_band_candidates", spy)
    out = str(tmp_path)
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    spark.createDataFrame(
        [(0, text), (1, text + " today"), (2, "an entirely different sentence here")],
        "doc_id long, text string",
    ).write.parquet(f"{out}/curated")
    row = run_dedup_stage(spark, out)
    assert row["n_docs"] == 2  # the near-dup pair collapses to its keeper
    assert len(cached) == 2
    assert [f.storageLevel for f in cached] == [StorageLevel.NONE] * 2


# Spark jobs the dedup stage runs on the fixture below: 45 (every run) when
# the LSH path signed and verified shingle rows; 29-31 since it signs and
# verifies per-doc shingle sets (adaptive execution's stage-submission
# timing moves the two propagation rounds' count by up to two)
DEDUP_STAGE_MAX_JOBS = 31


def test_dedup_stage_job_count(spark, tmp_path):
    """At daily-batch sizes the dedup stage pays per Spark job, not per
    row: on a fixed 10-doc fixture (a 4-doc near-dup cluster, an exact
    copy, 5 unique docs; two propagation rounds) it keeps the right
    survivors in at most DEDUP_STAGE_MAX_JOBS jobs."""
    from latex_ocr_spark.operators.checkpoint import run_dedup_stage

    words = [f"w{i}" for i in range(60)]
    rows = [(10 + k, " ".join(words[2 * k : 2 * k + 24])) for k in range(4)]
    rows.append((20, rows[0][1]))
    rows += [(30 + k, " ".join(f"u{k}x{i}" for i in range(15))) for k in range(5)]
    out = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{out}/curated"
    )
    sc = spark.sparkContext
    sc.setJobGroup("dedup-stage-jobs", "dedup stage")
    try:
        row = run_dedup_stage(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    survivors = {r.doc_id for r in spark.read.parquet(f"{out}/deduped").collect()}
    assert survivors == {10, 30, 31, 32, 33, 34} and row["n_docs"] == 6
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("dedup-stage-jobs"))
    assert n_jobs <= DEDUP_STAGE_MAX_JOBS, n_jobs


def test_curate_stage_releases_gated_cache(spark, tmp_path, monkeypatch):
    """The curate stage unpersists the gated frame its curation persists,
    once its write has run: a daily job must not carry it cached through the
    stages that follow."""
    from pyspark import StorageLevel

    from latex_ocr_spark.operators.checkpoint import run_curate_stage

    persisted = []
    frame_cls = type(spark.range(1))
    persist = frame_cls.persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "persist", spy)
    out = str(tmp_path)
    en = "the cat and the dog are in the house with a mat"
    spark.createDataFrame(
        [
            ("doc-1", 0, [(en,)]),
            ("doc-2", 0, [("The  CAT and the dog are in the house with a  mat",)]),
            ("doc-3", 0, [("the cat",)]),  # too short for the quality gate
        ],
        "doc_id string, part int, spans array<struct<text: string>>",
    ).write.parquet(f"{out}/extracted/docs")
    row = run_curate_stage(spark, f"{out}/extracted", out)
    assert row["n_docs"] == 1  # the case/whitespace copy collapses to doc 1
    assert len(persisted) == 1
    assert persisted[0].storageLevel == StorageLevel.NONE


def test_daily_pipeline_kill_between_stages_resumes(spark, tmp_path_factory):
    """Kill the daily pipeline between stages, restart, and verify finished
    stages are NOT recomputed: the curate lineage row's run_id survives the
    restart (proving the stage was skipped), and the restart completes the
    remaining stages — including the mix stage with its full knob set
    (benchmark decontamination + budget sampling)."""
    from latex_ocr_spark.operators.checkpoint import run_daily_pipeline
    from latex_ocr_spark.sources import build_corpus
    from tests.conftest import SF_DIR

    corpus = build_corpus(spark, SF_DIR)
    out = str(tmp_path_factory.mktemp("daily_kill"))
    run_with_checkpoint(spark, corpus, out, cfg=ModelConfig.small())

    # eval set to decontaminate against: a deterministic slice of the
    # flattened extraction output, materialized like a real benchmark dir
    bench_dir = str(tmp_path_factory.mktemp("bench")) + "/eval"
    flat = flat_text(spark.read.parquet(f"{out}/docs"))
    flat.filter(F.col("doc_id") % 7 == 3).write.parquet(bench_dir)
    # the curate stage upstream keeps lang == 'en' only; a generous en
    # budget keeps the sampling rate at 1.0 so the count assertions stay
    # deterministic (real sub-1.0 rates are covered by the gate row)
    mix_opts = {
        "benchmark_dir": bench_dir,
        "budgets": {"en": 1_000_000},
        "max_rep_ratio": 0.9,
        # LM fluency gate ON (top_frac < 1 so it actually prunes) — the
        # count assertions below compare against the lineage row, not
        # absolute counts, so they hold under the extra gate
        "lm_top_frac": 0.9,
        # integer factor → every surviving doc gets exactly 2 epochs, so
        # the per-doc assertions below stay deterministic
        "upsample_factors": {"en": 2.0},
    }

    with pytest.raises(RuntimeError, match="injected failure after stage curate"):
        run_daily_pipeline(spark, out, out, fail_after_stage="curate",
                           mix_opts=mix_opts)
    rows = _load_ckpt(out)
    curate_rows = [r for r in rows if r["status"] == "curated"]
    assert len(curate_rows) == 1
    assert not any(
        r["status"] in ("deduped", "budgeted", "mixed") for r in rows
    )
    first_run_id = curate_rows[0]["run_id"]

    results = run_daily_pipeline(spark, out, out, mix_opts=mix_opts)
    assert results["curate"] == "skipped"
    assert all(results[s] != "skipped" for s in ("dedup", "budget", "mix"))
    rows = _load_ckpt(out)
    assert [r["run_id"] for r in rows if r["status"] == "curated"] == [first_run_id]
    budgeted = spark.read.parquet(f"{out}/budgeted")
    assert budgeted.count() == results["budget"]["n_docs"] > 0
    mixed = spark.read.parquet(f"{out}/mixed")
    assert set(mixed.columns) == {
        "doc_id", "text", "lang", "n_copies", "epoch", "n_words"}
    assert mixed.count() == results["mix"]["n_docs"] > 0
    # upsampling held: factor 2.0 → every doc exactly twice, epochs {1, 2}
    assert mixed.count() == 2 * mixed.select("doc_id").distinct().count()
    assert {r.epoch for r in mixed.select("epoch").distinct().collect()} == {1, 2}
    # decontamination held: no surviving doc shares a 5-gram with the bench
    # slice (the planted slice IS in the corpus, so its docs must be gone)
    assert mixed.filter(F.col("doc_id") % 7 == 3).count() == 0

    # a second full run is a no-op: every stage already has its lineage row
    assert set(
        run_daily_pipeline(spark, out, out, mix_opts=mix_opts).values()
    ) == {"skipped"}


def test_daily_pipeline_new_partitions_mark_downstream_dirty(
    spark, tmp_path_factory
):
    """Extracting NEW partitions into an existing output dir must invalidate
    every downstream stage row: without the freshness guard the advertised
    daily pipeline silently serves a stale corpus (the stage rows exist, so
    resume skips them forever). After the guard, the stages rerun and the
    refreshed docs flow through to the budgeted output."""
    from latex_ocr_spark.operators.checkpoint import run_daily_pipeline
    from latex_ocr_spark.sources import build_corpus
    from tests.conftest import SF_DIR

    corpus = build_corpus(spark, SF_DIR)
    out = str(tmp_path_factory.mktemp("daily_dirty"))
    run_with_checkpoint(spark, corpus, out, cfg=ModelConfig.small(),
                        parts=PARTS[:2])
    first = run_daily_pipeline(spark, out, out)
    assert all(r != "skipped" for r in first.values())
    n_before = spark.read.parquet(f"{out}/budgeted").count()

    # same run, nothing new extracted → all downstream stages skip
    assert set(run_daily_pipeline(spark, out, out).values()) == {"skipped"}

    # a later run lands new partitions → every stage row is stale → rerun
    processed = run_with_checkpoint(
        spark, corpus, out, cfg=ModelConfig.small(), parts=PARTS[:4]
    )
    assert set(processed) == set(PARTS[2:4]), "new partitions must process"
    second = run_daily_pipeline(spark, out, out)
    assert all(r != "skipped" for r in second.values()), (
        f"downstream stages served stale output: {second}"
    )
    assert spark.read.parquet(f"{out}/budgeted").count() > n_before
