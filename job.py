"""Production extraction job — the spark-submit entry point (north rule:
"run via spark-submit --py-files on a multi-executor cluster").

    zip -r latex_ocr_spark.zip latex_ocr_spark
    spark-submit --master <yarn|k8s://...> --py-files latex_ocr_spark.zip \
        job.py --input /data/corpus --output /data/extracted \
        [--parts 0 1 2] [--profile reference|bench|small] [--decoding beam_search]

Resumable by default: partitions already marked done in the output's
checkpoint/lineage table are anti-joined away on restart; each partition's
output is written with dynamic partition overwrite so retries are idempotent
(latex_ocr_spark/operators/checkpoint.py; reference precedents F4 + epoch
resume, /root/reference/model/utils/image.py:238-245, model/base.py:33-48).

Local smoke run (no cluster):
    python job.py --input <corpus_dir> --output /tmp/out --local --profile small

Stages (--stage): ``extract`` (default, per-partition resumable), then the
corpus-wide downstream stages ``curate`` (language/quality gates + exact
fingerprint dedup → <out>/curated), ``dedup`` (MinHash-LSH near-dup
dedup_apply → <out>/deduped), ``budget`` (token counts → <out>/budgeted),
``mix`` (repetition gate + optional LM fluency gate + optional benchmark
decontamination + optional per-language token-budget sampling →
<out>/mixed; see --benchmark / --budgets / --max-rep-ratio /
--lm-top-frac); ``all`` chains extract → curate → dedup →
budget → mix through one output dir with per-stage resume — a run killed
between stages restarts where it stopped (each stage reads the previous
stage's materialized parquet, writes idempotently, then appends its lineage
row), and extracting NEW partitions into an existing output dir marks every
downstream stage dirty so the refreshed corpus propagates instead of stale
stage outputs being served.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from latex_ocr_spark.config import ModelConfig
from latex_ocr_spark.operators.checkpoint import completed_parts, run_with_checkpoint
from latex_ocr_spark.session import get_spark


def build_config(profile: str, decoding: str | None) -> ModelConfig:
    cfg = {
        "reference": ModelConfig.reference,
        "bench": ModelConfig.bench,
        "small": ModelConfig.small,
    }[profile]()
    if decoding:
        cfg = ModelConfig.from_dict({**cfg.to_dict(), "decoding": decoding})
    return cfg


def _parse_kv(spec: str, cast) -> dict:
    """'en=10000,fr=4000' → {'en': cast('10000'), 'fr': cast('4000')}."""
    return {k: cast(v) for k, v in (kv.split("=", 1) for kv in spec.split(","))}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--input", required=True, help="corpus dir (docs/ + media/)")
    ap.add_argument("--output", required=True, help="output dir (docs/ + _checkpoint/)")
    ap.add_argument("--stage", default="extract",
                    choices=["extract", "curate", "dedup", "budget", "mix",
                             "all"],
                    help="extract: resumable per-partition extraction (default). "
                         "curate: read an extraction OUTPUT dir as --input, "
                         "write --output/curated. dedup / budget / mix: read "
                         "the previous stage's output under --output, write "
                         "--output/deduped / --output/budgeted / "
                         "--output/mixed. all: the full daily pipeline "
                         "through one output dir, skipping stages whose "
                         "lineage row is present AND newer than the last "
                         "extraction (per-stage resume with a downstream-"
                         "dirty guard; --no-resume reruns everything).")
    ap.add_argument("--parts", type=int, nargs="*", default=None,
                    help="explicit partition list (default: all, minus completed)")
    ap.add_argument("--profile", default="reference",
                    choices=["reference", "bench", "small"])
    ap.add_argument("--decoding", default=None, choices=["greedy", "beam_search"])
    ap.add_argument("--format", default=None, choices=["parquet", "iceberg"],
                    help="corpus table format (default: parquet, or "
                         "LATEX_OCR_TABLE_FORMAT)")
    ap.add_argument("--benchmark", default=None,
                    help="mix stage: parquet dir of eval-set documents "
                         "(doc_id, text) to decontaminate against; unset "
                         "skips decontamination")
    ap.add_argument("--budgets", default=None,
                    help="mix stage: per-language word budgets as "
                         "'en=10000,fr=4000'; unset skips budget sampling")
    ap.add_argument("--max-rep-ratio", type=float, default=0.3,
                    help="mix stage: drop docs whose bigram repetition "
                         "ratio exceeds this (Gopher-style gate)")
    ap.add_argument("--lm-top-frac", type=float, default=None,
                    help="mix stage: keep this fraction of docs by bigram-"
                         "LM cross-entropy (CCNet-style fluency gate, "
                         "corpus-derived percentile threshold); unset "
                         "skips the LM gate")
    ap.add_argument("--upsample", default=None,
                    help="mix stage: per-language repeat factors as "
                         "'en=2.5,zh=1.25' — each stratum replicated f× in "
                         "expectation at (doc_id, epoch) grain; unset "
                         "skips upsampling")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore the checkpoint table and reprocess everything")
    ap.add_argument("--local", action="store_true",
                    help="pin local[N] master (tests); default inherits spark-submit")
    ap.add_argument("--cores", type=int, default=None, help="cores for --local")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    if args.format:
        from latex_ocr_spark.sources import TABLE_FORMAT_ENV

        # read sites (read_docs/read_media) pick the format up from the env,
        # so it needs no plumbing through run_with_checkpoint
        os.environ[TABLE_FORMAT_ENV] = args.format

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(
        "latex-ocr-extract",
        cores=args.cores,
        master="local" if args.local else None,
    )
    try:
        if args.no_resume:
            from latex_ocr_spark.operators.checkpoint import clear_checkpoint

            clear_checkpoint(spark, args.output)
        if args.stage in ("extract", "all"):
            before = completed_parts(spark, args.output)
            processed = run_with_checkpoint(
                spark,
                args.input,
                args.output,
                cfg=build_config(args.profile, args.decoding),
                parts=args.parts,
            )
            print(
                f"done: {len(processed)} partition(s) processed this run "
                f"({len(before)} already complete, skipped); output at "
                f"{os.path.join(args.output, 'docs')}"
            )
        if args.stage != "extract":
            from latex_ocr_spark.operators.checkpoint import (
                DOWNSTREAM_STAGES,
                run_daily_pipeline,
            )

            if args.stage == "all":
                # chain every downstream stage, skipping completed ones
                stages, resume = DOWNSTREAM_STAGES, not args.no_resume
                extracted = args.output
            else:
                # an explicitly requested stage always reruns (idempotent
                # overwrite); curate reads the extraction dir via --input,
                # dedup/budget read their predecessor under --output
                stages, resume = (args.stage,), False
                extracted = args.input
            mix_opts = {"max_rep_ratio": args.max_rep_ratio}
            if args.lm_top_frac is not None:
                mix_opts["lm_top_frac"] = args.lm_top_frac
            if args.benchmark:
                mix_opts["benchmark_dir"] = args.benchmark
            if args.budgets:
                mix_opts["budgets"] = _parse_kv(args.budgets, int)
            if args.upsample:
                mix_opts["upsample_factors"] = _parse_kv(args.upsample, float)
            results = run_daily_pipeline(
                spark, extracted, args.output, stages=stages, resume=resume,
                mix_opts=mix_opts,
            )
            for stage, row in results.items():
                if row == "skipped":
                    print(f"{stage}: already complete, skipped (resume)")
                else:
                    print(
                        f"{stage}: {row['n_docs']} docs"
                        + (f", {row['n_tokens']} tokens" if row["n_tokens"] else "")
                        + f" in {row['wall_s']}s; output at "
                        f"{os.path.join(args.output, row['status'])}"
                    )
        return 0
    finally:
        # getOrCreate may have handed us a caller's session (embedded use /
        # tests) — only tear down a session this job itself created
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
