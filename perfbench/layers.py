"""Traced run: per-layer metrics for one workload.

A separate invocation (``run.py --trace 1``). It

1. sets up and warms a session with tracing off and times untraced passes;
2. restarts Spark in the same JVM with ``spark.eventLog`` on
   (zstd-compressed), warms it with one pass and runs one traced pass,
   recording spans around the calls into each layer;
3. times prefix jobs of the extraction plan into the noop sink;
4. replays the kernels in this process on a seeded media sample;
5. parses the event log offline and maps stages, tasks and UDF-node SQL
   metrics onto the module names listed in ``PER_LAYER``.

Layers that a workload does not run report 0. Spans (name, start, end,
parent, workload) are written to ``.perfbench_work/spans/`` at exit.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import subprocess
import time
import zlib
from collections import defaultdict

import numpy as np

# (name, unit, better) — BENCHMARK.json's per_layer list mirrors this
PER_LAYER = [
    ("kernels.png_decode_ms", "ms", "lower"),
    ("kernels.prepro_ms", "ms", "lower"),
    ("kernels.encode_ms", "ms", "lower"),
    ("kernels.conv_ms", "ms", "lower"),
    ("kernels.pool_ms", "ms", "lower"),
    ("kernels.attn_decode_ms", "ms", "lower"),
    ("kernels.detok_ms", "ms", "lower"),
    ("kernels.decode_steps_per_img", "count", "lower"),
    *[(f"kernels.conv{i}_gflops", "GFLOP/s", "higher") for i in range(1, 7)],
    ("kernels.images", "count", "higher"),
    ("inference.prepro_s", "s", "lower"),
    ("inference.prepro_python_s", "s", "lower"),
    ("inference.prepro_bytes_to_python", "bytes", "lower"),
    ("inference.prepro_bytes_from_python", "bytes", "lower"),
    ("inference.decode_s", "s", "lower"),
    ("inference.decode_python_s", "s", "lower"),
    ("inference.decode_bytes_to_python", "bytes", "lower"),
    ("inference.decode_shuffle_bytes", "bytes", "lower"),
    ("inference.decode_tasks", "count", "lower"),
    ("inference.decode_task_skew", "ratio", "lower"),
    ("inference.decode_core_busy_share", "share", "higher"),
    ("inference.python_worker_start_s", "s", "lower"),
    ("inference.python_worker_init_s", "s", "lower"),
    ("udf.overhead_share", "share", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.bytes_read", "bytes", "lower"),
    ("sources.rows_read", "count", "lower"),
    ("pipeline.explode_join_s", "s", "lower"),
    ("pipeline.media_spans", "count", "higher"),
    ("pipeline.fallback_spans", "count", "lower"),
    ("reassemble.s", "s", "lower"),
    ("reassemble.shuffle_bytes", "bytes", "lower"),
    ("checkpoint.extract_s", "s", "lower"),
    ("checkpoint.extract_part_s_p50", "s", "lower"),
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("checkpoint.lineage_rows", "count", "higher"),
    ("text_analysis.curate_stage_s", "s", "lower"),
    ("text_analysis.budget_stage_s", "s", "lower"),
    ("text_analysis.mix_stage_s", "s", "lower"),
    ("dedup.stage_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.pair_yield", "share", "higher"),
    ("dedup.shuffle_bytes", "bytes", "lower"),
    ("dedup.spill_bytes", "bytes", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.fetch_wait_s", "s", "lower"),
    ("spark.core_busy_share", "share", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("memory.jvm_peak_mb", "MB", "lower"),
    ("memory.python_peak_mb", "MB", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.weights_broadcast_s", "s", "lower"),
    ("session.warmup_pass_s", "s", "lower"),
    # the traced pass's wall time split over the jobs that blocked it
    ("pass.wall_s", "s", "lower"),
    ("pass.scan_join_s", "s", "lower"),
    ("pass.prepro_s", "s", "lower"),
    ("pass.decode_s", "s", "lower"),
    ("pass.reassemble_s", "s", "lower"),
    ("pass.other_jobs_s", "s", "lower"),
    ("pass.driver_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

# SQL plan node → engine layer, by the UDF function names the inference
# operator registers (operators/inference.py) and the reassembly aggregate
NODE_KINDS = (
    ("prepro", re.compile(r"^MapInPandas run\(")),
    ("decode", re.compile(r"^(FlatMapGroupsInPandas .*infer\(|MapInPandas infer_rows\()")),
    ("reassemble", re.compile(r"^ObjectHashAggregate\(keys=\[doc_id#\d+, part#\d+\], functions=\[collect_list\(")),
)
# task class precedence when a job's stages hold several
JOB_RANK = ("decode", "prepro", "reassemble", "scan_join")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _read_lines(path: str) -> list[str]:
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(
            ["zstd", "-dc", path], check=True, capture_output=True
        ).stdout
        text = out.decode("utf-8")
    else:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    # split on newlines only: str.splitlines also breaks on control
    # characters that plan strings may hold
    return [line for line in text.split("\n") if line]


def event_log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order (rolling v2 layout or
    single files)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if files:
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


class EventLog:
    """Jobs, tasks and SQL-metric → plan-node mapping of one application."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.acc_kind: dict[int, tuple[str, str]] = {}  # acc id → (kind, metric)
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"], "stages": e["Stage IDs"]
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(self._task(e))
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                self._walk(e["sparkPlanInfo"])
        stage_job = {s: j for j, v in self.jobs.items() for s in v["stages"]}
        for t in self.tasks:
            t["job"] = stage_job.get(t["stage"])
            t["kind"] = self._classify(t)

    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        lines: list[str] = []
        for path in event_log_files(log_dir):
            lines.extend(_read_lines(path))
        return cls(lines)

    def _walk(self, node: dict) -> None:
        simple = node.get("simpleString", "")
        for kind, pattern in NODE_KINDS:
            if pattern.search(simple):
                for m in node.get("metrics", []):
                    self.acc_kind[m["accumulatorId"]] = (kind, m["name"])
        for child in node.get("children", []):
            self._walk(child)

    @staticmethod
    def _task(e: dict) -> dict:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        return {
            "stage": e["Stage ID"],
            "launch": info["Launch Time"],
            "finish": info["Finish Time"],
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
            "bytes_read": m.get("Input Metrics", {}).get("Bytes Read", 0),
            "rows_read": m.get("Input Metrics", {}).get("Records Read", 0),
            "accums": [
                (a["ID"], float(a["Update"]))
                for a in info.get("Accumulables", [])
                if "Update" in a and _is_number(a["Update"])
            ],
        }

    def _classify(self, task: dict) -> str:
        kinds = {self.acc_kind[i][0] for i, _ in task["accums"] if i in self.acc_kind}
        for kind in ("decode", "prepro", "reassemble"):
            if kind in kinds:
                return kind
        return "scan_join"

    def window(self, start_s: float, end_s: float) -> tuple[dict, list[dict]]:
        """Jobs submitted and tasks launched inside [start, end] (epoch s)."""
        lo, hi = start_s * 1000.0, end_s * 1000.0
        jobs = {j: v for j, v in self.jobs.items() if lo <= v["submit"] <= hi}
        return jobs, [t for t in self.tasks if t["job"] in jobs]

    def udf_metric(self, tasks: list[dict], kind: str, metric: str) -> float:
        """Sum of one SQL metric over the UDF nodes of ``kind`` (timings in
        ms as Spark records them)."""
        total = 0.0
        for t in tasks:
            for acc, upd in t["accums"]:
                if self.acc_kind.get(acc) == (kind, metric):
                    total += upd
        return total


def _is_number(v) -> bool:
    try:
        float(v)
    except (TypeError, ValueError):
        return False
    return True


def _charge_ms(intervals: list[tuple[float, float, str]], lo: float, hi: float) -> dict[str, float]:
    """Split [lo, hi] over labelled intervals: each instant goes to the
    highest-ranked label (``JOB_RANK`` order, then "other_jobs") among the
    intervals covering it, and to "driver" when none does. The parts sum to
    hi - lo."""
    rank = {k: i for i, k in enumerate((*JOB_RANK, "other_jobs"))}
    cuts = sorted({lo, hi, *(min(max(x, lo), hi) for a, b, _ in intervals for x in (a, b))})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        live = [k for s, e, k in intervals if s <= a and e >= b]
        out[min(live, key=rank.__getitem__) if live else "driver"] += b - a
    return out


def spark_layers(ev: EventLog, start_s: float, end_s: float, cores: int) -> dict:
    """Per-layer Spark metrics for the jobs of one traced window."""
    jobs, tasks = ev.window(start_s, end_s)
    wall_ms = (end_s - start_s) * 1000.0
    by_kind = defaultdict(list)
    for t in tasks:
        by_kind[t["kind"]].append(t)
    out: dict[str, float] = {}
    dec = by_kind["decode"]
    durs = [t["finish"] - t["launch"] for t in dec]
    out["inference.prepro_s"] = sum(t["run_ms"] for t in by_kind["prepro"]) / 1e3
    out["inference.decode_s"] = sum(t["run_ms"] for t in dec) / 1e3
    for kind, key in (("prepro", "prepro"), ("decode", "decode")):
        out[f"inference.{key}_python_s"] = ev.udf_metric(tasks, kind, "time to run Python workers") / 1e3
        out[f"inference.{key}_bytes_to_python"] = ev.udf_metric(tasks, kind, "data sent to Python workers")
    out["inference.prepro_bytes_from_python"] = ev.udf_metric(
        tasks, "prepro", "data returned from Python workers"
    )
    out["inference.decode_shuffle_bytes"] = sum(t["shuffle_read"] for t in dec)
    out["inference.decode_tasks"] = len(dec)
    out["inference.decode_task_skew"] = (
        max(durs) / statistics.median(durs) if durs and statistics.median(durs) > 0 else 0.0
    )
    span = (max(t["finish"] for t in dec) - min(t["launch"] for t in dec)) if dec else 0
    out["inference.decode_core_busy_share"] = sum(durs) / (cores * span) if span else 0.0
    start_ms = init_ms = 0.0
    for kind in ("prepro", "decode"):
        start_ms += ev.udf_metric(tasks, kind, "time to start Python workers")
        init_ms += ev.udf_metric(tasks, kind, "time to initialize Python workers")
    out["inference.python_worker_start_s"] = start_ms / 1e3
    out["inference.python_worker_init_s"] = init_ms / 1e3
    re_tasks = by_kind["reassemble"]
    out["reassemble.s"] = sum(t["run_ms"] for t in re_tasks) / 1e3
    out["reassemble.shuffle_bytes"] = sum(t["shuffle_read"] for t in re_tasks)
    out["sources.bytes_read"] = sum(t["bytes_read"] for t in tasks)
    out["sources.rows_read"] = sum(t["rows_read"] for t in tasks)
    out["spark.executor_run_s"] = sum(t["run_ms"] for t in tasks) / 1e3
    out["spark.executor_cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
    out["spark.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1e3
    out["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    out["spark.fetch_wait_s"] = sum(t["fetch_wait_ms"] for t in tasks) / 1e3
    busy = sum(t["finish"] - t["launch"] for t in tasks)
    out["spark.core_busy_share"] = busy / (cores * wall_ms) if wall_ms else 0.0
    out["spark.jobs"] = len(jobs)
    out["spark.tasks"] = len(tasks)
    # wall attribution: each job is labelled with the most expensive task
    # class it ran; time covered by no job is driver-side (planning, collect)
    job_kind = {}
    for j in jobs:
        kinds = {t["kind"] for t in tasks if t["job"] == j}
        job_kind[j] = next((k for k in JOB_RANK if k in kinds), "other_jobs")
    charged = _charge_ms(
        [(v["submit"], v.get("end", v["submit"]), job_kind[j]) for j, v in jobs.items()],
        start_s * 1000.0, end_s * 1000.0,
    )
    for kind in (*JOB_RANK, "other_jobs", "driver"):
        out[f"pass.{kind}_s"] = charged[kind] / 1e3
    out["pass.wall_s"] = wall_ms / 1e3
    return out


def group_io(ev: EventLog, start_s: float, end_s: float) -> tuple[float, float]:
    """(shuffle bytes written, spill bytes) of the jobs in a window."""
    _, tasks = ev.window(start_s, end_s)
    return sum(t["shuffle_write"] for t in tasks), sum(t["spill"] for t in tasks)


# ---------------------------------------------------------------------------
# kernel replay
# ---------------------------------------------------------------------------


def replay_kernels(corpus: str, cfg, pipe, seed: int, n_images: int = 32) -> dict:
    """Single-process replay of the UDFs' kernels on a seeded media sample,
    grouped by (bucket, salt) and chunked by the pixel budget as the decode
    UDF does. BLAS is pinned to one thread by run.py. Times are per image."""
    import pyarrow.parquet as pq

    from latex_ocr_spark.fixtures.png import decode_png
    from latex_ocr_spark.fixtures.vocab import ID_END, ID_TO_TOK, N_TOK
    from latex_ocr_spark.kernels import encoder as enc_mod
    from latex_ocr_spark.kernels import image_ops
    from latex_ocr_spark.kernels.decode import AttentionDecoder
    from latex_ocr_spark.kernels.text_ops import decode_ids_to_latex
    from latex_ocr_spark.kernels.weights import init_weights

    media = pq.read_table(os.path.join(corpus, "media"), columns=["media_ref", "image"])
    media = media.to_pandas().sort_values("media_ref").reset_index(drop=True)
    rng = np.random.default_rng([seed, 29])
    idx = rng.choice(len(media), size=min(n_images, len(media)), replace=False)
    refs = [media["media_ref"][int(i)] for i in idx]
    pngs = [bytes(media["image"][int(i)]) for i in idx]

    weights = init_weights(cfg, N_TOK)
    dec = AttentionDecoder(weights, cfg, ID_END)
    t = defaultdict(float)
    conv_flops, conv_s = defaultdict(float), defaultdict(float)
    layer = [0]
    orig_conv, orig_pool = enc_mod.conv2d, enc_mod.max_pool

    def timed_conv(x, W, b, *a, **k):
        t0 = time.perf_counter()
        y = orig_conv(x, W, b, *a, **k)
        dt = time.perf_counter() - t0
        layer[0] += 1
        kh, kw, cin, cout = W.shape
        conv_flops[layer[0]] += 2.0 * y.shape[0] * y.shape[1] * y.shape[2] * cout * kh * kw * cin
        conv_s[layer[0]] += dt
        t["conv"] += dt
        return y

    def timed_pool(*a, **k):
        t0 = time.perf_counter()
        y = orig_pool(*a, **k)
        t["pool"] += time.perf_counter() - t0
        return y

    def lap(key, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        t[key] += time.perf_counter() - t0
        return out

    # the UDF's decode groups: (bucket, salt) with the prepro UDF's salt
    groups = defaultdict(list)
    for ref, png in zip(refs, pngs):
        rgb = lap("png", decode_png, png)
        canvas = lap("prepro", image_ops.preprocess, rgb, list(pipe.buckets))[0]
        groups[(canvas.shape, zlib.crc32(ref.encode()) % pipe.salt_buckets)].append(canvas)
    steps = 0
    enc_mod.conv2d, enc_mod.max_pool = timed_conv, timed_pool
    try:
        for ((ch, cw), _salt), group in sorted(groups.items()):
            per_batch = max(1, pipe.batch_pixel_budget // max(ch * cw, 1))
            for s in range(0, len(group), per_batch):
                batch = np.stack(group[s : s + per_batch])
                layer[0] = 0
                enc = lap("encode", enc_mod.encode, batch, weights, cfg)
                ids = lap("attn", dec.greedy_decode, enc)
                for row in ids:
                    ends = np.flatnonzero(row == ID_END)
                    steps += int(ends[0]) + 1 if len(ends) else len(row)
                    lap("detok", decode_ids_to_latex, row, ID_END, ID_TO_TOK)
    finally:
        enc_mod.conv2d, enc_mod.max_pool = orig_conv, orig_pool
    n = len(pngs)
    out = {
        "kernels.png_decode_ms": 1e3 * t["png"] / n,
        "kernels.prepro_ms": 1e3 * t["prepro"] / n,
        "kernels.encode_ms": 1e3 * t["encode"] / n,
        "kernels.conv_ms": 1e3 * t["conv"] / n,
        "kernels.pool_ms": 1e3 * t["pool"] / n,
        "kernels.attn_decode_ms": 1e3 * t["attn"] / n,
        "kernels.detok_ms": 1e3 * t["detok"] / n,
        "kernels.decode_steps_per_img": steps / n,
        "kernels.images": float(n),
    }
    for i in range(1, 7):
        out[f"kernels.conv{i}_gflops"] = (
            conv_flops[i] / conv_s[i] / 1e9 if conv_s[i] else 0.0
        )
    return out


# ---------------------------------------------------------------------------
# prefix jobs and daily-chain counters
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def prefix_layers(spark, corpus: str, pipe) -> dict:
    """Scan and explode+media-join prefixes of the extraction plan, each
    written to the noop sink; a layer's time is its prefix minus the one
    before it."""
    from pyspark.sql import functions as F

    from latex_ocr_spark.operators.inference import fits_some_bucket
    from latex_ocr_spark.pipeline import explode_spans
    from latex_ocr_spark.sources import read_docs, read_media

    docs = read_docs(spark, corpus)
    spans = explode_spans(docs)
    joined = (
        spans.filter(F.col("kind") == "media")
        .select("doc_id", "part", "offset", "media_ref")
        .join(read_media(spark, corpus).select("media_ref", "image", "height", "width"), "media_ref")
    )
    scan = _median_time(lambda: _noop(docs))
    explode_join = _median_time(lambda: _noop(joined))
    return {
        "sources.scan_s": scan,
        "pipeline.explode_join_s": explode_join - scan,
        "pipeline.media_spans": float(joined.count()),
        "pipeline.fallback_spans": float(
            joined.filter(~fits_some_bucket(pipe, F.col("height"), F.col("width"))).count()
        ),
    }


def pair_counts(spark, out_dir: str) -> dict:
    """Candidate and verified near-dup pairs over the traced pass's curated
    output, with the dedup stage's parameters."""
    from latex_ocr_spark.operators import dedup as D

    curated = spark.read.parquet(os.path.join(out_dir, "curated"))
    cands, sh, banded = D.minhash_band_candidates(curated, n=3)
    n_cand = cands.count()
    sh.unpersist()
    banded.unpersist()
    n_ver = D.minhash_lsh_pairs(curated, n=3, threshold=0.5).count()
    spark.catalog.clearCache()
    return {
        "dedup.candidate_pairs": float(n_cand),
        "dedup.verified_pairs": float(n_ver),
        "dedup.pair_yield": n_ver / n_cand if n_cand else 0.0,
    }


def _dir_bytes(path: str) -> float:
    return float(sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ))


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def traced_run(bench, seconds: float) -> dict:
    import checks
    from run import RssSampler, Tracer, log, warm_up

    tracer = Tracer()
    span = tracer.span
    t_run = time.time()
    with span("setup"):
        bench.setup()
        bench.prepare_checks()
    layer = dict(bench.layer)
    with span("warmup_passes"):
        warm = warm_up(bench)
    layer["session.warmup_pass_s"] = warm[0]
    with span("untraced_passes"):
        untraced = [w for w in bench.timed_passes(seconds, len(warm)) if w == w]

    # traced session: same JVM (its JIT is warm already), event log on, a
    # new SparkContext and Python workers warmed by one pass
    bench.event_log_dir = os.path.join(bench.run_dir, "eventlog")
    os.makedirs(bench.event_log_dir, exist_ok=True)
    with span("traced_session_setup"):
        bench.stop_session()
        bench.start_session()
        bench.prime()
    with span("traced_warmup_pass"):
        warm_up(bench, 1)
    with RssSampler() as rss, span("traced_pass"):
        traced = bench.run_pass(91, tracer)
    by_name = {s["name"]: s for s in tracer.spans}
    t0, t1 = by_name["traced_pass"]["start"], by_name["traced_pass"]["end"]
    layer["memory.jvm_peak_mb"] = rss.peak_jvm
    layer["memory.python_peak_mb"] = rss.peak_python
    layer["trace.overhead_s"] = traced - statistics.median(untraced)

    daily = bench.workload == "daily_job"
    if daily:
        out = bench.daily_out
        lineage = checks.lineage_rows(out)
        layer["checkpoint.extract_part_s_p50"] = statistics.median(
            r["wall_s"] for r in lineage if r["status"] == "done"
        )
        layer["checkpoint.lineage_rows"] = float(len(lineage))
        layer["checkpoint.bytes_written"] = _dir_bytes(os.path.join(out, "docs"))
        with span("dedup.pair_counts"):
            layer.update(pair_counts(bench.spark, out))
    bench.drop_pass_output()
    with span("prefix_jobs"):
        layer.update(prefix_layers(bench.spark, bench.corpus, bench.pipe))
    bench.stop_session()  # flushes and closes the event log

    with span("kernels.replay"):
        layer.update(replay_kernels(bench.corpus, bench.cfg, bench.pipe, bench.seed))

    with span("event_log.parse"):
        ev = EventLog.load(bench.event_log_dir)
        extract = by_name.get("operators.checkpoint.run_with_checkpoint") or by_name["traced_pass"]
        layer.update(spark_layers(ev, extract["start"], extract["end"], bench.cores))
        # session-wide totals over the whole traced pass
        totals = spark_layers(ev, t0, t1, bench.cores)
        layer.update({k: v for k, v in totals.items() if k.startswith(("spark.", "sources."))})
        if daily:
            layer["checkpoint.extract_s"] = extract["end"] - extract["start"]
            for name, key in (
                ("operators.text_analysis.curate", "text_analysis.curate_stage_s"),
                ("operators.text_analysis.budget", "text_analysis.budget_stage_s"),
                ("operators.text_analysis.mix", "text_analysis.mix_stage_s"),
                ("operators.dedup.stage", "dedup.stage_s"),
            ):
                layer[key] = by_name[name]["end"] - by_name[name]["start"]
            d = by_name["operators.dedup.stage"]
            layer["dedup.shuffle_bytes"], layer["dedup.spill_bytes"] = group_io(
                ev, d["start"], d["end"]
            )

    images = layer.get("pipeline.media_spans", 0.0)
    py_s = layer.get("inference.prepro_python_s", 0.0) + layer.get("inference.decode_python_s", 0.0)
    kernel_ms = sum(
        layer[k] for k in ("kernels.png_decode_ms", "kernels.prepro_ms",
                           "kernels.encode_ms", "kernels.attn_decode_ms", "kernels.detok_ms")
    )
    layer["udf.overhead_share"] = 1.0 - kernel_ms * images / 1e3 / py_s if py_s else 0.0

    spans_dir = os.path.join(bench.work, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    for s in tracer.spans:
        s["workload"] = bench.workload
    with open(os.path.join(spans_dir, f"{bench.workload}-{bench.seed}-{int(t_run)}.json"), "w") as f:
        json.dump(tracer.spans, f, indent=1)
    log("traced pass %.2fs, untraced median %.2fs" % (traced, statistics.median(untraced)))
    return {
        name: {"value": float(layer.get(name, 0.0)), "unit": unit}
        for name, unit, _ in PER_LAYER
    }
