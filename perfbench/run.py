"""Extraction benchmark: timed passes of the engine's public entry points.

    python3 perfbench/run.py --workload extract_dense --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. Each invocation is one process with one
Spark session at a time (local[nproc]). It sets up the session (timed),
generates its input from the seed (perfbench/gen.py, untimed), warms the
session with untimed passes (``WARMUP_PASSES``), then runs one timed pass and
starts more while less than ``--seconds`` have elapsed. Every pass is
checked (perfbench/checks.py). The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (perfbench/layers.py). See perfbench/README.md for the workloads, the
metric definitions and what each layer should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

# Fixed driver heap with a fixed young generation: the engine's default
# (48g) does not fit a 15 GB host, and a heap that G1 grows, shrinks and
# sizes from measured pause times makes the JVM's RSS follow host speed.
# The heap is not pre-touched, so RSS follows the pages the program
# touches (perfbench/README.md has the measurements).
DRIVER_MEM = "3g"
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m"
# Untimed passes before timing, per workload. A fresh JVM's passes get
# faster pass after pass: the first is 25-60% slower than the second, and
# each later one a few per cent faster than the one before. Two warm-up
# passes of daily_job would not fit the run-time budget (perfbench/README.md,
# "Warm-up").
WARMUP_PASSES = {"extract_dense": 2, "daily_job": 1}
WORK = ".perfbench_work"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": load,
    }


def process_tree(root: int | None = None) -> list[tuple[int, str, float]]:
    """(pid, name, RSS MB) of ``root`` (default: this process) and all its
    descendants, read from /proc."""
    procs: dict[int, tuple[int, str, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # exited between listdir and open
        rss_kb = int(fields.get("VmRSS", "0 kB").split()[0])
        procs[int(name)] = (int(fields["PPid"]), fields["Name"].strip(), rss_kb / 1024.0)
    keep, frontier = [], [root or os.getpid()]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            keep.append((pid, procs[pid][1], procs[pid][2]))
        frontier.extend(p for p, v in procs.items() if v[0] == pid)
    return keep


class RssSampler:
    """Samples the RSS of this process's tree (driver Python, its JVM and
    the JVM's Python workers) from /proc every ``period`` seconds while
    active. Peaks are kept for the whole tree and split by JVM / Python."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_total = self.peak_jvm = self.peak_python = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        tree = process_tree()
        jvm = sum(mb for _, name, mb in tree if name == "java")
        py = sum(mb for _, name, mb in tree if name != "java")
        self.peak_total = max(self.peak_total, jvm + py)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, py)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


class Bench:
    """One workload in one process: session, input, setups and passes."""

    def __init__(self, workload: str, seed: int, root: str):
        from latex_ocr_spark.config import ModelConfig, PipelineConfig

        self.workload, self.seed = workload, seed
        self.work = os.path.join(root, WORK)
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.cfg, self.pipe = ModelConfig.bench(), PipelineConfig()
        self.spark = self.weights_bc = None
        self.corpus = ""
        self.event_log_dir: str | None = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.digests: set = set()
        self.stage_rows: set = set()
        self.layer: dict[str, float] = {}
        self.passes: list[float] = []  # timed pass walls, NaN when failed

    # -- session ---------------------------------------------------------
    def start_session(self):
        from latex_ocr_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} "
                f"{JVM_HEAP_OPTS} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.event_log_dir:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            })
        self.spark = get_spark("perfbench", cores=self.cores, extra=extra)
        return self.spark

    def stop_session(self) -> None:
        if self.weights_bc is not None:
            self.weights_bc.destroy()
            self.weights_bc = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def prime(self) -> float:
        """broadcast_weights + decode_groups_estimate on a live session."""
        from latex_ocr_spark import pipeline

        t0 = time.perf_counter()
        self.weights_bc = pipeline.broadcast_weights(self.spark, self.cfg)
        self.layer["session.weights_broadcast_s"] = time.perf_counter() - t0
        # the estimate is cached per process; clear it so every setup pays it
        pipeline._GROUPS_EST_CACHE.clear()
        pipeline.decode_groups_estimate(self.spark, self.corpus, self.pipe)
        return time.perf_counter() - t0

    def setup(self) -> float:
        """Launch the JVM and the session, broadcast the weights, generate
        the input (untimed, in this session) and prime the decode-group
        estimate. Returns the time from before ``get_spark`` until a pass
        may start, without the generation."""
        import gen

        os.makedirs(os.path.join(self.run_dir, "tmp"), exist_ok=True)
        t0 = time.perf_counter()
        self.start_session()
        self.layer["session.start_s"] = time.perf_counter() - t0
        t_gen = time.perf_counter()
        self.corpus = gen.generate(
            self.spark, self.workload, self.seed, os.path.join(self.work, "inputs")
        )
        log(f"input generated in {time.perf_counter() - t_gen:.1f}s")
        return self.layer["session.start_s"] + self.prime()

    def collect_heap(self) -> None:
        """Full collection of the JVM heap (untimed), so that the timed
        window starts from the same heap state instead of wherever the
        warm-up left the collector."""
        self.spark._jvm.System.gc()

    # -- passes ----------------------------------------------------------
    def prepare_checks(self) -> None:
        import checks

        self.n_docs, self.n_media = checks.input_counts(self.corpus)
        if self.workload == "daily_job":
            return
        sample = checks.media_sample(self.corpus, self.seed, self.pipe.buckets)
        self.sample_docs = sorted(set(sample.values()))
        self.oracle = checks.oracle_texts(self.corpus, sorted(sample), self.cfg, self.pipe)
        self.expected = checks.expected_keys(self.spark, self.corpus)

    def run_pass(self, index: int, tracer: Tracer | None = None) -> float:
        """One checked pass; returns its wall time (NaN when it failed)."""
        self.attempted += 1
        try:
            if self.workload == "daily_job":
                dt, problems = self._daily_pass(index, tracer)
            else:
                dt, problems = self._extract_pass(tracer)
        except Exception:  # a failed pass is a failed operation, not a crash
            traceback.print_exc()
            dt, problems = float("nan"), ["pass raised"]
        finally:
            if self.spark is not None:
                self.spark.catalog.clearCache()
        if problems:
            self.failed += 1
            self.problems.extend(f"pass {index}: {p}" for p in problems)
        return dt

    def _extract_pass(self, tracer) -> tuple[float, list[str]]:
        import checks
        from latex_ocr_spark.pipeline import extract_documents

        t0 = time.perf_counter()
        with _span(tracer, "pipeline.extract_documents"):
            docs = extract_documents(
                self.spark, self.corpus, self.cfg, self.pipe, weights_bc=self.weights_bc
            )
            out = checks.consume(docs, self.sample_docs)
        dt = time.perf_counter() - t0
        problems = checks.check_extraction(out, self.expected, self.oracle)
        self.digests.add(checks.digest(out["full"]))
        if len(self.digests) > 1:
            problems.append("output digest differs from an earlier pass")
        return dt, problems

    def _daily_pass(self, index: int, tracer) -> tuple[float, list[str]]:
        import checks
        from latex_ocr_spark.operators import checkpoint as C

        out = os.path.join(self.run_dir, f"daily-{index}")
        stages = (
            ("operators.checkpoint.run_with_checkpoint",
             lambda: C.run_with_checkpoint(self.spark, self.corpus, out, cfg=self.cfg)),
            ("operators.text_analysis.curate",
             lambda: C.run_curate_stage(self.spark, out, out)),
            ("operators.dedup.stage", lambda: C.run_dedup_stage(self.spark, out)),
            ("operators.text_analysis.budget", lambda: C.run_budget_stage(self.spark, out)),
            ("operators.text_analysis.mix", lambda: C.run_mix_stage(self.spark, out)),
        )
        rows = {}
        t0 = time.perf_counter()
        for name, call in stages:
            with _span(tracer, name):
                rows[name] = call()
        dt = time.perf_counter() - t0
        self.daily_out = out
        counts = tuple(
            (name, r["n_docs"]) for name, r in rows.items() if isinstance(r, dict)
        )
        problems = checks.check_daily(
            checks.lineage_rows(out), self.n_docs, self.n_media, dict(counts)
        )
        self.stage_rows.add(counts)
        if len(self.stage_rows) > 1:
            problems.append("stage row counts differ from an earlier pass")
        return dt, problems

    def timed_passes(self, seconds: float, first_index: int) -> list[float]:
        """One pass; more start while less than ``seconds`` have elapsed."""
        walls: list[float] = []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < seconds:
            walls.append(self.run_pass(first_index + len(walls)))
            self.drop_pass_output()
        return walls

    def drop_pass_output(self) -> None:
        for name in os.listdir(self.run_dir):
            if name.startswith("daily-"):
                shutil.rmtree(os.path.join(self.run_dir, name), ignore_errors=True)

    def close(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait until
        every child process has ended."""
        from pyspark import SparkContext

        self.stop_session()
        # disconnect py4j first, so that Python objects still holding JVM
        # references do not try to free them in a dead JVM at exit
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
        children = [pid for pid, _, _ in process_tree()[1:]]
        for pid in children:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 20
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                _reap(pid)
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                _reap(pid)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _reap(pid: int) -> None:
    """Collect ``pid``'s exit status if it is our child (else a no-op)."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass


class Tracer:
    """Spans (name, start, end, parent) kept in memory; the parent is the
    span open when this one started."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append(
                {"name": name, "start": t0, "end": time.time(), "parent": parent}
            )


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def warm_up(bench: Bench, passes: int | None = None) -> list[float]:
    """Untimed passes (JIT, Python workers, broadcast loads), by default
    the workload's ``WARMUP_PASSES``, then a heap collection."""
    if passes is None:
        passes = WARMUP_PASSES[bench.workload]
    walls = []
    for i in range(passes):
        walls.append(bench.run_pass(i))
        bench.drop_pass_output()
    bench.collect_heap()
    return walls


def timed_run(bench: Bench, seconds: float) -> dict:
    """One cold setup, the warm-up, then the timed passes."""
    t0 = time.perf_counter()
    setup = bench.setup()
    bench.prepare_checks()
    t1 = time.perf_counter()
    warm = warm_up(bench)
    with RssSampler() as rss:
        walls = bench.timed_passes(seconds, len(warm))
    bench.passes = walls
    ok = [w for w in walls if w == w]
    log(f"setup+input {t1 - t0:.1f}s setup {setup:.3f}s "
        f"warm-up {[round(w, 3) for w in warm]} passes {[round(w, 3) for w in walls]} "
        f"rss jvm {rss.peak_jvm:.0f} python {rss.peak_python:.0f}")
    if not ok:
        raise RuntimeError("no timed pass succeeded")
    return {
        "docs_per_s": metric(bench.n_docs * len(ok) / sum(ok), "docs/s"),
        "pass_s_p50": metric(statistics.median(ok), "s"),
        "setup_s": metric(setup, "s"),
        "peak_rss_mb": metric(rss.peak_total, "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    # One BLAS thread per process, so local[nproc] uses no more than nproc
    # cores; set before numpy is imported here or in any child process.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    import gen

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "latex_ocr_spark")):
        log(f"no latex_ocr_spark package under {root}: run from a checkout root")
        return 2
    gen.use_checkout(root)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable

    host = host_info()
    bench = Bench(args.workload, args.seed, root)
    os.environ["TMPDIR"] = os.path.join(bench.run_dir, "tmp")
    log(f"{args.workload} seed={args.seed} trace={args.trace} host={json.dumps(host)}")
    try:
        if args.trace:
            import layers

            metrics = layers.traced_run(bench, args.seconds)
        else:
            metrics = timed_run(bench, args.seconds)
    finally:
        bench.close()
    correct = bench.failed == 0 and not bench.problems
    for p in bench.problems:
        log(f"check failed: {p}")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "correct": correct, "metrics": metrics,
              "passes": len(bench.passes),
              "pass_s": [w if w == w else None for w in bench.passes]}
    with open(os.path.join(bench.work, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
