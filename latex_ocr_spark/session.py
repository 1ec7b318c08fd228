"""SparkSession factory with the engine's standard configs.

Local mode stands in for the cluster (TESTDATA.md); the configs are the ones
that matter at 1000-executor scale too: AQE + skew-join handling, Arrow
batching for the pandas-UDF inference stage, shuffle partitions sized to
parallelism rather than the 200 default.

Local masters also undo one measured BLAS misdetection
(``worker_blas_core``): an OpenBLAS that does not know an AVX-512 CPU falls
back to its SSE3 ``Prescott`` kernels, and the decode UDF's convs and LSTM
matmuls then run at a fifth of peak (SCALE.md). The Python workers get
``SkylakeX`` instead,
through ``spark.executorEnv.OPENBLAS_CORETYPE``; the driver's numpy (the
oracles, ``predict_single``) keeps the kernel it loaded. Under
``master=None`` the driver cannot see the executors' CPUs, so nothing is set
and a cluster sets the variable in spark-defaults itself.

Local masters also start the Python workers from ``worker_daemon``, which
stops PySpark's per-task ``importlib.invalidate_caches()`` from re-reading
pyspark.zip's, py4j's and the spark-core jar's zip directories on every task
(0.17-0.24 s per task on CPython 3.11; SCALE.md, pathology 7). The workers
must be able to import this package, as every engine UDF already requires;
where they cannot, the first UDF fails with the daemon's
``ModuleNotFoundError``. Under ``master=None`` nothing is set: a cluster sets
``spark.python.daemon.module=latex_ocr_spark.worker_daemon`` in
spark-defaults and makes the package importable by the executors' Python at
start-up (site-packages or the executors' ``PYTHONPATH``): the daemon imports
it before any task has run.
"""

from __future__ import annotations

import ctypes
import os

from pyspark.sql import SparkSession


def driver_memory(env_value: str | None, mem_total_bytes: int | None) -> str:
    """``spark.driver.memory``: an explicit ``SPARK_DRIVER_MEM`` wins;
    otherwise 60% of physical memory floored to whole GiB (local mode runs the
    executors and the Python workers beside this heap, so it must leave them
    room), and never below Spark's own 1g default."""
    if env_value:
        return env_value
    gib = int(0.6 * (mem_total_bytes or 0)) // 2**30
    return f"{max(gib, 1)}g"


def _mem_total_bytes() -> int | None:
    """MemTotal from /proc/meminfo, or None where that file does not exist."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024  # reported in kB
    except OSError:
        pass
    return None


# The one case measured: numpy's OpenBLAS falls back to its SSE3 Prescott
# kernels on a CPU it does not know, and the CPU has AVX-512. SkylakeX, not
# Cooperlake: SkylakeX decoded the same ids as Prescott (the kernel the
# driver-side oracles ran) on the sf0.001 images and the extract_dense
# corpora, while Cooperlake (and Haswell) each flipped 1 of 82 beam decodes.
_AVX512 = frozenset({"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"})


def worker_blas_core(loaded_core: str | None, cpu_flags) -> str | None:
    """``OPENBLAS_CORETYPE`` for the Python workers: ``SkylakeX`` when the
    driver's OpenBLAS loaded ``Prescott`` and ``cpu_flags`` (``/proc/cpuinfo``
    names) have AVX-512; otherwise None. Other cores and CPUs were not
    measured, so the rule leaves them alone."""
    if loaded_core == "Prescott" and _AVX512 <= set(cpu_flags):
        return "SkylakeX"
    return None


def loaded_blas_core() -> str | None:
    """Core name of the OpenBLAS this process's numpy loaded (e.g.
    ``Prescott``), or None when numpy's BLAS is not OpenBLAS or the loaded
    libraries cannot be listed (no ``/proc/self/maps``)."""
    import numpy  # noqa: F401  (loads its BLAS)

    try:
        with open("/proc/self/maps") as f:
            paths = sorted({ln.split()[-1] for ln in f if "openblas" in ln.lower()})
    except OSError:
        return None
    for path in paths:
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode().strip()
    return None


def _cpu_flags() -> set[str]:
    """The first processor's flags from /proc/cpuinfo (empty where that file
    does not exist)."""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("flags"):
                    return set(line.split(":", 1)[1].split())
    except OSError:
        pass
    return set()


def get_spark(
    app: str = "latex_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    master: str | None = "local",
) -> SparkSession:
    """``master='local'`` (default) pins local[cores] for tests/bench;
    ``master=None`` leaves the master to spark-submit (cluster deployments —
    job.py passes None so ``spark-submit --master yarn/k8s --py-files ...``
    controls placement). Local masters set the workers'
    ``OPENBLAS_CORETYPE`` (``worker_blas_core``) and their daemon module
    (``worker_daemon``); an ``extra`` entry for either wins."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = SparkSession.builder
    if master == "local":
        b = b.master(f"local[{cores}]")
    elif master is not None:
        b = b.master(master)
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config(
            "spark.driver.memory",
            driver_memory(os.environ.get("SPARK_DRIVER_MEM"), _mem_total_bytes()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Small fixture tables pack into 1-2 splits under openCostInBytes
        # bin-packing, starving the scan-attached pandas-UDF stages; ask the
        # planner for at least one split per core (harmless at 100 TB where
        # file count >> cores, load-bearing for small partitions of a pruned
        # read).
        .config("spark.sql.files.minPartitionNum", str(cores))
    )
    if master is not None and master.startswith("local"):
        core = worker_blas_core(loaded_blas_core(), _cpu_flags())
        if core is not None:
            b = b.config("spark.executorEnv.OPENBLAS_CORETYPE", core)
        b = b.config("spark.python.daemon.module", "latex_ocr_spark.worker_daemon")
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
