"""SparkSession factory with the engine's standard configs.

Local mode stands in for the cluster (TESTDATA.md); the configs are the ones
that matter at 1000-executor scale too: AQE + skew-join handling, Arrow
batching for the pandas-UDF inference stage, shuffle partitions sized to
parallelism rather than the 200 default.
"""

from __future__ import annotations

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
    controls placement)."""
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
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
