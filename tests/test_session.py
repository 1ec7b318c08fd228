"""Session defaults that must fit the host: the driver heap, the Python
workers' BLAS kernel and their daemon. Only the last three tests start
Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest

from latex_ocr_spark.session import _cpu_flags, driver_memory, loaded_blas_core, worker_blas_core

GIB = 2**30
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# flag sets of three hosts: an AVX-512 Xeon (family 6, model 207), an
# AVX2-only one and an SSE-only one
AVX512_FLAGS = (
    "fpu sse sse2 ssse3 fma sse4_1 sse4_2 avx avx2 avx512f avx512dq avx512ifma "
    "avx512cd avx512bw avx512vl avx_vnni avx512_bf16 avx512vbmi avx512_vnni"
).split()
AVX2_FLAGS = "fpu sse sse2 ssse3 fma sse4_1 sse4_2 avx avx2".split()
SSE_FLAGS = "fpu sse sse2 ssse3 sse4_1 sse4_2".split()


def test_driver_memory_is_60_percent_of_host_floored_to_gib():
    assert driver_memory(None, 16 * GIB) == "9g"
    assert driver_memory(None, 64 * GIB) == "38g"


def test_driver_memory_env_value_wins():
    assert driver_memory("3g", 16 * GIB) == "3g"
    assert driver_memory("512m", None) == "512m"


def test_driver_memory_never_below_1g():
    assert driver_memory(None, GIB) == "1g"
    assert driver_memory(None, 0) == "1g"
    assert driver_memory(None, None) == "1g"


def test_worker_blas_core_upgrades_a_misdetected_avx512_host():
    assert worker_blas_core("Prescott", AVX512_FLAGS) == "SkylakeX"
    for loaded in ("SkylakeX", "Cooperlake", "SapphireRapids"):
        assert worker_blas_core(loaded, AVX512_FLAGS) is None, loaded


def test_worker_blas_core_sets_nothing_outside_the_measured_case():
    # AVX2-only and SSE-only hosts: no pick was measured for them
    assert worker_blas_core("Prescott", AVX2_FLAGS) is None
    assert worker_blas_core("Prescott", SSE_FLAGS) is None
    # another fallback core, an unknown one, another architecture's
    for loaded in ("Nehalem", "Haswell", "Unknown", "NeoverseN1"):
        assert worker_blas_core(loaded, AVX512_FLAGS) is None, loaded
    # a numpy not built on OpenBLAS reports no core
    assert worker_blas_core(None, AVX512_FLAGS) is None


def worker_core(spark) -> str:
    """The OpenBLAS core a one-row ``mapInPandas`` worker loaded, or ''."""

    def corename(batches):
        from latex_ocr_spark.session import loaded_blas_core

        for _ in batches:
            yield pd.DataFrame({"core": [loaded_blas_core() or ""]})

    return spark.range(1).mapInPandas(corename, "core string").collect()[0].core


def worker_zip_state(spark) -> tuple[str, int, int]:
    """From a one-row ``mapInPandas`` worker: the daemon module it was
    forked from, how many zip directories one ``importlib.invalidate_caches()``
    re-read there, and how many zipimporters its path cache holds."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        read, archives = zipimport._read_directory, []

        def counting(archive):
            archives.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        daemon = getattr(sys.modules["__main__"].__spec__, "name", "")
        for _ in batches:
            yield pd.DataFrame(
                {"daemon": [daemon], "rereads": [len(archives)], "importers": [importers]}
            )

    r = spark.range(1).mapInPandas(
        probe, "daemon string, rereads int, importers int"
    ).collect()[0]
    return r.daemon, r.rereads, r.importers


def test_python_workers_skip_unchanged_zip_directories(spark):
    """The workers run ``worker_daemon``: PySpark's per-task
    ``importlib.invalidate_caches()`` re-reads no zip directory whose archive
    is unchanged (the stock daemon on CPython 3.11 re-reads about 16)."""
    daemon, rereads, importers = worker_zip_state(spark)
    assert daemon == "latex_ocr_spark.worker_daemon"
    assert importers >= 1  # pyspark.zip is on the workers' path
    assert rereads == 0


def test_python_workers_load_the_core_the_rule_picks(spark):
    """Every UDF (the decode UDF included) runs in a Python worker whose
    OpenBLAS loaded the core ``worker_blas_core`` picks, or the driver's own
    core when it picks none."""
    core = worker_core(spark)
    if not core:
        pytest.skip("the worker's OpenBLAS core name cannot be read")
    driver = loaded_blas_core()
    assert core == (worker_blas_core(driver, _cpu_flags()) or driver)


def test_caller_extra_blas_core_wins():
    """A caller's own ``spark.executorEnv.OPENBLAS_CORETYPE`` and
    ``spark.python.daemon.module`` are what the built session holds and what
    its workers run; its own ``spark.sql.codegen.cache.maxEntries`` is the
    session's too. Runs in a subprocess: executor env and the daemon are
    fixed when the SparkContext starts."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from latex_ocr_spark.session import get_spark
        from tests.test_session import worker_core, worker_zip_state
        s = get_spark("blas-extra", cores=1, shuffle_partitions=1,
                      extra={"spark.executorEnv.OPENBLAS_CORETYPE": "Prescott",
                             "spark.python.daemon.module": "pyspark.daemon",
                             "spark.sql.codegen.cache.maxEntries": "50"})
        conf = s.sparkContext.getConf()
        print("CODEGEN", s.conf.get("spark.sql.codegen.cache.maxEntries"))
        print("CONF", conf.get("spark.executorEnv.OPENBLAS_CORETYPE"))
        print("WORKER", worker_core(s) or "-")
        print("DAEMON_CONF", conf.get("spark.python.daemon.module"))
        print("DAEMON", worker_zip_state(s)[0])
        s.stop()
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script, REPO], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    keys = ("CONF ", "WORKER ", "DAEMON_CONF ", "DAEMON ", "CODEGEN ")
    lines = dict(ln.split(" ", 1) for ln in out.splitlines() if ln.startswith(keys))
    assert lines["CONF"] == "Prescott"
    assert lines["WORKER"] in ("Prescott", "-")
    assert lines["DAEMON_CONF"] == lines["DAEMON"] == "pyspark.daemon"
    assert lines["CODEGEN"] == "50"
