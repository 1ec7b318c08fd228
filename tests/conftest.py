from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from latex_ocr_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    s = get_spark("latex_ocr_spark-tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    """Synthesized interleaved corpus derived from the sf0.001 documents."""
    from latex_ocr_spark.sources import build_corpus

    return build_corpus(spark, SF_DIR)
