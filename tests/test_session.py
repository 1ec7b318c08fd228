"""Session defaults that must fit the host (no Spark needed)."""

from __future__ import annotations

from latex_ocr_spark.session import driver_memory

GIB = 2**30


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
