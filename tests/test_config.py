"""Driver heap sizing when SPARK_GRAFT_DRIVER_MEM is unset."""

from __future__ import annotations

from fuzzycat_spark.config import default_driver_memory

GB = 1 << 30


def test_driver_heap_is_a_quarter_of_a_small_host():
    # 15 GB host: a quarter leaves the rest for off-heap buffers and the
    # Python workers (a 32g heap here got the JVM OOM-killed)
    assert default_driver_memory(15 * GB) == "3840m"


def test_driver_heap_is_capped_on_a_large_host():
    assert default_driver_memory(256 * GB) == "32768m"


def test_driver_heap_has_a_floor():
    assert default_driver_memory(2 * GB) == "1024m"


def test_driver_heap_defaults_to_this_host():
    mb = int(default_driver_memory()[:-1])
    assert 1024 <= mb <= 32768
