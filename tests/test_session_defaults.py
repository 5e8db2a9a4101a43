"""Session defaults that depend on the host: the driver heap."""

from __future__ import annotations

import sys

from pe_firm_investment_database_pipeline_spark.session import (
    default_driver_memory,
    host_memory_bytes,
)

GIB = 2**30


def test_driver_heap_is_half_of_host_ram():
    assert default_driver_memory(int(15.7 * GIB)) == "7g"
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(5 * GIB) == "2g"


def test_driver_heap_is_clamped_to_1g_and_16g():
    assert default_driver_memory(GIB) == "1g"
    assert default_driver_memory(GIB // 2) == "1g"
    assert default_driver_memory(32 * GIB) == "16g"
    assert default_driver_memory(512 * GIB) == "16g"


def test_driver_heap_without_a_known_host_size():
    assert default_driver_memory(None) == "16g"


def test_host_memory_is_read_on_linux():
    if sys.platform.startswith("linux"):
        assert host_memory_bytes() > 0
