"""Driver-heap sizing of ``session.get_spark`` (pure; starts no JVM)."""

from __future__ import annotations

from bop_consus_importing_rdf_spark.session import (
    MAX_HEAP_FRACTION,
    capped_driver_memory,
)

GIB = 1 << 30


def test_heap_that_fits_passes_through_verbatim():
    assert capped_driver_memory("8g", 15 * GIB) == "8g"
    assert capped_driver_memory("2g", 15 * GIB) == "2g"
    assert capped_driver_memory("4096m", 8 * GIB) == "4096m"
    assert capped_driver_memory("2048", 8 * GIB) == "2048"  # bare = MiB


def test_heap_past_the_fraction_is_capped_in_mib():
    # bench.py's 16g default on a 15 GiB host
    assert capped_driver_memory("16g", 15 * GIB) == "9216m"
    assert capped_driver_memory("16G", 15 * GIB) == "9216m"
    cap_mib = int(64 * 1024 * MAX_HEAP_FRACTION)
    assert capped_driver_memory("1t", 64 * GIB) == f"{cap_mib}m"
    assert capped_driver_memory("20000", 16 * GIB) == "9830m"


def test_cap_boundary_is_inclusive():
    assert capped_driver_memory("9216m", 15 * GIB) == "9216m"
    assert capped_driver_memory("9217m", 15 * GIB) == "9216m"
