"""The session factory's defaults, checked without starting a JVM."""

from __future__ import annotations

import pytest

from big_data_analytics_machine_learning_poc_spark.session import default_driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "physical, heap",
    [
        (int(15.7 * GIB), "5g"),  # a third, rounded down to whole GiB
        (32 * GIB, "10g"),
        (2 * GIB, "1g"),  # never below 1g
        (512 * GIB, "24g"),  # never above 24g
    ],
)
def test_driver_heap_is_a_third_of_physical_memory(physical, heap):
    assert default_driver_memory(physical) == heap


def test_driver_heap_default_fits_physical_memory():
    import os

    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory()[:-1]) * GIB <= max(physical // 2, GIB)
