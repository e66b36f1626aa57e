"""Driver heap sizing from the host's memory (no Spark session needed)."""

import pytest

from geospatial_object_matching_spark.session import driver_heap

GIB_KB = 1 << 20  # /proc/meminfo reports kB


def meminfo(total_kb: int) -> str:
    return (
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1000 kB\n"
        "MemAvailable:    2000 kB\n"
    )


@pytest.mark.parametrize(
    "total_kb, cgroup_max, want",
    [
        # 15.7 GiB host, no cgroup limit: half of MemTotal
        (16_479_424, None, "8046m"),
        (16_479_424, "max\n", "8046m"),
        # a cgroup limit below MemTotal wins
        (16_479_424, f"{4 << 30}\n", "2048m"),
        # a cgroup limit above MemTotal does not raise the heap
        (16_479_424, f"{64 << 30}\n", "8046m"),
        # clamped to [1g, 24g]
        (1 * GIB_KB, None, "1024m"),
        (256 * GIB_KB, None, "24576m"),
        (256 * GIB_KB, f"{1 << 30}\n", "1024m"),
    ],
)
def test_driver_heap_is_half_of_host_memory(total_kb, cgroup_max, want):
    assert driver_heap(meminfo(total_kb), cgroup_max) == want


def test_driver_heap_unknown_host_gets_cap():
    assert driver_heap("", None) == "24g"
    assert driver_heap("", "max\n") == "24g"
    assert driver_heap("", f"{6 << 30}\n") == "3072m"
