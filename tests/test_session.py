"""Driver heap sizing (geo_spark.session.default_driver_memory) — no JVM."""

from geo_spark.session import default_driver_memory

_GIB = 1 << 30


def _meminfo(kb: int) -> str:
    return f"MemTotal:       {kb} kB\nMemFree:        1024 kB\nMemAvailable:   2048 kB\n"


def test_heap_is_45_percent_of_physical_memory():
    # 16 GiB host, no cgroup limit (v2 "max" / v1 no-limit sentinel / absent)
    for cg in ("max\n", "9223372036854771712\n", None):
        assert default_driver_memory(_meminfo(16 * 1024 * 1024), cg) == "7372m"


def test_heap_follows_a_smaller_cgroup_limit():
    assert default_driver_memory(_meminfo(64 * 1024 * 1024), f"{4 * _GIB}\n") == "1843m"
    # a cgroup limit above physical memory does not bind
    assert default_driver_memory(_meminfo(8 * 1024 * 1024), f"{32 * _GIB}\n") == "3686m"


def test_heap_is_capped_at_20g():
    assert default_driver_memory(_meminfo(256 * 1024 * 1024), "max") == "20480m"
    # without /proc/meminfo the cap is the default
    assert default_driver_memory(None, None) == "20480m"
