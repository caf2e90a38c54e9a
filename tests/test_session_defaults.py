"""Session defaults fit the host (session.default_driver_memory) —
checked without starting Spark."""

from __future__ import annotations

from mediaduplicatefinder_spark.session import default_driver_memory


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_heap_is_half_of_memtotal(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8g"
    # 15.3 GiB host: floor of half, in whole GiB
    assert default_driver_memory(_meminfo(tmp_path, 16_031_000)) == "7g"
    assert default_driver_memory(_meminfo(tmp_path, 128 * 1024 * 1024)) == "64g"


def test_heap_floor_and_fallback(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "1g"
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"
