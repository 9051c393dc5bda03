"""Driver-heap default of the session factory."""
from __future__ import annotations

from gdal_spark.session import default_driver_memory


def _meminfo(tmp_path, text):
    p = tmp_path / "meminfo"
    p.write_text(text)
    return str(p)


def test_driver_memory_is_half_of_ram(tmp_path):
    info = _meminfo(tmp_path, "MemTotal:       16456384 kB\nMemFree:  1 kB\n")
    assert default_driver_memory(info) == "8035m"


def test_driver_memory_capped_at_24g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: 134217728 kB\n")) == "24576m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "24g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 1 kB\n")) == "24g"
