"""Default driver heap sizing (session.default_heap); starts no JVM."""

from __future__ import annotations

from dbsurveyor_spark.session import default_heap, physical_ram_mb


def test_small_host_caps_at_half_and_quarter_of_ram():
    assert default_heap(16 * 1024) == ("8192m", "4096m")
    assert default_heap(15_000) == ("7500m", "3750m")


def test_large_host_keeps_48g_24g():
    assert default_heap(96 * 1024) == ("49152m", "24576m")
    assert default_heap(512 * 1024) == ("49152m", "24576m")


def test_this_host_heap_fits_in_ram():
    ram = physical_ram_mb()
    xmx, xms = (int(v.rstrip("m")) for v in default_heap(ram))
    assert 0 < xms <= xmx <= ram // 2
