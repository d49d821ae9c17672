"""The default driver heap fits the host (no JVM is started here)."""

from __future__ import annotations

from bravewebcrawler_spark.session import default_driver_mem

GIB = 1 << 30


def test_default_driver_mem_is_sixty_percent_of_ram_capped():
    assert default_driver_mem(15 * GIB) == "9216m"  # 60 % of a 15 GB host
    assert default_driver_mem(64 * GIB) == "32768m"  # the 32 g cap
    assert default_driver_mem(64 * GIB, cap_gb=16) == "16384m"  # executor mode
    assert default_driver_mem(GIB // 2) == "307m"
