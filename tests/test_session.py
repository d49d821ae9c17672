"""The default driver heap fits the host, and a JVM that fails to start
names it (no JVM is started here)."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from bravewebcrawler_spark.session import default_driver_mem, get_spark

GIB = 1 << 30


def test_default_driver_mem_is_sixty_percent_of_ram_capped():
    assert default_driver_mem(15 * GIB) == "9216m"  # 60 % of a 15 GB host
    assert default_driver_mem(64 * GIB) == "32768m"  # the 32 g cap
    assert default_driver_mem(64 * GIB, cap_gb=16) == "16384m"  # executor mode
    assert default_driver_mem(GIB // 2) == "307m"


def test_jvm_start_failure_names_the_heap(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "123g")

    def exited(self):
        raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", exited)
    with pytest.raises(RuntimeError, match="123g.*SPARK_DRIVER_MEM"):
        get_spark("no-jvm", master="local[1]")
