"""The default session fits the host: its heap and its task slots, and a
JVM that fails to start names the heap (no JVM is started here)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from bravewebcrawler_spark.session import default_driver_mem, get_spark, host_cpus

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


def test_default_master_uses_the_host_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_EXECUTORS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_MULT", raising=False)
    built = {}

    def record(self):
        built.update(self._options)
        raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    with pytest.raises(RuntimeError):
        get_spark("no-jvm")
    n = len(os.sched_getaffinity(0))
    assert host_cpus() == n
    assert built["spark.master"] == f"local[{n}]"
    assert built["spark.sql.shuffle.partitions"] == str(max(n, 8))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == 3
