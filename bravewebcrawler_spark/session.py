"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on (runtime
re-planning + skew-join handling), Arrow transport for pandas UDFs, UTC session
timezone (oracle comparisons), shuffle partitions sized to cores rather than the
200 default. On a 1000-executor cluster the same builder is used with
``master`` unset (picked up from spark-submit) and ``shuffle.partitions``
scaled to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Task slots for a local session: ``SPARK_GRAFT_CPUS`` when set, else
    the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem(phys_bytes: int, cap_gb: int = 32) -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: ~60 % of the host's
    physical RAM, at most ``cap_gb``. The heap is pre-committed (``-Xms``
    equals it, see below), so it must leave the host room for the Python
    workers and the OS; a fixed 32 g fails to start the JVM on a 15 GB host."""
    return f"{min(cap_gb << 10, phys_bytes * 6 // 10 >> 20)}m"


def get_spark(
    app_name: str = "bravewebcrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[host_cpus()]`` so the same entry points
    serve tests, bench at two parallelism levels, and a real spark-submit
    deployment (where master is injected externally).
    """
    cpus = host_cpus()
    n_exec = int(os.environ.get("SPARK_GRAFT_EXECUTORS", "0"))
    if master is None:
        if n_exec > 0:
            # Multi-executor mode: N SEPARATE executor JVMs on this host
            # (Spark's local-cluster). This is the faithful stand-in for the
            # north rule's "N vs 4N executors": each executor has its own
            # heap and GC, so scaling does not funnel every task thread's
            # allocation rate through one shared heap the way local[K] does.
            # cores/exec fixed at 2 (a common small-executor shape); memory
            # per executor from SPARK_GRAFT_EXEC_MEM_MB (default 12288).
            mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "12288"))
            master = f"local-cluster[{n_exec},2,{mem_mb}]"
            cpus = n_exec * 2
        else:
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Default ~1x cores locally; SPARK_GRAFT_SHUFFLE_MULT raises it (2-3x
        # cores gives multi-wave stages whose stragglers rebalance — what a
        # real cluster runs; on one pass 2-3x total executor cores).
        if master.startswith("local-cluster["):
            n = cpus
        else:
            n = int(master[master.index("[") + 1 : -1]) if "[" in master else cpus
        mult = int(os.environ.get("SPARK_GRAFT_SHUFFLE_MULT", "1"))
        shuffle_partitions = max(n * mult, 8)

    # Resolve the driver heap BEFORE composing JVM options: -Xms below must
    # match whatever spark.driver.memory finally is, including an extra_conf
    # override (tests run an 8 g driver; a larger -Xms there would abort the
    # JVM with "Initial heap size > maximum heap size").
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"), 16 if n_exec > 0 else 32
    )
    if extra_conf and "spark.driver.memory" in extra_conf:
        driver_mem = extra_conf["spark.driver.memory"]
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-optimize (coalesce/size) the output partitioning of
        # plans feeding a persist: off (the default) a cached intermediate
        # freezes its shuffle at the static partition count, so a tiny
        # cached table (LSH band/candidate lists: ~100k rows over 128
        # partitions) fans every downstream union/join into hundreds of
        # near-empty tasks. With AQE sizing the cache, partition count
        # follows DATA size at any scale — the same rule a 100-TB cache
        # wants (measured at sf1.0/local[32]: the 4-query refined-dedup
        # chain 89s -> 60s; results unaffected — partitioning only).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime-sized intermediates (the crawl's per-round key deltas)
        # convert to broadcast only when genuinely small; a bigger delta
        # keeps the parallel shuffle join instead of paying a driver-serial
        # multi-MB broadcast build every round. Statically-known small dims
        # still broadcast under the 64 MB planner threshold above.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        # In executor mode the driver runs no tasks — keep it small so
        # driver + N executor heaps fit the host together.
        .config("spark.driver.memory", driver_mem)
        # Headroom over the 1g default: a CollectLimit probe's per-task
        # results can transiently exceed 1g before the driver truncates at
        # the limit (seen with the >1M-row simhash pair list at sf1.0); the
        # driver heap above is sized past this.
        .config("spark.driver.maxResultSize", "8g")
        # Throughput GC: G1's pause-time goal thrashes under 32 task threads'
        # allocation rate (measured: 226s -> 102s on the crawl bench at
        # local[32]); batch analytics prefers ParallelGC throughput.
        #
        # Round-6 (measured via -Xlog:gc*): with no -Xms the heap starts at
        # ~2 GB and ParallelGC pays a FULL "Ergonomics" GC at every growth
        # step — 30 full GCs across two dedup queries, with task-visible
        # pauses up to 19 s once the heap is large (jvmGcTime was 19.4 s of a
        # 21.4 s task). Pre-committing the heap (-Xms = -Xmx) removes the
        # growth-triggered full GCs, and MetaspaceSize=512m removes the
        # "Metadata GC Threshold" full GCs that codegen class-loading fires
        # early in every session. The 32 g cap (not 90 g) keeps any
        # remaining full collection proportionally short — full-GC cost
        # scales with heap — while holding the 8 g maxResultSize headroom
        # with room to spare (heavy-4 query A/B at sf1.0: 47-72 s band ->
        # 38-46 s).
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -Xms{driver_mem} -XX:MetaspaceSize=512m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if master.startswith("local-cluster["):
        # Executor JVMs are separate processes: same GC policy as the driver,
        # and the engine package on the Python workers' path (the production
        # analog is spark-submit --py-files; here the repo dir suffices).
        # spark.executor.memory MUST be set explicitly: the master string's
        # third field is only the WORKER's offered memory; executors would
        # otherwise request the 1g default and OOM on the heavy stages.
        worker_mem_mb = master[len("local-cluster[") : -1].split(",")[2].strip()
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config(
                "spark.executor.extraJavaOptions",
                # same pre-committed-heap rationale as the driver options
                # above, sized to THIS executor's memory
                f"-XX:+UseParallelGC -Xms{worker_mem_mb}m -XX:MetaspaceSize=256m",
            )
            .config("spark.executor.memory", f"{worker_mem_mb}m")
            .config("spark.executorEnv.PYTHONPATH", repo_root)
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        # the usual cause: the pre-committed heap does not fit the host
        raise RuntimeError(
            f"the Spark driver JVM exited at start with driver heap {driver_mem} "
            "(pre-committed by -Xms); set SPARK_DRIVER_MEM to a smaller heap, "
            "e.g. SPARK_DRIVER_MEM=4g"
        ) from exc
    spark.sparkContext.setLogLevel("WARN")
    return spark
