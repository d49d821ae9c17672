"""Custom stateful streaming operator via applyInPandasWithState.

The crawl engine's host token-bucket is batch state (plans/round.py); this is
the genuinely-streaming form of per-key state the north rule's streaming
surface calls for: a running per-user aggregate (event count, value sum, max)
maintained across micro-batches with explicit GroupState — the pattern that
would carry per-host politeness state in a continuous (non-round) crawler.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bravewebcrawler_spark.streaming.events import events_stream

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("m", T.DoubleType()),
    ]
)


def _update(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
        if len(pdf):
            m = max(m, float(pdf["value"].max()))
    state.update((n, s, m))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "sum_value": [s], "max_value": [m]})


def running_user_stats_stream(spark: SparkSession, events_path: str) -> DataFrame:
    stream = events_stream(spark, events_path)
    # Project to the two columns the state function touches BEFORE the
    # key shuffle: the full event row carries a ~100-byte JSON props string
    # plus three more unused columns, all of which would otherwise cross the
    # state-store shuffle AND the Arrow/Python boundary per micro-batch
    # (optimization guide §4.1 — pass only what the function needs).
    return stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _update, OUTPUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


def run_stateful_to_memory(spark: SparkSession, events_path: str, name: str = "stateful_out") -> DataFrame:
    # State-store instance count == shuffle partitions AT STREAM START, and
    # each instance pays per-batch fixed cost (store init + one Arrow
    # exchange with a Python worker). Half the cores, floor 8 — enough
    # instances to spread the per-key Python work across workers without
    # paying 32 near-idle store inits on a small keyspace (measured with the
    # pre-sized heap, best-of-2: sf1.0/15k keys 8 -> 3.6s, 16 -> 2.6s,
    # 32 -> 2.75s; sf0.1/1.5k keys 8/16/32 all 1.3-1.8s). Scales with the
    # cluster, not a local constant. The override is scoped — streaming
    # queries capture the conf at start; restored before post-processing.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(max(8, spark.sparkContext.defaultParallelism // 2)))
    try:
        q = (
            running_user_stats_stream(spark, events_path)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # update mode emits one row per key per batch; the LAST emission per key
    # is the final running value (single finite source => one batch here,
    # but dedupe defensively by taking max n_events per key)
    out = spark.sql(f"select * from {name}")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return out.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")
