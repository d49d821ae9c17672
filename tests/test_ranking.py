"""Ranking operators: salted == plain top-k (constant and per-key Column
``k``); the distributed global prefix sum (the dequeue's round cap and
sequence packing, whose placement-freezing cache the caller owns through
``cache_registry``) == the naive single-window running sum."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bravewebcrawler_spark.operators.ranking import global_prefix, salted_top_k, top_k_per_key


def _df(spark, n=30000):
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % 97).alias("key"),
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .withColumn("prio", (F.col("h") % 1000).cast("double"))
    )


def test_salted_equals_plain_topk(spark):
    df = _df(spark, 20000)
    order = [F.col("prio").desc(), F.col("id").asc()]
    plain = {(r["key"], r["id"], r["rn"]) for r in top_k_per_key(df, ["key"], order, 5).collect()}
    salted = {
        (r["key"], r["id"], r["rn"])
        for r in salted_top_k(df, ["key"], order, 5, salt_col=F.col("h"), salt_n=8).collect()
    }
    assert plain == salted and len(plain) == 97 * 5


def test_salted_equals_plain_topk_column_k(spark):
    # a per-key budget as in the dequeue; every 7th key has budget 0
    df = _df(spark, 20000).withColumn("budget", F.col("key") % 7)
    order = [F.col("prio").desc(), F.col("id").asc()]
    k = F.col("budget")
    plain = {(r["key"], r["id"], r["rn"]) for r in top_k_per_key(df, ["key"], order, k).collect()}
    salted = {
        (r["key"], r["id"], r["rn"])
        for r in salted_top_k(df, ["key"], order, k, salt_col=F.col("h"), salt_n=8).collect()
    }
    assert plain == salted
    assert len(plain) == sum(key % 7 for key in range(97))
    assert not {key for key, _, _ in plain if key % 7 == 0}


@pytest.mark.parametrize(
    "n, weight",
    [(30000, "1"), (30000, "h % 512"), (0, "1")],
    ids=["rank", "tokens", "empty"],
)
def test_global_prefix_equals_naive_window(spark, n, weight):
    df, weight = _df(spark, n), F.expr(weight)
    order = [F.col("prio").desc(), F.col("h").asc(), F.col("id").asc()]
    registry: list = []
    got = {(r["id"], r["prefix"]) for r in global_prefix(df, order, weight, cache_registry=registry).collect()}
    for cached in registry:
        cached.unpersist()
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    expect = {
        (r["id"], r["prefix"])
        for r in df.withColumn("prefix", F.coalesce(F.sum(weight).over(w), F.lit(0))).collect()
    }
    assert got == expect and len(got) == n
