"""Ranking operators: salted == plain top-k; the distributed global-rank cap
(the large-cap dequeue path, whose placement-freezing caches the caller owns
through ``cache_registry``) == the naive orderBy+limit+window construction."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bravewebcrawler_spark.operators.ranking import salted_top_k, top_k_per_key
from bravewebcrawler_spark.plans.round import _global_rank_cap


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


def test_global_rank_cap_large_path(spark):
    df = _df(spark, 30000)
    order = [F.col("prio").desc(), F.col("h").asc(), F.col("id").asc()]
    cap = 25000  # > 20k threshold -> distributed range-rank path
    registry: list = []
    ranked = _global_rank_cap(df, order, cap, registry)
    got = {(r["id"], r["seq"]) for r in ranked.collect()}
    for cached in registry:
        cached.unpersist()
    w = Window.orderBy(*order)
    expect = {
        (r["id"], r["seq"])
        for r in df.withColumn("seq", (F.row_number().over(w) - 1).cast("int"))
        .where(F.col("seq") < cap)
        .collect()
    }
    assert got == expect and len(got) == cap
