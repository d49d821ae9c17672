"""Ranking operators: salted == plain top-k (constant and per-key Column
``k``); the distributed global prefix sum (the dequeue's round cap and
sequence packing; rows placed by sampled bound keys, nothing cached) == the
naive single-window running sum, at any partition count and across a
dropped cache."""

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


_KEYS = {
    "prio": lambda: [-F.col("prio"), F.col("h"), F.col("id")],
    # 97 leading values: bounds share k0 and differ only in the string
    "string": lambda: [F.col("key"), F.concat(F.lit("u"), F.col("id").cast("string"))],
}


def _naive_prefix(df, key, weight) -> set:
    w = Window.orderBy(*key).rowsBetween(Window.unboundedPreceding, -1)
    return {
        (r["id"], r["prefix"])
        for r in df.withColumn("prefix", F.coalesce(F.sum(weight).over(w), F.lit(0))).collect()
    }


@pytest.mark.parametrize(
    "n, weight, key, partitions",
    [
        (30000, "1", "prio", None),
        (30000, "h % 512", "prio", None),
        (0, "1", "prio", None),
        (1, "h % 512", "prio", None),
        (30000, "h % 512", "string", None),
        (30000, "1", "prio", "1024"),
    ],
    ids=["rank", "tokens", "empty", "one_row", "string_tiebreak", "1024_partitions"],
)
def test_global_prefix_equals_naive_window(spark, n, weight, key, partitions):
    df, weight, key = _df(spark, n), F.expr(weight), _KEYS[key]()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if partitions:
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
        got = {(r["id"], r["prefix"]) for r in global_prefix(df, key, weight).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert got == _naive_prefix(df, key, weight) and len(got) == n


def test_global_prefix_is_placement_free(spark):
    # nothing freezes the placement: collecting again after the caches are
    # dropped and the partition count changed gives the same prefixes
    df, key, weight = _df(spark, 20000), _KEYS["prio"](), F.expr("h % 512")
    out = global_prefix(df, key, weight).select("id", "prefix")
    first = sorted(out.collect())
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        again = sorted(out.collect())
        rebuilt = sorted(global_prefix(df, key, weight).select("id", "prefix").collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert first == again == rebuilt
    assert {tuple(r) for r in first} == _naive_prefix(df, key, weight)
