"""Ranking / top-k operators (SURVEY.md §2.3 O1-O7, §2.6 W1-W2).

The reference's candidate priority sort + top-1 cascade
(search_common.py:184-187,272-275; brave_search.py:81-100) become window
ranking. At hot-key scale the plain per-key window is skew-prone, so
``salted_top_k`` runs a two-phase window: per (key, salt) prefix first —
bounding any single task's window to 1/salt_n of a hot key — then the exact
per-key re-rank over the ≤ salt_n * k survivors. Salting changes placement,
never rank (SURVEY.md risk R2).

``global_prefix`` is the exact global total order (W2) without a
single-partition window: a weighted exclusive prefix sum from a pid that
sampled bound keys fix, plus per-pid offsets. The crawl round cap (weight 1:
the prefix is the global rank) and sequence packing (weight = tokens) use it.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_key(df: DataFrame, keys: list[str], order: list[Column], k: int, rank_name: str = "rn") -> DataFrame:
    """Plain per-key top-k (row_number over a key-partitioned window)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_name, F.row_number().over(w)).where(F.col(rank_name) <= k)


def salted_top_k(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    k: int | Column,
    salt_col: Column,
    salt_n: int = 16,
    rank_name: str = "rn",
) -> DataFrame:
    """Skew-safe per-key top-k: salted prefix then exact re-rank.

    Correct because each key's true top-k is contained in the union of its
    per-salt top-k prefixes. ``salt_col`` must be a deterministic function of
    the row (e.g. ``pmod(url_hash, n)``) so reruns select identically.
    ``k`` is a constant or a per-row Column (constant within a key, e.g. a
    per-host budget); a key whose ``k`` is 0 keeps no row.
    """
    salted = df.withColumn("__salt", F.pmod(salt_col, F.lit(salt_n)))
    w1 = Window.partitionBy(*keys, "__salt").orderBy(*order)
    pre = salted.withColumn("__rn1", F.row_number().over(w1)).where(F.col("__rn1") <= k)
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        pre.withColumn(rank_name, F.row_number().over(w2))
        .where(F.col(rank_name) <= k)
        .drop("__salt", "__rn1")
    )


_MAX_PIDS = 64  # global_prefix pids; 1024 bounds overflow the generated code


def global_prefix(df: DataFrame, key: list[Column], weight: Column) -> DataFrame:
    """``df`` plus ``prefix`` (bigint): each row's exclusive running sum of
    ``weight`` over ``key`` sorted ascending, which must be a total order
    (ties would make the sum depend on placement). Weight 1 makes the prefix
    the 0-based global rank.

    1. count, then a seeded Bernoulli sample of about
       ``spark.sql.execution.rangeExchange.sampleSizePerPartition`` keys per
       pid; up to ``_MAX_PIDS - 1`` evenly spaced ones become literal bounds;
    2. ``__pid`` = the number of bounds ≤ ``struct(key)`` (a binary search;
       struct comparison is lexicographic) — deterministic, and it never
       decreases as the key grows, so the prefix is exact whatever the
       sample holds (the sample only sets the balance, risk R2);
    3. one tiny job: Σ weight per pid → exclusive offsets, a literal array;
    4. prefix = offset[pid] + the within-pid exclusive running sum, after the
       one hash exchange the ``partitionBy("__pid")`` window needs.

    Nothing is persisted; the three small jobs each read ``df`` again, so an
    expensive ``df`` should be persisted by the caller.
    """
    spark = df.sparkSession
    n_pids = min(int(spark.conf.get("spark.sql.shuffle.partitions")), _MAX_PIDS)
    per_pid = int(spark.conf.get("spark.sql.execution.rangeExchange.sampleSizePerPartition"))
    keys = df.select(*key)
    n = keys.count()
    sampled = keys.sample(fraction=min(1.0, per_pid * n_pids / n), seed=0).collect() if n else []
    # Python orders null and NaN unlike Spark, so keys holding one are never
    # bounds; their rows still get a pid from Spark's own comparison
    sample = sorted(tuple(r) for r in sampled if all(v is not None and v == v for v in r))
    picked = sorted({sample[i * len(sample) // n_pids] for i in range(1, n_pids)}) if sample else []
    bounds = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f"k{i}") for i, (v, f) in enumerate(zip(b, keys.schema))])
        for b in picked
    ]
    s = df.withColumn("__k", F.struct(*[c.alias(f"k{i}") for i, c in enumerate(key)]))
    s = s.withColumn("__pid", _count_le(F.col("__k"), bounds, 0, len(bounds))).drop("__k")
    sizes = dict(s.groupBy("__pid").agg(F.sum(weight)).collect())
    offsets = F.lit([0, *accumulate(int(sizes.get(p) or 0) for p in range(len(bounds)))])
    w = Window.partitionBy("__pid").orderBy(*key).rowsBetween(Window.unboundedPreceding, -1)
    local = F.coalesce(F.sum(weight).over(w), F.lit(0).cast("long"))
    return s.withColumn("prefix", offsets.cast("array<bigint>")[F.col("__pid")] + local).drop("__pid")


def _count_le(k: Column, bounds: list[Column], lo: int, hi: int) -> Column:
    """``lo`` + the number of ``bounds[lo:hi]`` (ascending) that are ≤ ``k``."""
    if lo == hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(k < bounds[mid], _count_le(k, bounds, lo, mid)).otherwise(_count_le(k, bounds, mid + 1, hi))


def top1_cascade(df: DataFrame, keys: list[str], tiers: list[tuple[str, Column]], order: list[Column]) -> DataFrame:
    """Reference O2/O3: prioritized top-1 with tier label.

    ``tiers`` = [(label, predicate)] in preference order (brave_search.py:81-100:
    .ch+match first, then other, then any). Rows are ranked by (tier, order);
    the per-key winner carries ``source_of_url``-style provenance
    (brave_processor.py:68-79).
    """
    tier_rank = F.lit(len(tiers))
    tier_label = F.lit("none")
    for i, (label, pred) in reversed(list(enumerate(tiers))):
        tier_rank = F.when(pred, F.lit(i)).otherwise(tier_rank)
        tier_label = F.when(pred, F.lit(label)).otherwise(tier_label)
    ranked = df.withColumn("tier_rank", tier_rank).withColumn("tier", tier_label)
    w = Window.partitionBy(*keys).orderBy(F.col("tier_rank").asc(), *order)
    return ranked.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def rank_preference(df: DataFrame, keys: list[str], rank_col: Column, preference: list[str], order: list[Column]) -> DataFrame:
    """Reference O6 (Wikidata claim rank, search_common.py:354-374): drop
    'deprecated', prefer earlier entries of ``preference``, then first."""
    score = F.lit(len(preference))
    for i, label in reversed(list(enumerate(preference))):
        score = F.when(rank_col == label, F.lit(i)).otherwise(score)
    w = Window.partitionBy(*keys).orderBy(score.asc(), *order)
    return (
        df.where(rank_col != "deprecated")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
