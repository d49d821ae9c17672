"""Ranking / top-k operators (SURVEY.md §2.3 O1-O7, §2.6 W1-W2).

The reference's candidate priority sort + top-1 cascade
(search_common.py:184-187,272-275; brave_search.py:81-100) become window
ranking. At hot-key scale the plain per-key window is skew-prone, so
``salted_top_k`` runs a two-phase window: per (key, salt) prefix first —
bounding any single task's window to 1/salt_n of a hot key — then the exact
per-key re-rank over the ≤ salt_n * k survivors. Salting changes placement,
never rank (SURVEY.md risk R2).

``global_prefix`` is the exact global total order (W2) without a
single-partition window: a weighted exclusive prefix sum from range
partitions plus per-partition offsets. The crawl round cap (weight 1: the
prefix is the global rank) and sequence packing (weight = tokens) both use it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


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


def global_prefix(
    df: DataFrame,
    order: list[Column],
    weight: Column,
    *,
    cache_registry: list,
) -> DataFrame:
    """``df`` plus ``prefix`` (bigint): each row's exclusive running sum of
    ``weight`` over ``order``, which must be a total order (ties would make
    the sum depend on placement). Weight 1 makes the prefix the 0-based
    global rank.

    1. range partitions on ``order``, sorted within each partition;
    2. one tiny job: Σ weight per partition to the driver → exclusive
       partition offsets as a literal map;
    3. prefix = offset[partition] + the within-partition exclusive running
       sum (a window partitioned by partition id — parallel, not global).

    The persist between (1) and (2)/(3) is correctness, not perf: the range
    partitioner re-samples its boundaries on every execution, so the
    sizes job and the final consumer could otherwise see rows in different
    partitions. MEMORY_AND_DISK spills instead of evicting; an evicted and
    recomputed table would re-sample, and ANSI ``element_at`` below then
    fails with MAP_KEY_DOES_NOT_EXIST (a dropped cache, never bad input).
    Offsets come from actual partition contents, so the prefix does not
    depend on where the boundaries fall (risk R2). The range-partitioned
    table goes into ``cache_registry``; the caller releases it once the
    result is consumed. The range-sample pass reads ``df`` once more, so an
    expensive ``df`` should be persisted by the caller.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    s = (
        df.repartitionByRange(n_part, *order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cache_registry.append(s)
    sizes = dict(s.groupBy("__pid").agg(F.sum(weight)).collect())
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += int(sizes[pid])
    # literal map, not a broadcast join: a broadcast build is driver-serial
    # time, while this ~n_part-entry map evaluates inside the codegen stage
    off_map = F.create_map(*[F.lit(v) for pair in (offsets or [(0, 0)]) for v in pair])
    w = Window.partitionBy("__pid").orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    local = F.coalesce(F.sum(weight).over(w), F.lit(0).cast("long"))
    return s.withColumn("prefix", F.element_at(off_map, F.col("__pid")) + local).drop("__pid")


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
