"""Sequence packing — concatenate-and-chunk assignment of documents to
fixed-token-budget training sequences.

A training-data pipeline's last step is packing tokenized documents into
fixed-length sequences (budget = model context length). The assignment is a
weighted prefix sum over a deterministic global order: each document starts
at offset = Σ tokens of all documents before it, and lands in
pack_id = offset div budget at position offset mod budget.

The global order is (u(id), id) with u = the portable md5-60bit hash — a
deterministic shuffle that decorrelates document length/topic from pack
position (standard practice before chunking), and reproducible across runs.

Scale shape (same two-phase pattern as plans/round.py _global_rank_cap —
no global-order window, which would be a single partition):

  1. repartitionByRange on the order key, sortWithinPartitions;
  2. one TINY job: Σ tokens per partition (one row per partition to the
     driver) → exclusive partition offsets as a literal map;
  3. offset = map[pid] + within-partition exclusive running sum (window
     partitioned by pid — parallel, not global).

The persist between (1) and (2)/(3) is correctness, not perf:
repartitionByRange re-samples its range boundaries per execution, so an
unpersisted plan could place rows in different partitions for the sizes job
vs the final consumer. Offsets are computed from actual partition contents,
so the result is independent of where the sampled boundaries fall — the
same determinism argument as _global_rank_cap (SURVEY risk R2).

All arithmetic is exact bigint (``div``/``%``, never double division —
offsets exceed 2^53 long before 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bravewebcrawler_spark.functions.text import portable_hash64


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    *,
    cache_registry: list,
) -> DataFrame:
    """Assign each row a ``pack_id`` / ``pack_offset`` under the
    concatenate-and-chunk contract described in the module docstring.

    Output: input columns + ``pack_id`` (bigint), ``pack_offset`` (bigint —
    the document's start offset within its starting pack). A document longer
    than ``budget`` keeps the pack it starts in (it spans into the next
    ones), exactly like the flat token-stream view.

    The range-partitioned table is persisted into ``cache_registry``; the
    caller releases it once the result is consumed.
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    s = (
        df.withColumn("__u", portable_hash64(F.col(id_col).cast("string")))
        .repartitionByRange(n_part, F.col("__u"), F.col(id_col))
        .sortWithinPartitions("__u", id_col)
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cache_registry.append(s)
    sizes = {
        r["__pid"]: r["t"]
        for r in s.groupBy("__pid").agg(F.sum(n_tokens_col).alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += int(sizes[pid])
    # literal map, not a broadcast join — evaluates inside the same codegen
    # stage; ANSI MAP_KEY_DOES_NOT_EXIST here would mean the persist above
    # was dropped mid-query (boundaries re-sampled), never bad input.
    off_map = F.create_map(*[F.lit(v) for pair in (offsets or [(0, 0)]) for v in pair])
    w = (
        Window.partitionBy("__pid")
        .orderBy("__u", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_excl = F.coalesce(F.sum(n_tokens_col).over(w), F.lit(0).cast("long"))
    out = s.withColumn("__off", F.element_at(off_map, F.col("__pid")) + local_excl)
    return (
        out.withColumn("pack_id", F.expr(f"__off div {int(budget)}"))
        .withColumn("pack_offset", F.col("__off") % F.lit(int(budget)))
        .drop("__u", "__pid", "__off")
    )
