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

Scale shape: the prefix sum is ``operators/ranking.global_prefix`` over the
``n_tokens`` weight — rows placed by sampled bound keys plus per-pid offsets,
one hash exchange, nothing persisted, and no global-order window (which
would be a single partition).

All arithmetic is exact bigint (``div``/``%``, never double division —
offsets exceed 2^53 long before 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bravewebcrawler_spark.functions.text import portable_hash64
from bravewebcrawler_spark.operators.ranking import global_prefix


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
) -> DataFrame:
    """Assign each row a ``pack_id`` / ``pack_offset`` under the
    concatenate-and-chunk contract described in the module docstring.

    Output: input columns + ``pack_id`` (bigint), ``pack_offset`` (bigint —
    the document's start offset within its starting pack). A document longer
    than ``budget`` keeps the pack it starts in (it spans into the next
    ones), exactly like the flat token-stream view.
    """
    u = df.withColumn("__u", portable_hash64(F.col(id_col).cast("string")))
    out = global_prefix(u, [F.col("__u"), F.col(id_col)], F.col(n_tokens_col))
    return (
        out.withColumn("pack_id", F.expr(f"prefix div {int(budget)}"))
        .withColumn("pack_offset", F.col("prefix") % F.lit(int(budget)))
        .drop("__u", "prefix")
    )
