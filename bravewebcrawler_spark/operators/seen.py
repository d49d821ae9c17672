"""Partitioned bloom-filter URL-seen state (SURVEY.md §2.4 A6, §2.10 U4).

At a 10^10-entry frontier the exact seen table is ~80 GB of hashes; joining
every discovered candidate against it each round is the dominant shuffle. The
bloom layer cuts that: a candidate's k bit positions are probed in a filter
partitioned into ``n_buckets`` buckets on ``pmod(url_hash, n_buckets)``.

CONTRACT (north rule / risk R3): the bloom NEVER decides membership. It
splits candidates into
  * definitely-new  (bloom miss → no false negatives, skip the exact join),
  * maybe-seen      (bloom hit → confirmed by the exact ``left_anti`` join).
Seen-set equality with the oracle therefore holds bit-for-bit regardless of
the false-positive rate; FPR only moves work between the two branches.

Layout: the filter is append-only ``(bucket, word, bits)`` rows — bit ``p``
of a bucket's ``m_bits`` lives in word ``p >> 6`` at bit ``p & 63``. OR is
idempotent and commutative, so the current filter is any union of rows whose
OR holds every inserted position: duplicate words are allowed, an insert
never reads the filter (re-adding a hash is a no-op, which is what makes
resume replays safe), and only a compaction collapses words with
``bit_or``. Every step is a column expression; no Python runs.

Sizing (documented for the 10^10 case, BENCH/BASELINE.md): k=7 hashes at
~9.6 bits/key → 1% FPR. Local tests use small m_bits to force false
positives and prove the exact join still protects membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, word int, bits long"
K_HASHES = 7


def empty_bloom(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], BLOOM_SCHEMA)


def _positions(hashes: DataFrame, n_buckets: int, m_bits: int) -> DataFrame:
    """``(url_hash, i, bucket, word, mask)``: one row per hash and probe
    ``i`` in ``0..K_HASHES-1``, by double hashing of the 60-bit portable
    hash (``h2`` is never 0 mod ``m_bits``)."""
    h = F.col("url_hash")
    h1 = F.pmod(h, F.lit(m_bits))
    h2 = F.pmod(F.shiftright(h, 17), F.lit(m_bits - 1)) + 1
    p = F.pmod(h1 + F.col("i") * h2, F.lit(m_bits))
    return hashes.select(
        "url_hash", F.explode(F.sequence(F.lit(0), F.lit(K_HASHES - 1))).alias("i")
    ).select(
        "url_hash",
        "i",
        F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"),
        F.shiftright(p, 6).cast("int").alias("word"),
        # F.shiftleft takes a literal shift only
        F.call_function("shiftleft", F.lit(1).cast("long"), p.bitwiseAND(63).cast("int")).alias("mask"),
    )


def bloom_insert_delta(hashes: DataFrame, n_buckets: int, m_bits: int) -> DataFrame:
    """The filter rows that set every position of ``hashes``: one row per
    ``(bucket, word)`` they touch. Never reads the filter, so the delta is
    bounded by the round's hashes."""
    return (
        _positions(hashes, n_buckets, m_bits)
        .groupBy("bucket", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def collapse_bloom(bloom: DataFrame) -> DataFrame:
    """One row per ``(bucket, word)``: the compaction snapshot."""
    return bloom.groupBy("bucket", "word").agg(F.bit_or("bits").alias("bits"))


def bloom_hits(hashes: DataFrame, bloom: DataFrame, n_buckets: int, m_bits: int) -> DataFrame:
    """The distinct ``url_hash`` values of ``hashes`` that the bloom flags
    maybe-seen: those whose k positions all find a set bit. A miss is
    authoritative, a hit must be confirmed by the exact anti-join. No
    broadcast hint: AQE picks the join from the runtime sizes."""
    pos = _positions(hashes, n_buckets, m_bits)
    filt = bloom.select(
        F.col("bucket").alias("__bucket"), F.col("word").alias("__word"), "bits"
    )
    found = pos.join(
        filt,
        (pos["bucket"] == filt["__bucket"])
        & (pos["word"] == filt["__word"])
        & (filt["bits"].bitwiseAND(pos["mask"]) != 0),
        "left_semi",
    )
    return (
        found.groupBy("url_hash")
        .agg(F.count_distinct("i").alias("__n"))
        .where(F.col("__n") == K_HASHES)
        .select("url_hash")
    )
