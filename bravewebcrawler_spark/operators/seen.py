"""Partitioned bloom-filter URL-seen state (SURVEY.md §2.4 A6, §2.10 U4).

At a 10^10-entry frontier the exact seen table is ~80 GB of hashes; joining
every discovered candidate against it each round is the dominant shuffle. The
bloom layer cuts that: the filter is partitioned into ``n_buckets`` buckets
co-partitioned with candidates on ``pmod(url_hash, n_buckets)``; membership
testing is a per-bucket vectorized numpy pass inside ``applyInPandas``.

CONTRACT (north rule / risk R3): the bloom NEVER decides membership. It
splits candidates into
  * definitely-new  (bloom miss → no false negatives, skip the exact join),
  * maybe-seen      (bloom hit → confirmed by the exact ``left_anti`` join).
Seen-set equality with the oracle therefore holds bit-for-bit regardless of
the false-positive rate; FPR only moves work between the two branches.

Sizing (documented for the 10^10 case, BENCH/BASELINE.md): k=7 hashes at
~9.6 bits/key → 1% FPR; 10^10 keys ⇒ ~12 GB of filter split over 1024
buckets ≈ 12 MB/bucket — one Arrow batch per task, far under executor memory.
Local tests use small m_bits to force false positives and prove the exact
join still protects membership.

The per-bucket update is the partial/final UDAF pattern: new hashes are
grouped with the bucket's current filter bytes, each task ORs its bits
locally, and the updated bytes are the new state row (idempotent — re-adding
a hash is a no-op, which is what makes resume replays safe).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, filter binary"
K_HASHES = 7


def _bit_positions(hashes: np.ndarray, m_bits: int, k: int = K_HASHES) -> np.ndarray:
    """(n, k) bit positions via double hashing of the 60-bit portable hash."""
    h1 = hashes % np.int64(m_bits)
    h2 = (hashes >> np.int64(17)) % np.int64(m_bits - 1) + 1  # never 0 mod m
    i = np.arange(k, dtype=np.int64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.int64(m_bits)


def _set_bits(filt: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(filt, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _test_bits(filt: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k bits are set (bloom 'maybe seen')."""
    bits = (filt[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


def empty_bloom(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], BLOOM_SCHEMA)


def bloom_insert_delta(
    bloom: DataFrame, hashes: DataFrame, n_buckets: int, m_bits: int
) -> tuple[DataFrame, DataFrame]:
    """Dirty-bucket-only bloom update: ``(updated, full)``.

    ``updated`` holds ONLY the buckets that received hashes this round — the
    O(delta) rows a round commit writes; ``full`` is ``updated`` unioned with
    the untouched buckets passing through JVM-side (no Arrow round-trip, no
    rewrite). Funnelling every existing bucket through applyInPandas each
    call would be O(total filter bytes) per round — at a 10^10 frontier a
    per-round full-state rewrite.
    """
    tagged_new = hashes.select(
        F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.col("url_hash").alias("h"),
        F.lit(None).cast("binary").alias("filter"),
    )
    dirty = tagged_new.select("bucket").distinct()
    existing = bloom.select("bucket", F.lit(-1).cast("long").alias("h"), "filter")
    existing_dirty = existing.join(F.broadcast(dirty), "bucket", "left_semi")

    def update(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        filt = np.zeros(m_bits // 8, dtype=np.uint8)
        for b in pdf["filter"].dropna():
            filt |= np.frombuffer(bytes(b), dtype=np.uint8)
        hs = pdf.loc[pdf["h"] >= 0, "h"].to_numpy(dtype=np.int64)
        if len(hs):
            _set_bits(filt, _bit_positions(hs, m_bits))
        return pd.DataFrame({"bucket": [bucket], "filter": [filt.tobytes()]})

    updated = existing_dirty.unionByName(tagged_new).groupBy("bucket").applyInPandas(update, BLOOM_SCHEMA)
    untouched = bloom.join(F.broadcast(dirty), "bucket", "left_anti")
    return updated, updated.unionByName(untouched)


def bloom_hits(hashes: DataFrame, bloom: DataFrame, n_buckets: int, m_bits: int) -> DataFrame:
    """The ``url_hash`` values (ONLY) of ``hashes`` that the bloom flags
    maybe-seen.

    Rather than round-tripping every candidate COLUMN through Arrow, this
    passes just (bucket, hash) — 12 bytes/row — and returns the hit hashes;
    the caller splits the full candidate rows with JVM joins against this
    (small) hit set. A miss is authoritative, a hit must be confirmed by the
    exact anti-join.
    """
    cand = hashes.select(
        F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int").alias("__bucket"),
        F.col("url_hash").alias("h"),
    )
    blm = bloom.withColumnRenamed("bucket", "__bucket")

    def test(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame({"url_hash": pd.Series([], dtype="int64")})
        hs = left["h"].to_numpy(dtype=np.int64)
        if right.empty or right["filter"].dropna().empty:
            return pd.DataFrame({"url_hash": pd.Series([], dtype="int64")})
        filt = np.frombuffer(bytes(right["filter"].dropna().iloc[0]), dtype=np.uint8)
        maybe = _test_bits(filt, _bit_positions(hs, m_bits))
        return pd.DataFrame({"url_hash": hs[maybe]})

    return (
        cand.groupBy("__bucket")
        .cogroup(blm.groupBy("__bucket"))
        .applyInPandas(test, "url_hash long")
    )

