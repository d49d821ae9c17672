"""Bloom seen-set on the crawl's path (``bloom_insert_delta`` + ``bloom_hits``):
no false negatives, exact-join authority, idempotent and O(delta) updates."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from bravewebcrawler_spark.operators.seen import bloom_hits, bloom_insert_delta, empty_bloom

N_BUCKETS = 8
M_BITS = 1 << 10  # deliberately tiny → forces false positives


def _hashes_df(spark, values):
    return spark.createDataFrame([(int(v),) for v in values], "url_hash long")


def _insert(spark, bloom, values):
    """The full filter after folding ``values`` in (the crawl's ``new_bloom``)."""
    return bloom_insert_delta(bloom, _hashes_df(spark, values), N_BUCKETS, M_BITS)[1]


def _filters(bloom):
    return {r["bucket"]: bytes(r["filter"]) for r in bloom.collect()}


def test_bloom_no_false_negatives(spark):
    rng = random.Random(42)
    inserted = [rng.randrange(0, 1 << 60) for _ in range(400)]
    other = [rng.randrange(0, 1 << 60) for _ in range(400)]
    bloom = _insert(spark, empty_bloom(spark), inserted)
    hits = {r["url_hash"] for r in bloom_hits(_hashes_df(spark, inserted + other), bloom, N_BUCKETS, M_BITS).collect()}
    # every inserted hash MUST be flagged (no false negatives)
    assert set(inserted) <= hits
    # tiny filter → some false positives exist (so the exact join matters)
    fps = len(hits & set(other))
    assert 0 < fps < len(other)


def test_dedup_with_bloom_equals_exact_antijoin(spark):
    # composed as run_round does: confirmed = hits ∩ seen, new = cands ⟂ confirmed
    rng = random.Random(7)
    seen_vals = [rng.randrange(0, 1 << 60) for _ in range(300)]
    cand_vals = seen_vals[:100] + [rng.randrange(0, 1 << 60) for _ in range(300)]
    seen = _hashes_df(spark, seen_vals)
    cands = _hashes_df(spark, cand_vals).withColumn("tag", F.col("url_hash") % 10)
    bloom = _insert(spark, empty_bloom(spark), seen_vals)
    hits = bloom_hits(cands.select("url_hash"), bloom, N_BUCKETS, M_BITS)
    confirmed = hits.join(seen, "url_hash", "left_semi")
    got = {r["url_hash"] for r in cands.join(confirmed, "url_hash", "left_anti").collect()}
    expect = {r["url_hash"] for r in cands.join(seen, "url_hash", "left_anti").collect()}
    assert got == expect


def test_bloom_insert_idempotent(spark):
    vals = list(range(1000, 1100))
    b1 = _insert(spark, empty_bloom(spark), vals)
    b2 = _insert(spark, b1, vals)
    assert _filters(b1) == _filters(b2)


def test_bloom_insert_delta_touches_only_dirty_buckets(spark):
    rng = random.Random(3)
    # round 1 fills buckets 0-5; round 2 lands only in bucket 1 (existing)
    # and bucket 7 (new), so buckets 0 and 2-5 must pass through untouched
    first = [rng.randrange(0, 1 << 56) * N_BUCKETS + b for b in range(6) for _ in range(20)]
    second = [rng.randrange(0, 1 << 56) * N_BUCKETS + b for b in (1, 7) for _ in range(20)]
    bloom = _insert(spark, empty_bloom(spark), first)
    before = _filters(bloom)
    assert set(before) == set(range(6))

    updated, full = bloom_insert_delta(bloom, _hashes_df(spark, second), N_BUCKETS, M_BITS)
    upd, after = _filters(updated), _filters(full)
    assert set(upd) == {1, 7}
    assert set(after) == set(before) | {7}
    assert len(full.collect()) == len(after)  # one row per bucket
    for b in after:
        assert after[b] == (upd[b] if b in upd else before[b])
    # the dirty bucket keeps every old bit and gains the new ones
    old1, new1 = int.from_bytes(before[1], "little"), int.from_bytes(upd[1], "little")
    assert old1 & new1 == old1 and new1 != old1
    assert _filters(_insert(spark, empty_bloom(spark), first + second)) == after
