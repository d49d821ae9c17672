"""Bloom seen-set on the crawl's path (``bloom_insert_delta`` + ``bloom_hits``):
no false negatives, exact-join authority, idempotent and O(delta) updates,
and words and hits equal to the NumPy byte-array twin (``tests/twins.py``)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from bravewebcrawler_spark.operators.seen import (
    K_HASHES,
    bloom_hits,
    bloom_insert_delta,
    collapse_bloom,
    empty_bloom,
)
from tests import twins

N_BUCKETS = 8
M_BITS = 1 << 10  # deliberately tiny → forces false positives


def _hashes_df(spark, values):
    return spark.createDataFrame([(int(v),) for v in values], "url_hash long")


def _insert(spark, bloom, values):
    """The filter after folding ``values`` in (the crawl's ``new_bloom``)."""
    return bloom.unionByName(bloom_insert_delta(_hashes_df(spark, values), N_BUCKETS, M_BITS))


def _words(bloom):
    return {(r["bucket"], r["word"]): r["bits"] for r in collapse_bloom(bloom).collect()}


def _twin_words(values):
    return twins.bloom_words(twins.bloom_filters(values, N_BUCKETS, M_BITS, K_HASHES))


def test_bloom_no_false_negatives(spark):
    rng = random.Random(42)
    inserted = [rng.randrange(0, 1 << 60) for _ in range(400)]
    other = [rng.randrange(0, 1 << 60) for _ in range(400)]
    # two inserts: the probe reads a filter whose words repeat across rows
    bloom = _insert(spark, _insert(spark, empty_bloom(spark), inserted[:250]), inserted[250:])
    hits = {r["url_hash"] for r in bloom_hits(_hashes_df(spark, inserted + other), bloom, N_BUCKETS, M_BITS).collect()}
    # every inserted hash MUST be flagged (no false negatives)
    assert set(inserted) <= hits
    # tiny filter → some false positives exist (so the exact join matters)
    fps = len(hits & set(other))
    assert 0 < fps < len(other)
    # the same hits and the same bits as the byte-array filter
    filters = twins.bloom_filters(inserted, N_BUCKETS, M_BITS, K_HASHES)
    assert hits == twins.bloom_probe(filters, inserted + other, N_BUCKETS, M_BITS, K_HASHES)
    assert _words(bloom) == twins.bloom_words(filters)


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
    assert _words(b1) == _words(b2)


def test_bloom_insert_delta_touches_only_dirty_buckets(spark):
    """The delta holds exactly the words the round's hashes set — one row
    per word, none from the filter it is added to — and its plan reads the
    hashes and nothing else."""
    rng = random.Random(3)
    # round 1 fills buckets 0-5; round 2 lands only in bucket 1 (existing)
    # and bucket 7 (new)
    first = [rng.randrange(0, 1 << 56) * N_BUCKETS + b for b in range(6) for _ in range(20)]
    second = [rng.randrange(0, 1 << 56) * N_BUCKETS + b for b in (1, 7) for _ in range(20)]
    bloom = _insert(spark, empty_bloom(spark), first)

    delta = bloom_insert_delta(_hashes_df(spark, second), N_BUCKETS, M_BITS)
    rows = {(r["bucket"], r["word"]): r["bits"] for r in delta.collect()}
    assert len(rows) == delta.count()  # one row per word
    assert rows == _twin_words(second)
    assert {b for b, _ in rows} == {1, 7}
    assert _words(bloom.unionByName(delta)) == _twin_words(first + second)

    leaves = delta._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1 and "url_hash" in leaves.apply(0).toString()
