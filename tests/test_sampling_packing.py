"""Stratified sampling + sequence packing (operators/sampling.py,
operators/packing.py): determinism, superset chain, shuffle profile, and the
distributed-prefix-sum contract vs a sequential computation."""

from __future__ import annotations

import hashlib
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bravewebcrawler_spark.operators.packing import pack_sequences  # noqa: E402
from bravewebcrawler_spark.operators.sampling import (  # noqa: E402
    stratified_sample_exact,
    stratified_sample_hash,
)

RATES = {"de": 0.8, "fr": 0.6, "en": 0.3}
QUOTAS = {"de": 40, "en": 50, "fr": 30}


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")


def _u(doc_id: int) -> float:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) / float(1 << 60)


def test_hash_sample_deterministic_and_superset(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    low = {k: v / 2 for k, v in RATES.items()}
    a1 = {r["doc_id"] for r in stratified_sample_hash(docs, "lang", "doc_id", RATES).collect()}
    a2 = {r["doc_id"] for r in stratified_sample_hash(docs, "lang", "doc_id", RATES).collect()}
    b = {r["doc_id"] for r in stratified_sample_hash(docs, "lang", "doc_id", low).collect()}
    assert a1 == a2  # same id → same draw, run to run
    assert b <= a1  # halved rates select a subset (u is fixed per row)
    # python twin agrees row-for-row (portable hash ⇒ same draws everywhere)
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    expect = {d for d, g in langs.items() if _u(d) < RATES.get(g, 0.0)}
    assert a1 == expect


def test_hash_sample_is_map_only(spark, sf_dir):
    df = stratified_sample_hash(_docs(spark, sf_dir), "lang", "doc_id", RATES)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero shuffle: scan + filter only


def test_exact_quota_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = stratified_sample_exact(docs, "lang", "doc_id", QUOTAS, default_quota=20)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    have = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in have.items():
        assert got.get(lang, 0) == min(QUOTAS.get(lang, 20), n)


def test_pack_matches_sequential_prefix_sum(spark, sf_dir):
    budget = 512
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast("long").alias("n_tokens"),
    )
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(docs, "doc_id", "n_tokens", budget).collect()
    }
    rows = sorted(
        ((r["doc_id"], r["n_tokens"]) for r in docs.collect()),
        key=lambda t: (_u(t[0]), t[0]),
    )
    off = 0
    for doc_id, n in rows:
        assert got[doc_id] == (off // budget, off % budget), doc_id
        off += n
    assert len(got) == len(rows)


def test_pack_invariant_to_partition_count(spark, sf_dir):
    """Pack assignment is a pure function of the data, not of where the
    sampled bound keys fall (the ``global_prefix`` determinism argument)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast("long").alias("n_tokens"),
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for n_part in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            results.append(
                sorted(tuple(r) for r in pack_sequences(docs, "doc_id", "n_tokens", 512).collect())
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1]
