"""Mini driver-gate: every __spark_entry__ query vs its DuckDB oracle at
sf0.001 (the full-size rehearsal is tools/check_queries.py at sf0.01)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_queries import compare, duck_con  # noqa: E402


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_matches_oracle(spark, sf_dir, con, name):
    fn = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    df = fn(spark, sf_dir)
    if name not in oracles:
        assert df.count() >= 0  # rows-only check (driver does the same)
        return
    problems = compare(name, df, oracles[name], con)
    assert not problems, "\n".join(problems)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"user_id", "event_id", "event_type", "value", "rn"}
    # top-3 per user, rank within bounds
    assert all(1 <= r["rn"] <= 3 for r in rows)


def test_no_residual_caches_after_cache_managed_queries(spark, sf_dir):
    """Deterministic cache lifecycle (VERDICT r2 #6): the six queries that
    persist intermediates and release them in _materialize_and_release
    (the banded tables of the three band-pair operators, the clustered
    corpus, the CC edge list and components, corpus_prep's uniq), and
    corpus_pack, which persists nothing, must leave the storage tab exactly
    as they found it — no ContextCleaner reliance."""
    import __spark_entry__ as E

    jsc = spark.sparkContext._jsc.sc()

    def storage_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = storage_ids()
    for name in (
        "dedup_minhash_lsh",
        "dedup_lsh_refined",
        "dedup_components",
        "dedup_keep_one",
        "dedup_simhash_pairs",
        "corpus_prep",
        "corpus_pack",
    ):
        E.queries()[name](spark, sf_dir).count()
    leaked = storage_ids() - before
    assert not leaked, f"residual cached RDDs: {leaked}"


def test_materialize_and_release_size_guard(spark, monkeypatch):
    """Oversized results must stage through parquet, never a driver collect
    (VERDICT r3 #6): same rows back, caches released either way, and the
    scratch dir is removed by the exit hook the spill registers."""
    from urllib.parse import urlparse

    from pyspark import StorageLevel

    import __spark_entry__ as E

    exit_hooks: list = []
    monkeypatch.setattr(E.atexit, "register", exit_hooks.append)
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    cache = df.persist(StorageLevel.MEMORY_AND_DISK)
    cache.count()
    out = E._materialize_and_release(df, [cache], row_cap=10)  # 100 > cap
    assert out.count() == 100
    assert {r["id"]: r["v"] for r in out.collect()} == {i: 2 * i for i in range(100)}
    assert "Scan parquet" in out._jdf.queryExecution().executedPlan().toString()
    leaked = {info.id() for info in jsc.getRDDStorageInfo()} - before
    assert not leaked, f"residual cached RDDs: {leaked}"
    spill_dirs = {os.path.dirname(os.path.dirname(urlparse(f).path)) for f in out.inputFiles()}
    assert len(spill_dirs) == 1 and len(exit_hooks) == 1
    spill_dir = spill_dirs.pop()
    assert os.path.basename(spill_dir).startswith("bwc-result-") and os.path.isdir(spill_dir)
    exit_hooks[0]()
    assert not os.path.exists(spill_dir)
    # small result: plain local-relation path, no parquet scan
    small = spark.range(5).selectExpr("id")
    out2 = E._materialize_and_release(small, [], row_cap=10)
    assert out2.count() == 5
    assert "Scan parquet" not in out2._jdf.queryExecution().executedPlan().toString()
    assert len(exit_hooks) == 1  # no scratch dir, no hook


def test_materialize_and_release_runs_the_plan_once(spark, monkeypatch):
    """Each row of the result is computed once, whether it is collected or
    spilled; a spilled result is never collected to the driver first."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E

    exit_hooks: list = []
    monkeypatch.setattr(E.atexit, "register", exit_hooks.append)
    for row_cap in (10, 1000):  # 100 rows: spill, then collect
        evaluated = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def touch(x):
            evaluated.add(1)
            return x

        # the shuffle makes any pass over the result evaluate every row
        df = spark.range(0, 100, 1, 4).select(touch("id").alias("id")).repartition(3)
        out = E._materialize_and_release(df, [], row_cap=row_cap)
        assert sorted(r["id"] for r in out.collect()) == list(range(100))
        assert evaluated.value == 100, (row_cap, evaluated.value)
    for hook in exit_hooks:
        hook()
