"""Physical-plan guards: the optimizations the engine relies on must stay in
the plan (catching perf regressions that correctness tests can't see)."""

from __future__ import annotations

import re

import __spark_entry__ as E
from pyspark.sql import functions as F

from bravewebcrawler_spark.operators import dedup as DD
from bravewebcrawler_spark.operators.packing import pack_sequences
from bravewebcrawler_spark.plans.policy import CrawlPolicy
from bravewebcrawler_spark.operators.seen import empty_bloom
from bravewebcrawler_spark.plans.crawl import initial_state
from bravewebcrawler_spark.plans.round import FRONTIER_SCHEMA, HOST_STATE_SCHEMA, dequeue, robots_df, run_round
from bravewebcrawler_spark.sources.synthweb import SynthWeb


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(E.q1_pricing_summary(spark, sf_dir))
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    # predicate reaches the scan
    assert "l_shipdate" in scan and "DataFilters" in scan
    # column pruning: untouched columns are not read
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_q5_broadcasts_all_dimensions(spark, sf_dir):
    plan = _plan(E.q5_region_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # region, nation, customer, orders
    assert "SortMergeJoin" not in plan


def test_dequeue_no_global_window_for_large_caps(spark):
    # a non-empty frontier: with no rows there are no bound keys, the pid is
    # a constant, and Spark plans that window over a single partition
    frontier = spark.createDataFrame(
        [
            (f"https://host{i % 13}.example.ch/p{i}", i * 7919, f"host{i % 13}.example.ch",
             f"/p{i}", float(i % 5), i % 3, 0, "seed", 0)
            for i in range(60)
        ],
        FRONTIER_SCHEMA,
    )
    hs = spark.createDataFrame([], HOST_STATE_SCHEMA)
    registry: list = []
    # the distributed global rank at every cap (the default 200 included):
    # one hash exchange on the pid feeds the prefix window, global_prefix
    # caches nothing (the one InMemoryRelation is the dequeue's survivors),
    # no driver-merge TakeOrdered, no single-partition window
    for policy in (CrawlPolicy(), CrawlPolicy(max_urls_per_round=100_000)):
        plan = _plan(dequeue(frontier, hs, policy, refill=True, cache_registry=registry))
        assert len(re.findall(r"Exchange hashpartitioning\(__pid#", plan)) == 1, plan
        assert plan.count("InMemoryRelation") == 1, plan
        assert "TakeOrderedAndProject" not in plan
        assert "SinglePartition" not in plan
    assert len(registry) == 2  # one survivors cache per dequeue call
    for cached in registry:
        cached.unpersist()


def test_pack_sequences_shuffles_each_row_once(spark):
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(pack_sequences(docs, "doc_id", "n_tokens", 512))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert len(re.findall(r"\bExchange hashpartitioning\(__pid#", plan)) == 1, plan
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan
    assert "InMemoryRelation" not in plan


def test_band_pairs_join_once_with_no_pair_aggregate(spark):
    # each candidate pair is formed once, in its first agreeing band: one
    # self-join on (band, band_key) and no aggregate keyed on the pair (a
    # pair distinct, or the endpoint/array joins that need a persisted pair
    # list, would print the band join again under each of its scans)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h")], "doc_id long, text string"
    )
    registry: list = []
    for df in (
        DD.lsh_refined_pairs(docs, "doc_id", "text", cache_registry=registry),
        DD.simhash_near_pairs(docs, "doc_id", "text", cache_registry=registry),
    ):
        plan = _plan(df)
        band_joins = re.findall(r"Join \[band#\d+, band_key#\d+L?\], \[band#\d+, band_key#\d+L?\]", plan)
        assert len(band_joins) == 1, plan
        assert not re.search(r"HashAggregate\(keys=\[id_a#\d+L?, id_b#\d+L?", plan), plan
    for cached in registry:
        cached.unpersist()


def test_anti_join_stays_hash_based(spark, sf_dir):
    plan = _plan(E.j2_anti_join(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan  # never a theta anti-join


def test_multiprobe_ships_probes_not_corpus(spark, sf_dir):
    plan = _plan(E.ann_lsh_multiprobe(spark, sf_dir))
    # round-6 shape (_lsh_probe_topk): the tiny query/probe side ships to
    # every task inside the mapInArrow closure; the corpus is scanned in
    # place and candidates are gathered per batch — a shuffled or
    # sort-merge-joined corpus here would be the 10^10-vector scale-killer,
    # and so would any per-pair join materialization
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # result equality with the former bucket equi-join is pinned in
    # tests/test_arrow_twins.py::test_lsh_probe_topk_equals_bucket_join_form


def test_search_api_fetch_is_arrow_batched(spark):
    # the HTTP sources must stay on the Arrow batch path (mapInPandas), never
    # a row-at-a-time PythonUDF
    from bravewebcrawler_spark.sources.search_api import search_candidates

    df = spark.createDataFrame([("s0", "Acme AG")], "seed_id string, company string")
    plan = _plan(search_candidates(df, "brave", "k", base_url="http://127.0.0.1:9/x"))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_round_runs_python_only_in_the_fetch(spark):
    # the bloom insert and probe are column expressions: across every frame
    # run_round returns, the one Python node is the fetch mapInPandas (no
    # FlatMapGroupsInPandas / FlatMapCoGroupsInPandas), and the depth cap
    # filters pages before the outlink explode, not links after it
    web = SynthWeb(seed=42, n_hosts=20, pages_per_host=12, hot_hosts=2)
    policy = CrawlPolicy(max_depth=3, use_bloom=True, bloom_buckets=8, bloom_m_bits=1 << 12)
    seeds = spark.createDataFrame(web.seed_urls(12), "seed_id string, url string")
    st = initial_state(spark, web, seeds, policy)
    registry: list = []
    out = run_round(spark, web, st["frontier"], st["seen"], st["host_state"], robots_df(spark, web),
                    policy, 0, empty_bloom(spark), cache_registry=registry)
    plans = {name: _plan(df) for name, df in out.items()}
    for cached in registry:
        cached.unpersist()
    text = "\n".join(plans.values())
    py_kinds = set(re.findall(r"\+- (?:\*\(\d+\) )?(\w*(?:Python|Pandas|InArrow)\w*)", text))
    assert py_kinds == {"MapInPandas"}, py_kinds
    assert len(set(re.findall(r"MapInPandas fetch_parse\(.*?\)#(\d+)", text))) == 1
    lines = plans["fdelta_tagged"].splitlines()
    explode = next(i for i, line in enumerate(lines) if "Generate explode(outlinks" in line)
    below = next(line for line in lines[explode + 1 :] if "Filter" in line)
    assert re.search(r"\(depth#\d+ < 3\)", below), below
    assert not re.search(r"link_depth#\d+ <=", text)
