"""Resume-equivalence property (SURVEY.md §5.4, north rule T3): a crawl
killed after round k and resumed equals the uninterrupted crawl bit-for-bit."""

from __future__ import annotations

import os
import threading
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from bravewebcrawler_spark.functions.canon import host_of_col
from bravewebcrawler_spark.plans import checkpoint as ckpt
from bravewebcrawler_spark.plans.crawl import crawl, read_outputs
from bravewebcrawler_spark.plans.policy import CrawlPolicy
from bravewebcrawler_spark.sources.synthweb import SynthWeb

POLICY = CrawlPolicy(capacity=4.0, rate=2.0, max_urls_per_round=50, max_rounds=3, max_depth=5)
WEB = SynthWeb(seed=99, n_hosts=15, pages_per_host=10, hot_hosts=2)


def _views(spark, state_dir):
    """The crawl log, the sorted seen URLs and one span digest per document,
    in the form perfbench/run.py:engine_digests compares them."""
    out = read_outputs(spark, state_dir)
    nul = F.lit("\x00")
    span_str = F.transform(
        "spans",
        lambda s: F.concat_ws("\x1f", s["kind"], F.coalesce(s["text"], nul),
                              F.coalesce(s["media_ref"], nul), s["offset"].cast("string")),
    )
    log = out["crawl_log"].select("round", "seq", "url_canon", "status", "error")
    docs = out["documents"].select("doc_id", F.sha2(F.concat_ws("\x1e", span_str), 256))
    return {
        "log": sorted(tuple(r) for r in log.collect()),
        "seen": sorted(r["url_canon"] for r in out["seen"].select("url_canon").collect()),
        "docs": sorted(tuple(r) for r in docs.collect()),
    }


def _frontier(spark, state_dir):
    """The newest committed frontier, every column but the audit-only
    ``lineage`` (which records the Spark partition a row was built in)."""
    st = ckpt.load_state(spark, state_dir, ckpt.latest_round(state_dir))
    return sorted(tuple(r) for r in st["frontier"].drop("lineage").collect())


def test_kill_resume_equals_uninterrupted(spark, tmp_path_factory):
    """Two inputs: the default policy killed after round 0, and a bloom-on
    crawl with compact_every=2 killed after its delta round 1, so the
    resumed round 2 probes the loaded snapshot plus delta, then collapses
    them into its compaction."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    bloom_policy = replace(POLICY, use_bloom=True, bloom_buckets=8, bloom_m_bits=1 << 12, compact_every=2)
    for policy, stop in ((POLICY, 0), (bloom_policy, 1)):
        full_dir = str(tmp_path_factory.mktemp("full"))
        crawl(spark, WEB, seeds, policy, full_dir)
        full = _views(spark, full_dir)
        assert full["seen"] and full["docs"]

        kill_dir = str(tmp_path_factory.mktemp("killed"))
        crawl(spark, WEB, seeds, policy, kill_dir, stop_after_round=stop)
        assert ckpt.latest_round(kill_dir) == stop  # committed exactly stop + 1 rounds
        crawl(spark, WEB, seeds, policy, kill_dir, resume=True)
        assert _views(spark, kill_dir) == full
        assert _frontier(spark, kill_dir) == _frontier(spark, full_dir)


def test_frontier_size_arithmetic_matches_reconstruction(spark, tmp_path_factory):
    """Non-compaction rounds derive frontier_size arithmetically
    (prev - selected - touched + |delta|) instead of scanning the frontier;
    the number must equal the actual reconstructed frontier's cardinality,
    and seen_size the committed seen set's. With compact_every=2 the rounds
    are compaction, delta, compaction, delta: a second base and a delta on
    top of it are checked too, and each round directory holds exactly the
    four tables of its kind."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("fsize"))
    crawl(spark, WEB, seeds, replace(POLICY, compact_every=2, max_rounds=4), d)
    assert ckpt.latest_round(d) == 3
    for r in range(4):
        m = ckpt.load_metrics(d, r)
        base = ckpt.load_base_round(d, r)
        assert base == r - r % 2
        actual = ckpt.load_frontier(spark, d, base, r).count()
        assert m["frontier_size"] == actual, (r, m["frontier_size"], actual)
        seen = ckpt.load_seen(spark, d, r).count()
        assert m["seen_size"] == seen, (r, m["seen_size"], seen)
        kind = {"frontier", "bloom"} if base == r else {"frontier_delta", "bloom_delta"}
        assert set(os.listdir(ckpt.round_dir(d, r))) == {"crawl_log", "host_state"} | kind


def test_host_state_keeps_only_hosts_a_refill_would_not_fill(spark, tmp_path_factory):
    """Each round's committed host_state holds exactly the hosts whose
    tokens end below capacity - rate, with those tokens, replayed from the
    committed crawl log; any other host refills to capacity, as a missing
    one does."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("hosts"))
    crawl(spark, WEB, seeds, POLICY, d)
    log = read_outputs(spark, d)["crawl_log"]
    spent: dict[int, dict[str, int]] = {}
    for r in log.groupBy("round", host_of_col(F.col("url_canon")).alias("host")).count().collect():
        spent.setdefault(r["round"], {})[r["host"]] = r["count"]
    tokens: dict[str, float] = {}
    kept = left_out = 0
    for rnd in range(ckpt.latest_round(d) + 1):
        spends = spent.get(rnd, {})
        start = {h: min(POLICY.capacity, tokens.get(h, POLICY.capacity) + POLICY.rate * (rnd > 0))
                 for h in set(tokens) | set(spends)}
        ended = {h: t - spends.get(h, 0) for h, t in start.items()}
        tokens = {h: t for h, t in ended.items() if t < POLICY.capacity - POLICY.rate}
        written = spark.read.parquet(os.path.join(ckpt.round_dir(d, rnd), "host_state")).collect()
        assert len(written) == len(tokens)
        assert {r["host"]: r["tokens"] for r in written} == tokens, rnd
        kept, left_out = kept + len(tokens), left_out + len(ended) - len(tokens)
    assert kept and left_out, (kept, left_out)


def test_manifest_is_the_commit_point(spark, tmp_path_factory):
    """A round directory without a manifest is invisible to resume."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("manifesto"))
    crawl(spark, WEB, seeds, POLICY, d, stop_after_round=1)
    assert ckpt.latest_round(d) == 1
    # simulate a kill between write_tables and publish_manifest of round 2:
    # the directory may exist, but resume must restart from round 1's state
    os.makedirs(os.path.join(d, "round-000002", "frontier"), exist_ok=True)
    assert ckpt.latest_round(d) == 1
    crawl(spark, WEB, seeds, POLICY, d, resume=True)
    full_dir = str(tmp_path_factory.mktemp("full2"))
    crawl(spark, WEB, seeds, POLICY, full_dir)
    assert _views(spark, d) == _views(spark, full_dir)
    assert _frontier(spark, d) == _frontier(spark, full_dir)


def test_state_is_loaded_only_for_a_round_that_runs(spark, tmp_path_factory, monkeypatch):
    """Round r > 0 reads round r-1's committed state through
    ``ckpt.load_state`` right before it runs; nothing is read after the last
    round or after a ``stop_after_round`` exit."""
    loaded = []
    load_state = ckpt.load_state

    def counting(spark_, state_dir, round_no):
        loaded.append(round_no)
        return load_state(spark_, state_dir, round_no)

    monkeypatch.setattr(ckpt, "load_state", counting)
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("loads"))
    crawl(spark, WEB, seeds, POLICY, d)
    assert ckpt.latest_round(d) == POLICY.max_rounds - 1 == 2
    assert loaded == [0, 1]
    loaded.clear()
    crawl(spark, WEB, seeds, POLICY, d, stop_after_round=0)
    assert ckpt.latest_round(d) == 0
    assert loaded == []


def test_side_writes_carry_the_callers_job_group(spark, tmp_path_factory):
    """The overlapped side writes (``ckpt.start_writes``) run on pool
    threads; they inherit the caller's local properties, so a crawl run
    under a job group starts no job outside it."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    spark.sparkContext.setJobGroup("bwc-crawl-group", "one crawl round")
    try:
        crawl(spark, WEB, seeds, replace(POLICY, max_rounds=1), str(tmp_path_factory.mktemp("group")))
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    assert tracker.getJobIdsForGroup("bwc-crawl-group")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


# Crash matrix: round 0 is a compaction round, round 1 a delta round.
MATRIX_POLICY = replace(POLICY, max_rounds=2)
CELLS = [(0, "frontier"), (0, "bloom"), (1, "crawl_log"), (1, "host_state"),
         (1, "frontier_delta"), (1, "bloom_delta")]


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("matrix_full"))
    crawl(spark, WEB, seeds, MATRIX_POLICY, d)
    return _views(spark, d), _frontier(spark, d)


@pytest.mark.parametrize("rnd, table", CELLS)
def test_resume_after_a_failed_table_write(spark, tmp_path_factory, monkeypatch, uninterrupted, rnd, table):
    """Each table the loop writes fails once, in the round kind that writes
    it. The failed round unpersists every frame it persisted and joins its
    side-write pool before the error reaches the caller; the resumed
    crawl's log, seen, documents and frontier equal the uninterrupted
    crawl's."""
    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp(f"cell_{table}"))
    write = ckpt._write

    def failing(rd, name, df):
        if name == table and rd == ckpt.round_dir(d, rnd):
            raise OSError(f"injected {name} write failure")
        write(rd, name, df)

    monkeypatch.setattr(ckpt, "_write", failing)
    with pytest.raises(OSError, match=f"injected {table}"):
        crawl(spark, WEB, seeds, MATRIX_POLICY, d)
    assert ckpt.latest_round(d) == (rnd - 1 if rnd else None)
    assert [t.name for t in threading.enumerate() if t.name.startswith("bwc-write")] == []
    assert {i.id() for i in jsc.getRDDStorageInfo()} == before
    monkeypatch.undo()
    crawl(spark, WEB, seeds, MATRIX_POLICY, d, resume=True)
    assert ckpt.latest_round(d) == MATRIX_POLICY.max_rounds - 1
    assert (_views(spark, d), _frontier(spark, d)) == uninterrupted
