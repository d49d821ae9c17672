"""Atomic per-round O(delta) state commits + exact resume (SURVEY.md §2.9 T3).

The reference flushes its buffered CSV sink every 5 items and can lose up to 4
rows on a kill (brave_processor.py:316-323). The engine upgrades this to
lose-nothing semantics with LSM-style commits whose size is bounded by the
ROUND, not by total state. A committed round directory holds four tables:
``crawl_log`` and ``host_state``, plus ``frontier`` and ``bloom`` on a
compaction round or ``frontier_delta`` and ``bloom_delta`` on any other.

  * ``crawl_log``      — append-only: one row per dequeued URL, ``(round,
                         seq, url_canon, url_hash, status, error, spans)``;
                         seen and documents are views of the union of dirs.
  * ``frontier``       — base + delta: a full snapshot every
                         ``policy.compact_every`` rounds (the "base"), and a
                         ``frontier_delta`` dir (only rediscovered/new rows,
                         already merged against their previous version) in
                         between. Current frontier = the base folded over
                         each later round r: drop r's seen keys and r's
                         delta keys, then union r's delta.
  * ``bloom``          — append-only ``(bucket, word, bits)`` rows: a
                         ``bloom_delta`` holds the words a round's hashes
                         set; current filter = the base round's collapsed
                         snapshot unioned with the deltas since (a word may
                         repeat; the probe ORs them).
  * ``host_state``     — one row per host whose bucket a refill would not
                         fill (a missing host is full), full write each
                         round.

A manifest file is committed LAST via an atomic rename — a round either
fully exists or doesn't; the manifest records ``base_round`` so resume knows
which dirs reconstruct the state. tests/test_checkpoint_resume.py proves a
killed-and-resumed crawl equals an uninterrupted one bit-for-bit.

This is the Iceberg-semantics seam: no Iceberg runtime jar ships in this
sandbox's Spark, so snapshots are plain Parquet directories + a JSON manifest
(same observable properties: atomic append, per-round lineage/time travel,
O(delta) commits). Swapping in real Iceberg is a write-path change only.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from bravewebcrawler_spark.plans.round import seen_view


@dataclass(frozen=True)
class RoundMetrics:
    round_no: int
    dequeued: int
    fetched_ok: int
    frontier_size: int
    seen_size: int
    wall_s: float


def _manifest_path(state_dir: str, round_no: int) -> str:
    return os.path.join(state_dir, f"_MANIFEST-{round_no:06d}.json")


def round_dir(state_dir: str, round_no: int) -> str:
    # NOT "round=k": a k=v directory name would trigger Spark partition
    # discovery and shadow the real `round` column on multi-round reads.
    return os.path.join(state_dir, f"round-{round_no:06d}")


def _write(rd: str, name: str, df: DataFrame) -> None:
    # delta tables are small relative to partition count at round scale;
    # fewer output files = fewer write tasks now + fewer open()s on the
    # next round's read. (At 10^10 scale partition sizing is governed by
    # maxPartitionBytes on read, so this stays safe.)
    df.coalesce(16).write.mode("overwrite").parquet(os.path.join(rd, name))


def write_tables(state_dir: str, round_no: int, tables: dict[str, DataFrame]) -> None:
    """Write a round's tables in order on the calling thread (not yet
    visible to resume until the manifest). The crawl loop calls this for
    writes over COLD caches, which must not run concurrently: Spark does not
    dedupe in-flight computation of a persisted partition (70s vs 23s for a
    100k-URL round at local[32])."""
    rd = round_dir(state_dir, round_no)
    for name, df in tables.items():
        _write(rd, name, df)


def start_writes(
    state_dir: str, round_no: int, tables: dict[str, DataFrame], pool
) -> list:
    """Kick off table writes on ``pool`` and return their futures — lets the
    caller overlap a write over WARM caches (the round's ``host_state``) with
    the discovery pipeline, so concurrency is pure overlap. The
    caller must ``result()`` every future before publishing the manifest.
    Each write runs with the caller's Spark local properties (job group, job
    tags), captured here, so its jobs are attributed like the caller's."""
    rd = round_dir(state_dir, round_no)
    write = inheritable_thread_target(SparkSession.active())(_write)
    return [pool.submit(write, rd, name, df) for name, df in tables.items()]


def publish_manifest(state_dir: str, round_no: int, metrics: RoundMetrics, base_round: int) -> None:
    """Atomically publish a fully-written round (the commit point)."""
    rd = round_dir(state_dir, round_no)
    manifest = {
        "round": round_no,
        "base_round": base_round,  # newest round (<= this) with full frontier/bloom snapshots
        "round_dir": rd,
        "metrics": metrics.__dict__,
        "committed_at": time.time(),
    }
    tmp = _manifest_path(state_dir, round_no) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, _manifest_path(state_dir, round_no))  # atomic publish


def latest_round(state_dir: str) -> int | None:
    """Newest fully-committed round, or None (fresh start)."""
    if not os.path.isdir(state_dir):
        return None
    rounds = [
        int(fn[len("_MANIFEST-") : -len(".json")])
        for fn in os.listdir(state_dir)
        if fn.startswith("_MANIFEST-") and fn.endswith(".json")
    ]
    return max(rounds) if rounds else None


def _manifest(state_dir: str, round_no: int) -> dict:
    with open(_manifest_path(state_dir, round_no)) as f:
        return json.load(f)


def load_log(spark: SparkSession, state_dir: str, round_no: int) -> DataFrame:
    """Union of the ``crawl_log`` round tables of rounds ``0..round_no``."""
    paths = [os.path.join(round_dir(state_dir, r), "crawl_log") for r in range(round_no + 1)]
    return spark.read.parquet(*paths)


def load_seen(spark: SparkSession, state_dir: str, round_no: int) -> DataFrame:
    """The seen view of every round table so far (column pruning reads only
    the columns it needs)."""
    return seen_view(load_log(spark, state_dir, round_no))


def load_bloom(
    spark: SparkSession, state_dir: str, base_round: int, round_no: int
) -> DataFrame:
    """The filter rows: the base round's snapshot unioned with the deltas
    committed since."""
    paths = [os.path.join(round_dir(state_dir, base_round), "bloom")] + [
        os.path.join(round_dir(state_dir, r), "bloom_delta")
        for r in range(base_round + 1, round_no + 1)
    ]
    return spark.read.parquet(*paths)


def load_frontier(
    spark: SparkSession, state_dir: str, base_round: int, round_no: int
) -> DataFrame:
    """The base round's snapshot folded over rounds ``base_round+1..round_no``.

    Each round's rows leave by two anti-joins — the seen view of its
    ``crawl_log`` and its frontier delta's keys — and the frontier delta, whose
    rows run_round already merged against their previous version, is
    appended. No broadcast hints: AQE picks broadcast only when a delta is
    genuinely small (see the matching note in plans/round.py)."""
    frontier = spark.read.parquet(os.path.join(round_dir(state_dir, base_round), "frontier"))
    for r in range(base_round + 1, round_no + 1):
        rd = round_dir(state_dir, r)
        fdelta = spark.read.parquet(os.path.join(rd, "frontier_delta"))
        removed = seen_view(spark.read.parquet(os.path.join(rd, "crawl_log"))).select("url_hash")
        frontier = (
            frontier.join(removed, "url_hash", "left_anti")
            .join(fdelta.select("url_hash"), "url_hash", "left_anti")
            .unionByName(fdelta)
        )
    return frontier


def load_state(spark: SparkSession, state_dir: str, round_no: int) -> dict[str, DataFrame]:
    """Next-round state (frontier/seen/host_state/bloom) as of ``round_no``,
    read from committed parquet only. The crawl loop reads each round's
    state here right before the round runs, on resume as after a commit,
    so a resumed round plans exactly as an uninterrupted one. Round outputs are
    cumulative and read via plans.crawl.read_outputs."""
    base = _manifest(state_dir, round_no)["base_round"]
    return {
        "frontier": load_frontier(spark, state_dir, base, round_no),
        "seen": load_seen(spark, state_dir, round_no),
        "host_state": spark.read.parquet(os.path.join(round_dir(state_dir, round_no), "host_state")),
        "bloom": load_bloom(spark, state_dir, base, round_no),
    }


def load_metrics(state_dir: str, round_no: int) -> dict:
    return _manifest(state_dir, round_no)["metrics"]


def load_base_round(state_dir: str, round_no: int) -> int:
    return _manifest(state_dir, round_no)["base_round"]
