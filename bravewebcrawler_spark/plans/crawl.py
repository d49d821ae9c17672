"""Driver loop: crawl a SynthWeb from a seed list, round by round (T1/T3).

Equivalent of the reference's batch entry points
(brave_parallel_processing.py:327-396 and brave_processor.py:211-323) lifted
to DataFrame micro-batches. Each round is one job (plans/round.py); state is
committed atomically per round (plans/checkpoint.py) and a killed crawl
resumes exactly from the last committed round.

Seed ingestion mirrors the reference's input-CSV validation (P7,
brave_processor.py:249-261): malformed rows become dead-letter rows with a
status and are never silently dropped (K3).
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bravewebcrawler_spark.plans import checkpoint as ckpt
from bravewebcrawler_spark.plans.policy import CrawlPolicy
from bravewebcrawler_spark.plans.round import (
    HOST_STATE_SCHEMA,
    SEEN_SCHEMA,
    admit_candidates,
    documents_view,
    robots_df,
    run_round,
)
from bravewebcrawler_spark.sources.synthweb import SynthWeb

INVALID_ROW = "INVALID_INPUT_ROW_STRUCTURE"  # analog of brave_processor.py:253
EMPTY_URL = "EMPTY_URL_IN_INPUT"  # analog of EMPTY_COMPANY_NAME_IN_INPUT (:259)


def validate_seeds(seeds: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split seed rows into (valid, dead_letter) — dead letters keep a status."""
    tagged = seeds.withColumn(
        "status",
        F.when(F.col("url").isNull(), F.lit(INVALID_ROW))
        .when(F.trim(F.col("url")) == "", F.lit(EMPTY_URL))
        .otherwise(F.lit(None)),
    )
    valid = tagged.where(F.col("status").isNull()).drop("status")
    dead = tagged.where(F.col("status").isNotNull())
    return valid, dead


def initial_state(
    spark: SparkSession, web: SynthWeb, seeds: DataFrame, policy: CrawlPolicy
) -> dict[str, DataFrame]:
    robots = robots_df(spark, web)
    valid, dead = validate_seeds(seeds)
    frontier = admit_candidates(valid.select("url", F.lit(0).alias("d0")), "d0", 0, robots)
    # distinct canonical seeds (messy duplicates collapse); min-depth merge is
    # a no-op at depth 0 but reuses the shared rule
    from bravewebcrawler_spark.plans.round import merge_frontier

    return {
        "frontier": merge_frontier(frontier),
        "seen": spark.createDataFrame([], SEEN_SCHEMA),
        "host_state": spark.createDataFrame([], HOST_STATE_SCHEMA),
        "dead_letter": dead,
    }


def crawl(
    spark: SparkSession,
    web: SynthWeb,
    seeds: DataFrame,
    policy: CrawlPolicy,
    state_dir: str,
    resume: bool = False,
    stop_after_round: int | None = None,
) -> dict:
    """Run (or resume) a crawl; returns summary metrics.

    ``stop_after_round`` simulates a kill for resume tests.
    """
    if not resume and os.path.isdir(state_dir):
        shutil.rmtree(state_dir)
    os.makedirs(state_dir, exist_ok=True)

    from bravewebcrawler_spark.operators.seen import empty_bloom

    robots = robots_df(spark, web)
    start_round = 0
    seen_size = 0
    frontier_size = 0
    base_round = 0
    last = ckpt.latest_round(state_dir) if resume else None
    if last is not None:
        m = ckpt.load_metrics(state_dir, last)
        seen_size = m["seen_size"]
        frontier_size = m["frontier_size"]
        base_round = ckpt.load_base_round(state_dir, last)
        start_round = last + 1
    else:
        state = initial_state(spark, web, seeds, policy)
        # Round 0 consumes the initial frontier several times (the dequeue
        # ranking scan in jobA, then the selected/touched/untouched split in
        # jobB) — without a persist each consumer re-runs the 1.6M-row seed
        # canonicalize+merge chain (phase-log finding, round 3). jobA's full
        # ranking scan warms the cache before jobB's joins read it, so the
        # in-flight-recompute trap (BENCH item 2) does not apply; released
        # with the round's own caches once round 0 commits.
        from pyspark.storagelevel import StorageLevel

        state["frontier"] = state["frontier"].persist(StorageLevel.MEMORY_AND_DISK)
        state["bloom"] = empty_bloom(spark)
        # K3: dead-letter rows are kept with their status, never dropped
        state["dead_letter"].write.mode("overwrite").parquet(os.path.join(state_dir, "dead_letter"))

    total_fetched = 0
    for rnd in range(start_round, policy.max_rounds):
        if rnd > 0:
            # Round state from COMMITTED parquet (bounded lineage, O(delta)
            # reads), the same call for a resume and for the round after a
            # commit: the frontier folds one delta per round onto the last
            # full snapshot. Read only when a round will run on it.
            state = ckpt.load_state(spark, state_dir, rnd - 1)
        t0 = time.time()
        # the round's caches and its input frontier (persisted on round 0
        # only; a no-op on a frontier read from parquet) are released, and its
        # side write joined, whether the round commits or raises
        cached = [state["frontier"]]
        try:
            with ThreadPoolExecutor(max_workers=1, thread_name_prefix="bwc-write") as pool:
                out = run_round(
                    spark, web, state["frontier"], state["seen"], state["host_state"], robots,
                    policy, rnd, state["bloom"], cache_registry=cached,
                )
                # Bookkeeping rides on the writes (zero extra jobs): an
                # Observation on the crawl_log write — the job that warms the
                # selected+fetched caches — yields (dequeued, fetched_ok, seen),
                # and one on the frontier or frontier_delta write the
                # frontier-size counts. Writes over COLD caches run one at a
                # time on this thread: Spark does not dedupe in-flight
                # computation of a persisted partition, so parallel jobs over a
                # cold cache would each recompute the chain (measured: 3x CPU +
                # GC storm at local[32]).
                obs_a, obs_b = Observation(), Observation()
                log = out["crawl_log"].observe(
                    obs_a,
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("status") == "FETCHED_OK").alias("ok"),
                    F.count_if(F.col("status") != "TIMEOUT").alias("seen"),  # round.seen_view
                )
                ckpt.write_tables(state_dir, rnd, {"crawl_log": log})
                # host_state, the one side write, reads only the warm selected
                # cache: it runs WHILE the discover→dedup→merge chain computes
                side = ckpt.start_writes(state_dir, rnd, {"host_state": out["host_state"]}, pool)
                # Commit O(delta): frontier and bloom deltas every round; full
                # snapshots every compact_every rounds bound both the
                # reconstruction read fan-in and the lazy cross-round plan
                # depth. The frontier (or delta) write materializes the whole
                # discovery chain in dependency order; the bloom write after
                # it aggregates the warm selected cache.
                is_compaction = rnd % max(policy.compact_every, 1) == 0
                if is_compaction:
                    base_round = rnd
                    tables = {
                        "frontier": out["frontier"].observe(obs_b, F.count(F.lit(1)).alias("n")),
                        "bloom": out["bloom"],
                    }
                else:
                    tables = {
                        "frontier_delta": out["fdelta_tagged"].observe(
                            obs_b,
                            F.count(F.lit(1)).alias("n"),
                            F.count_if(F.col("__touched") == 1).alias("touched"),
                        ).drop("__touched"),
                        "bloom_delta": out["bloom_delta"],
                    }
                for name, df in tables.items():  # one call each: traced apart
                    ckpt.write_tables(state_dir, rnd, {name: df})
                for f in side:  # all tables durable before the manifest commit
                    f.result()
        finally:
            for df in cached:
                df.unpersist()

        counts, b = obs_a.get, obs_b.get
        dequeued = counts["n"]
        # A delta round's size comes WITHOUT scanning the frontier: selected
        # rows leave (dequeued), touched rows move into the delta, the delta
        # contributes all its rows.
        frontier_size = b["n"] if is_compaction else frontier_size + b["n"] - dequeued - b["touched"]
        seen_size += counts["seen"]
        metrics = ckpt.RoundMetrics(
            round_no=rnd,
            dequeued=dequeued,
            fetched_ok=counts["ok"],
            frontier_size=frontier_size,
            seen_size=seen_size,
            wall_s=time.time() - t0,
        )
        # tables already written: publish manifest atomically (commit point)
        ckpt.publish_manifest(state_dir, rnd, metrics, base_round)
        total_fetched += dequeued
        if dequeued == 0:
            break
        if stop_after_round is not None and rnd >= stop_after_round:
            break

    return {
        "last_round": ckpt.latest_round(state_dir),
        "total_dequeued": total_fetched,
        "state_dir": state_dir,
    }


def read_outputs(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """Every committed round's ``crawl_log`` and its documents view, plus the
    state of the newest committed round (its ``seen`` is the log's seen view)."""
    last = ckpt.latest_round(state_dir)
    assert last is not None, "no committed rounds"
    log = ckpt.load_log(spark, state_dir, last)
    st = ckpt.load_state(spark, state_dir, last)
    return {"documents": documents_view(log), "crawl_log": log, **st}
