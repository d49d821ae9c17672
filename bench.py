"""Benchmark runner (driver contract): headline queries + crawl throughput.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the host's cores) and prints ONE JSON line:
  {"metric": ..., "value": <total seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "crawl_urls_per_s": <rate>, ...}

The crawl component measures the north-rule metric (URLs fetched+deduped per
second) over a synthetic frontier; BENCH/run_scaling.py runs this same job at
two parallelism levels (local[8] vs local[32]) for the scaling-efficiency
evidence in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Default shuffle + checkpoint state to tmpfs when available: the sandbox has
# ONE physical disk, a shared bottleneck a real N-executor cluster (N local
# disks + distributed store) does not have. Must be set before the JVM boots.
if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-tmp"
if os.path.isdir("/dev/shm") and "SPARK_GRAFT_STATE_DIR_BASE" not in os.environ:
    os.makedirs("/dev/shm/bwc-state", exist_ok=True)
    os.environ["SPARK_GRAFT_STATE_DIR_BASE"] = "/dev/shm/bwc-state"

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping",
    "q5_region_revenue",
    "a7_per_key_topk",
    "j2_anti_join",
    "sessionization",
    "w3_running_metrics",
    "dedup_minhash_lsh",
    "dedup_lsh_refined",
    "corpus_prep",
    "dedup_exact",
    "dedup_components",
    "dedup_keep_one",
    "sample_stratified",
    "corpus_pack",
    "facts_per_seed",
    "facts_reference_csv",
    "embed_neardup_lsh",
    "s6_entity_lookup",
    "text_fingerprint",
    "text_metrics",
    "decontam_overlap",
    "host_corpus_stats",
    "url_freq_prior",
    "ann_brute_topk",
    "ann_lsh_topk",
    "ann_lsh_multiprobe",
    "stream_window_counts",
    "stream_stateful_user_stats",
    "multimodal_meta",
]


def bench_crawl(spark) -> dict:
    """North-rule metric: URLs fetched+deduped per second (synthetic web)."""
    from bravewebcrawler_spark.plans.crawl import crawl
    from bravewebcrawler_spark.plans.policy import CrawlPolicy
    from bravewebcrawler_spark.sources.synthweb import SynthWeb

    web = SynthWeb(seed=42, n_hosts=20000, pages_per_host=300, hot_hosts=10, weight=16)
    # Round sizing: a 100 TB crawl's rounds are ~10^8 URLs — per-round fixed
    # driver costs (plan codegen, broadcast builds, commit, AQE re-planning)
    # are noise there. Small rounds make those fixed seconds a visible
    # "serial fraction" no parallelism can touch, understating the scaling a
    # production round sees; 400k seeds + an 800k round cap keeps the bench
    # honest about the parallel fraction while finishing in minutes
    # (measured serial floor ~71 s/run vs ~25 min of 1-core parallel work;
    # a 1.5x-bigger 600k/1.2M variant measured the same efficiency within
    # host noise — see BENCH/BASELINE.md appendix — so the smaller, faster
    # config is the configured bench).
    # Politeness budget: capacity 50 x 20k hosts = 1M > cap, so the cap
    # (not the budget) bounds the round. Bloom sized to the workload (~1.3M
    # keys over 2 rounds): 128 buckets x 2^18 bits = 4 MB at ~25 bits/key
    # (k=7 -> FPR well under 1%; the bloom never decides membership).
    # SPARK_GRAFT_BENCH_SCALE multiplies the round size (seeds, cap,
    # politeness budget, bloom capacity) for the serial-floor amortization
    # datapoint: per-round fixed costs are level-independent, so efficiency
    # should rise with round size (VERDICT r2 #7). Default 1 = the
    # configured 400k/800k bench.
    scale = float(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1"))
    policy = CrawlPolicy(
        capacity=50.0 * scale, rate=50.0 * scale,
        max_urls_per_round=int(800000 * scale), max_rounds=2,
        max_depth=8,
        use_bloom=os.environ.get("SPARK_GRAFT_BLOOM", "1") == "1",
        bloom_buckets=max(128, int(128 * scale)), bloom_m_bits=1 << 18,
    )
    # Seeds come from parquet, not a driver-local list: the reference reads
    # its input CSV from disk, and driver-side pickling of a 400k-row Python
    # list inside the timed region would add a level-independent constant.
    seeds_path = os.path.join(
        os.environ.get("SPARK_GRAFT_STATE_DIR_BASE", tempfile.gettempdir()),
        "bench_seeds.parquet",
    )
    # 32 files (not 4): the seed scan's split count caps round-0's
    # seed-admission parallelism — at 4 files an 8-core level ran the
    # 1.6M-row canon battery on half its cores (phase-log finding, round 3).
    # Same rows at every level; identical input either way.
    spark.createDataFrame(
        web.seed_urls(int(400000 * scale)), "seed_id string, url string"
    ).repartition(32).write.mode("overwrite").parquet(seeds_path)
    seeds = spark.read.parquet(seeds_path)
    # SPARK_GRAFT_STATE_DIR_BASE=/dev/shm/... for scaling runs: a real
    # N-executor cluster checkpoints to distributed storage whose bandwidth
    # scales with N; this sandbox has ONE disk, which would otherwise be a
    # shared bottleneck no real cluster pays (see BENCH/BASELINE.md).
    base = os.environ.get("SPARK_GRAFT_STATE_DIR_BASE", tempfile.gettempdir())
    state_dir = os.path.join(base, f"bench_crawl_{os.getpid()}")
    t0 = time.time()
    res = crawl(spark, web, seeds, policy, state_dir)
    wall = time.time() - t0
    # Per-round (dequeued, wall) from the committed manifests — read AFTER the
    # timed region. Round 0 carries the cold start (plan/codegen warmup,
    # initial-state build, first compaction snapshot); rounds >= 1 are the
    # steady state a production crawl runs hundreds of, so the renderer also
    # reports steady-state scaling efficiency from these.
    from bravewebcrawler_spark.plans import checkpoint as ckpt

    rounds = []
    last = ckpt.latest_round(res["state_dir"])
    for r in range((last if last is not None else -1) + 1):
        m = ckpt.load_metrics(res["state_dir"], r)
        rounds.append({"round": r, "dequeued": m["dequeued"], "wall_s": round(m["wall_s"], 2)})
    return {
        "crawl_urls": res["total_dequeued"],
        "crawl_wall_s": round(wall, 2),
        "crawl_urls_per_s": round(res["total_dequeued"] / wall, 2),
        "crawl_rounds": rounds,
        "bench_scale": scale,
        "executors": int(os.environ.get("SPARK_GRAFT_EXECUTORS", "0")),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from bravewebcrawler_spark.session import get_spark, host_cpus

    cpus = host_cpus()
    skip_crawl = os.environ.get("SPARK_GRAFT_SKIP_CRAWL", "") == "1"
    crawl_only = os.environ.get("SPARK_GRAFT_CRAWL_ONLY", "") == "1"

    # SPARK_GRAFT_EXECUTORS=N switches to local-cluster[N,2,...] — N real
    # executor JVMs (the north rule's N-vs-4N-executors shape); master=None
    # lets the session factory build it.
    n_exec = int(os.environ.get("SPARK_GRAFT_EXECUTORS", "0"))
    # shuffle_partitions=None → the session factory sizes partitions as
    # SPARK_GRAFT_SHUFFLE_MULT x cores (min 8) — the SAME rule at every
    # parallelism level, like a real cluster tuning partitions to its size.
    # Multi-wave stages (mult > 1) let stragglers rebalance; a single 8-on-8
    # wave is bounded by its slowest task (measured at 4 executors x 2 cores,
    # interleaved reps: mult 4 beat mult 1 within every rep, best 4943 vs
    # 4648 urls/s; AQE coalescing keeps small stages cheap at high mult).
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_MULT", "4")
    if n_exec > 0:
        cpus = n_exec * 2
        spark = get_spark("bwc-bench", master=None)
    else:
        spark = get_spark("bwc-bench", master=f"local[{cpus}]")
    qs = entrymod.queries()

    # warm the JVM/codegen once so per-query timings measure the plan, not
    # startup: a scan + the agg and window plan shapes, untimed. Without the
    # two query-shaped warmups the FIRST timed queries absorb suite-global
    # JIT warmup (measured: q1 1.76s in-suite vs 0.47s isolated-warm).
    # Crawl-only runs skip them: the crawl has its own cold-start story
    # (round 0) and scaling draws must stay comparable across rounds.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    if not crawl_only:
        qs["q1_pricing_summary"](spark, sf_dir).collect()
        qs["a7_per_key_topk"](spark, sf_dir).collect()

    # Timing hygiene (VERDICT r3 #1), two layers:
    #   1. cache flush + GC breath before every timed run — heap/GC residue
    #      from a heavy neighbor bled into the next timing (measured 4-6x in
    #      BOTH directions: ann_lsh_topk 11.2s in-suite vs 2.66s isolated;
    #      ann_brute 1.19 vs 7.25).
    #   2. interleaved best-of-REPS per query (the crawl bench's protocol) —
    #      this host's available bandwidth swings ~1.8x between identical
    #      runs, so a single draw can sit anywhere in that band; the min of
    #      interleaved passes is comparable across runs.
    # tools/bench_isolated.py publishes the isolated column these numbers
    # are validated against (within ~1.5x = healthy).
    import gc

    # SPARK_GRAFT_QUERIES="a,b" restricts the suite — tools/bench_isolated.py
    # uses it to time each query in its own fresh JVM.
    only = os.environ.get("SPARK_GRAFT_QUERIES", "")
    names = [] if crawl_only else ([q for q in only.split(",") if q] or HEADLINE)
    reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", "2"))

    timings: dict[str, float] = {}
    for _ in range(reps):
        for name in names:
            fn = qs[name]
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)
            t0 = time.time()
            fn(spark, sf_dir).collect()
            wall = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, wall), wall)

    out = {
        "metric": "headline_suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "cpus": cpus,
    }
    if not skip_crawl:
        out.update(bench_crawl(spark))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
