"""One crawl round as a single declarative DataFrame micro-batch.

The reference's outer loop processes one company per iteration
(brave_processor.py:248, brave_parallel_processing.py:366-371 pool fan-out);
the engine lifts it to sets: every round is one DataFrame job —

    frontier ──rank──► dequeue (politeness-budgeted, salted host windows)
        │                   │ mapInPandas fetch+parse (Arrow batches)
        │                   ▼
        │              crawl_log: one row per URL, status beside url_hash
        │                   │ and spans; seen' and documents are views of it
        │                   │ explode outlinks → canonicalize → admit
        └──anti-join──► frontier'  (min-depth merge, dedup vs seen')

Scale notes (1000-executor / 10^10-frontier design, verified on the local
plan with .explain):
  * the per-host dequeue is a salted two-phase window (W1 in SURVEY.md §2.6):
    ``row_number() over (host, salt)`` bounds any single task's window to
    1/SALT_N of a hot host before the exact per-host re-rank — salting
    changes placement, never rank (risk R2);
  * the global round cap is the exact global rank from
    ``operators/ranking.global_prefix`` (W2): a pid from sampled bound keys
    plus per-pid offsets, one hash exchange, seq = rank, kept while seq < cap
    — never a single-partition window or a driver-merged top-K;
  * dedup is an exact ``left_anti`` join on url_hash (J2); the bloom
    pre-filter (operators/seen.py) cheapens it but never decides membership
    (risk R3);
  * robots rules are a broadcast join (J3, north rule);
  * all heavy expressions (canonicalization, priority, admission) are
    column expressions inside whole-stage codegen; Python appears only in the
    fetch+parse mapInPandas, where fetch is the stand-in for network I/O and
    parsing is pandas-vectorized (functions/extract.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bravewebcrawler_spark.functions import extract
from bravewebcrawler_spark.functions.canon import (
    canonicalize_url_col,
    host_of_col,
    is_blacklisted_col,
    url_hash_col,
)
from bravewebcrawler_spark.operators.ranking import global_prefix, salted_top_k
from bravewebcrawler_spark.plans.policy import CrawlPolicy, path_of_col, priority_col
from bravewebcrawler_spark.sources.synthweb import SynthWeb

SALT_N = 8  # dequeue-window salt fan-out (defuses hot-host skew)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("round_added", T.IntegerType(), False),
        # per-partition provenance (north rule): which round and which source
        # partition appended this entry — debugging/audit only, never part of
        # the ordering or equality contracts
        T.StructField("lineage", T.StringType(), False),
        # T2: number of prior fetch attempts (a TIMEOUT returns the URL to the
        # frontier with attempts+1 and it is retried on a later round)
        T.StructField("attempts", T.IntegerType(), False),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("round_seen", T.IntegerType(), False),
    ]
)

HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("tokens", T.DoubleType(), False),
    ]
)

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), True),
        ]
    )
)

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
    ]
)


def seen_view(log: DataFrame) -> DataFrame:
    """The URLs a ``crawl_log`` marks seen, as SEEN_SCHEMA columns. T2: a
    TIMEOUT is transient — the URL returns to the frontier, not to seen."""
    return log.where(F.col("status") != "TIMEOUT").select(
        "url_canon", "url_hash", F.col("round").alias("round_seen")
    )


def documents_view(log: DataFrame) -> DataFrame:
    """The pages a ``crawl_log`` fetched, as ``(doc_id, round, spans)``."""
    return log.where(F.col("status") == "FETCHED_OK").select(
        F.col("url_canon").alias("doc_id"), "round", "spans"
    )


def robots_df(spark: SparkSession, web: SynthWeb) -> DataFrame:
    """Robots dimension as a DataFrame plan — broadcast at join time (J3).

    Was a driver-side Python loop materializing one row per host: fine at 20k
    hosts, a real driver bottleneck at the north rule's millions ("robots.txt
    cache broadcast to executors"). Now ``spark.range(n_hosts)`` + column
    expressions reproduce ``SynthWeb.host`` / ``SynthWeb.robots_disallow``
    bit-for-bit (the md5-derived rule evaluates JVM-side), so the dim is
    generated distributed, never materialized on the driver, and the
    crawl-vs-oracle equality is unchanged (pytest parity-checks all hosts).
    In production this is one ``spark.read.parquet`` of a robots snapshot —
    the join shape (J3) is identical either way.
    """
    host = F.format_string(
        "host%03d.example.%s",
        F.col("id"),
        F.when(F.col("id") % 3 != 2, F.lit("ch")).otherwise(F.lit("com")),
    )
    # SynthWeb._rnd(seed, "robots", host): big-endian uint64 of md5[:8].
    # conv() emits the unsigned decimal string; decimal(20,0) holds 2^64-1,
    # so the %5 / %3 arithmetic matches Python's arbitrary-precision ints.
    r = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{web.seed}|robots|"), F.col("host"))), 1, 16),
        16, 10,
    ).cast("decimal(20,0)")
    return (
        spark.range(web.n_hosts)
        .withColumn("host", host)
        .withColumn("__r", r)
        .select(
            "host",
            F.when(
                F.col("__r") % 5 == 0,
                F.array(
                    F.concat(F.lit("/page/"), (F.lit(1) + (F.col("__r") % 3)).cast("int").cast("string"))
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("disallow_prefixes"),
        )
    )


def admit_candidates(raw_urls: DataFrame, depth_col: str, round_no: int, robots: DataFrame) -> DataFrame:
    """Discovery-time shaping + filtering (blacklist P1, robots).

    ``raw_urls``: columns (url string, <depth_col> int), already within the
    policy's ``max_depth`` (seeds sit at depth 0; run_round expands only
    pages below the cap). Returns FRONTIER_SCHEMA rows. Everything is column
    expressions; robots is a broadcast left join.
    """
    c = (
        raw_urls.withColumn("url_canon", canonicalize_url_col(F.col("url")))
        .withColumn("host", host_of_col(F.col("url")))
        .where((F.col("host") != "") & ~is_blacklisted_col(F.col("host")))
        .withColumn("path", path_of_col(F.col("url_canon")))
        .withColumn("url_hash", url_hash_col(F.col("url_canon")))
        .withColumn("priority", priority_col(F.col("host"), F.col("path"), F.col(depth_col)))
        .withColumn("depth", F.col(depth_col).cast("int"))
        .withColumn("round_added", F.lit(round_no))
        .withColumn(
            "lineage",
            F.concat(F.lit(f"r{round_no}:p"), F.spark_partition_id().cast("string")),
        )
        .withColumn("attempts", F.lit(0))
    )
    from bravewebcrawler_spark.operators.politeness import robots_allowed

    c = robots_allowed(c, robots)
    return c.select([f.name for f in FRONTIER_SCHEMA.fields])


def merge_frontier(parts: DataFrame, tag_col: str | None = None) -> DataFrame:
    """Min-depth merge of frontier entries sharing a canonical URL.

    Priority is a strictly depth-decreasing pure function of the URL, so
    keeping the max-(priority), min-(depth) struct keeps the first/shallowest
    discovery — the shared contract with the oracle.

    ``tag_col``: optional int column carried through as ``max(tag_col)`` per
    key — lets the caller piggyback bookkeeping (e.g. "did any merged row
    come from the existing frontier") on the same shuffle instead of paying a
    separate counting job over the frontier.
    """
    best = F.max(
        F.struct(
            F.col("priority"),
            (-F.col("depth")).alias("negd"),
            F.col("round_added"),
            F.col("lineage"),
        )
    ).alias("b")
    aggs = [best, F.max("attempts").alias("attempts")]
    if tag_col is not None:
        aggs.append(F.max(tag_col).alias(tag_col))
    return (
        parts.groupBy("url_canon", "url_hash", "host", "path")
        # attempts merges independently of the value struct: a retried entry
        # never loses its attempt count to a fresh rediscovery (T2)
        .agg(*aggs)
        .select(
            "url_canon",
            "url_hash",
            "host",
            "path",
            F.col("b.priority").alias("priority"),
            (-F.col("b.negd")).cast("int").alias("depth"),
            F.col("b.round_added").alias("round_added"),
            F.col("b.lineage").alias("lineage"),
            "attempts",
            *([tag_col] if tag_col is not None else []),
        )
    )


def _fetch_parse_factory(web: SynthWeb):
    """mapInPandas fn: fetch with the T2 failure taxonomy (the stand-in for
    executor-side HTTP I/O with a hard per-item budget, reference
    search_common.py:407-409 + brave_processor.py:42,276-304) + vectorized
    span/outlink parse. The per-URL loop IS the network call; parsing stays
    pandas-vectorized."""

    def fetch_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outcomes = [
                web.fetch_outcome(u, int(a))
                for u, a in zip(pdf["url_canon"], pdf["attempts"])
            ]
            html = pd.Series([o[1] for o in outcomes], index=pdf.index, dtype=object)
            spans = extract.parse_spans_pd(html)
            outlinks = extract.parse_outlinks_pd(html)
            yield pd.DataFrame(
                {
                    "url_canon": pdf["url_canon"],
                    "url_hash": pdf["url_hash"],
                    "seq": pdf["seq"],
                    "depth": pdf["depth"],
                    "attempts": pdf["attempts"],
                    "status": pd.Series([o[0] for o in outcomes], index=pdf.index),
                    "error": pd.Series([o[2] for o in outcomes], index=pdf.index, dtype=object),
                    "spans": spans,
                    "outlinks": outlinks,
                }
            )

    return fetch_parse


def dequeue(
    frontier: DataFrame,
    host_state: DataFrame,
    policy: CrawlPolicy,
    refill: bool,
    cache_registry: list,
) -> DataFrame:
    """Politeness-budgeted, skew-salted priority dequeue (O1/O2/W1/W2/A7).

    Each host keeps its first ``budget`` URLs in total order
    (``salted_top_k``, W1); the survivors are then ranked globally
    (``global_prefix`` with weight 1, W2) and the first
    ``max_urls_per_round`` kept. Returns frontier columns + ``seq`` (the
    0-based dequeue position within the round). Builds eagerly (three small
    jobs) and persists the survivors into ``cache_registry``; the caller
    unpersists them once the result is fully consumed.
    """
    from bravewebcrawler_spark.operators.politeness import host_budget

    # ascending: highest priority first
    key = [-F.col("priority"), F.col("depth"), F.col("url_hash"), F.col("url_canon")]
    budgeted = frontier.join(host_state, "host", "left").withColumn(
        "budget", host_budget(policy, refill)
    )
    # global_prefix reads its input in three small jobs before the final
    # one; this persist keeps the host windows from running four times
    survivors = salted_top_k(
        budgeted, ["host"], key, F.col("budget"), F.col("url_hash"), SALT_N
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cache_registry.append(survivors)
    ranked = global_prefix(survivors, key, F.lit(1))
    return ranked.where(F.col("prefix") < policy.max_urls_per_round).select(
        *[f.name for f in FRONTIER_SCHEMA.fields], F.col("prefix").cast("int").alias("seq")
    )


def run_round(
    spark: SparkSession,
    web: SynthWeb,
    frontier: DataFrame,
    seen: DataFrame,
    host_state: DataFrame,
    robots: DataFrame,
    policy: CrawlPolicy,
    round_no: int,
    bloom: DataFrame,
    *,
    cache_registry: list,
) -> dict[str, DataFrame]:
    """Execute one round; returns O(delta) state updates + the round table.

    Commit-size contract (the 10^10-frontier design): everything a round
    WRITES is bounded by the round, not by total state —
      * ``crawl_log``       — one row per dequeued URL; the round's seen
        delta and documents are ``seen_view`` / ``documents_view`` of it,
      * ``bloom_delta``     — only the filter words the round's hashes set,
      * ``fdelta_tagged``   — only rows whose key was (re)discovered this
        round, min-depth-merged against their current frontier version (the
        ``frontier_delta`` table, plus a ``__touched`` tag for the caller's
        frontier-size arithmetic).
    The full-state views are lazy: ``frontier`` is a union for in-round
    consumers and the periodic compaction write, ``bloom`` the collapsed
    filter only that write reads. The caller (plans/crawl.py) reads
    next-round state from the committed parquet through
    ``checkpoint.load_state``, so lineage never chains through a round's
    cached internals. Every frame the round persists goes into
    ``cache_registry``; the caller unpersists them.

    The frontier split is two BROADCAST joins (selected keys <= round cap;
    discovered keys <= round fan-out), i.e. map-side filters — the frontier
    itself is never shuffled. At fan-outs where the discovered key set
    outgrows a broadcast (~100M+ keys/round), flip to a plain shuffle join
    for that round (AQE) — the commit stays O(delta) either way.
    """
    from bravewebcrawler_spark.operators.seen import bloom_hits, bloom_insert_delta, collapse_bloom

    # selected and fetched fan out into every downstream branch (log,
    # host_state, frontier); persisting them makes the dequeue windows and the
    # mapInPandas fetch run ONCE per round instead of once per table write.
    #
    # CRITICAL for scaling: the cap keeps only the lowest pids of the global
    # order (all of a round's URLs can sit in one of them) — without
    # the repartition below, the fetch+parse of a round could run in a few
    # tasks and adding executors could not help. seq is already assigned, so
    # spreading by url_hash is free.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    selected = (
        dequeue(frontier, host_state, policy, refill=round_no > 0, cache_registry=cache_registry)
        .repartition(n_part, F.col("url_hash"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    fetched = (
        selected.select("url_canon", "url_hash", "seq", "depth", "attempts")
        .mapInPandas(_fetch_parse_factory(web), schema=FETCHED_SCHEMA)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cache_registry += [selected, fetched]

    # F18: error messages truncated to 30 chars in the log, never dropped
    # (brave_processor.py:179,198)
    crawl_log = fetched.select(
        F.lit(round_no).alias("round"),
        "seq",
        "url_canon",
        "url_hash",
        "status",
        F.substring("error", 1, 30).alias("error"),
        "spans",
    )
    new_seen = seen.unionByName(seen_view(crawl_log))

    # token accounting: refill (rounds>0), then subtract this round's spend
    from bravewebcrawler_spark.operators.politeness import spend_tokens

    spends = selected.groupBy("host").agg(F.count("*").cast("double").alias("spent"))
    new_host_state = spend_tokens(host_state, spends, policy, refill=round_no > 0)

    # P6 wired into the round: only successfully fetched pages expand, and —
    # with the relevance gate on — pages whose <title> is generic do not
    # contribute outlinks (the reference gates its expensive stage on the
    # relevance pre-check, brave_processor.py:94-102). The page itself is
    # still fetched, logged and kept as a document; only expansion is gated.
    # the depth cap before the explode: a link sits one below its page, so a
    # page at max_depth contributes no admissible link
    expanding = fetched.where((F.col("status") == "FETCHED_OK") & (F.col("depth") < policy.max_depth))
    if policy.use_relevance_gate:
        from bravewebcrawler_spark.functions.relevance import is_generic_title_col

        title = F.element_at(F.col("spans"), 1)["text"]
        expanding = expanding.where(~is_generic_title_col(title))
    discovered_raw = (
        expanding.select("depth", F.explode_outer("outlinks").alias("url"))
        .where(F.col("url").isNotNull())
        .select("url", (F.col("depth") + 1).alias("link_depth"))
    )
    # RAW-link dedup BEFORE canonicalization: a page fan-out of ~30 links
    # means most discoveries are duplicates, so collapsing on the raw string
    # first (map-side partial agg + one skinny (url, min depth) shuffle) runs
    # the expensive canonicalize/hash/priority battery on |unique| rows, not
    # |links| (~30x less CPU+GC; measured 2x round-1 jobB at bench scale).
    # min(depth) keeps the shallowest discovery — the same contract
    # merge_frontier applies after canonical aliases collapse, so the final
    # (priority, depth) per canonical key is unchanged. The shuffle is the
    # same row COUNT a canonical-first merge pays, but ~60-byte rows instead
    # of fully-shaped frontier entries.
    discovered_uniq = discovered_raw.groupBy("url").agg(F.min("link_depth").alias("link_depth"))
    # Raw forms that differ but canonicalize equal stay separate rows until
    # fdelta_tagged's merge below; a duplicate url_hash is harmless in the
    # bloom probe and the semi/anti joins.
    discovered = admit_candidates(discovered_uniq, "link_depth", round_no + 1, robots)
    # J2 dedup: the exact anti-join is always the authority; with use_bloom
    # the bucketed bloom splits candidates so only bloom HITS pay the join
    # against the (large) seen table (operators/seen.py, risk R3).
    # bloom_delta is the round's words only (the O(delta) write), an
    # aggregate of the warm selected cache that the probe and the write each
    # run; the current filter is the committed rows plus it, duplicates and all.
    bloom_delta = bloom_insert_delta(selected.select("url_hash"), policy.bloom_buckets, policy.bloom_m_bits)
    new_bloom = bloom.unionByName(bloom_delta)
    if policy.use_bloom:
        # A bloom MISS is authoritative (no false negatives), so only hits
        # need exact confirmation:
        #   confirmed = hits ∩ seen        (two small sides)
        #   new       = discovered ⟂ confirmed  (ONE anti-join)
        # One anti-join scan of discovered plus the probe's hash-only scan.
        discovered = discovered.persist(StorageLevel.MEMORY_AND_DISK)
        cache_registry.append(discovered)
        hits = bloom_hits(
            discovered.select("url_hash"), new_bloom, policy.bloom_buckets, policy.bloom_m_bits
        )
        confirmed = hits.join(new_seen.select("url_hash"), "url_hash", "left_semi")
        discovered = discovered.join(confirmed, "url_hash", "left_anti")
    else:
        discovered = discovered.join(new_seen.select("url_hash"), "url_hash", "left_anti")
    # T2 retries: timed-out URLs return to the frontier with attempts+1
    # (host/path/priority recomputed from the canonical URL — identical pure
    # functions, so the retried entry ranks exactly as the original did).
    retry = fetched.where(F.col("status") == "TIMEOUT").select(
        "url_canon",
        "url_hash",
        host_of_col(F.col("url_canon")).alias("host"),
        path_of_col(F.col("url_canon")).alias("path"),
        "depth",
        (F.col("attempts") + 1).alias("attempts"),
    )
    retry = retry.select(
        "url_canon",
        "url_hash",
        "host",
        "path",
        priority_col(F.col("host"), F.col("path"), F.col("depth")).alias("priority"),
        "depth",
        F.lit(round_no + 1).alias("round_added"),
        F.concat(F.lit(f"r{round_no}:retry:p"), F.spark_partition_id().cast("string")).alias("lineage"),
        "attempts",
    )
    additions = discovered.unionByName(retry)
    # additions feeds three consumers (the touched-keys broadcast below,
    # frontier_delta, and the warm/metrics count) — persist it so the
    # explode→canonicalize→dedup chain runs once per round.
    additions = additions.persist(StorageLevel.MEMORY_AND_DISK)
    cache_registry.append(additions)

    # O(delta) frontier update: rows selected this round leave; rows whose
    # key was rediscovered (or timed out and re-enqueued) are merged against
    # their current frontier version; all other rows are untouched and NEVER
    # shuffled or rewritten. Both key sets are round-bounded → broadcast
    # (map-side) anti/semi joins.
    # No broadcast hints here: both key sets are round-bounded but can reach
    # tens of millions at a real fan-out (past any broadcast limit), and a
    # forced-broadcast build is driver-SERIAL time no parallelism removes.
    # Declared as plain joins, AQE converts to broadcast when the runtime
    # size is under spark.sql.adaptive.autoBroadcastJoinThreshold and keeps
    # the (parallel, scalable) shuffle join otherwise.
    selected_keys = selected.select("url_hash")
    touched_keys = additions.select("url_hash")
    remaining = frontier.join(selected_keys, "url_hash", "left_anti")
    touched = remaining.join(touched_keys, "url_hash", "left_semi")
    untouched = remaining.join(touched_keys, "url_hash", "left_anti")
    # __touched piggybacks on the merge shuffle so the caller can derive the
    # new frontier size ARITHMETICALLY (prev - selected - touched + |delta|)
    # instead of scanning the full frontier for a metrics count — at a 10^10
    # frontier an O(state) read per round just for a progress number. 1 marks
    # a key that already sat in the frontier, 0 a brand-new key; max() over a
    # merged key is 1 iff one of its versions came from the frontier.
    fdelta_tagged = merge_frontier(
        touched.withColumn("__touched", F.lit(1)).unionByName(
            additions.withColumn("__touched", F.lit(0))
        ),
        tag_col="__touched",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cache_registry.append(fdelta_tagged)
    frontier_delta = fdelta_tagged.drop("__touched")
    new_frontier = untouched.unionByName(frontier_delta)

    return {
        "frontier": new_frontier,
        "fdelta_tagged": fdelta_tagged,
        "host_state": new_host_state,
        "bloom": collapse_bloom(new_bloom),
        "bloom_delta": bloom_delta,
        "crawl_log": crawl_log,
    }
