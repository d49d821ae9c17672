"""Crawl policy shared by the Spark engine and the sequential oracle.

This module IS the semantic contract (SURVEY.md §2.3 O1/O2, §2.9 T4, north
rule): both sides compute the identical priority, the identical politeness
budget, and the identical total order, so N-core and 4N-core engine runs and
the oracle all produce the same dequeue sequence (SURVEY.md §7 risk R2).

Priority mirrors the reference's candidate ordering (search_common.py:272-275:
``.ch`` domain first, name/root match second, stable source-rank tiebreak):
    priority = (2.0 if host endswith '.ch' else 1.0)
             + (0.5 if path is the site root else 0.0)
             - 0.25 * depth
All constants are exactly representable in binary floating point and depth is
an int, so Python and JVM arithmetic agree bit-for-bit.

Total dequeue order: (priority DESC, depth ASC, url_hash ASC) — W2 in
SURVEY.md §2.6. url_hash is the portable md5-derived 60-bit hash, so the
tiebreak is identical across engine/oracle/DuckDB.

Politeness (T4): token bucket per host. Buckets start full (CAPACITY); at the
start of every round after the first they refill by RATE, clamped to
CAPACITY; each fetch costs 1.0; a host may fetch ``floor(tokens)`` URLs in a
round. With CAPACITY/RATE in quarter-units the float math is exact.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CrawlPolicy:
    capacity: float = 4.0  # token bucket capacity per host
    rate: float = 2.0  # tokens refilled per round
    max_urls_per_round: int = 200  # global round cap (by total order)
    max_rounds: int = 6
    max_depth: int = 8
    # bloom pre-filter for the dedup anti-join (operators/seen.py); never
    # decides membership — False only moves all work to the exact join
    use_bloom: bool = False
    bloom_buckets: int = 64
    bloom_m_bits: int = 1 << 16
    # full frontier/bloom snapshot every N rounds (rounds in between commit
    # O(delta) only); bounds both resume read fan-in and cross-round plan depth
    compact_every: int = 4
    # P6 wired into the round: pages with a generic <title> do not expand
    # their outlinks (the page itself is still fetched/logged/kept) —
    # mirrors the reference gating its expensive stage on the relevance
    # pre-check (brave_processor.py:94-102)
    use_relevance_gate: bool = False

    def __post_init__(self) -> None:
        # the engine caps depth where a page expands; seeds (depth 0) are
        # admitted unchecked, which matches the oracle only for max_depth >= 0
        if self.max_depth < 0:
            raise ValueError(f"max_depth must be >= 0, got {self.max_depth}")


def priority_py(host: str, path: str, depth: int) -> float:
    base = 2.0 if host.endswith(".ch") else 1.0
    if path == "/" or path == "":
        base += 0.5
    return base - 0.25 * depth


def priority_col(host: Column, path: Column, depth: Column) -> Column:
    base = F.when(F.endswith(host, F.lit(".ch")), F.lit(2.0)).otherwise(F.lit(1.0))
    root_bonus = F.when((path == "/") | (path == ""), F.lit(0.5)).otherwise(F.lit(0.0))
    return base + root_bonus - F.lit(0.25) * depth.cast("double")


def path_of_py(url_canon: str) -> str:
    rest = url_canon.split("://", 1)[1]
    slash = rest.find("/")
    return "/" if slash < 0 else rest[slash:]


def path_of_col(url_canon: Column) -> Column:
    # canonical URLs always contain "://" and a path starting with "/"
    return F.regexp_extract(url_canon, r"^[a-z][a-z0-9+.\-]*://[^/]*(/.*)$", 1)
