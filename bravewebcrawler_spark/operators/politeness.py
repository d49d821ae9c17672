"""Per-host politeness: token-bucket budgets + robots filtering (SURVEY.md
§2.9 T4, §2.4 A7, §2.5 J3/J4; build-plan step 6).

The reference's politeness analogs are per-item timeouts and worker
staggering (brave_processor.py:42,276-286; brave_parallel_processing.py:
173-187); the engine makes politeness explicit per the north rule:

  * robots rules: a small dimension broadcast to executors (J3) and applied
    as a prefix filter at discovery time;
  * crawl-rate limits: a token bucket per host — refill ``rate`` per round,
    clamp at ``capacity``, spend 1 per fetch; a host may dequeue
    ``floor(tokens)`` URLs in a round (J4 + A7).

These are the column-level pieces plans/round.py composes; they are factored
here so the budget arithmetic is shared by the dequeue (budget computation)
and the accounting (spend/refill) and stays bit-identical to the oracle
(plans/policy.py documents why the float math is exact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bravewebcrawler_spark.plans.policy import CrawlPolicy


def refilled_tokens(policy: CrawlPolicy, refill: bool) -> Column:
    """Tokens at round start from the ``tokens`` column: missing hosts are
    full; refill clamps at capacity."""
    t = F.coalesce(F.col("tokens"), F.lit(policy.capacity))
    if refill:
        t = F.least(F.lit(policy.capacity), t + F.lit(policy.rate))
    return t


def host_budget(policy: CrawlPolicy, refill: bool) -> Column:
    """Integer per-host fetch budget for this round."""
    return F.floor(refilled_tokens(policy, refill)).cast("int")


def spend_tokens(host_state: DataFrame, spends: DataFrame, policy: CrawlPolicy, refill: bool) -> DataFrame:
    """New host_state after the round: refill then subtract per-host spends.

    ``spends``: (host, spent double). Full outer join keeps never-spending
    tracked hosts and newly-seen hosts alike. Only hosts with ``tokens <
    capacity - rate`` are kept: every later round refills first, and a host
    at or above that refills to ``capacity`` — the value
    ``refilled_tokens`` gives a missing host.
    """
    tokens = refilled_tokens(policy, refill) - F.coalesce(F.col("spent"), F.lit(0.0))
    return (
        host_state.join(spends, "host", "full")
        .select("host", tokens.alias("tokens"))
        .where(F.col("tokens") < policy.capacity - policy.rate)
    )


def robots_allowed(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates whose ``path`` matches a disallowed prefix for their host.

    ``robots``: (host, disallow_prefixes array<string>) — small; broadcast.
    """
    return candidates.join(F.broadcast(robots), "host", "left").where(
        F.col("disallow_prefixes").isNull()
        | ~F.exists(F.col("disallow_prefixes"), lambda p: F.col("path").startswith(p))
    ).drop("disallow_prefixes")
