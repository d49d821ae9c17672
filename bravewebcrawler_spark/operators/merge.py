"""Fact merging + gap introspection (SURVEY.md §2.4 A1-A3).

The reference's ``CompanyFacts.merge_with`` keeps existing values and fills
blanks from the next source (models.py:18-22); ``missing_fields`` drives the
gap-pruned expensive stage (models.py:14-16, google_search.py:85-93,
google_harvester.py:71-85). Spark-first: per-field ``coalesce`` across
priority-ordered sources, ``first(ignorenulls=True)`` across rows, and a
null-count aggregation as the pipeline gate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coalesce_merge(sources: list[DataFrame], key: str, fields: list[str]) -> DataFrame:
    """First-non-null field merge across sources (earlier source wins) — the
    set-level equivalent of chained merge_with calls (google_search.py:76,276).

    Sources are outer-joined on ``key``; each field is coalesced in source
    priority order. With small dimension sources Catalyst picks broadcast
    joins automatically.
    """
    aliased = [
        s.select(key, *[F.col(f).alias(f"{f}__{i}") for f in fields]) for i, s in enumerate(sources)
    ]
    joined = reduce(lambda a, b: a.join(b, key, "full"), aliased)
    return joined.select(
        key,
        *[
            F.coalesce(*[F.col(f"{f}__{i}") for i in range(len(sources))]).alias(f)
            for f in fields
        ],
    )


def first_non_null_per_key(df: DataFrame, keys: list[str], fields: list[str], order: list) -> DataFrame:
    """Row-wise merge: per key, the first non-null of each field in ``order``.

    Implemented as min over (order_rank, value) structs so it stays a hash
    aggregate (map-side partials, no window shuffle+sort) — the scalable form
    of first(ignorenulls=True) with an explicit deterministic order.
    """
    rank = F.struct(*order)
    aggs = []
    for f in fields:
        picked = F.min(F.when(F.col(f).isNotNull(), F.struct(rank.alias("r"), F.col(f).alias("v"))))
        aggs.append(picked["v"].alias(f))
    return df.groupBy(*keys).agg(*aggs)


def missing_field_counts(df: DataFrame, fields: list[str]) -> DataFrame:
    """A2: per-field null/blank counts — the gate for the expensive stage
    ("null" string sentinel of the reference normalized to SQL NULL)."""
    return df.select(
        [
            F.sum(
                (F.col(f).isNull() | (F.col(f) == "") | (F.col(f) == "null")).cast("long")
            ).alias(f"missing_{f}")
            for f in fields
        ]
    )
