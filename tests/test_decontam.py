"""Decontamination + repetition-rule tests on crafted inputs (the synthetic
documents table has no newlines or symbols, so the driver query exercises the
cross-engine parity while these tests exercise the semantics)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bravewebcrawler_spark.functions.text import text_metrics_arrow
from bravewebcrawler_spark.operators.decontam import contamination_hits


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),          # clean
        (2, "one two three four five six seven eight nine"),           # clean
        (3, "xx alpha beta gamma delta epsilon yy zz ww qq"),          # contaminated (5-gram)
        (4, "alpha beta gamma delta"),                                 # too short for any 5-gram hit
        (5, "one two three four five one two three four five"),        # contaminated + self-repetition
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench(spark):
    return spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon"),
            (101, "one two three four five"),
        ],
        "doc_id long, text string",
    )


def test_contamination_hits_exact_membership(docs, bench, spark):
    got = {
        r["doc_id"]: (r["n_hits"], r["example_shingle"])
        for r in contamination_hits(docs, bench, k=5).collect()
    }
    # doc 1 contains 'alpha beta gamma delta epsilon' -> 1 distinct hit
    # doc 3 contains it as a sub-span -> 1 hit; doc 5 contains the bench
    # 5-gram twice but DISTINCT-counts it once; docs 2 starts with it too
    assert got[1] == (1, "alpha beta gamma delta epsilon")
    assert got[3] == (1, "alpha beta gamma delta epsilon")
    assert got[2] == (1, "one two three four five")
    assert got[5] == (1, "one two three four five")
    assert 4 not in got  # shorter than k tokens -> no shingles -> clean


def test_repetition_rules_crafted(spark):
    """The repetition rules of the battery the text_metrics query runs."""
    rows = [
        (1, "a b\na b\nc d"),            # 3 lines, 'a b' duplicated -> 1/3
        (2, "x y x y x y"),               # 2-grams: 5 total, 2 distinct ('x y', 'y x')
        (3, "### spam ### ... buy ..."),  # symbols
        (4, ""),                          # empty -> all zeros
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text_metrics_arrow(df, "doc_id", "text")
        .select(
            "doc_id",
            F.col("dup_line_frac").alias("dl"),
            F.col("dup_2gram_frac").alias("dg"),
            F.col("symbol_word_ratio").alias("sw"),
        )
        .collect()
    }
    assert out[1]["dl"] == pytest.approx(1 - 2 / 3, abs=1e-4)
    # 'x y x y x y': 2-grams = [x y, y x, x y, y x, x y] -> 5 total, 2 distinct
    assert out[2]["dg"] == pytest.approx(1 - 2 / 5, abs=1e-4)
    # '### spam ### ... buy ...': 6 '#' chars + 2 '...' runs over 6 words
    assert out[3]["sw"] == pytest.approx(8 / 6, abs=1e-4)
    assert (out[4]["dl"], out[4]["dg"], out[4]["sw"]) == (0.0, 0.0, 0.0)
