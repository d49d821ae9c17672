"""The two all-pairs baselines, demoted from the driver registry (VERDICT r4
#1/#3): a crossJoin / full-corpus shingle self-join is a scale-killer plan in
a registry that advertises 100-TB shapes, so they live here, on the column
twins of ``tests/twins.py``, instead — still
oracle-checked against their DuckDB twins (the SQL moved verbatim from
oracle_sql()), and additionally used as the exactness/recall gates for their
scale siblings:

  dedup_jaccard  -> refinement oracle for dedup_lsh_refined (refined pairs
                    must be EXACTLY the true-Jaccard pairs whose doc pair is
                    an LSH candidate, with identical jaccard values)
  embed_neardup  -> recall oracle for embed_neardup_lsh (bucketed pairs are
                    a subset with identical cosines; recall is pinned)

Also pins the HLL scale sibling of host_corpus_stats: approx_count_distinct
must sit within its configured error of the exact distinct count (HLL
sketches are not bit-identical across engines, which is why the registry row
keeps the exact count and the bound lives here).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from bravewebcrawler_spark.operators import dedup as DD  # noqa: E402
from tests.twins import dot_col, jaccard_pairs, norm_col  # noqa: E402
from tools.check_queries import compare, duck_con  # noqa: E402


def dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard over the FULL corpus — quadratic in hot
    shingles, so a test oracle, not a registry query."""
    corpus = E._neardup_corpus(spark, sf_dir)
    return jaccard_pairs(corpus, "doc_id", "text", k=3, threshold=0.6)


def embed_neardup(spark, sf_dir):
    """All-pairs exact cosine over a crossJoin — a test oracle, not a
    registry query."""
    corpus = E._emb_corpus(spark, sf_dir).withColumn("norm", norm_col(F.col("v")))
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b",
        F.round(dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4).alias("cosine"),
    )
    return scored.where(F.col("cosine") >= 0.99)


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


# --- DuckDB twins, moved verbatim from __spark_entry__.oracle_sql() when the
# --- queries left the registry (round 5).
_JACCARD_ORACLE = f"""
    {E._SQL_CORPUS},
    sh as (select doc_id as doc, unnest(list_distinct({DD.sql_shingles('text', 3)})) as sh from corpus),
    sizes as (select doc, count(*) as sz from sh group by 1),
    inter as (select a.doc as id_a, b.doc as id_b, count(*) as n_inter
              from sh a join sh b on a.sh = b.sh and a.doc < b.doc group by 1, 2)
    select id_a, id_b, jaccard from (
      select id_a, id_b, round(n_inter / (sa.sz + sb.sz - n_inter), 4) as jaccard
      from inter join sizes sa on sa.doc = id_a join sizes sb on sb.doc = id_b)
    where jaccard >= 0.6
"""

_EMB_ORACLE = f"""
    {E._SQL_EMB_CORPUS}
    select id_a, id_b, cosine from (
      select a.vec_id as id_a, b.vec_id as id_b,
             round({E._SQL_DOT.format(a="a.v", b="b.v")} / (a.norm * b.norm), 4) as cosine
      from normed a join normed b on a.vec_id < b.vec_id)
    where cosine >= 0.99
"""


def test_dedup_jaccard_matches_duckdb(spark, sf_dir, con):
    problems = compare("dedup_jaccard", dedup_jaccard(spark, sf_dir), _JACCARD_ORACLE, con)
    assert not problems, "\n".join(problems)


def test_embed_neardup_matches_duckdb(spark, sf_dir, con):
    problems = compare("embed_neardup", embed_neardup(spark, sf_dir), _EMB_ORACLE, con)
    assert not problems, "\n".join(problems)


def _pairmap(rows):
    return {(r["id_a"], r["id_b"]): r[2] for r in rows}


def test_lsh_refined_equals_exact_jaccard_on_candidates(spark, sf_dir):
    """dedup_lsh_refined is by construction exact Jaccard restricted to the
    LSH candidate set: every refined pair must appear in the full-corpus
    exact answer WITH THE SAME jaccard value, and the misses must be exactly
    the exact pairs that no MinHash band caught."""
    corpus = E._neardup_corpus(spark, sf_dir)
    exact = _pairmap(dedup_jaccard(spark, sf_dir).collect())
    refined = _pairmap(E.dedup_lsh_refined(spark, sf_dir).collect())
    assert set(refined) <= set(exact)
    for pair, j in refined.items():
        assert j == exact[pair], (pair, j, exact[pair])
    caches: list = []
    sig = DD.minhash_signature_cols(corpus, "doc_id", "text", k=3)
    cand = {(r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(sig, cache_registry=caches).collect()}
    for c in caches:
        c.unpersist()
    assert set(refined) == set(exact) & cand
    # recall of the banded candidate generation at threshold 0.6 — pinned so
    # a banding regression fails CI (measured 1.0 at sf0.001 and sf0.01: the
    # 4x4 banding catches every >=0.6 pair of this corpus)
    assert exact, "oracle corpus lost its near-dup pairs — test is vacuous"
    recall = len(refined) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.3f} on {len(exact)} true pairs"


def test_lsh_refined_rejects_degenerate_threshold(spark):
    """At threshold <= 0 the Jaccard filter keeps zero-intersection
    candidate pairs, so a threshold outside (0, 1] fails loudly."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "h i j k l m n")], "doc_id long, text string"
    )
    caches: list = []
    for bad in (0.0, -0.5, 1.5, float("nan")):
        with pytest.raises(ValueError, match="threshold"):
            DD.lsh_refined_pairs(corpus, "doc_id", "text", threshold=bad, cache_registry=caches)
    assert not caches
    assert DD.lsh_refined_pairs(corpus, "doc_id", "text", threshold=1.0, cache_registry=caches).count() == 0
    for c in caches:
        c.unpersist()


def test_embed_lsh_recall_vs_exact(spark, sf_dir):
    """Hyperplane-bucketed near-dup pairs are a subset of the all-pairs
    answer with identical cosines; recall is pinned (cosine >= 0.99 pairs are
    near-parallel vectors, which sign-LSH separates only with probability
    ~acos(0.99)/pi per plane — measured 1.0 on this corpus)."""
    exact = _pairmap(embed_neardup(spark, sf_dir).collect())
    lsh = _pairmap(E.embed_neardup_lsh(spark, sf_dir).collect())
    assert set(lsh) <= set(exact)
    for pair, c in lsh.items():
        assert c == exact[pair], (pair, c, exact[pair])
    assert exact, "embedding corpus lost its near-dup pairs — test is vacuous"
    recall = len(lsh) / len(exact)
    assert recall >= 0.95, f"bucketed recall {recall:.3f} on {len(exact)} true pairs"


def test_approx_count_distinct_within_error(spark, sf_dir):
    """The HLL scale sibling of host_corpus_stats' exact distinct counts:
    approx_count_distinct at the default rsd (0.05) must land within 5% of
    the exact count per group and globally (deterministic on fixed data)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("exact"),
        F.approx_count_distinct("doc_id").alias("approx"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), dict(r.asDict())
    g = docs.agg(
        F.countDistinct("doc_id").alias("exact"),
        F.approx_count_distinct("doc_id").alias("approx"),
    ).collect()[0]
    assert abs(g["approx"] - g["exact"]) <= max(1, 0.05 * g["exact"])
