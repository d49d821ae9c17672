"""Benchmark decontamination: flag corpus documents that share k-gram text
with an evaluation/benchmark set — the standard pre-training hygiene step
(the PaLM/GPT-3 papers' "13-gram overlap" rule, here parameterized).
:func:`contamination_hits` returns the flagged documents with their hit
counts (the ``decontam_overlap`` query); dropping them is the caller's
anti-join on the document id.

Spark-first shape: the benchmark side is SMALL relative to the corpus (eval
suites are at most ~10^6 documents → ~10^8 distinct shingle hashes), so its
distinct shingle-hash set is broadcast and the 100-TB corpus side is a
map-side explode + broadcast-hash semi-join — the corpus is never shuffled.
Join keys are the portable 60-bit md5 hash (8 bytes instead of the shingle
string) with a string-equality confirm on the joined rows, so a hash
collision can never flag a clean document; the DuckDB oracle reproduces the
identical hash (functions/text.py portable_hash64 twin).

The reference has no corpus hygiene at all (single-pass crawl,
brave_processor.py processes each input row once); this operator exists for
the 100-TB training-data pipeline the engine targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    c_id: str = "doc_id",
    c_text: str = "text",
    b_text: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per contaminated corpus doc: (doc_id, n_hits, example_shingle).

    n_hits counts DISTINCT contaminated k-grams in the document (explode is
    over the doc's distinct shingle set); example_shingle is the
    lexicographically-first hit, for audit trails.
    """
    # Round-6: both shingle passes run Arrow-batched (guide §4.2) — the
    # column-expression form (transform/slice/array_join HOF + md5) stepped
    # an interpreted lambda per shingle over the whole CORPUS, the one side
    # of this operator that is 100-TB-sized. Same rows by construction
    # (exploded_shingle_strings is the explode(array_distinct(...)) +
    # portable_hash64 twin, shared with the dedup ladder).
    from bravewebcrawler_spark.operators.dedup import exploded_shingle_strings

    bsh = (
        exploded_shingle_strings(
            # the benchmark side needs no per-doc identity — only its global
            # distinct shingle set — so a constant id keeps the helper's
            # (doc, text) contract without assuming an id column exists
            benchmark.select(F.lit(0).alias("_bid"), F.col(b_text).alias("_btext")),
            "_bid",
            "_btext",
            k,
        )
        .select(F.col("sh").alias("b_sh"), "shh")
        .distinct()
    )
    csh = exploded_shingle_strings(corpus, c_id, c_text, k).withColumnRenamed("doc", c_id)
    hits = csh.join(F.broadcast(bsh), "shh").where(F.col("sh") == F.col("b_sh"))
    return hits.groupBy(c_id).agg(
        F.count("*").alias("n_hits"), F.min("sh").alias("example_shingle")
    )

