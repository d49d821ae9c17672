"""Reference twins of engine passes the tests compare against, value for value.

The engine runs these computations as Arrow-batched Python passes
(``functions/text.text_metrics_arrow``, the shingle kernels in
``operators/dedup.py``), as scale paths (LSH, bucketed near-dup) or as column
expressions over a row layout (the bloom filter of ``operators/seen.py``).
The column forms below are the references of the first two:
``test_arrow_twins.py`` pins the text battery and the shingle passes to
them, ``test_allpairs_oracles.py`` checks the all-pairs baselines against
DuckDB and uses them as the exactness and recall oracles of the scale paths.
The NumPy bloom kernels are the byte-array filter ``test_seen.py`` pins the
engine's words and hits to. None of them runs in the engine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bravewebcrawler_spark.functions.text import LANG_MARKERS, STOPWORDS_EN, tokens_col
from bravewebcrawler_spark.operators.similarity import _dbl

# A BPE-ish token: runs of letters, runs of digits, or single punctuation.
BPE_ISH_RE = r"[A-Za-z]+|\d+|[^A-Za-z\d\s]"


# ------------------------------------------------------------ text battery
def bpe_ish_token_count_col(text: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / punct); the cheap
    proxy for LLM token counting over a 100 TB corpus."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0))


def stopword_ratio_col(text: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    toks = tokens_col(F.lower(text))
    sw = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return sw / F.greatest(F.size(toks), F.lit(1))


def lang_score_col(text: Column, lang: str) -> Column:
    """# of marker-word hits for ``lang`` among the lowercased tokens."""
    toks = tokens_col(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))


def lang_id_col(text: Column) -> Column:
    """argmax over language marker scores; ties broken by language name asc
    (deterministic, mirrored in SQL via a greatest-struct comparison)."""
    scored = [
        F.struct(lang_score_col(text, lg).alias("s"), F.lit(i).alias("nrank"), F.lit(lg).alias("lang"))
        # languages in REVERSE name order so that on equal score the
        # lexicographically-smaller name wins via greatest()
        for i, lg in enumerate(sorted(LANG_MARKERS, reverse=True))
    ]
    return F.greatest(*scored)["lang"]


def _floor_q(x: Column) -> Column:
    # floor-quantize to 4dp: bit-identical across engines (round-half rules
    # differ between Spark's BigDecimal and DuckDB's IEEE rounding)
    return F.floor(x * 10000) / 10000


def dup_line_fraction_col(text: Column) -> Column:
    """Gopher-style repetition rule: fraction of non-empty lines that are
    duplicates of an earlier line (1 - distinct/total; 0 for empty docs)."""
    lines = F.filter(F.split(text, "\n"), lambda l: l != "")
    n = F.size(lines)
    return F.when(
        n > 0,
        _floor_q(F.lit(1.0) - F.size(F.array_distinct(lines)) / n.cast("double")),
    ).otherwise(F.lit(0.0))


def dup_ngram_fraction_col(text: Column) -> Column:
    """Duplicate bigram fraction over whitespace tokens (1 - distinct/total).

    Distinct over (tok[i], tok[i+1]) structs equals distinct over the joined
    "tok[i] tok[i+1]" strings: tokens come from splitting on the separator,
    so the join is injective.
    """
    toks = tokens_col(text)
    n = F.size(toks)
    grams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    total = F.size(grams)
    return F.when(
        total > 0,
        _floor_q(F.lit(1.0) - F.size(F.array_distinct(grams)) / total.cast("double")),
    ).otherwise(F.lit(0.0))


def symbol_word_ratio_col(text: Column) -> Column:
    """(# of '#' chars + '...' runs) per word — Gopher's symbol-to-word rule."""
    hashes = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    ellipses = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0))
    return _floor_q((hashes + ellipses) / F.greatest(F.size(tokens_col(text)), F.lit(1)).cast("double"))


# ------------------------------------------------------------------ dedup
def shingles_col(text_col: Column, k: int = 3) -> Column:
    """k-word shingles from whitespace tokens (join with single spaces)."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )).otherwise(F.array().cast("array<string>"))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.5) -> DataFrame:
    """n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= threshold).

    shingle-set explode → self-equi-join on shingle → per-pair intersection
    count vs set sizes: the full-corpus, verification-scale baseline.
    """
    sh = (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(shingles_col(F.col(text_col), k))).alias("sh"))
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------- similarity
def dot_col(u: Column, v: Column) -> Column:
    """Sequential-fold dot product in double precision (zip_with + aggregate)."""
    return F.aggregate(
        F.zip_with(_dbl(u), _dbl(v), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(u: Column) -> Column:
    return F.sqrt(dot_col(u, u))


# ------------------------------------------------------------ bloom filter
def bloom_bit_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing of the 60-bit portable hash."""
    h1 = hashes % np.int64(m_bits)
    h2 = (hashes >> np.int64(17)) % np.int64(m_bits - 1) + 1  # never 0 mod m
    i = np.arange(k, dtype=np.int64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.int64(m_bits)


def bloom_filters(hashes: list[int], n_buckets: int, m_bits: int, k: int) -> dict[int, np.ndarray]:
    """One ``m_bits // 8``-byte filter per bucket ``hashes`` reach, bit ``p``
    in byte ``p >> 3`` at bit ``p & 7``."""
    hs = np.asarray(hashes, dtype=np.int64)
    out = {}
    for b in np.unique(hs % n_buckets):
        filt = np.zeros(m_bits // 8, dtype=np.uint8)
        flat = bloom_bit_positions(hs[hs % n_buckets == b], m_bits, k).reshape(-1)
        np.bitwise_or.at(filt, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
        out[int(b)] = filt
    return out


def bloom_words(filters: dict[int, np.ndarray]) -> dict[tuple[int, int], int]:
    """The non-zero 64-bit words of ``filters``, read as little-endian int64."""
    return {
        (b, int(w)): int(v)
        for b, filt in filters.items()
        for w, v in enumerate(filt.view("<i8"))
        if v
    }


def bloom_probe(filters: dict[int, np.ndarray], hashes: list[int], n_buckets: int, m_bits: int, k: int) -> set[int]:
    """The hashes whose k bits are ALL set in their bucket's filter."""
    hs = np.asarray(hashes, dtype=np.int64)
    hits = set()
    for b, filt in filters.items():
        mine = hs[hs % n_buckets == b]
        pos = bloom_bit_positions(mine, m_bits, k)
        hits |= {int(h) for h in mine[((filt[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)]}
    return hits
