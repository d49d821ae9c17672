"""Text analysis for large-scale training-data pipelines.

These are the operations a 100 TB document-corpus pipeline needs on top of the
reference's extraction battery: language ID, quality scoring, token counting,
and document fingerprinting (SURVEY.md §5.3 / build-plan step 8). Tokens,
quality, token counts and fingerprints are column expressions (JVM-side,
whole-stage-codegen'd); the per-document metric battery (language ID,
BPE-ish tokens, stopwords, repetition rules) is ONE Arrow-batched pass,
:func:`text_metrics_arrow`, because the column form steps an interpreted
lambda per token/line/gram. Every value has an ANSI-SQL twin in
``__spark_entry__.oracle_sql`` so DuckDB verifies it value-for-value; the
column-expression twins of the battery live in ``tests/twins.py``, where
``tests/test_arrow_twins.py`` pins the pass to them bit for bit.

Portable hashing: ``portable_hash64`` is the md5-derived 60-bit hash (same
construction as functions/canon.url_hash_col) computable identically in
Spark, Python, and DuckDB — the basis for minhash/simhash oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic marker-word lists for the language-ID heuristic.
# (A production impl would use char n-gram profiles; the operator shape —
# score per language, argmax with deterministic tiebreak — is what matters.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "de", "un", "est"),
}

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

# Fingerprint modulus/base sized so the fold step acc*BASE + h (acc < MOD,
# h < 2^60) stays below 2^63 — Spark 4 runs ANSI mode (overflow throws) and
# DuckDB errors on BIGINT overflow: 1e9 * 1e6 + 1.2e18 < 9.2e18. Exact
# integer math, identical in Spark / DuckDB / Python.
FP_MOD = 1_000_000_007
FP_BASE = 1_000_003


def portable_hash64(c: Column) -> Column:
    """md5-derived 60-bit hash; DuckDB twin:
    ``cast(('0x' || substr(md5(x), 1, 15)) as bigint)``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def tokens_col(text: Column) -> Column:
    """Whitespace tokens (empty tokens filtered) — shared with the SQL twin
    ``list_filter(string_split(text,' '), t -> t <> '')``."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def ws_token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


# The exact character sets of the two former quality regexes, enumerated for
# translate(): [A-Za-z0-9\s] with Java's default ASCII \s = [ \t\n\x0B\f\r],
# and [A-Za-z].
_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_ALNUM_WS = _ALPHA + "0123456789 \t\n\x0b\f\r"


def quality_score_col(text: Column) -> Column:
    """Length/punct/stopword quality heuristic in [0,1], rounded to 4 dp.

    score = 0.4*saturating(len/500) + 0.3*(1 - punct_ratio) + 0.3*alpha_ratio
    — the shape (cheap columnar features → weighted score) is the operator;
    weights are arbitrary but fixed and mirrored in the SQL oracle.

    The two character counts use ``translate`` (char-map deletion) instead of
    the original ``regexp_replace`` char-class rewrites — identical counts by
    exact char-set equality (``_ALNUM_WS`` enumerates [A-Za-z0-9\\s] with
    Java's default ASCII \\s; alpha = len - |non-alpha| via deleting exactly
    [A-Za-z]), at ~25x less per-char cost: the regex pair stepped the Java
    regex engine once per character of the corpus (measured ~50 core-seconds
    for the sf1.0 corpus at local[32]; the dominant cost of corpus_prep's
    quality gate).
    """
    n = F.length(text)
    len_part = F.least(n / F.lit(500.0), F.lit(1.0))
    punct = F.length(F.translate(text, _ALNUM_WS, ""))
    punct_ratio = punct / F.greatest(n, F.lit(1)).cast("double")
    alpha = n - F.length(F.translate(text, _ALPHA, ""))
    alpha_ratio = alpha / F.greatest(n, F.lit(1)).cast("double")
    raw = F.lit(0.4) * len_part + F.lit(0.3) * (F.lit(1.0) - punct_ratio) + F.lit(0.3) * alpha_ratio
    # floor-quantize rather than round: the raw doubles are bit-identical
    # across engines (same int inputs, same op order), while round-half
    # tiebreak rules differ between engines.
    return F.floor(raw * 10000) / 10000


def fingerprint_col(text: Column) -> Column:
    """Polynomial rolling hash over whitespace tokens mod 2^61-1 (F20-style
    document fingerprint). Exact integer math — oracle-identical.

    fp = fold(tokens, 0, (acc, t) -> (acc * FP_BASE + portable_hash64(t)) % FP_MOD)
    """
    return F.aggregate(
        tokens_col(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_BASE + portable_hash64(t)) % F.lit(FP_MOD),
    )


# ------------------------------------------------------------- SQL builders
def sql_portable_hash64(expr: str) -> str:
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) as bigint)"


def sql_tokens(expr: str) -> str:
    return f"list_filter(string_split({expr}, ' '), t -> t <> '')"


def sql_fingerprint(expr: str) -> str:
    h = sql_portable_hash64("t")
    # DuckDB list_reduce has no initial accumulator: prepend a zero sentinel
    # token whose hash we replace with 0 via the first fold step shape.
    return (
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform({sql_tokens(expr)}, t -> {h})), "
        f"(acc, hv) -> (acc * {FP_BASE} + hv) % {FP_MOD})"
    )


# ----------------------------------------------------- Arrow-batched battery
def _metrics_batch_fn():
    """mapInArrow body for :func:`text_metrics_arrow` — exact Python twins of
    the column expressions in ``tests/twins.py``, one pass per doc (guide
    §4.2: the HOF forms step an interpreted lambda per token/line/gram; this
    loop is plain C-speed str/set work). Bit-exactness notes per field:

    - every count is an exact int (tokens, lines, grams, marker hits,
      translate-deletion char counts, regex match counts — the Python
      patterns spell out Java's default ASCII \\d/\\s classes);
    - every double is produced by the SAME IEEE op sequence as the column
      form (int/int division, left-to-right weighted sum for quality,
      ``floor(x * 10000) / 10000`` quantization), so values are
      bit-identical, not merely close;
    - lang_id ties break exactly like the greatest()-over-structs form: max
      over (score, nrank, lang) with nrank from reverse-sorted names.
    """

    def run(batches):
        import math
        import re

        import pyarrow as pa

        bpe_re = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]")
        ell_re = re.compile(r"\.\.\.")
        del_alnum_ws = str.maketrans("", "", _ALNUM_WS)
        del_alpha = str.maketrans("", "", _ALPHA)
        langs_rev = sorted(LANG_MARKERS, reverse=True)  # nrank asc = name desc
        markers = {lg: frozenset(LANG_MARKERS[lg]) for lg in LANG_MARKERS}
        stop = frozenset(STOPWORDS_EN)
        floor = math.floor

        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            cols: dict[str, list] = {
                "doc_id": ids, "lang_guess": [], "s_en": [], "s_de": [], "s_fr": [],
                "quality": [], "ws_tokens": [], "bpe_tokens": [], "stopword_ratio": [],
                "dup_line_frac": [], "dup_2gram_frac": [], "symbol_word_ratio": [],
            }
            for txt in texts:
                t = txt or ""
                toks = [x for x in t.split(" ") if x]
                low = [x for x in t.lower().split(" ") if x]
                nt = len(toks)
                scores = {lg: sum(1 for x in low if x in markers[lg]) for lg in markers}
                cols["s_en"].append(scores["en"])
                cols["s_de"].append(scores["de"])
                cols["s_fr"].append(scores["fr"])
                cols["lang_guess"].append(
                    max((scores[lg], i, lg) for i, lg in enumerate(langs_rev))[2]
                )
                n = len(t)
                len_part = min(n / 500.0, 1.0)
                punct_ratio = len(t.translate(del_alnum_ws)) / max(n, 1)
                alpha_ratio = (n - len(t.translate(del_alpha))) / max(n, 1)
                raw = 0.4 * len_part + 0.3 * (1.0 - punct_ratio) + 0.3 * alpha_ratio
                cols["quality"].append(floor(raw * 10000) / 10000)
                cols["ws_tokens"].append(nt)
                cols["bpe_tokens"].append(len(bpe_re.findall(t)))
                cols["stopword_ratio"].append(
                    sum(1 for x in low if x in stop) / max(nt, 1)
                )
                lines = [x for x in t.split("\n") if x]
                nl = len(lines)
                cols["dup_line_frac"].append(
                    floor((1.0 - len(set(lines)) / nl) * 10000) / 10000 if nl > 0 else 0.0
                )
                if nt >= 2:
                    ng = nt - 1
                    dng = len(set(zip(toks, toks[1:])))
                    cols["dup_2gram_frac"].append(floor((1.0 - dng / ng) * 10000) / 10000)
                else:
                    cols["dup_2gram_frac"].append(0.0)
                sym = t.count("#") + len(ell_re.findall(t))
                cols["symbol_word_ratio"].append(floor(sym / max(nt, 1) * 10000) / 10000)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["doc_id"], pa.int64()),
                    pa.array(cols["lang_guess"], pa.string()),
                    *[pa.array(cols[c], pa.int64()) for c in ("s_en", "s_de", "s_fr")],
                    pa.array(cols["quality"], pa.float64()),
                    *[pa.array(cols[c], pa.int64()) for c in ("ws_tokens", "bpe_tokens")],
                    *[
                        pa.array(cols[c], pa.float64())
                        for c in ("stopword_ratio", "dup_line_frac", "dup_2gram_frac", "symbol_word_ratio")
                    ],
                ],
                names=[
                    "doc_id", "lang_guess", "s_en", "s_de", "s_fr", "quality",
                    "ws_tokens", "bpe_tokens", "stopword_ratio", "dup_line_frac",
                    "dup_2gram_frac", "symbol_word_ratio",
                ],
            )

    return run


def text_metrics_arrow(df, id_col: str, text_col: str):
    """The full per-document metric battery in ONE Arrow-batched pass —
    value-for-value identical to composing the column expressions of
    ``tests/twins.py`` and :func:`quality_score_col` (see
    :func:`_metrics_batch_fn` for the per-field exactness argument;
    ``stopword_ratio`` is emitted RAW, callers apply their own rounding
    exactly as with the column form)."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    ).mapInArrow(
        _metrics_batch_fn(),
        "doc_id long, lang_guess string, s_en long, s_de long, s_fr long, "
        "quality double, ws_tokens long, bpe_tokens long, stopword_ratio double, "
        "dup_line_frac double, dup_2gram_frac double, symbol_word_ratio double",
    )
