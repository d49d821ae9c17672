"""Per-seed merged-facts pipeline — the reference's actual deliverable.

The reference's end product is ONE row per input company: discovery → fetch →
extract → first-non-null merge across source tiers → terminal status
(brave_processor.py:231,316-323 builds the CSV row; google_search.py:72-95
runs the staged gap-driven enrichment; models.py:18-22 is the merge rule).
Spark-first composition of the already-verified pieces:

  seeds ──host──► documents(of that company's domain) ──F7-F11 battery──►
      per-seed first-non-null merge (hash aggregate, ordered by
      (tier/depth, doc_id)) ──► facts(seed_id, 5 fields, n_docs, status)

Everything is column expressions + one hash aggregate per seed — no window
(scales to any number of seeds), no UDF. The status taxonomy mirrors the
reference's terminal statuses (ALL_FIELDS_COMPLETE / PARTIAL_k_MISSING /
NO_FACTS_EXTRACTED / NO_RESULTS_FOUND, brave_parallel_processing.py:287-305).

The registry's ``facts_per_seed`` query runs :func:`merge_facts_per_seed` over
the documents table and ``facts_reference_csv`` translates it with
:func:`facts_to_reference_csv`; :func:`facts_per_seed_from_crawl` is the same
merge over crawl output, the reference workflow's extraction step that
``tests/test_reference_workflow.py`` runs against the sequential oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bravewebcrawler_spark.functions import extract as X
from bravewebcrawler_spark.functions.canon import host_of_col
from bravewebcrawler_spark.operators.merge import first_non_null_per_key

FACT_FIELDS = ("che_id", "phone", "email", "founded", "address")


def battery_cols(text: F.Column) -> dict[str, F.Column]:
    """F7-F11 over a text column, with '' normalized to NULL (the reference
    treats empty extraction results as missing, models.py:14-16)."""
    raw = {
        "che_id": X.che_id_col(text),
        "phone": X.phone_col(text),
        "email": X.email_col(text),
        "founded": X.founded_year_col(text),
        "address": X.address_col(text),
    }
    return {k: F.when(v == "", F.lit(None)).otherwise(v).alias(k) for k, v in raw.items()}


def facts_status_col() -> F.Column:
    """Terminal status from the merged row's missing-field count."""
    missing = sum(F.col(f).isNull().cast("int") for f in FACT_FIELDS)
    return (
        F.when(missing == 0, F.lit("ALL_FIELDS_COMPLETE"))
        .when(missing == len(FACT_FIELDS), F.lit("NO_FACTS_EXTRACTED"))
        .otherwise(F.concat(F.lit("PARTIAL_"), missing.cast("string"), F.lit("_MISSING")))
    )


def merge_facts_per_seed(extracted: DataFrame, order: list) -> DataFrame:
    """Per-seed first-non-null merge of the battery fields in ``order``
    (earlier rows win per field — the set-level ``merge_with`` chain), plus
    the per-seed evidence count. One hash aggregate; no window."""
    merged = first_non_null_per_key(extracted, ["seed_id"], list(FACT_FIELDS), order)
    counts = extracted.groupBy("seed_id").agg(F.count("*").alias("n_docs"))
    return (
        merged.join(counts, "seed_id")
        .select("seed_id", *FACT_FIELDS, "n_docs", facts_status_col().alias("status"))
    )


def facts_per_seed_from_crawl(seeds: DataFrame, documents: DataFrame) -> DataFrame:
    """The end-to-end deliverable over crawl output.

    ``seeds``: (seed_id string, url string) — the input CSV analog; a seed's
    company domain is its URL's host. ``documents``: crawl output
    (doc_id = canonical url, round, spans). A seed's evidence set is every
    fetched page on its host; fields merge in (round, doc_id) order — the
    earliest-crawled page wins, which is the shallowest/highest-priority page
    by the crawl ordering contract. Seeds whose host yielded no documents get
    a NO_RESULTS_FOUND row (never silently dropped — K3).

    The seed side is tiny relative to the document corpus → broadcast join;
    the merge is a hash aggregate on seed_id.
    """
    seed_hosts = seeds.select(
        "seed_id", host_of_col(F.col("url")).alias("host")
    ).dropDuplicates(["seed_id"])
    text = F.concat_ws(
        " ",
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
            lambda s: s["text"],
        ),
    )
    docs = documents.select(
        F.col("doc_id"),
        F.col("round"),
        host_of_col(F.col("doc_id")).alias("host"),
        text.alias("text"),
    )
    evidence = docs.join(F.broadcast(seed_hosts), "host").select(
        "seed_id", "round", "doc_id", *battery_cols(F.col("text")).values()
    )
    merged = merge_facts_per_seed(evidence, [F.col("round"), F.col("doc_id")])
    missing = seed_hosts.join(merged.select("seed_id"), "seed_id", "left_anti").select(
        "seed_id",
        *[F.lit(None).cast("string").alias(f) for f in FACT_FIELDS],
        F.lit(0).cast("long").alias("n_docs"),
        F.lit("NO_RESULTS_FOUND").alias("status"),
    )
    return merged.unionByName(missing)


# Reference output contract (brave_processor.py:35-38,40,231): the 7
# EXPECTED_JSON_KEYS between the two input columns and the status column.
REFERENCE_JSON_KEYS = (
    "official_website",
    "founded",
    "Hauptsitz",
    "Firmenidentifikationsnummer",
    "HauptTelefonnummer",
    "HauptEmailAdresse",
    "Geschäftsbericht",
)
REFERENCE_CSV_COLUMNS = ("company_number", "company_name", *REFERENCE_JSON_KEYS, "processing_status")

def facts_to_reference_csv(facts: DataFrame, seeds: DataFrame, out_dir: str | None = None) -> DataFrame:
    """Boundary translation of the facts rows into the reference's EXACT
    output CSV shape: positional columns ``company_number,company_name`` +
    the 7 ``EXPECTED_JSON_KEYS`` + ``processing_status``
    (brave_processor.py:231), every value a string with SQL NULL rendered as
    the literal ``"null"`` sentinel (brave_processor.py:46; SURVEY §1.1 last
    row — inside the engine missing stays real NULL, the sentinel exists only
    at this sink).

    ``seeds`` is the input-CSV analog (seed_id, url) — its two columns map to
    the reference's (company_number, company_name) verbatim.
    ``official_website`` is the seed's root URL when the crawl fetched any
    evidence (the reference fills it from the search hit that won the
    cascade, google_search.py:72). ``Geschäftsbericht`` is always ``"null"``:
    the reference finds it by a separate PDF search tier
    (google_harvester.py:105-114, operator P9), not by the crawl itself.

    Writes a header'd CSV when ``out_dir`` is given; always returns the
    translated DataFrame (all-string columns, reference order).
    """
    from bravewebcrawler_spark.functions.canon import root_url_col

    def _s(col: F.Column) -> F.Column:
        return F.coalesce(col.cast("string"), F.lit("null"))

    j = facts.join(
        F.broadcast(seeds.select("seed_id", "url").dropDuplicates(["seed_id"])), "seed_id"
    )
    out = j.select(
        F.col("seed_id").alias("company_number"),
        F.col("url").alias("company_name"),
        _s(F.when(F.col("n_docs") > 0, root_url_col(F.col("url")))).alias("official_website"),
        _s(F.col("founded")).alias("founded"),
        _s(F.col("address")).alias("Hauptsitz"),
        _s(F.col("che_id")).alias("Firmenidentifikationsnummer"),
        _s(F.col("phone")).alias("HauptTelefonnummer"),
        _s(F.col("email")).alias("HauptEmailAdresse"),
        F.lit("null").alias("Geschäftsbericht"),
        F.col("status").alias("processing_status"),
    )
    assert tuple(out.columns) == REFERENCE_CSV_COLUMNS
    if out_dir is not None:
        # Spark's CSV writer trims cell whitespace by default; the reference's
        # csv.writer preserves values byte-for-byte (extracted fields can
        # legitimately end in a space — the greedy F8 phone regex does).
        (
            out.write.mode("overwrite")
            .option("header", True)
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(out_dir)
        )
    return out
