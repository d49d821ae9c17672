"""facts_per_seed_from_crawl vs an independent sequential computation.

The engine pipeline (plans/facts.py) runs over REAL crawl output; the
expectation is computed here with plain `re` over the sequential oracle's
documents — two independent implementations of the reference's deliverable
(brave_processor.py:231,316-323)."""

from __future__ import annotations

import re

import pytest

from bravewebcrawler_spark.functions.canon import canonicalize_url_py, host_of_py
from bravewebcrawler_spark.oracle.refcrawler import crawl_oracle
from bravewebcrawler_spark.plans.crawl import crawl, read_outputs
from bravewebcrawler_spark.plans.facts import FACT_FIELDS, facts_per_seed_from_crawl
from bravewebcrawler_spark.plans.policy import CrawlPolicy
from bravewebcrawler_spark.sources.synthweb import SynthWeb

POLICY = CrawlPolicy(capacity=4.0, rate=2.0, max_urls_per_round=60, max_rounds=4, max_depth=6)
WEB = SynthWeb(seed=42, n_hosts=20, pages_per_host=12, hot_hosts=2)

_RX = {
    "che_id": re.compile(r"CHE-\d{3}\.\d{3}\.\d{3}"),
    "phone": re.compile(r"\+?\d[\d\s\-().]{7,}"),
    "email": re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    "founded": re.compile(r"\b(18|19|20)\d{2}\b"),
    "address": re.compile(r"(?i)(?:Sitz|Adresse):\s*([^<\n]*)"),
}


def _sequential_facts(seeds: list[tuple[str, str]], oracle) -> dict[str, tuple]:
    round_of = {u: r for r, _q, u, s, _e in oracle.crawl_log if s == "FETCHED_OK"}
    out: dict[str, tuple] = {}
    for sid, url in seeds:
        host = host_of_py(canonicalize_url_py(url))
        docs = sorted((round_of[u], u) for u in oracle.documents if host_of_py(u) == host)
        fields: dict[str, str | None] = {f: None for f in FACT_FIELDS}
        for _rnd, u in docs:
            text = " ".join(s["text"] for s in oracle.documents[u] if s["kind"] == "text")
            for f, rx in _RX.items():
                if fields[f] is not None:
                    continue
                m = rx.search(text)
                if m:
                    v = m.group(1) if f == "address" else m.group(0)
                    if f == "email":
                        v = v.lower()
                    if v != "":
                        fields[f] = v
        if not docs:
            out[sid] = (None, None, None, None, None, 0, "NO_RESULTS_FOUND")
            continue
        miss = sum(fields[f] is None for f in FACT_FIELDS)
        status = (
            "ALL_FIELDS_COMPLETE"
            if miss == 0
            else ("NO_FACTS_EXTRACTED" if miss == len(FACT_FIELDS) else f"PARTIAL_{miss}_MISSING")
        )
        out[sid] = (*[fields[f] for f in FACT_FIELDS], len(docs), status)
    return out


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    seeds = WEB.seed_urls(12)
    oracle = crawl_oracle(WEB, [u for _, u in seeds], POLICY)
    state_dir = str(tmp_path_factory.mktemp("factsstate"))
    seeds_df = spark.createDataFrame(seeds, "seed_id string, url string")
    crawl(spark, WEB, seeds_df, POLICY, state_dir)
    return seeds, seeds_df, oracle, read_outputs(spark, state_dir)


def test_facts_per_seed_matches_sequential(spark, crawled):
    seeds, seeds_df, oracle, eng = crawled
    got = {
        r["seed_id"]: (*[r[f] for f in FACT_FIELDS], r["n_docs"], r["status"])
        for r in facts_per_seed_from_crawl(seeds_df, eng["documents"]).collect()
    }
    expect = _sequential_facts(seeds, oracle)
    assert got == expect


def test_facts_statuses_meaningful(spark, crawled):
    """The fixture must actually exercise the taxonomy: some seeds complete
    or partial AND real extracted values present."""
    seeds, seeds_df, oracle, eng = crawled
    rows = facts_per_seed_from_crawl(seeds_df, eng["documents"]).collect()
    assert len(rows) == len(seeds)
    statuses = {r["status"] for r in rows}
    assert any(s.startswith("PARTIAL_") or s == "ALL_FIELDS_COMPLETE" for s in statuses)
    assert any(r["che_id"] or r["email"] or r["phone"] for r in rows)


def test_facts_to_reference_csv_shape(spark, crawled, tmp_path):
    """The sink emits the reference's exact CSV contract
    (brave_processor.py:231,257,46): column order company_number,company_name,
    <7 EXPECTED_JSON_KEYS>,processing_status; every value a string; SQL NULL
    rendered as the literal 'null'. Expected rows are built from the
    independent sequential computation."""
    import csv
    import glob

    from bravewebcrawler_spark.functions.canon import canonicalize_url_py
    from bravewebcrawler_spark.plans.facts import (
        REFERENCE_CSV_COLUMNS,
        facts_per_seed_from_crawl,
        facts_to_reference_csv,
    )

    seeds, seeds_df, oracle, eng = crawled
    facts = facts_per_seed_from_crawl(seeds_df, eng["documents"])
    out_dir = str(tmp_path / "refcsv")
    df = facts_to_reference_csv(facts, seeds_df, out_dir=out_dir)
    assert tuple(df.columns) == REFERENCE_CSV_COLUMNS
    assert all(t == "string" for _, t in df.dtypes)

    rows = {}
    for part in glob.glob(out_dir + "/part-*.csv"):
        with open(part, newline="", encoding="utf-8") as fh:
            r = csv.reader(fh)
            header = next(r)
            assert header == list(REFERENCE_CSV_COLUMNS)
            for row in r:
                rows[row[0]] = row

    expect = _sequential_facts(seeds, oracle)
    assert set(rows) == {sid for sid, _ in seeds}
    for sid, url in seeds:
        che, phone, email, founded, address, n_docs, status = expect[sid]
        root = canonicalize_url_py(url)
        root = root[: root.index("/", len("http://"))] if "/" in root[len("http://"):] else root
        want = [
            sid, url,
            root if n_docs > 0 else "null",
            founded or "null",
            address or "null",
            che or "null",
            phone or "null",
            email or "null",
            "null",  # Geschäftsbericht: a separate PDF-search tier, never crawled
            status,
        ]
        assert rows[sid] == want, (sid, rows[sid], want)
