"""Driver contract for the spark-graft builder (PySpark target).

Every entry implements an operator from SURVEY.md §2 (reference file:line in
the docstring of the underlying operator module) or a training-data-pipeline
operator (dedup / similarity / text analysis), with a DuckDB oracle twin.
Column names and value rounding are aligned on both sides so the driver's
order-insensitive value-hash matches.
"""

from __future__ import annotations

import atexit
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bravewebcrawler_spark.functions import extract as X
from bravewebcrawler_spark.functions import text as TX
from bravewebcrawler_spark.operators import dedup as DD
from bravewebcrawler_spark.operators import merge as MG
from bravewebcrawler_spark.operators import packing as PK
from bravewebcrawler_spark.operators import ranking as RK
from bravewebcrawler_spark.operators import sampling as SP
from bravewebcrawler_spark.operators import similarity as SIM
from bravewebcrawler_spark.sources.tables import spread


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# flagship
# =====================================================================
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the engine's signature operator — skew-salted politeness
    dequeue (SURVEY.md W1/A7) — over the events table at sf0.001: top-3
    highest-value events per user, exactly the frontier top-k shape."""
    events = _t(spark, "/root/testdata/sf0.001", "events")
    return RK.salted_top_k(
        events,
        ["user_id"],
        [F.col("value").desc(), F.col("event_id").asc()],
        k=3,
        salt_col=F.col("event_id"),
    ).select("user_id", "event_id", "event_type", F.round("value", 4).alias("value"), F.col("rn").cast("long").alias("rn"))


# =====================================================================
# queries + oracles
# =====================================================================
_FACTS_SUFFIX = (
    " UID CHE-123.456.789 Telefon +41 44 123 45 67 mail Info@Example.CH"
    " Sitz: Zuerich Gegruendet 1987"
)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship scan+agg (SURVEY.md §5.3)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def o1_priority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: per-key priority ordering + top-1 (search_common.py:272-275)."""
    orders = _t(spark, sf_dir, "orders")
    top = RK.top_k_per_key(
        orders,
        ["o_custkey"],
        [F.col("o_orderpriority").asc(), F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
        k=1,
    )
    return top.select("o_custkey", "o_orderkey", "o_orderpriority")


def o2_top1_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3 cascade with tier provenance (brave_search.py:81-100)."""
    orders = _t(spark, sf_dir, "orders")
    top = RK.top1_cascade(
        orders,
        ["o_custkey"],
        [
            ("open_big", (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000)),
            ("open", F.col("o_orderstatus") == "O"),
            ("any", F.lit(True)),
        ],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )
    return top.select("o_custkey", "o_orderkey", "tier")


def o6_rank_preference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 claim-rank preference (search_common.py:354-374): 'F' is
    deprecated-analog, preference P > O, then date/key order."""
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderstatus", "status")
    picked = RK.rank_preference(
        orders.where(F.col("status") != "F").withColumn("rank_label", F.col("status")),
        ["o_custkey"],
        F.col("rank_label"),
        ["P", "O"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )
    return picked.select("o_custkey", "o_orderkey", F.col("rank_label").alias("chosen_status"))


def o4_limit_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: deterministic ordered limit pushed to the scan."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(5)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def p1_blacklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 substring blacklist (search_common.py:22,158-160) on documents.source."""
    docs = _t(spark, sf_dir, "documents")
    bl = F.array(F.lit("src1"), F.lit("src3"))
    kept = docs.where(~F.exists(bl, lambda b: F.col("source").contains(b)))
    return kept.groupBy("source").agg(F.count("*").alias("n_docs"))


def p7_status_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/K3 dead-letter taxonomy (brave_processor.py:249-261): tag, never drop."""
    orders = _t(spark, sf_dir, "orders")
    tagged = orders.withColumn(
        "processing_status",
        F.when(F.col("o_totalprice").isNull(), "INVALID_NULL_PRICE")
        .when(F.col("o_totalprice") < 5000, "SUSPICIOUS_LOW_PRICE")
        .when(F.col("o_orderpriority") == "5-LOW", "DEPRIORITIZED")
        .otherwise("VALID"),
    )
    return tagged.groupBy("processing_status").agg(F.count("*").alias("n"))


def _facts_text():
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_FACTS_SUFFIX))
        .when(F.col("doc_id") % 5 == 0, F.lit(" Gegruendet 1923 mail a.b@c.ch"))
        .otherwise(F.lit("")),
    )


def f_regex_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7-F11 extraction battery (google_harvester.py:13-16,61-64)."""
    docs = spread(_t(spark, sf_dir, "documents")).withColumn("t2", _facts_text())
    return docs.select(
        "doc_id",
        X.che_id_col(F.col("t2")).alias("che_id"),
        X.phone_col(F.col("t2")).alias("phone"),
        X.email_col(F.col("t2")).alias("email"),
        X.founded_year_col(F.col("t2")).alias("founded"),
        X.address_col(F.col("t2")).alias("address"),
    )


def facts_per_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's end deliverable as one declarative plan
    (brave_processor.py:231,316-323; google_search.py:72-95): seeds own their
    documents (seed = doc_id % 200, source tier = doc_id % 3 modelling the
    brave→google→wikidata cascade), F7-F11 extract per document, per-seed
    first-non-null merge in (tier, doc_id) order via ONE hash aggregate, and
    the terminal status taxonomy. See plans/facts.py for the crawl-integrated
    variant (host-joined to real crawl output, pytest-verified vs the
    sequential oracle)."""
    from bravewebcrawler_spark.plans.facts import battery_cols, merge_facts_per_seed

    docs = spread(_t(spark, sf_dir, "documents")).withColumn("t2", _facts_text())
    src = docs.select(
        (F.col("doc_id") % 200).alias("seed_id"),
        (F.col("doc_id") % 3).alias("tier"),
        "doc_id",
        *battery_cols(F.col("t2")).values(),
    )
    return merge_facts_per_seed(src, [F.col("tier"), F.col("doc_id")])


def facts_reference_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's EXACT output-CSV boundary shape
    (brave_processor.py:231,257,46) as a driver-gated query: facts_per_seed
    translated by plans/facts.facts_to_reference_csv — positional columns
    company_number, company_name, the 7 EXPECTED_JSON_KEYS, processing_status,
    with SQL NULL rendered as the literal 'null' sentinel at this boundary
    only. Seeds are derived deterministically from the seed ids (the input
    CSV analog)."""
    from bravewebcrawler_spark.plans.facts import facts_to_reference_csv

    facts = facts_per_seed(spark, sf_dir)
    seeds = facts.select(
        "seed_id",
        F.concat(F.lit("http://seed"), F.col("seed_id").cast("string"), F.lit(".example.ch/")).alias("url"),
    )
    return facts_to_reference_csv(facts, seeds)


def a2_missing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 missing-fields gate (models.py:14-16) over the battery output."""
    battery = f_regex_battery(spark, sf_dir)
    return MG.missing_field_counts(battery, ["che_id", "phone", "email", "founded", "address"])


def a1_coalesce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 first-non-null merge across priority-ordered sources (models.py:18-22)."""
    orders = _t(spark, sf_dir, "orders")

    def src(status: str) -> DataFrame:
        return (
            orders.where(F.col("o_orderstatus") == status)
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.round(F.max("o_totalprice"), 2).alias("best_price"))
        )

    merged = MG.coalesce_merge([src("O"), src("F"), src("P")], "custkey", ["best_price"])
    return merged


def f16_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 JSON access on events.props."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"), F.count("*").alias("n")
    )


def j2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 seen-set anti-join (dedup authority)."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    return (
        ev.join(clickers, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )


def a7_per_key_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/W1 skew-salted per-key top-k — the politeness dequeue shape."""
    ev = _t(spark, sf_dir, "events")
    top = RK.salted_top_k(
        ev, ["user_id"], [F.col("value").desc(), F.col("event_id").asc()], k=3, salt_col=F.col("event_id")
    )
    return top.select(
        "user_id", "event_id", F.round("value", 4).alias("value"), F.col("rn").cast("long").alias("rn")
    )


def w3_running_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 cumulative per-round metrics shape: daily orders + running total."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(F.count("*").alias("n"))
    w = Window.orderBy("order_date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select("order_date", "n", F.sum("n").over(w).alias("cum_n"))


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user (lag + cumsum pattern)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return marked.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))


def q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1997-01-01")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc()).limit(10)


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: broadcast dims through a 5-way join."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set ops: customers with open orders but no finished orders."""
    o = _t(spark, sf_dir, "orders")
    open_c = o.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    fin_c = o.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return open_c.exceptAll(fin_c)


def p9_pdf_year_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 pdf+year link filter (google_harvester.py:105-114)."""
    p = _t(spark, sf_dir, "part")
    link = F.concat(
        F.lit("http://reports.example/"),
        F.col("p_brand"),
        F.lit("-"),
        F.col("p_partkey").cast("string"),
        F.when(F.col("p_partkey") % 4 == 0, F.lit("-2024.pdf"))
        .when(F.col("p_partkey") % 4 == 1, F.lit("-2023.pdf"))
        .otherwise(F.lit(".html")),
    )
    flt = p.withColumn("link", link).where(
        F.col("link").endswith(".pdf")
        & (F.col("link").contains("2024") | F.col("link").contains("2023"))
    )
    return flt.groupBy("p_brand").agg(F.count("*").alias("n_reports"))


def f14_current_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 current-year filter with previous-year fallback
    (google_harvester.py:105-114: prefer reports of year(now), fall back to
    year-1). Link years are synthesized FROM current_date() on both sides, so
    the query works on any run date (same-day engine/oracle runs assumed —
    the driver executes both within one session)."""
    p = _t(spark, sf_dir, "part")
    y = F.year(F.current_date())
    link_year = y - F.col("p_partkey") % 4  # years: y, y-1, y-2, y-3
    link = F.concat(
        F.lit("http://reports.example/"),
        F.col("p_brand"),
        F.lit("-"),
        link_year.cast("string"),
        F.lit(".pdf"),
    )
    tagged = p.select("p_brand", "p_partkey", link.alias("link"), link_year.alias("ly"))
    # prefer current-year reports; a brand with none falls back to year-1
    per_brand = tagged.groupBy("p_brand").agg(
        F.count_if(F.col("ly") == y).alias("n_current"),
        F.count_if(F.col("ly") == y - 1).alias("n_prev"),
    )
    return per_brand.select(
        "p_brand",
        F.when(F.col("n_current") > 0, F.col("n_current")).otherwise(F.col("n_prev")).alias("n_reports"),
        F.when(F.col("n_current") > 0, F.lit("current")).otherwise(F.lit("fallback")).alias("year_used"),
    )


def _sql_facts_text() -> str:
    return (
        "text || case when doc_id % 3 = 0 then ' UID CHE-123.456.789 Telefon "
        "+41 44 123 45 67 mail Info@Example.CH Sitz: Zuerich Gegruendet 1987' "
        "when doc_id % 5 = 0 then ' Gegruendet 1923 mail a.b@c.ch' else '' end"
    )


_BATTERY_SQL = rf"""
select doc_id,
       regexp_extract(t2, 'CHE-\d{{3}}\.\d{{3}}\.\d{{3}}', 0) as che_id,
       regexp_extract(t2, '\+?\d[\d\s\-().]{{7,}}', 0) as phone,
       lower(regexp_extract(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', 0)) as email,
       regexp_extract(t2, '\b(18|19|20)\d{{2}}\b', 0) as founded,
       regexp_extract(t2, '(?i)(?:Sitz|Adresse):\s*([^<\n]*)', 1) as address
from (select doc_id, {_sql_facts_text()} as t2 from documents)
"""


# =====================================================================
# training-data pipeline ops: dedup / similarity / text / multimodal
# =====================================================================
def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic near-dups (last-2-tokens-trimmed copies of
    every 10th doc) + exact copies of every 7th doc — dedup pressure with
    known ground truth, identical construction in the SQL oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TX.tokens_col(F.col("text"))
    near = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " ").alias("text"),
    )
    exact = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    # spread: the union reads a single-split file 3x → 3 map tasks carry the
    # entire shingle/md5/signature churn of every dedup consumer (guide §2.5)
    return spread(docs.unionByName(near).unionByName(exact))


_SQL_CORPUS = """
with tk as (select doc_id, list_filter(string_split(text, ' '), t -> t <> '') as toks, text from documents),
corpus as (
  select doc_id, text from documents
  union all
  select doc_id + 100000 as doc_id,
         array_to_string(list_slice(toks, 1, greatest(len(toks) - 2, 1)), ' ') as text
  from tk where doc_id % 10 = 0
  union all
  select doc_id + 200000 as doc_id, text from documents where doc_id % 7 = 0
)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    groups = DD.exact_dedup_groups(corpus, "doc_id", "text")
    return groups.where(F.col("n_dups") > 1).select("keeper_id", "n_dups")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    caches: list = []
    pairs = DD.minhash_lsh_pairs(
        DD.minhash_signature_cols(corpus, "doc_id", "text", k=3), cache_registry=caches
    )
    return _materialize_and_release(pairs, caches)


_MATERIALIZE_ROW_CAP = 1_000_000  # above this, results stage through parquet


def _materialize_and_release(df: DataFrame, caches: list, row_cap: int = 0) -> DataFrame:
    """Deterministic cache lifecycle for queries whose intermediates must be
    persisted but whose RESULT is small (thresholded pair lists, per-language
    aggregates): run the plan once while the caches are hot, unpersist them
    immediately, and return the materialized rows as a local DataFrame. No
    ContextCleaner reliance — executor storage is empty the moment the query
    function returns (pytest-asserted in test_queries_vs_duckdb).

    SIZE-GUARDED: the result itself is persisted for the span of this call
    and counted, so the plan runs once whichever way the count goes. A
    result above ``row_cap`` rows (default _MATERIALIZE_ROW_CAP) is written
    from that cache to scratch parquet and read back, never collected, so an
    unexpectedly large result (e.g. a full (doc_id, component) table at
    production scale) can never OOM the driver. The spill goes to a
    ``DD._scratch_ckpt`` dir that is deleted at interpreter exit: the
    returned plan reads the files lazily, so nothing earlier may remove them.
    A 100-TB pipeline would give this a real output table."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if df.count() <= (row_cap or _MATERIALIZE_ROW_CAP):
        out = df.sparkSession.createDataFrame(df.collect(), df.schema)
    else:
        ckpt, cleanup = DD._scratch_ckpt(df.sparkSession, "bwc-result-")
        atexit.register(cleanup)
        out = ckpt(df, 0)
    for c in [df, *caches]:
        c.unpersist()
    return out


def dedup_lsh_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH→exact composition: MinHash band candidates, true Jaccard computed
    ONLY on candidate pairs — the dedup plan that survives 100 TB."""
    corpus = _neardup_corpus(spark, sf_dir)
    caches: list = []
    pairs = DD.lsh_refined_pairs(corpus, "doc_id", "text", k=3, threshold=0.6, cache_registry=caches)
    return _materialize_and_release(pairs, caches)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """(node, comp) over the LSH-refined near-dup pairs, plus the registry
    that the caller's final _materialize_and_release must release."""
    from pyspark import StorageLevel

    # corpus feeds the pairs chain AND the CC nodes table — persist it so the
    # scan+union+spread runs once, released with the final materialize (the
    # first _materialize_and_release must NOT own it: CC still needs it).
    corpus = _neardup_corpus(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    caches: list = []
    late: list = [corpus]
    pairs = DD.lsh_refined_pairs(corpus, "doc_id", "text", k=3, threshold=0.6, cache_registry=caches)
    pairs = _materialize_and_release(pairs, caches)
    comp = DD.connected_components(pairs, corpus, id_col="doc_id", cache_registry=late)
    return comp, late


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over the
    LSH-refined near-dup pairs — (doc_id, component) for every corpus doc,
    component = min doc id reachable through the pair graph (singletons map
    to themselves). The keep-one-per-cluster step a corpus pipeline runs
    after pairwise dedup: (a,b),(b,c) collapse to one cluster {a,b,c}."""
    comp, late = _dedup_clusters(spark, sf_dir)
    out = comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
    return _materialize_and_release(out, late)


def dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus roster: one representative per duplicate
    cluster (min doc id) with its member count — what a training-data
    pipeline actually writes out after near-dup collapse. Singleton docs are
    their own representative with n_members = 1."""
    comp, late = _dedup_clusters(spark, sf_dir)
    out = comp.groupBy(F.col("comp").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return _materialize_and_release(out, late)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    return DD.simhash_groups(corpus, "doc_id", "text", bits=16).where(F.col("n_docs") > 1)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming simhash refinement: band equi-join candidates, exact
    bit_count(xor) <= 2 check on candidates only (pigeonhole-complete)."""
    corpus = _neardup_corpus(spark, sf_dir)
    caches: list = []
    pairs = DD.simhash_near_pairs(
        corpus, "doc_id", "text", bits=16, bands=4, max_hamming=2, cache_registry=caches
    )
    return _materialize_and_release(pairs, caches)


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", TX.fingerprint_col(F.col("text")).alias("fp"))


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus preparation pipeline — the 100-TB daily
    job, end to end: quality gate → exact dedup (keep-first per content hash)
    → MinHash-LSH near-dup removal refined by exact Jaccard (drop the higher
    id of each confirmed pair) → per-language corpus stats. Every stage is
    the already-oracle-verified operator; this query proves they COMPOSE
    (filters before dedup shrink the shingle self-join; the LSH candidate
    set is computed on the filtered corpus only)."""
    corpus = _neardup_corpus(spark, sf_dir)
    q = corpus.withColumn("quality", TX.quality_score_col(F.col("text")))
    from pyspark import StorageLevel

    caches: list = []
    # keep-first per content hash as ONE aggregate: min_by(all columns,
    # doc_id) per md5(text) selects exactly the min-doc_id row of each hash
    # group (doc_id unique => deterministic) — the former shape (keeper-list
    # groupBy + left-semi join back onto a persisted `kept`) spent a second
    # shuffle, a broadcast, AND a cache write of the pre-dedup corpus to
    # land on the identical row set; with one consumer of the quality gate
    # there is nothing left to persist at this stage.
    kept = q.where(F.col("quality") >= 0.65)
    uniq = (
        kept.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min_by(F.struct("doc_id", "text", "quality"), F.col("doc_id")).alias("r"))
        .select("r.doc_id", "r.text", "r.quality")
    )
    # lsh_refined_pairs reads uniq once (into its persisted banded table)
    # and the final anti-join reads it again — without this persist the
    # quality+dedup shuffle above recomputes per reader. All caches are
    # registered and released deterministically via _materialize_and_release
    # (the result is a tiny per-language aggregate).
    # The explicit repartition before the persist sets the parallelism of
    # every downstream mapInArrow shingle/signature pass: the semi-join
    # output otherwise caches at its AQE-coalesced partition count (a
    # handful at bench scale), serializing the Python passes (measured: the
    # pairs chain on uniq 12s vs 5s on the 32-partition registry corpus).
    # defaultParallelism scales with the cluster; AQE leaves user-specified
    # repartition counts alone.
    uniq = uniq.repartition(spark.sparkContext.defaultParallelism).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    caches.append(uniq)
    pairs = DD.lsh_refined_pairs(uniq, "doc_id", "text", k=3, threshold=0.6, cache_registry=caches)
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    final = uniq.join(drops, "doc_id", "left_anti")
    # lang_id, BPE count and quality from the text_metrics battery's one
    # Arrow pass over the surviving rows: its quality is bit-identical to
    # quality_score_col (tests/test_arrow_twins.py), so the groupBy sees the
    # same per-row values as the gate above.
    out = (
        TX.text_metrics_arrow(final, "doc_id", "text")
        .groupBy("lang_guess")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )
    return _materialize_and_release(out, caches)


def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis battery: language-ID scores + guess,
    quality score, token stats, and the Gopher repetition rules in ONE
    map-only scan. One registry row holds all four metric groups so the
    registry fits the driver's 50-row correctness report (VERDICT r3 #3)
    with every metric still value-checked; the oracle composes the four
    per-group SQL strings kept in oracle_sql(). It is the more
    production-faithful shape anyway: a 100-TB quality pass computes all
    per-doc metrics in one scan of the corpus, not four."""
    # Round-6: the battery runs as ONE Arrow-batched pass
    # (functions/text.text_metrics_arrow, guide §4.2) — the column-expression
    # composition stepped interpreted HOF lambdas per token/line/gram across
    # ~10 metrics; values are bit-identical by the per-field argument in
    # _metrics_batch_fn, and stopword_ratio keeps its column-side rounding.
    docs = spread(_t(spark, sf_dir, "documents"))
    m = TX.text_metrics_arrow(docs, "doc_id", "text")
    return m.select(
        "doc_id", "lang_guess", "s_en", "s_de", "s_fr", "quality",
        "ws_tokens", "bpe_tokens",
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        "dup_line_frac", "dup_2gram_frac", "symbol_word_ratio",
    )


# Decontamination shingle width: 5-gram overlap (the PaLM-style rule is
# 13-gram; the synthetic corpus' sentences are short, so 5 keeps the query
# non-trivial while the operator itself is width-agnostic).
_DECONTAM_K = 5


def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): corpus docs sharing
    any 5-gram with the 'benchmark' slice (doc_id % 83 == 0), benchmark-side
    broadcast semi-join — the corpus is never shuffled."""
    from bravewebcrawler_spark.operators.decontam import contamination_hits

    docs = spread(_t(spark, sf_dir, "documents"))
    bench = docs.where(F.col("doc_id") % 83 == 0)
    corp = docs.where(F.col("doc_id") % 83 != 0)
    return contamination_hits(corp, bench, "doc_id", "text", "text", k=_DECONTAM_K)


# Data-mixing rates / quotas for the sampling queries: upsample low-resource
# languages, downsample the dominant one — the canonical corpus-mixing shape.
_MIX_RATES = {"de": 0.8, "fr": 0.6, "en": 0.3}  # es/zh fall to the default
_MIX_DEFAULT_RATE = 0.1
_MIX_QUOTAS = {"de": 40, "en": 50, "fr": 30}
_MIX_DEFAULT_QUOTA = 20
_PACK_BUDGET = 512


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only deterministic Bernoulli mixing: keep iff u(doc_id) <
    rate(lang). Zero shuffle — the 100-TB data-mixing path
    (operators/sampling.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return SP.stratified_sample_hash(
        docs, "lang", "doc_id", rates=_MIX_RATES, default_rate=_MIX_DEFAULT_RATE
    )


def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quota sampling (rank by deterministic u inside the
    stratum) — the verification / small-stratum variant."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = SP.stratified_sample_exact(
        docs, "lang", "doc_id", quotas=_MIX_QUOTAS, default_quota=_MIX_DEFAULT_QUOTA
    )
    return out.withColumn("sample_rank", F.col("sample_rank").cast("long"))


def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate-and-chunk documents into 512-token
    training sequences via a distributed weighted prefix sum — no
    global-order window (operators/packing.py). The packing result is
    partitioning-independent by construction (offsets are computed from the
    actual rows of each pid over a deterministic global (u, id) order), so
    the spread only parallelizes the token-count scan and the count, sample
    and pid-size passes. Nothing is persisted: the result is a plain plan."""
    docs = spread(_t(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id", TX.ws_token_count_col(F.col("text")).cast("long").alias("n_tokens")
    )
    out = PK.pack_sequences(d, "doc_id", "n_tokens", budget=_PACK_BUDGET)
    return out.select("doc_id", "n_tokens", "pack_id", "pack_offset")


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 150)
    base = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    scaled = base.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda x: x * 1.5).alias("v"),
    )
    return base.unionByName(scaled)


def host_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus statistics — the pre-sampling profile a 100-TB corpus
    pipeline computes per host/domain before mixing: doc count, token volume,
    mean/max length, distinct-language count. ONE hash aggregate with
    map-side partials; the shuffle carries only the host key — no join, no
    explode, no self-anything (a scale-safe registry slot replacing the
    all-pairs dedup_jaccard baseline, VERDICT r4 #3; the exact-Jaccard
    operator itself is pytest-oracled in tests/test_allpairs_oracles.py).
    The HLL scale sibling (approx_count_distinct for 10^9-cardinality
    columns) is pytest-asserted within its error bound in the same test
    file — HLL sketches are not bit-identical across engines, so the
    registry row keeps the exact distinct count."""
    docs = spread(_t(spark, sf_dir, "documents"))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.ws_token_count_col(F.col("text")).cast("long")).alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


def url_freq_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-frequency quality prior (crawl-side scale op): per-host document
    frequency over the link corpus, joined back so every link carries
    prior = 1/host_df — boilerplate-heavy hosts rank low, an IDF-ish weight
    a training pipeline feeds into sampling. Plan shape at 100 TB: one
    host-key count with map-side partials, then a join BACK to the links —
    the aggregated host dimension is tiny (|hosts| << |links|) so AQE
    broadcasts it; no explode, no self-join (the slot freed by demoting the
    crossJoin embed_neardup baseline, VERDICT r4 #3)."""
    # Round-6 (guide §2.3 "shuffle keys and metadata instead of payloads"):
    # host is a bijection of the integer bucket o_custkey % 50, so the count
    # and the join-back both run on the 8-byte bucket — the host STRING is
    # concat'd exactly once per output row in the final projection instead of
    # twice per input row (agg input + join key). Same host strings, same
    # counts, same prior: count-per-bucket == count-per-host under a
    # bijection, pytest/oracle checked.
    orders = _t(spark, sf_dir, "orders")
    links = orders.select("o_orderkey", (F.col("o_custkey") % 50).alias("hb"))
    host_df = links.groupBy("hb").agg(F.count("*").alias("host_df"))
    return links.join(host_df, "hb").select(
        "o_orderkey",
        F.concat(F.lit("www.host"), F.col("hb").cast("string"), F.lit(".ch")).alias("host"),
        "host_df",
        F.round(F.lit(1.0) / F.col("host_df"), 8).alias("prior"),
    )


# 300 queries, not 5: at 5 queries the whole ANN suite is plan/codegen fixed
# cost and the brute-force baseline can never lose — 300 makes the bench
# measure the asymptotics the operators exist for (brute = |Q|x|corpus|
# cosines, LSH = one bucketing pass + per-bucket joins).
ANN_N_QUERIES = 300


def embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup (the scale path): hyperplane-bucket once,
    score within buckets only — retires the all-pairs crossJoin of
    embed_neardup as the only answer."""
    corpus = _emb_corpus(spark, sf_dir)
    return SIM.bucketed_neardup_pairs(corpus, "vec_id", "v", threshold=0.99, n_planes=8)


def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    return SIM.brute_force_topk(queries_df, emb, "vec_id", "embedding", "vec_id", "embedding", k=10)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    return SIM.lsh_bucketed_topk(queries_df, emb, "vec_id", "embedding", "vec_id", "embedding", k=10, n_planes=8)


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query probes its bucket + the n_planes
    Hamming-1 buckets — the standard recall fix for single-probe sign-LSH
    (operators/similarity.py multiprobe_lsh_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    return SIM.multiprobe_lsh_topk(queries_df, emb, "vec_id", "embedding", "vec_id", "embedding", k=10, n_planes=8)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a LEARNED codebook: 2 k-means iterations in DataFrame ops
    (quantized-integer means — bit-exact across engines and partitionings, see
    operators/similarity.py learn_ivf_centroids), then cell-probe + exact
    re-rank. The DuckDB oracle replays the identical training in SQL CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    return SIM.ivf_topk(
        queries_df, emb, "vec_id", "embedding", "vec_id", "embedding", k=10, kmeans_iters=2
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload byte length + mime partitioning stats
    (decode itself is the stubbed mapInPandas pass, tested in pytest)."""
    from bravewebcrawler_spark.operators.multimodal import media_table_from_documents

    media = media_table_from_documents(_t(spark, sf_dir, "documents"))
    return media.groupBy("mime").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling-window aggregation (the streaming
    variant runs the identical plan via readStream — tests/test_streaming.py)."""
    from bravewebcrawler_spark.streaming.events import window_agg_batch

    return window_agg_batch(_t(spark, sf_dir, "events"))


_STATEFUL_Q_SEQ = iter(range(1, 1 << 30))


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) run to
    completion over the events table: per-user running (count, sum, max)
    maintained in explicit GroupState across micro-batches
    (streaming/stateful.py). The FINAL state per key equals the batch
    aggregate, which is what the DuckDB oracle checks — the cross-batch
    state maintenance itself is proven by tests/test_streaming.py."""
    from bravewebcrawler_spark.streaming.stateful import run_stateful_to_memory

    out = run_stateful_to_memory(
        spark, f"{sf_dir}/events.parquet", name=f"stateful_q{next(_STATEFUL_Q_SEQ)}"
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("max_value", 4).alias("max_value"),
    )


def p6_relevance_precheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 relevance pre-check (search_common.py:395-461): token match vs
    title/domain, generic-title guard (F13), HTTP-error policy — over a
    deterministic synthesized (name, title, domain, status) corpus."""
    from bravewebcrawler_spark.functions import relevance as RV

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = docs.select(
        "doc_id",
        F.concat(F.lit("Docu "), F.col("doc_id").cast("string"), F.lit(" AG")).alias("name"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("Home"))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("Docu "), F.col("doc_id").cast("string"), F.lit(" Portal")))
        .when(F.col("doc_id") % 4 == 2, F.lit("Unrelated Site"))
        .otherwise(F.lit(None).cast("string"))
        .alias("title"),
        F.when(F.col("doc_id") % 2 == 0, F.concat(F.lit("www.docu"), F.col("doc_id").cast("string"), F.lit(".ch")))
        .otherwise(F.lit("example.com"))
        .alias("domain"),
        F.element_at(
            F.array(F.lit("OK"), F.lit("TIMEOUT"), F.lit("HTTP_404"), F.lit("HTTP_503"), F.lit("NETWORK_ERROR")),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("status"),
    )
    relevant = F.when(
        F.col("title").isNotNull(), RV.title_relevant_col(F.col("title"), F.col("name"), F.col("domain"))
    ).otherwise(RV.fetch_error_policy_col(F.col("status")))
    generic = F.when(F.col("title").isNotNull(), RV.is_generic_title_col(F.col("title"))).otherwise(
        F.lit(False)
    )
    return d.select("doc_id", "status", relevant.alias("relevant"), generic.alias("is_generic"))


def p3_host_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 host-match feature derivation (search_common.py:163-172,253-269)."""
    from bravewebcrawler_spark.functions import relevance as RV

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = docs.select(
        "doc_id",
        F.concat(F.lit("Docu"), (F.col("doc_id") % 50).cast("string"), F.lit(" Holding AG")).alias("name"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("docu"), (F.col("doc_id") % 50).cast("string"), F.lit(".example.ch")))
        .otherwise(F.lit("other.example.com"))
        .alias("host"),
    )
    feats = RV.host_match_features(F.col("name"), F.col("host"))
    return d.select("doc_id", feats["company_match_in_host"].alias("match_in_host"), feats["is_ch_domain"].alias("is_ch"))


def o3_source_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 source cascade with provenance (brave_search.py:63-109): first
    non-null across priority-ordered sources + which source won."""
    orders = _t(spark, sf_dir, "orders")

    def src(status: str) -> DataFrame:
        return (
            orders.where(F.col("o_orderstatus") == status)
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.round(F.max("o_totalprice"), 2).alias(f"p_{status}"))
        )

    j = src("O").join(src("F"), "custkey", "full").join(src("P"), "custkey", "full")
    return j.select(
        "custkey",
        F.coalesce("p_O", "p_F", "p_P").alias("best_price"),
        F.when(F.col("p_O").isNotNull(), "open")
        .when(F.col("p_F").isNotNull(), "finished")
        .otherwise("pending")
        .alias("source_of_price"),
    )


def s6_entity_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 two-hop external-dimension lookup (search_common.py:290-391: search
    → QID resolve → claims with rank preference): a text MENTION resolves to
    an entity via its alias (broadcast dim join, hop 1), then the entity's
    claims are fetched picking the best-ranked value per property
    (preferred < normal < deprecated, O6/O7 cascade — hop 2). Entity/claim
    dims are synthesized deterministically from nation/region; claims carry
    deliberate deprecated decoys the rank preference must skip."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust = _t(spark, sf_dir, "customer")

    entities = nation.select(
        F.concat(F.lit("Q"), (F.col("n_nationkey") + 100).cast("string")).alias("qid"),
        F.lower(F.col("n_name")).alias("alias"),
        F.col("n_nationkey").alias("nk"),
        F.col("n_regionkey").alias("rk"),
    )
    good_rank = F.when(F.col("nk") % 3 == 0, F.lit("preferred")).otherwise(F.lit("normal"))
    reg = entities.join(F.broadcast(region), F.col("rk") == F.col("r_regionkey"))
    claims = (
        reg.select("qid", F.lit("P_region").alias("prop"), F.col("r_name").alias("value"), good_rank.alias("rank"))
        .unionByName(reg.select("qid", F.lit("P_region").alias("prop"), F.lit("ZZ-UNKNOWN").alias("value"), F.lit("deprecated").alias("rank")))
        .unionByName(entities.select("qid", F.lit("P_code").alias("prop"), F.concat(F.lit("N"), F.col("nk").cast("string")).alias("value"), good_rank.alias("rank")))
        .unionByName(entities.select("qid", F.lit("P_code").alias("prop"), F.lit("N-9").alias("value"), F.lit("deprecated").alias("rank")))
    )
    ro = (
        F.when(F.col("rank") == "preferred", F.lit(0))
        .when(F.col("rank") == "normal", F.lit(1))
        .otherwise(F.lit(2))
    )
    # O6 rank preference per (qid, prop) as ONE hash aggregate (min struct)
    best = claims.groupBy("qid").agg(
        F.min(F.when(F.col("prop") == "P_region", F.struct(ro.alias("r"), F.col("value").alias("v"))))["v"].alias("region"),
        F.min(F.when(F.col("prop") == "P_code", F.struct(ro.alias("r"), F.col("value").alias("v"))))["v"].alias("code"),
    )
    mentions = cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 2 == 0, F.upper("n_name")).otherwise(F.lower("n_name")).alias("mention"),
    )
    resolved = mentions.join(
        F.broadcast(entities.select("qid", "alias")),
        F.lower(F.col("mention")) == F.col("alias"),
        "left",
    )
    return resolved.join(F.broadcast(best), "qid", "left").select(
        "custkey", "mention", "qid", "region", "code"
    )


def f15_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 schema'd JSON parse with decode-error taxonomy
    (brave_processor.py:156-177: malformed agent JSON → status row, kept)."""
    ev = _t(spark, sf_dir, "events")
    raw = F.when(F.col("event_id") % 11 == 0, F.substring("props", 1, 3)).otherwise(F.col("props"))
    parsed = F.from_json(raw, "k int")
    status = F.when(parsed["k"].isNull(), F.lit("AGENT_JSON_DECODE_ERROR")).otherwise(F.lit("OK"))
    return (
        ev.select(parsed["k"].alias("k"), status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"), F.round(F.avg("k"), 4).alias("avg_k"))
    )


def metrics_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round metrics rollup shape (SURVEY §2.10: cube over round/host →
    here cube over status/priority): subtotals at every grouping level."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


def f12_digit_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 digit extraction + bounds check (search_common.py:73-91)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    reply = F.when(F.col("doc_id") % 9 == 0, F.lit("keine Antwort None")).otherwise(
        F.concat(F.lit("Ich waehle Kandidat "), (F.col("doc_id") % 7).cast("string"), F.lit(" von 5"))
    )
    digits = F.regexp_extract(reply, r"\d+", 0)
    choice = F.when(digits != "", digits.cast("int"))
    return docs.select(
        "doc_id",
        choice.alias("choice"),
        (choice.isNotNull() & (choice >= 1) & (choice <= 5)).alias("valid"),
    )


def f_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 digit extraction + F14 current-year fallback + F15 JSON-decode
    taxonomy as ONE driver row: the three r03 queries run unchanged and are
    normalized to a (src, key, n, s, x) shape for the union. Consolidated so
    the registry fits the driver's 50-row correctness report (VERDICT r3 #3)
    with all three operators still value-checked."""
    f12 = f12_digit_extraction(spark, sf_dir).select(
        F.lit("f12").alias("src"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("choice").cast("long").alias("n"),
        F.col("valid").cast("string").alias("s"),
        F.lit(None).cast("double").alias("x"),
    )
    f14 = f14_current_year(spark, sf_dir).select(
        F.lit("f14").alias("src"),
        F.col("p_brand").alias("key"),
        F.col("n_reports").cast("long").alias("n"),
        F.col("year_used").alias("s"),
        F.lit(None).cast("double").alias("x"),
    )
    f15 = f15_json_decode(spark, sf_dir).select(
        F.lit("f15").alias("src"),
        F.col("status").alias("key"),
        F.col("n").cast("long").alias("n"),
        F.lit(None).cast("string").alias("s"),
        F.col("avg_k").alias("x"),
    )
    return f12.unionByName(f14).unionByName(f15)


def a1_o3_coalesce_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 first-non-null merge (operators/merge.py coalesce_merge) joined
    with the O3 source cascade + provenance on the claim key, plus a
    cross-implementation agreement bit (the two paths must produce the same
    best price). One driver row value-checking both operators AND their
    mutual consistency. Consolidated from a1_coalesce_merge +
    o3_source_cascade (VERDICT r3 #3)."""
    a1 = a1_coalesce_merge(spark, sf_dir)
    o3 = o3_source_cascade(spark, sf_dir).withColumnRenamed("best_price", "bp_cascade")
    return a1.join(o3, "custkey", "full").select(
        "custkey",
        "best_price",
        "source_of_price",
        (F.col("best_price") == F.col("bp_cascade")).alias("paths_agree"),
    )


# shared SQL fragments for the vector oracles (exact sequential folds so
# DuckDB's doubles are bit-identical to Spark's)
_SQL_DOT = (
    "list_reduce(list_prepend(cast(0.0 as double), "
    "list_transform(range(1, 65), i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)
_SQL_EMB_CORPUS = """
with base as (select vec_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as v from embeddings where vec_id < 150),
corpus as (
  select vec_id, v from base
  union all
  select vec_id + 100000 as vec_id, list_transform(v, x -> x * 1.5) as v from base where vec_id % 20 = 0
),
normed as (select vec_id, v,
  sqrt(list_reduce(list_prepend(cast(0.0 as double), list_transform(range(1, 65), i -> v[i] * v[i])), (x, y) -> x + y)) as norm
from corpus)
"""

_SQL_MINHASH_H = "cast(('0x' || substr(md5(s), 1, 15)) as bigint) % 1000000007"

def _sql_refined_ctes() -> str:
    """Shared by the dedup_lsh_refined and dedup_components oracles (appended
    after _SQL_CORPUS): MinHash band candidates refined by exact Jaccard on
    the portable 60-bit shingle hash, ending in a `refined` CTE of
    (id_a, id_b, jaccard) pairs at threshold 0.6."""
    return f"""
            tk2 as (select doc_id as doc, {DD.sql_shingles('text', 3)} as sh,
                           list_filter(string_split(text, ' '), t -> t <> '') as toks
                    from corpus),
            sig as (select doc,
                      list_transform(range(0, 16), j ->
                        list_min(list_transform(sh, s -> (({_SQL_MINHASH_H}) * (2*j+3) + (5*j+7)) % 1000000007))) as sig
                    from tk2 where len(toks) >= 3),
            banded as (select doc, b as band,
                         list_reduce(list_prepend(cast(0 as bigint), list_slice(sig, b*4+1, b*4+4)),
                                     (acc, v) -> (acc * 31 + v) % 1000000007) as band_key
                       from sig cross join range(4) t(b)),
            cand as (select distinct a.doc as id_a, b.doc as id_b
                     from banded a join banded b
                       on a.band = b.band and a.band_key = b.band_key and a.doc < b.doc),
            -- refinement on the portable 60-bit shingle hash, matching the
            -- engine's minhash_sig_and_arrays pass (operators/dedup.py)
            shg as (select doc, cast(('0x' || substr(md5(sh), 1, 15)) as bigint) as h
                    from (select doc_id as doc, unnest(list_distinct({DD.sql_shingles('text', 3)})) as sh from corpus)),
            sizes as (select doc, count(*) as sz from shg group by 1),
            inter as (select id_a, id_b, count(*) as n_inter
                      from cand
                      join shg a on a.doc = id_a
                      join shg b2 on b2.doc = id_b and b2.h = a.h
                      group by 1, 2),
            refined as (
              select id_a, id_b, jaccard from (
                select id_a, id_b, round(n_inter / (sa.sz + sb.sz - n_inter), 4) as jaccard
                from inter join sizes sa on sa.doc = id_a join sizes sb on sb.doc = id_b)
              where jaccard >= 0.6)"""


def _sql_bucket(v: str, n_planes: int = 8) -> str:
    """DuckDB twin of operators.similarity.hyperplane_sign_bucket."""
    w = (
        "cast((cast(('0x' || substr(md5('plane' || cast(p as varchar) || ':' || cast(i as varchar)), 1, 15)) "
        "as bigint) % 1001 - 500) as double)"
    )
    proj = (
        f"list_reduce(list_prepend(cast(0.0 as double), "
        f"list_transform(range(0, 64), i -> {v}[i + 1] * {w})), (x, y) -> x + y)"
    )
    return (
        f"list_sum(list_transform(range(0, {n_planes}), p -> "
        f"case when {proj} > 0 then (cast(1 as bigint) << p) else cast(0 as bigint) end))"
    )


def _sql_ivf_cents(n_centroids: int = 16, iters: int = 2) -> str:
    """DuckDB twin of operators.similarity.learn_ivf_centroids: the same
    k-means iterations unrolled as CTEs, ending in ``cents(cent_id, centv)``.

    Bit-exact with Spark's training by the quantized-integer-mean trick: each
    centroid component is floor(x * 2^20 + 0.5) summed as an integer (exact,
    order-free) then ONE double division sum / (count * 2^20) — no
    order-sensitive float summation anywhere, so the two engines cannot
    diverge no matter how either parallelizes the aggregation."""
    cast64 = (
        "case when len(embedding) = 64 then embedding::DOUBLE[] "
        "else error('embedding dim != 64: vector oracle fragments assume 64') end"
    )
    sums = ", ".join(
        f"sum(cast(floor(cv[{i + 1}] * 1048576.0 + 0.5) as bigint)) as s{i}" for i in range(64)
    )
    news = ", ".join(
        f"cast(u.s{i} as double) / (cast(u.cnt as double) * 1048576.0)" for i in range(64)
    )
    cos_c = (
        f"{_SQL_DOT.format(a='cv', b='centv')}"
        f" / (sqrt({_SQL_DOT.format(a='cv', b='cv')}) * sqrt({_SQL_DOT.format(a='centv', b='centv')}))"
    )
    parts = [
        f"cents0 as (select vec_id as cent_id, {cast64} as centv from embeddings where vec_id < {n_centroids})",
        f"corpx as (select vec_id as neighbor_id, {cast64} as cv from embeddings)",
    ]
    for it in range(1, iters + 1):
        prev = f"cents{it - 1}"
        parts += [
            f"a{it} as (select neighbor_id, cv, cent_id, {cos_c} as cos_c from corpx cross join {prev})",
            f"g{it} as (select neighbor_id, cv, cent_id from ("
            f"select *, row_number() over (partition by neighbor_id order by cos_c desc, cent_id asc) as rn"
            f" from a{it}) where rn = 1)",
            f"u{it} as (select cent_id as cell, count(*) as cnt, {sums} from g{it} group by cent_id)",
            f"cents{it} as (select c.cent_id, case when u.cell is null then c.centv"
            f" else list_value({news}) end as centv"
            f" from {prev} c left join u{it} u on c.cent_id = u.cell)",
        ]
    parts.append(f"cents as (select cent_id, centv from cents{iters})")
    return ",\n            ".join(parts)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "o1_priority_rank": o1_priority_rank,
        "o2_top1_cascade": o2_top1_cascade,
        "o6_rank_preference": o6_rank_preference,
        "o4_limit_pushdown": o4_limit_pushdown,
        "p1_blacklist_filter": p1_blacklist_filter,
        "p7_status_taxonomy": p7_status_taxonomy,
        "f_regex_battery": f_regex_battery,
        "facts_per_seed": facts_per_seed,
        "facts_reference_csv": facts_reference_csv,
        "a2_missing_counts": a2_missing_counts,
        "a1_o3_coalesce_cascade": a1_o3_coalesce_cascade,
        "f16_json_props": f16_json_props,
        "j2_anti_join": j2_anti_join,
        "a7_per_key_topk": a7_per_key_topk,
        "w3_running_metrics": w3_running_metrics,
        "sessionization": sessionization,
        "q3_shipping": q3_shipping,
        "q5_region_revenue": q5_region_revenue,
        "set_except": set_except,
        "p9_pdf_year_filter": p9_pdf_year_filter,
        "dedup_exact": dedup_exact,
        "host_corpus_stats": host_corpus_stats,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_lsh_refined": dedup_lsh_refined,
        "dedup_components": dedup_components,
        "dedup_keep_one": dedup_keep_one,
        "corpus_prep": corpus_prep,
        "sample_stratified": sample_stratified,
        "sample_stratified_exact": sample_stratified_exact,
        "corpus_pack": corpus_pack,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "embed_neardup_lsh": embed_neardup_lsh,
        "text_fingerprint": text_fingerprint,
        "text_metrics": text_metrics,
        "decontam_overlap": decontam_overlap,
        "url_freq_prior": url_freq_prior,
        "ann_brute_topk": ann_brute_topk,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_lsh_multiprobe": ann_lsh_multiprobe,
        "ann_ivf_topk": ann_ivf_topk,
        "multimodal_meta": multimodal_meta,
        "stream_window_counts": stream_window_counts,
        "stream_stateful_user_stats": stream_stateful_user_stats,
        "p6_relevance_precheck": p6_relevance_precheck,
        "p3_host_match": p3_host_match,
        "f_scalar_battery": f_scalar_battery,
        "s6_entity_lookup": s6_entity_lookup,
        "metrics_cube": metrics_cube,
    }


# Portable uniform draw u(doc_id) ∈ [0,1) — the DuckDB twin of
# operators/sampling.py _uniform_col (exact integer ÷ 2^60 in double).
_SQL_U = (
    "cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15)) as bigint)"
    " / 1152921504606846976.0"
)


def _sql_mix_case(mapping: dict, default, as_double: bool) -> str:
    """CASE lang ... built from the SAME dict the Spark query uses."""
    cast = (lambda v: f"cast({v} as double)") if as_double else (lambda v: str(int(v)))
    whens = " ".join(f"when '{k}' then {cast(mapping[k])}" for k in sorted(mapping))
    return f"case lang {whens} else {cast(default)} end"


def oracle_sql() -> dict[str, str]:
    sql = {
        "q1_pricing_summary": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                   round(avg(l_quantity), 4) as avg_qty,
                   round(avg(l_discount), 4) as avg_disc,
                   count(*) as count_order
            from lineitem where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """,
        "o1_priority_rank": """
            select o_custkey, o_orderkey, o_orderpriority from (
              select o_custkey, o_orderkey, o_orderpriority,
                     row_number() over (partition by o_custkey
                       order by o_orderpriority asc, o_orderdate desc, o_orderkey asc) as rn
              from orders) where rn = 1
        """,
        "o2_top1_cascade": """
            select o_custkey, o_orderkey, tier from (
              select o_custkey, o_orderkey,
                     case when o_orderstatus = 'O' and o_totalprice > 150000 then 'open_big'
                          when o_orderstatus = 'O' then 'open' else 'any' end as tier,
                     case when o_orderstatus = 'O' and o_totalprice > 150000 then 0
                          when o_orderstatus = 'O' then 1 else 2 end as tr,
                     row_number() over (partition by o_custkey
                       order by case when o_orderstatus = 'O' and o_totalprice > 150000 then 0
                                     when o_orderstatus = 'O' then 1 else 2 end asc,
                                o_totalprice desc, o_orderkey asc) as rn
              from orders) where rn = 1
        """,
        "o6_rank_preference": """
            select o_custkey, o_orderkey, chosen_status from (
              select o_custkey, o_orderkey, o_orderstatus as chosen_status,
                     row_number() over (partition by o_custkey
                       order by case when o_orderstatus = 'P' then 0 when o_orderstatus = 'O' then 1 else 2 end,
                                o_orderdate asc, o_orderkey asc) as rn
              from orders where o_orderstatus <> 'F') where rn = 1
        """,
        "o4_limit_pushdown": """
            select o_orderkey, round(o_totalprice, 2) as o_totalprice
            from orders order by o_totalprice desc, o_orderkey asc limit 5
        """,
        "p1_blacklist_filter": """
            select source, count(*) as n_docs from documents
            where not (contains(source, 'src1') or contains(source, 'src3'))
            group by source
        """,
        "p7_status_taxonomy": """
            select case when o_totalprice is null then 'INVALID_NULL_PRICE'
                        when o_totalprice < 5000 then 'SUSPICIOUS_LOW_PRICE'
                        when o_orderpriority = '5-LOW' then 'DEPRIORITIZED'
                        else 'VALID' end as processing_status,
                   count(*) as n
            from orders group by 1
        """,
        "f_regex_battery": _BATTERY_SQL,
        "a2_missing_counts": f"""
            select cast(sum(case when che_id is null or che_id = '' or che_id = 'null' then 1 else 0 end) as bigint) as missing_che_id,
                   cast(sum(case when phone is null or phone = '' or phone = 'null' then 1 else 0 end) as bigint) as missing_phone,
                   cast(sum(case when email is null or email = '' or email = 'null' then 1 else 0 end) as bigint) as missing_email,
                   cast(sum(case when founded is null or founded = '' or founded = 'null' then 1 else 0 end) as bigint) as missing_founded,
                   cast(sum(case when address is null or address = '' or address = 'null' then 1 else 0 end) as bigint) as missing_address
            from ({_BATTERY_SQL})
        """,
        "facts_per_seed": f"""
            with b as ({_BATTERY_SQL}),
            s as (select doc_id % 200 as seed_id, doc_id % 3 as tier, doc_id,
                         nullif(che_id, '') as che_id, nullif(phone, '') as phone,
                         nullif(email, '') as email, nullif(founded, '') as founded,
                         nullif(address, '') as address
                  from b),
            m as (select seed_id,
                    arg_min(che_id, tier * 100000000 + doc_id) filter (che_id is not null) as che_id,
                    arg_min(phone, tier * 100000000 + doc_id) filter (phone is not null) as phone,
                    arg_min(email, tier * 100000000 + doc_id) filter (email is not null) as email,
                    arg_min(founded, tier * 100000000 + doc_id) filter (founded is not null) as founded,
                    arg_min(address, tier * 100000000 + doc_id) filter (address is not null) as address,
                    count(*) as n_docs
                  from s group by seed_id),
            g as (select *,
                    cast(che_id is null as int) + cast(phone is null as int) + cast(email is null as int)
                    + cast(founded is null as int) + cast(address is null as int) as miss
                  from m)
            select seed_id, che_id, phone, email, founded, address, n_docs,
                   case when miss = 0 then 'ALL_FIELDS_COMPLETE'
                        when miss = 5 then 'NO_FACTS_EXTRACTED'
                        else 'PARTIAL_' || cast(miss as varchar) || '_MISSING' end as status
            from g
        """,
        "a1_coalesce_merge": """
            with s0 as (select o_custkey as custkey, round(max(o_totalprice),2) as bp from orders where o_orderstatus='O' group by 1),
                 s1 as (select o_custkey as custkey, round(max(o_totalprice),2) as bp from orders where o_orderstatus='F' group by 1),
                 s2 as (select o_custkey as custkey, round(max(o_totalprice),2) as bp from orders where o_orderstatus='P' group by 1)
            select coalesce(s0.custkey, s1.custkey, s2.custkey) as custkey,
                   coalesce(s0.bp, s1.bp, s2.bp) as best_price
            from s0 full join s1 using (custkey) full join s2 using (custkey)
        """,
        "f16_json_props": """
            select event_type,
                   round(avg(cast(json_extract_string(props, '$.k') as integer)), 4) as avg_k,
                   count(*) as n
            from events group by event_type
        """,
        "j2_anti_join": """
            select user_id, count(*) as n_events from events
            where user_id not in (select user_id from events where event_type = 'click')
            group by user_id
        """,
        "a7_per_key_topk": """
            select user_id, event_id, round(value, 4) as value, rn from (
              select user_id, event_id, value,
                     row_number() over (partition by user_id order by value desc, event_id asc) as rn
              from events) where rn <= 3
        """,
        "w3_running_metrics": """
            select order_date, n, cast(sum(n) over (order by order_date
                     rows between unbounded preceding and current row) as bigint) as cum_n
            from (select cast(o_orderdate as date) as order_date, count(*) as n
                  from orders group by 1)
        """,
        "sessionization": """
            select user_id, cast(sum(new_sess) as bigint) as n_sessions, count(*) as n_events from (
              select user_id,
                     case when lag(ts) over w is null
                               or epoch(ts - lag(ts) over w) > 1800 then 1 else 0 end as new_sess
              from events window w as (partition by user_id order by ts, event_id))
            group by user_id
        """,
        "s6_entity_lookup": """
            with entities as (
              select 'Q' || cast(n_nationkey + 100 as varchar) as qid,
                     lower(n_name) as alias, n_nationkey as nk, n_regionkey as rk
              from nation),
            reg as (select e.*, r_name from entities e join region on rk = r_regionkey),
            claims as (
              select qid, 'P_region' as prop, r_name as value,
                     case when nk % 3 = 0 then 'preferred' else 'normal' end as rnk from reg
              union all select qid, 'P_region', 'ZZ-UNKNOWN', 'deprecated' from reg
              union all select qid, 'P_code', 'N' || cast(nk as varchar),
                     case when nk % 3 = 0 then 'preferred' else 'normal' end from entities
              union all select qid, 'P_code', 'N-9', 'deprecated' from entities),
            ranked as (select qid, prop, value,
                         case rnk when 'preferred' then 0 when 'normal' then 1 else 2 end as ro
                       from claims),
            best1 as (select qid, prop, value from (
                        select qid, prop, value,
                               row_number() over (partition by qid, prop order by ro, value) as rn
                        from ranked) where rn = 1),
            best as (select qid,
                       max(case when prop = 'P_region' then value end) as region,
                       max(case when prop = 'P_code' then value end) as code
                     from best1 group by qid),
            mention as (select c_custkey as custkey,
                          case when c_custkey % 2 = 0 then upper(n_name) else lower(n_name) end as mention
                        from customer join nation on c_nationkey = n_nationkey),
            res as (select custkey, mention, qid
                    from mention left join entities on lower(mention) = alias)
            select custkey, mention, qid, region, code
            from res left join best using (qid)
        """,
        "f14_current_year": """
            with tagged as (
              select p_brand, year(current_date) - p_partkey % 4 as ly
              from part),
            per_brand as (
              select p_brand,
                     cast(count(*) filter (ly = year(current_date)) as bigint) as n_current,
                     cast(count(*) filter (ly = year(current_date) - 1) as bigint) as n_prev
              from tagged group by p_brand)
            select p_brand,
                   case when n_current > 0 then n_current else n_prev end as n_reports,
                   case when n_current > 0 then 'current' else 'fallback' end as year_used
            from per_brand
        """,
        "q3_shipping": """
            select l_orderkey, cast(o_orderdate as date) as order_date,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
            from customer join orders on o_custkey = c_custkey
            join lineitem on l_orderkey = o_orderkey
            where c_mktsegment = 'BUILDING'
              and o_orderdate < timestamp '1997-01-01'
              and l_shipdate > timestamp '1997-01-01'
            group by l_orderkey, order_date
            order by revenue desc, l_orderkey asc limit 10
        """,
        "q5_region_revenue": """
            select n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
            from lineitem join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            where r_name = 'EUROPE'
            group by n_name
        """,
        "set_except": """
            select distinct o_custkey from orders where o_orderstatus = 'O'
            except
            select distinct o_custkey from orders where o_orderstatus = 'F'
        """,
        "p9_pdf_year_filter": """
            select p_brand, count(*) as n_reports from (
              select p_brand,
                     'http://reports.example/' || p_brand || '-' || cast(p_partkey as varchar)
                     || case when p_partkey % 4 = 0 then '-2024.pdf'
                             when p_partkey % 4 = 1 then '-2023.pdf' else '.html' end as link
              from part)
            where link like '%.pdf' and (contains(link, '2024') or contains(link, '2023'))
            group by p_brand
        """,
        "dedup_exact": f"""
            {_SQL_CORPUS}
            select keeper_id, n_dups from (
              select md5(text) as h, min(doc_id) as keeper_id, count(*) as n_dups
              from corpus group by 1) where n_dups > 1
        """,
        "host_corpus_stats": """
            select source,
                   count(*) as n_docs,
                   cast(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) as bigint) as total_tokens,
                   round(avg(n_chars), 4) as avg_chars,
                   max(n_chars) as max_chars,
                   count(distinct lang) as n_langs
            from documents group by source
        """,
        "dedup_minhash_lsh": f"""
            {_SQL_CORPUS},
            tk2 as (select doc_id as doc, {DD.sql_shingles('text', 3)} as sh,
                           list_filter(string_split(text, ' '), t -> t <> '') as toks
                    from corpus),
            sig as (select doc,
                      list_transform(range(0, 16), j ->
                        list_min(list_transform(sh, s -> (({_SQL_MINHASH_H}) * (2*j+3) + (5*j+7)) % 1000000007))) as sig
                    from tk2 where len(toks) >= 3),
            banded as (select doc, b as band,
                         list_reduce(list_prepend(cast(0 as bigint), list_slice(sig, b*4+1, b*4+4)),
                                     (acc, v) -> (acc * 31 + v) % 1000000007) as band_key
                       from sig cross join range(4) t(b))
            select distinct a.doc as id_a, b.doc as id_b
            from banded a join banded b
              on a.band = b.band and a.band_key = b.band_key and a.doc < b.doc
        """,
        "dedup_lsh_refined": f"""
            {_SQL_CORPUS},
            {_sql_refined_ctes()}
            select id_a, id_b, jaccard from refined
        """,
        "dedup_components": f"""
            {_SQL_CORPUS.replace("with tk", "with recursive tk", 1)},
            {_sql_refined_ctes()},
            und as (select id_a as u, id_b as v from refined
                    union all
                    select id_b as u, id_a as v from refined),
            reach as (
              select doc_id as node, doc_id as label from corpus
              union
              select und.v as node, reach.label
              from reach join und on und.u = reach.node
            )
            select node as doc_id, min(label) as component from reach group by 1
        """,
        "dedup_keep_one": f"""
            {_SQL_CORPUS.replace("with tk", "with recursive tk", 1)},
            {_sql_refined_ctes()},
            und as (select id_a as u, id_b as v from refined
                    union all
                    select id_b as u, id_a as v from refined),
            reach as (
              select doc_id as node, doc_id as label from corpus
              union
              select und.v as node, reach.label
              from reach join und on und.u = reach.node
            ),
            comp as (select node, min(label) as component from reach group by 1)
            select component as doc_id, count(*) as n_members from comp group by 1
        """,
        "sample_stratified": f"""
            select doc_id, lang from documents
            where {_SQL_U} < ({_sql_mix_case(_MIX_RATES, _MIX_DEFAULT_RATE, as_double=True)})
        """,
        "sample_stratified_exact": f"""
            with d as (select doc_id, lang, {_SQL_U} as u from documents),
            r as (select doc_id, lang,
                         row_number() over (partition by lang order by u, doc_id) as sample_rank
                  from d)
            select doc_id, lang, sample_rank from r
            where sample_rank <= ({_sql_mix_case(_MIX_QUOTAS, _MIX_DEFAULT_QUOTA, as_double=False)})
        """,
        "corpus_pack": f"""
            with d as (select doc_id,
                              cast(len(list_filter(string_split(text, ' '), t -> t <> '')) as bigint) as n_tokens,
                              cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 15)) as bigint) as u
                       from documents),
            o as (select doc_id, n_tokens,
                         cast(coalesce(sum(n_tokens) over (order by u, doc_id
                                    rows between unbounded preceding and 1 preceding), 0)
                              as bigint) as off
                  from d)
            select doc_id, n_tokens,
                   off // {_PACK_BUDGET} as pack_id,
                   off % {_PACK_BUDGET} as pack_offset
            from o
        """,
        "corpus_prep": f"""
            {_SQL_CORPUS},
            ql as (select doc_id, text,
                     floor((cast(0.4 as double) * least(length(text) / cast(500.0 as double), cast(1.0 as double))
                          + cast(0.3 as double) * (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                                                         / cast(greatest(length(text), 1) as double))
                          + cast(0.3 as double) * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                                   / cast(greatest(length(text), 1) as double))) * 10000) / 10000 as quality
                   from corpus),
            kept as (select * from ql where quality >= 0.65),
            keepers as (select min(doc_id) as doc_id from kept group by md5(text)),
            uniq as (select k.* from kept k join keepers u using (doc_id)),
            tk2 as (select doc_id as doc, {DD.sql_shingles('text', 3)} as sh,
                           list_filter(string_split(text, ' '), t -> t <> '') as toks
                    from uniq),
            sig as (select doc,
                      list_transform(range(0, 16), j ->
                        list_min(list_transform(sh, s -> (({_SQL_MINHASH_H}) * (2*j+3) + (5*j+7)) % 1000000007))) as sig
                    from tk2 where len(toks) >= 3),
            banded as (select doc, b as band,
                         list_reduce(list_prepend(cast(0 as bigint), list_slice(sig, b*4+1, b*4+4)),
                                     (acc, v) -> (acc * 31 + v) % 1000000007) as band_key
                       from sig cross join range(4) t(b)),
            cand as (select distinct a.doc as id_a, b.doc as id_b
                     from banded a join banded b
                       on a.band = b.band and a.band_key = b.band_key and a.doc < b.doc),
            shg as (select doc, cast(('0x' || substr(md5(sh), 1, 15)) as bigint) as h
                    from (select doc_id as doc, unnest(list_distinct({DD.sql_shingles('text', 3)})) as sh from uniq)),
            sizes as (select doc, count(*) as sz from shg group by 1),
            inter as (select id_a, id_b, count(*) as n_inter
                      from cand
                      join shg a on a.doc = id_a
                      join shg b2 on b2.doc = id_b and b2.h = a.h
                      group by 1, 2),
            refined as (select id_a, id_b from (
                          select id_a, id_b, n_inter / (sa.sz + sb.sz - n_inter) as jaccard
                          from inter join sizes sa on sa.doc = id_a join sizes sb on sb.doc = id_b)
                        where jaccard >= 0.6),
            final as (select * from uniq where doc_id not in (select id_b from refined)),
            feat as (select quality,
                       len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^A-Za-z\\d\\s]')) as bpe,
                       len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is'], t))) as s_en,
                       len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht','ist','ein'], t))) as s_de,
                       len(list_filter(toks, t -> list_contains(['le','la','les','et','de','un','est'], t))) as s_fr
                     from (select quality, text, list_filter(string_split(lower(text), ' '), t -> t <> '') as toks
                           from final))
            select lang_guess, count(*) as n_docs,
                   cast(sum(bpe) as bigint) as total_bpe_tokens,
                   round(avg(quality), 4) as avg_quality
            from (select case when s_de >= s_en and s_de >= s_fr then 'de'
                              when s_en >= s_fr then 'en' else 'fr' end as lang_guess,
                         bpe, quality
                  from feat)
            group by 1
        """,
        "dedup_simhash": f"""
            {_SQL_CORPUS},
            hs as (select doc_id as doc,
                     list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                                    t -> cast(('0x' || substr(md5(t), 1, 15)) as bigint)) as hv
                   from corpus),
            sh as (select doc,
                     cast(list_sum(list_transform(range(0, 16), b ->
                       case when list_sum(list_transform(hv, h -> ((h >> b) & 1) * 2 - 1)) > 0
                            then (cast(1 as bigint) << b) else cast(0 as bigint) end)) as bigint) as simhash
                   from hs)
            select simhash, count(*) as n_docs, min(doc) as keeper_id
            from sh group by 1 having count(*) > 1
        """,
        "dedup_simhash_pairs": f"""
            {_SQL_CORPUS},
            hs as (select doc_id as doc,
                     list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                                    t -> cast(('0x' || substr(md5(t), 1, 15)) as bigint)) as hv
                   from corpus),
            sh as (select doc,
                     cast(list_sum(list_transform(range(0, 16), b ->
                       case when list_sum(list_transform(hv, h -> ((h >> b) & 1) * 2 - 1)) > 0
                            then (cast(1 as bigint) << b) else cast(0 as bigint) end)) as bigint) as simhash
                   from hs),
            banded as (select doc, simhash, b as band, (simhash >> (b * 4)) & 15 as band_key
                       from sh cross join range(4) t(b)),
            cand as (select distinct a.doc as id_a, b.doc as id_b,
                            a.simhash as sh_a, b.simhash as sh_b
                     from banded a join banded b
                       on a.band = b.band and a.band_key = b.band_key and a.doc < b.doc)
            select id_a, id_b, cast(bit_count(xor(sh_a, sh_b)) as int) as hamming
            from cand where bit_count(xor(sh_a, sh_b)) <= 2
        """,
        "embed_neardup_lsh": f"""
            {_SQL_EMB_CORPUS},
            bk as (select vec_id, v, norm, {_sql_bucket("v")} as bucket from normed)
            select id_a, id_b, cosine from (
              select a.vec_id as id_a, b2.vec_id as id_b,
                     round({_SQL_DOT.format(a="a.v", b="b2.v")} / (a.norm * b2.norm), 4) as cosine
              from bk a join bk b2 on a.bucket = b2.bucket and a.vec_id < b2.vec_id)
            where cosine >= 0.99
        """,
        "text_fingerprint": f"""
            select doc_id, {TX.sql_fingerprint('text')} as fp from documents
        """,
        "text_lang_id": """
            select doc_id,
                   case when s_de >= s_en and s_de >= s_fr then 'de'
                        when s_en >= s_fr then 'en' else 'fr' end as lang_guess,
                   s_en, s_de, s_fr
            from (select doc_id,
                    len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is'], t))) as s_en,
                    len(list_filter(toks, t -> list_contains(['der','die','das','und','nicht','ist','ein'], t))) as s_de,
                    len(list_filter(toks, t -> list_contains(['le','la','les','et','de','un','est'], t))) as s_fr
                  from (select doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') as toks
                        from documents))
        """,
        "text_quality": r"""
            select doc_id,
                   floor((cast(0.4 as double) * least(length(text) / cast(500.0 as double), cast(1.0 as double))
                       + cast(0.3 as double) * (1.0 - length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                                                      / cast(greatest(length(text), 1) as double))
                       + cast(0.3 as double) * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                                / cast(greatest(length(text), 1) as double))) * 10000) / 10000 as quality
            from documents
        """,
        "text_token_stats": r"""
            select doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) as ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^A-Za-z\d\s]')) as bpe_tokens,
                   round(len(list_filter(list_filter(string_split(lower(text), ' '), t -> t <> ''),
                                         t -> list_contains(['the','a','of','and','to','in','is','it','on','for'], t)))
                         / cast(greatest(len(list_filter(string_split(lower(text), ' '), t -> t <> '')), 1) as double),
                         4) as stopword_ratio
            from documents
        """,
        "text_repetition": """
            with lx as (select doc_id,
                          list_filter(string_split(text, chr(10)), l -> l <> '') as lines,
                          list_filter(string_split(text, ' '), t -> t <> '') as toks,
                          text
                        from documents),
            g as (select doc_id, lines, toks, text,
                    case when len(toks) >= 2 then
                      list_transform(range(1, len(toks)), i -> array_to_string(list_slice(toks, i, i + 1), ' '))
                    else [] end as grams
                  from lx)
            select doc_id,
                   case when len(lines) > 0 then
                     floor((1.0 - len(list_distinct(lines)) / cast(len(lines) as double)) * 10000) / 10000
                   else 0.0 end as dup_line_frac,
                   case when len(grams) > 0 then
                     floor((1.0 - len(list_distinct(grams)) / cast(len(grams) as double)) * 10000) / 10000
                   else 0.0 end as dup_2gram_frac,
                   floor(((length(text) - length(regexp_replace(text, '#', '', 'g'))
                           + len(regexp_extract_all(text, '\\.\\.\\.')))
                          / cast(greatest(len(toks), 1) as double)) * 10000) / 10000 as symbol_word_ratio
            from g
        """,
        "decontam_overlap": f"""
            with bench as (select text from documents where doc_id % 83 = 0),
            corp as (select doc_id, text from documents where doc_id % 83 <> 0),
            bsh as (select distinct unnest({DD.sql_shingles('text', _DECONTAM_K)}) as b_sh from bench),
            csh as (select doc_id, unnest(list_distinct({DD.sql_shingles('text', _DECONTAM_K)})) as sh from corp)
            select doc_id, count(*) as n_hits, min(sh) as example_shingle
            from csh join bsh on sh = b_sh
            group by doc_id
        """,
        "url_freq_prior": """
            with links as (select o_orderkey,
                                  'www.host' || cast(o_custkey % 50 as varchar) || '.ch' as host
                           from orders),
            host_df as (select host, count(*) as host_df from links group by host)
            select o_orderkey, l.host, host_df,
                   round(cast(1.0 as double) / host_df, 8) as prior
            from links l join host_df using (host)
        """,
        "ann_brute_topk": f"""
            with q as (select vec_id as query_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as qv from embeddings where vec_id < {ANN_N_QUERIES}),
            c as (select vec_id as neighbor_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as cv from embeddings),
            scored as (select query_id, neighbor_id,
                         {_SQL_DOT.format(a="qv", b="cv")}
                         / (sqrt({_SQL_DOT.format(a="qv", b="qv")}) * sqrt({_SQL_DOT.format(a="cv", b="cv")})) as cos_raw
                       from c cross join q where query_id <> neighbor_id),
            ranked as (select query_id, neighbor_id, cos_raw,
                         row_number() over (partition by query_id order by cos_raw desc, neighbor_id asc) as rnk
                       from scored)
            -- "+ 0.0" normalizes IEEE -0.0 (DuckDB round keeps the sign bit;
            -- Spark round via BigDecimal strips it) so value hashes agree bit-for-bit
            select query_id, neighbor_id, cast(rnk as integer) as rank, round(cos_raw, 4) + 0.0 as cosine
            from ranked where rnk <= 10
        """,
        "ann_lsh_topk": f"""
            with qraw as (select vec_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as v from embeddings where vec_id < {ANN_N_QUERIES}),
            craw as (select vec_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as v from embeddings),
            q as (select vec_id as query_id, v as qv, {_sql_bucket("v")} as bucket from qraw),
            c as (select vec_id as neighbor_id, v as cv, {_sql_bucket("v")} as bucket from craw),
            scored as (select query_id, neighbor_id,
                         {_SQL_DOT.format(a="qv", b="cv")}
                         / (sqrt({_SQL_DOT.format(a="qv", b="qv")}) * sqrt({_SQL_DOT.format(a="cv", b="cv")})) as cos_raw
                       from c join q using (bucket) where query_id <> neighbor_id),
            ranked as (select query_id, neighbor_id, cos_raw,
                         row_number() over (partition by query_id order by cos_raw desc, neighbor_id asc) as rnk
                       from scored)
            -- "+ 0.0" normalizes IEEE -0.0 (DuckDB round keeps the sign bit;
            -- Spark round via BigDecimal strips it) so value hashes agree bit-for-bit
            select query_id, neighbor_id, cast(rnk as integer) as rank, round(cos_raw, 4) + 0.0 as cosine
            from ranked where rnk <= 10
        """,
        "ann_lsh_multiprobe": f"""
            with qraw as (select vec_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as v from embeddings where vec_id < {ANN_N_QUERIES}),
            craw as (select vec_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as v from embeddings),
            q as (select vec_id as query_id, v as qv, cast({_sql_bucket("v")} as bigint) as bucket0 from qraw),
            probes as (select query_id, qv,
                         unnest(list_prepend(bucket0, list_transform(range(0, 8), p -> xor(bucket0, cast(1 as bigint) << p)))) as bucket
                       from q),
            c as (select vec_id as neighbor_id, v as cv, cast({_sql_bucket("v")} as bigint) as bucket from craw),
            scored as (select query_id, neighbor_id,
                         {_SQL_DOT.format(a="qv", b="cv")}
                         / (sqrt({_SQL_DOT.format(a="qv", b="qv")}) * sqrt({_SQL_DOT.format(a="cv", b="cv")})) as cos_raw
                       from c join probes using (bucket) where query_id <> neighbor_id),
            ranked as (select query_id, neighbor_id, cos_raw,
                         row_number() over (partition by query_id order by cos_raw desc, neighbor_id asc) as rnk
                       from scored)
            -- "+ 0.0" normalizes IEEE -0.0 (DuckDB round keeps the sign bit;
            -- Spark round via BigDecimal strips it) so value hashes agree bit-for-bit
            select query_id, neighbor_id, cast(rnk as integer) as rank, round(cos_raw, 4) + 0.0 as cosine
            from ranked where rnk <= 10
        """,
        "ann_ivf_topk": f"""
            -- learned codebook: 2 k-means iterations, bit-exact with Spark's
            -- learn_ivf_centroids via quantized-integer means
            with {_sql_ivf_cents(16, 2)},
            corp as (select neighbor_id, cv from corpx),
            assign as (select neighbor_id, cv, cent_id,
                         {_SQL_DOT.format(a="cv", b="centv")}
                         / (sqrt({_SQL_DOT.format(a="cv", b="cv")}) * sqrt({_SQL_DOT.format(a="centv", b="centv")})) as cos_c
                       from corp cross join cents),
            cells as (select neighbor_id, cv, cent_id as cell from (
                        select *, row_number() over (partition by neighbor_id order by cos_c desc, cent_id asc) as rn
                        from assign) where rn = 1),
            q as (select vec_id as query_id, case when len(embedding) = 64 then embedding::DOUBLE[] else error('embedding dim != 64: vector oracle fragments assume 64') end as qv from embeddings where vec_id < {ANN_N_QUERIES}),
            qassign as (select query_id, qv, cent_id,
                          {_SQL_DOT.format(a="qv", b="centv")}
                          / (sqrt({_SQL_DOT.format(a="qv", b="qv")}) * sqrt({_SQL_DOT.format(a="centv", b="centv")})) as cos_c
                        from q cross join cents),
            probes as (select query_id, qv, cent_id as cell from (
                         select *, row_number() over (partition by query_id order by cos_c desc, cent_id asc) as rn
                         from qassign) where rn <= 4),
            cand as (select query_id, neighbor_id,
                       {_SQL_DOT.format(a="qv", b="cv")}
                       / (sqrt({_SQL_DOT.format(a="qv", b="qv")}) * sqrt({_SQL_DOT.format(a="cv", b="cv")})) as cos_raw
                     from probes join cells using (cell) where query_id <> neighbor_id),
            ranked as (select query_id, neighbor_id, cos_raw,
                         row_number() over (partition by query_id order by cos_raw desc, neighbor_id asc) as rnk
                       from cand)
            -- "+ 0.0" normalizes IEEE -0.0 (DuckDB round keeps the sign bit;
            -- Spark round via BigDecimal strips it) so value hashes agree bit-for-bit
            select query_id, neighbor_id, cast(rnk as integer) as rank, round(cos_raw, 4) + 0.0 as cosine
            from ranked where rnk <= 10
        """,
        "multimodal_meta": """
            select mime, count(*) as n_media,
                   cast(sum(octet_length(payload)) as bigint) as total_bytes,
                   max(octet_length(payload)) as max_bytes
            from (select encode(text) as payload,
                         case when doc_id % 3 = 0 then 'image/jpeg'
                              when doc_id % 3 = 1 then 'audio/wav'
                              else 'video/mp4' end as mime
                  from documents)
            group by mime
        """,
        "stream_window_counts": """
            select cast(floor(epoch(ts) / 300) * 300 as bigint) as win_start,
                   event_type, count(*) as n, round(sum(value), 4) as sum_value
            from events group by 1, 2
        """,
        "stream_stateful_user_stats": """
            select user_id, count(*) as n_events,
                   round(sum(value), 4) as sum_value,
                   round(max(value), 4) as max_value
            from events group by user_id
        """,
        "p6_relevance_precheck": r"""
            with d as (
              select doc_id,
                     'Docu ' || cast(doc_id as varchar) || ' AG' as name,
                     case when doc_id % 4 = 0 then 'Home'
                          when doc_id % 4 = 1 then 'Docu ' || cast(doc_id as varchar) || ' Portal'
                          when doc_id % 4 = 2 then 'Unrelated Site' end as title,
                     case when doc_id % 2 = 0 then 'www.docu' || cast(doc_id as varchar) || '.ch'
                          else 'example.com' end as domain,
                     (['OK','TIMEOUT','HTTP_404','HTTP_503','NETWORK_ERROR'])[cast(doc_id % 5 as integer) + 1] as status
              from documents),
            n as (select *,
                    list_filter(regexp_split_to_array(
                      trim(regexp_replace(regexp_replace(lower(name), '\s+(ag|gmbh|sa|sàrl)\b', '', 'g'), '[.,]', '', 'g')),
                      '\s+'), t -> length(t) > 2) as toks,
                    regexp_replace(lower(domain), '^www\.', '') as dom
                  from d)
            select doc_id, status,
                   case when title is not null then
                     len(list_filter(toks, t -> contains(lower(title), t) or contains(dom, t))) > 0
                   else
                     case when status = 'TIMEOUT' then true
                          when status in ('HTTP_403','HTTP_404') then false
                          when status like 'HTTP_5%' then false
                          when status like 'HTTP\_%' escape '\' then true
                          when status = 'NETWORK_ERROR' then false
                          else true end
                   end as relevant,
                   case when title is not null then
                     len(list_filter(['home','welcome','startseite','index','homepage','start','hauptseite','website','accueil','willkommen','site officiel'],
                                     w -> contains(lower(title), w))) > 0
                   else false end as is_generic
            from n
        """,
        "p3_host_match": r"""
            with d as (
              select doc_id,
                     'Docu' || cast(doc_id % 50 as varchar) || ' Holding AG' as name,
                     case when doc_id % 3 = 0 then 'docu' || cast(doc_id % 50 as varchar) || '.example.ch'
                          else 'other.example.com' end as host
              from documents),
            n as (select doc_id, host,
                    trim(regexp_replace(regexp_replace(lower(name), '\s+(ag|gmbh|sa|sàrl)\b', '', 'g'), '[.,]', '', 'g')) as nn
                  from d)
            select doc_id,
                   (contains(host, regexp_split_to_array(nn, '\s+')[1])
                    or starts_with(host, regexp_replace(nn, '\s+', '', 'g'))) as match_in_host,
                   host like '%.ch' as is_ch
            from n
        """,
        "o3_source_cascade": """
            with s0 as (select o_custkey as custkey, round(max(o_totalprice),2) as p0 from orders where o_orderstatus='O' group by 1),
                 s1 as (select o_custkey as custkey, round(max(o_totalprice),2) as p1 from orders where o_orderstatus='F' group by 1),
                 s2 as (select o_custkey as custkey, round(max(o_totalprice),2) as p2 from orders where o_orderstatus='P' group by 1)
            select custkey,
                   coalesce(p0, p1, p2) as best_price,
                   case when p0 is not null then 'open'
                        when p1 is not null then 'finished'
                        else 'pending' end as source_of_price
            from s0 full join s1 using (custkey) full join s2 using (custkey)
        """,
        "f15_json_decode": """
            select status, count(*) as n, round(avg(k), 4) as avg_k from (
              select case when json_valid(raw) then cast(json_extract_string(raw, '$.k') as integer) end as k,
                     case when json_valid(raw) and json_extract_string(raw, '$.k') is not null
                          then 'OK' else 'AGENT_JSON_DECODE_ERROR' end as status
              from (select case when event_id % 11 = 0 then substring(props, 1, 3) else props end as raw
                    from events))
            group by status
        """,
        "metrics_cube": """
            select coalesce(o_orderstatus, 'ALL') as status,
                   coalesce(o_orderpriority, 'ALL') as priority,
                   count(*) as n, round(sum(o_totalprice), 2) as total
            from orders group by cube (o_orderstatus, o_orderpriority)
        """,
        "f12_digit_extraction": r"""
            select doc_id,
                   case when digits <> '' then cast(digits as integer) end as choice,
                   (digits <> '' and try_cast(digits as integer) between 1 and 5) as valid
            from (select doc_id,
                         regexp_extract(case when doc_id % 9 = 0 then 'keine Antwort None'
                                             else 'Ich waehle Kandidat ' || cast(doc_id % 7 as varchar) || ' von 5' end,
                                        '\d+', 0) as digits
                  from documents)
        """,
    }
    # Reference output-CSV boundary (facts_reference_csv): the facts_per_seed
    # result translated to the exact reference column order with the 'null'
    # string sentinel — derived from its oracle so the merge rule is stated
    # exactly once.
    # Consolidated driver rows (VERDICT r3 #3 — fit the 50-row report): each
    # sub-oracle is the r03-proven SQL body, reused verbatim as a CTE.
    sql["text_metrics"] = f"""
        with m1 as ({sql.pop("text_lang_id")}),
             m2 as ({sql.pop("text_quality")}),
             m3 as ({sql.pop("text_token_stats")}),
             m4 as ({sql.pop("text_repetition")})
        select doc_id, lang_guess, s_en, s_de, s_fr, quality,
               ws_tokens, bpe_tokens, stopword_ratio,
               dup_line_frac, dup_2gram_frac, symbol_word_ratio
        from m1 join m2 using (doc_id) join m3 using (doc_id) join m4 using (doc_id)
    """
    sql["f_scalar_battery"] = f"""
        with f12 as ({sql.pop("f12_digit_extraction")}),
             f14 as ({sql.pop("f14_current_year")}),
             f15 as ({sql.pop("f15_json_decode")})
        select 'f12' as src, cast(doc_id as varchar) as key,
               cast(choice as bigint) as n, cast(valid as varchar) as s,
               cast(null as double) as x
        from f12
        union all
        select 'f14', p_brand, cast(n_reports as bigint), year_used,
               cast(null as double)
        from f14
        union all
        select 'f15', status, cast(n as bigint), cast(null as varchar), avg_k
        from f15
    """
    sql["a1_o3_coalesce_cascade"] = f"""
        with a1 as ({sql.pop("a1_coalesce_merge")}),
             o3 as (select custkey, best_price as bp_cascade, source_of_price
                    from ({sql.pop("o3_source_cascade")}))
        select custkey, a1.best_price, o3.source_of_price,
               (a1.best_price = o3.bp_cascade) as paths_agree
        from a1 full join o3 using (custkey)
    """
    sql["facts_reference_csv"] = f"""
        with fps as ({sql["facts_per_seed"]})
        select seed_id as company_number,
               'http://seed' || cast(seed_id as varchar) || '.example.ch/' as company_name,
               case when n_docs > 0 then 'http://seed' || cast(seed_id as varchar) || '.example.ch'
                    else 'null' end as official_website,
               coalesce(founded, 'null') as founded,
               coalesce(address, 'null') as "Hauptsitz",
               coalesce(che_id, 'null') as "Firmenidentifikationsnummer",
               coalesce(phone, 'null') as "HauptTelefonnummer",
               coalesce(email, 'null') as "HauptEmailAdresse",
               'null' as "Geschäftsbericht",
               status as processing_status
        from fps
    """
    return sql
