"""Round-6 Arrow-batched passes vs their column-expression twins.

Every optimization that moved work across the Python boundary claims
bit-identical values, not just statistical agreement; these tests pin that
claim row-for-row on the sf0.01 documents plus crafted edge cases (empty
text, shorter-than-k docs, newlines, '#'/'...' symbols, unicode). The
column-expression twins are test code (``tests/twins.py``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from bravewebcrawler_spark.functions import text as TX
from bravewebcrawler_spark.operators import dedup as DD
from tests import twins as TW

SF_DIR = "/root/testdata/sf0.01"

EDGE_DOCS = [
    (1, ""),
    (2, "one"),
    (3, "one two"),
    (4, "a b c a b c a b c"),
    (5, "line one\nline one\nline two\n\n"),
    (6, "the and of to a in is ### ... ...... x"),
    (7, "Grüße zürich łódź 北京 the the"),
    (8, "  double  spaces   here the  "),
    (9, "der die das und the the the le la les"),
]


def _docs(spark):
    real = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(100000 + i, t) for i, t in EDGE_DOCS], "doc_id long, text string"
    )
    return real.unionByName(edge)


def test_minhash_sig_and_arrays_equals_column_form(spark):
    """The refined chain's combined pass: ``hs`` is the column-form distinct
    shingle-hash set of every doc (empty for shingle-less docs), and
    ``m0..m15`` are the minima of that set — equal to
    minhash_signature_cols row for row, NULL where a doc has no shingles."""
    docs = _docs(spark)
    col_form = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(TW.shingles_col(F.col("text"), 3))).alias("sh"),
    ).withColumn("H", TX.portable_hash64(F.col("sh")))
    want_hs: dict[int, set[int]] = {r["doc_id"]: set() for r in docs.collect()}
    for r in col_form.collect():
        want_hs[r["doc"]].add(r["H"])
    p = DD.MINHASH_P
    want_sig = {
        d: tuple(min((a * (h % p) + b) % p for h in hs) for a, b in
                 ((2 * j + 3, 5 * j + 7) for j in range(DD.NUM_HASHES)))
        for d, hs in want_hs.items() if hs
    }
    ms = [f"m{j}" for j in range(DD.NUM_HASHES)]
    both = DD.minhash_sig_and_arrays(docs, "doc_id", "text", 3).collect()
    assert len(both) == len(want_hs)
    assert {r["doc"]: set(r["hs"]) for r in both} == want_hs
    assert {r["doc"]: tuple(r[m] for m in ms) for r in both if r["hs"]} == want_sig
    assert all(r[m] is None for r in both if not r["hs"] for m in ms)
    assert any(not r["hs"] for r in both), "no shingle-less doc: the NULL case is untested"
    sig = DD.minhash_signature_cols(docs, "doc_id", "text", 3).collect()
    assert len(sig) == len(want_sig)
    assert {r["doc"]: tuple(r[m] for m in ms) for r in sig} == want_sig


def test_non_integral_ids_rejected(spark):
    """Ids are cast to long: a fractional id would merge docs 1.5 and 1.7
    into doc 1 and a string id would fail only at run time, so every
    operator that takes an id column refuses both at construction."""
    from bravewebcrawler_spark.operators.decontam import contamination_hits

    text = "alpha beta gamma delta epsilon zeta eta"
    bench = spark.createDataFrame([(text,)], "text string")
    for typ, ids in (("double", (1.5, 1.7)), ("string", ("a", "b"))):
        docs = spark.createDataFrame([(i, text) for i in ids], f"doc_id {typ}, text string")
        for build in (
            lambda: DD.exploded_shingle_strings(docs, "doc_id", "text", 3),
            lambda: DD.minhash_signature_cols(docs, "doc_id", "text", 3),
            lambda: DD.lsh_refined_pairs(docs, "doc_id", "text", cache_registry=[]),
            lambda: contamination_hits(docs, bench, k=3),
        ):
            with pytest.raises(TypeError, match="doc_id"):
                build()
        edges = spark.createDataFrame([ids], f"id_a {typ}, id_b {typ}")
        with pytest.raises(TypeError, match="id_a"):
            DD.connected_components(edges, docs, id_col="doc_id", cache_registry=[])
        with pytest.raises(TypeError, match="doc_id"):
            DD.connected_components(
                spark.createDataFrame([(1, 2)], "id_a long, id_b long"), docs, id_col="doc_id",
                cache_registry=[],
            )
    ok = spark.createDataFrame([(1, text)], "doc_id int, text string")
    assert DD.minhash_signature_cols(ok, "doc_id", "text", 3).count() == 1


def test_exploded_shingle_strings_equals_column_form(spark):
    docs = _docs(spark)
    col_form = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(TW.shingles_col(F.col("text"), 5))).alias("sh"),
    ).withColumn("shh", TX.portable_hash64(F.col("sh")))
    want = {(r["doc"], r["sh"], r["shh"]) for r in col_form.collect()}
    got = {
        (r["doc"], r["sh"], r["shh"])
        for r in DD.exploded_shingle_strings(docs, "doc_id", "text", 5).collect()
    }
    assert got == want


def test_text_metrics_arrow_equals_column_form(spark):
    docs = _docs(spark)
    col_form = docs.select(
        "doc_id",
        TW.lang_id_col(F.col("text")).alias("lang_guess"),
        TW.lang_score_col(F.col("text"), "en").cast("long").alias("s_en"),
        TW.lang_score_col(F.col("text"), "de").cast("long").alias("s_de"),
        TW.lang_score_col(F.col("text"), "fr").cast("long").alias("s_fr"),
        TX.quality_score_col(F.col("text")).alias("quality"),
        TX.ws_token_count_col(F.col("text")).cast("long").alias("ws_tokens"),
        TW.bpe_ish_token_count_col(F.col("text")).cast("long").alias("bpe_tokens"),
        TW.stopword_ratio_col(F.col("text")).alias("stopword_ratio"),
        TW.dup_line_fraction_col(F.col("text")).alias("dup_line_frac"),
        TW.dup_ngram_fraction_col(F.col("text")).alias("dup_2gram_frac"),
        TW.symbol_word_ratio_col(F.col("text")).alias("symbol_word_ratio"),
    )
    want = {r["doc_id"]: r for r in col_form.collect()}
    got = {
        r["doc_id"]: r
        for r in TX.text_metrics_arrow(docs, "doc_id", "text").collect()
    }
    assert set(got) == set(want)
    for d, g in got.items():
        w = want[d]
        for f in w.asDict():
            # exact equality, doubles included — the battery's contract
            assert g[f] == w[f], (d, f, g[f], w[f])


def test_lsh_probe_topk_equals_bucket_join_form(spark):
    """The NumPy candidate-gather ANN engine vs the former bucket equi-join,
    single- and multi-probe, on the sf0.01 embeddings."""
    from bravewebcrawler_spark.operators import similarity as SIM
    from bravewebcrawler_spark.operators.ranking import top_k_per_key

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 40)

    def join_form(multiprobe: bool):
        qb = SIM._normed(queries, "vec_id", "embedding", "query_id", "qv", "qn").withColumn(
            "bucket0", SIM.hyperplane_sign_bucket(F.col("qv"), 8)
        )
        if multiprobe:
            probes = qb.select(
                "query_id", "qv", "qn",
                F.explode(
                    F.array(
                        F.col("bucket0"),
                        *[F.col("bucket0").bitwiseXOR(F.lit(1 << p)) for p in range(8)],
                    )
                ).alias("bucket"),
            )
        else:
            probes = qb.withColumnRenamed("bucket0", "bucket")
        cb = SIM._normed(emb, "vec_id", "embedding", "neighbor_id", "cv", "cn").withColumn(
            "bucket", SIM.hyperplane_sign_bucket(F.col("cv"), 8)
        )
        j = cb.join(F.broadcast(probes), "bucket").where(F.col("query_id") != F.col("neighbor_id"))
        scored = j.select(
            "query_id", "neighbor_id",
            (SIM._dot_raw(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_raw"),
        )
        top = top_k_per_key(
            scored, ["query_id"], [F.col("cos_raw").desc(), F.col("neighbor_id").asc()], 10,
            rank_name="rank",
        )
        return top.select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
            (F.round("cos_raw", 4) + F.lit(0.0)).alias("cosine"),
        )

    for multiprobe, fn in (
        (False, SIM.lsh_bucketed_topk),
        (True, SIM.multiprobe_lsh_topk),
    ):
        want = sorted(map(tuple, join_form(multiprobe).collect()))
        got = sorted(
            map(
                tuple,
                fn(queries, emb, "vec_id", "embedding", "vec_id", "embedding", k=10, n_planes=8).collect(),
            )
        )
        assert got == want, f"multiprobe={multiprobe}"


def test_cc_empty_edge_list(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(x,) for x in (5, 7, 9)], "doc_id long")
    caches: list = []
    out = DD.connected_components(edges, nodes, id_col="doc_id", cache_registry=caches)
    got = {r["node"]: r["comp"] for r in out.collect()}
    for c in caches:
        c.unpersist()
    assert got == {5: 5, 7: 7, 9: 9}


def _vectors(spark, rows, col):
    return spark.createDataFrame(rows, f"vec_id long, {col} array<float>")


CORPUS_VECS = [(i, [float(i % 3 + 1), float(i % 5), 1.0, float(i)]) for i in range(1, 13)]


@pytest.mark.parametrize("op", ["brute_force_topk", "lsh_bucketed_topk", "multiprobe_lsh_topk"])
def test_ann_query_side_size_guard(spark, monkeypatch, op):
    """The query side is collected to the driver: above MAX_QUERY_ROWS rows
    the operator refuses it before collecting it all."""
    from bravewebcrawler_spark.operators import similarity as SIM

    fn = getattr(SIM, op)
    corpus = _vectors(spark, CORPUS_VECS, "cvec")
    queries = _vectors(spark, CORPUS_VECS[:4], "qvec")
    monkeypatch.setattr(SIM, "MAX_QUERY_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_QUERY_ROWS"):
        fn(queries, corpus, "vec_id", "qvec", "vec_id", "cvec", k=3)
    monkeypatch.setattr(SIM, "MAX_QUERY_ROWS", 4)
    assert fn(queries, corpus, "vec_id", "qvec", "vec_id", "cvec", k=3).count() > 0


@pytest.mark.parametrize("op", ["brute_force_topk", "lsh_bucketed_topk", "multiprobe_lsh_topk"])
def test_ann_rejects_null_and_wrong_length_vectors(spark, op):
    """A null or wrong-length vector would shift every later row of the flat
    reshape; on either side it raises a ValueError naming the column. The
    corpus case pairs a 3- and a 5-long vector, whose total length still
    reshapes cleanly (a silent misalignment without the check)."""
    from bravewebcrawler_spark.operators import similarity as SIM

    fn = getattr(SIM, op)
    corpus = _vectors(spark, CORPUS_VECS, "cvec")
    good_q = CORPUS_VECS[:3]
    for bad_q in (good_q + [(50, None)], good_q + [(50, [1.0, None, 2.0, 3.0])], good_q + [(50, [1.0, 2.0])]):
        with pytest.raises(ValueError, match="qvec"):
            fn(_vectors(spark, bad_q, "qvec"), corpus, "vec_id", "qvec", "vec_id", "cvec", k=3)
    queries = _vectors(spark, good_q, "qvec")
    for bad_c in ([(60, None)], [(60, [1.0, 2.0, 3.0]), (61, [1.0, 2.0, 3.0, 4.0, 5.0])]):
        corpus = _vectors(spark, CORPUS_VECS + bad_c, "cvec")
        with pytest.raises(Exception, match="ValueError: vector column 'cvec'"):
            fn(queries, corpus, "vec_id", "qvec", "vec_id", "cvec", k=3).collect()
