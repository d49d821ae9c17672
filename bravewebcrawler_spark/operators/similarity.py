"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline; the LSH-bucketed variant
(random-hyperplane signs from portable hashes) is the scale path: at 10^10
vectors the cross join is impossible, but hashing each vector to a small
bucket key turns ANN into an equi-join on bucket + a per-bucket re-rank.

All arithmetic is float32 → float64 casts then sequential folds, so Spark and
DuckDB produce bit-identical cosines (both fold the 64 dims left-to-right in
double precision).

Negative-zero contract: every rounded cosine output adds ``+ 0.0``, which is
the IEEE identity for all values except ``-0.0`` → ``+0.0``. Spark's
``round`` goes through BigDecimal (sign-stripping) while DuckDB's keeps the
IEEE sign bit, so a cosine in (-0.00005, 0) rounded to 4dp produced ``0.0``
vs ``-0.0`` — numerically equal, bit-hash different (the single red
CORRECTNESS_r02 row, query 161 / neighbor 381 at sf0.01). The oracle SQL
applies the same ``+ 0.0``.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bravewebcrawler_spark.operators.ranking import top_k_per_key
from bravewebcrawler_spark.sources.tables import spread


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _dot_raw(u: Column, v: Column) -> Column:
    """Dot product over already-double arrays (no per-pair cast/copy)."""
    return F.aggregate(F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _normed(df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str, out_norm: str) -> DataFrame:
    """Project (id, double-vector, norm) ONCE per side: computing the norm
    (and the float->double copy) inside the pairwise cosine would redo both
    per PAIR — 3x the folds and 2 array allocations per candidate."""
    return df.select(
        F.col(id_col).alias(out_id),
        _dbl(F.col(vec_col)).alias(out_vec),
    ).withColumn(out_norm, F.sqrt(_dot_raw(F.col(out_vec), F.col(out_vec))))


# The query side of the NumPy top-k operators is collected to the driver,
# shipped in every corpus task's closure and scored against each Arrow batch
# as one (batch rows x |Q|) matrix; a larger query side is a join, not a
# probe set, and is refused before it reaches the driver.
MAX_QUERY_ROWS = 10_000


def _vector_matrix(vecs, name: str, n_dims: int):
    """An Arrow list array of vectors as an (n, n_dims) float64 matrix. A
    null vector, a null element or a length other than ``n_dims`` raises
    ``ValueError`` naming column ``name``: the flat reshape would otherwise
    shift every later vector, or fill NaN where the oracle has NULL."""
    import numpy as np

    flat = vecs.flatten()
    if vecs.null_count or flat.null_count:
        raise ValueError(f"vector column {name!r} holds a null vector or a null element")
    lens = vecs.value_lengths().to_numpy()
    bad = lens != n_dims
    if bad.any():
        raise ValueError(
            f"vector column {name!r} holds a vector of length {int(lens[bad][0])}, expected {n_dims}"
        )
    return np.asarray(flat, dtype=np.float64).reshape(len(vecs), n_dims)


def _query_side(queries: DataFrame, q_id: str, q_vec: str):
    """The query side on the driver: ``(ids, Q, norms)`` — int64 ids, the
    float64 (|Q|, dims) vector matrix and each norm folded dim by dim in the
    oracle's order. The size probe reads at most ``MAX_QUERY_ROWS + 1`` rows
    and raises ``ValueError`` above the cap; every vector must have the
    first one's length (see :func:`_vector_matrix`)."""
    import numpy as np
    import pyarrow as pa

    q = queries.select(F.col(q_id).cast("long").alias("qid"), _dbl(F.col(q_vec)).alias("qv"))
    rows = q.limit(MAX_QUERY_ROWS + 1).collect()
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(f"query side has more than MAX_QUERY_ROWS = {MAX_QUERY_ROWS} rows")
    qids = np.array([r["qid"] for r in rows], dtype=np.int64)
    n_dims = len(rows[0]["qv"] or []) if rows else 0
    Q = _vector_matrix(pa.array([r["qv"] for r in rows], pa.list_(pa.float64())), q_vec, n_dims)
    qn_acc = np.zeros(len(qids))
    for i in range(n_dims):
        qn_acc += Q[:, i] * Q[:, i]
    return qids, Q, np.sqrt(qn_acc)


def _keep_topk(out: list, qid: int, nids, cos, k: int) -> None:
    """Append one query's batch candidates to ``out``: the exact top-k of the
    finite cosines (cos desc, neighbor asc — the final window's own total
    order; union-containment makes the per-batch cut exact) plus every
    non-finite one, which the final window ranks by Spark's NaN ordering."""
    import numpy as np

    finite = np.isfinite(cos)
    idx = np.flatnonzero(finite)
    sel = np.concatenate((idx[np.lexsort((nids[idx], -cos[idx]))[:k]], np.flatnonzero(~finite)))
    if sel.size:
        out.append((np.full(sel.size, qid, dtype=np.int64), nids[sel], cos[sel]))


def _candidate_batch(out: list):
    """The ``(query_id, neighbor_id, cos_raw)`` Arrow batch of ``out``."""
    import numpy as np
    import pyarrow as pa

    q, i, c = (np.concatenate(parts) for parts in zip(*out))
    return pa.RecordBatch.from_arrays(
        [pa.array(q, pa.int64()), pa.array(i.astype(np.int64), pa.int64()), pa.array(c, pa.float64())],
        names=["query_id", "neighbor_id", "cos_raw"],
    )


def _ranked_topk(corpus: DataFrame, c_id: str, c_vec: str, score, k: int, empty: bool) -> DataFrame:
    """Run ``score`` in one ``mapInArrow`` pass over the spread
    ``(neighbor_id, cv)`` corpus, then the exact global top-k per query;
    ``empty`` (no query rows) gives an empty result without a pass."""
    if empty:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    c = spread(corpus.select(F.col(c_id).cast("long").alias("neighbor_id"), F.col(c_vec).alias("cv")))
    survivors = c.mapInArrow(score, "query_id long, neighbor_id long, cos_raw double")
    top = top_k_per_key(
        survivors, ["query_id"], [F.col("cos_raw").desc(), F.col("neighbor_id").asc()], k, rank_name="rank"
    )
    return top.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), (F.round("cos_raw", 4) + F.lit(0.0)).alias("cosine")
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, q_id: str, q_vec: str, c_id: str, c_vec: str, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query — vectorized scoring, exact results.

    The original shape (broadcast the query side, score each pair with
    zip_with/aggregate folds, global window top-k) evaluated the fold
    lambdas per ELEMENT — |Q| x |corpus| x dims interpreted steps (384M at
    sf1.0) — and shuffled every scored pair into the window. This form keeps
    the same distribution story (corpus scanned once, never shuffled; query
    side small and shipped to every task) but scores inside ``mapInArrow``
    with NumPy (optimization guide §4.2) and pre-filters to an exact
    per-partition top-k before the global re-rank (same union-containment
    argument as salted_top_k: each query's true top-k is contained in the
    union of its per-partition top-k).

    Bit-exactness contract (the DuckDB oracle folds left-to-right in
    doubles): the NumPy accumulation runs the SAME sequence per pair —
    float32→float64 casts are exact, ``acc += C[:,i] * Q[:,i]`` is one IEEE
    multiply then one IEEE add per dim in dim order, norms fold the same
    way, and ``cn * qn`` / division match because IEEE multiplication is
    commutative. Non-finite cosines (a zero-norm vector) are never ranked in
    NumPy (:func:`_keep_topk`).

    The query side is collected when this DataFrame is built (at most
    ``MAX_QUERY_ROWS`` rows): re-executing the result never re-reads it,
    and an empty query side gives a permanently empty result. A null or
    wrong-length vector on either side raises ``ValueError``."""
    import numpy as np

    qids_l, Q, qn_l = _query_side(queries, q_id, q_vec)
    n_dims = Q.shape[1]

    def score(batches):
        for batch in batches:
            n = batch.num_rows
            ids = batch.column("neighbor_id").to_numpy(zero_copy_only=False)
            C = _vector_matrix(batch.column("cv"), c_vec, n_dims)
            acc = np.zeros((n, len(qids_l)))
            cn_acc = np.zeros(n)
            for i in range(n_dims):
                ci = C[:, i]
                acc += ci[:, None] * Q[:, i][None, :]
                cn_acc += ci * ci
            cos = acc / (np.sqrt(cn_acc)[:, None] * qn_l[None, :])
            out: list = []
            for j, qid in enumerate(qids_l):
                not_self = ids != qid
                _keep_topk(out, qid, ids[not_self], cos[not_self, j], k)
            if out:
                yield _candidate_batch(out)

    return _ranked_topk(corpus, c_id, c_vec, score, k, empty=not qids_l.size)


QUANT = 1048576.0  # 2^20 — k-means quantization scale (see learn_ivf_centroids)


def _cents_cos_arr(vec: Column, norm: Column, cents: list[list[float]]) -> Column:
    """Cosine of ``vec`` against every centroid, as ONE array column.

    The centroid matrix enters the plan as a single nested literal
    (transposed, like the hyperplane weights): one traversal of the vector
    accumulates all per-centroid dots with the same left-to-right dim fold as
    ``_dot_raw``, so each cosine is bit-identical to the oracle's per-cell
    fold. Centroid norms are computed driver-side with the same sequential
    fold and enter as literals.
    """
    n_cells, n_dims = len(cents), len(cents[0])
    centn = []
    for c in cents:
        acc = 0.0
        for x in c:
            acc += x * x
        centn.append(math.sqrt(acc))
    wlit = F.lit([[cents[j][i] for j in range(n_cells)] for i in range(n_dims)])
    dots = F.aggregate(
        F.zip_with(vec, wlit, lambda x, ws: F.transform(ws, lambda w: x * w)),
        F.array(*([F.lit(0.0)] * n_cells)),
        lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
    )
    return F.zip_with(dots, F.lit(centn), lambda d, cn: d / (norm * cn))


def learn_ivf_centroids(
    corpus: DataFrame, c_id: str, c_vec: str, n_centroids: int = 16, iters: int = 2
) -> list[list[float]]:
    """k-means training in DataFrame ops: assign (argmax cosine, lowest cell
    wins ties) → mean per cell, repeated ``iters`` times. Returns the learned
    codebook as plain floats (a 16x64 driver-side literal, like a broadcast
    variable but cheaper).

    Bit-exact across engines AND across partitionings by construction: the
    mean is computed over components quantized to integers —
    ``floor(x * 2^20 + 0.5)`` is exact for float32-derived doubles (the
    product only shifts the exponent), the per-cell per-dim sum is a long
    (associative, order-free, map-side combinable — a plain shuffle on the
    ≤``n_centroids`` cell keys), and the final ``sum / (count * 2^20)`` is
    one IEEE double division both engines and the DuckDB oracle reproduce
    exactly. No sorted collect_list, no order-sensitive double summation —
    this is the same plan you would run at 10^10 vectors.

    Init is the ``n_centroids`` lowest-id corpus vectors; a cell that ends a
    round empty keeps its previous centroid.
    """
    c = _normed(corpus, c_id, c_vec, "nid", "cv", "cn")
    init = (
        _normed(corpus.where(F.col(c_id) < n_centroids), c_id, c_vec, "cid", "v", "n")
        .orderBy("cid")
        .collect()
    )
    cents = [[float(x) for x in r["v"]] for r in init]
    n_dims = len(cents[0])
    qv = F.transform(F.col("cv"), lambda x: F.floor(x * F.lit(QUANT) + F.lit(0.5)))
    for _ in range(iters):
        cos_arr = _cents_cos_arr(F.col("cv"), F.col("cn"), cents)
        # array_position returns the FIRST index equal to the max — the
        # lowest cell id, matching the oracle's (cos desc, cent_id asc) rank.
        assigned = c.select(
            (F.array_position(cos_arr, F.array_max(cos_arr)) - 1).cast("int").alias("cell"),
            qv.alias("qv"),
        )
        agg = assigned.groupBy("cell").agg(
            F.count("*").alias("cnt"),
            *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(n_dims)],
        )
        by_cell = {r["cell"]: r for r in agg.collect()}
        cents = [
            [by_cell[j][f"s{i}"] / (by_cell[j]["cnt"] * QUANT) for i in range(n_dims)]
            if j in by_cell
            else cents[j]
            for j in range(n_centroids)
        ]
    return cents


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, q_id: str, q_vec: str, c_id: str, c_vec: str,
    k: int = 10, n_centroids: int = 16, n_probe: int = 4, kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into centroid cells, probe
    the closest cells per query, exact re-rank inside.

    With ``kmeans_iters=0`` centroids are the ``n_centroids`` lowest-id
    corpus vectors (the operator-shape baseline); with ``kmeans_iters>0``
    they are learned by :func:`learn_ivf_centroids` — a real IVF codebook,
    still oracle-checkable because the training is bit-exact cross-engine.
    At 10^10 vectors the cell id is a write-time partition key: a query
    touches n_probe partitions instead of the corpus.
    """
    if kmeans_iters > 0:
        learned = learn_ivf_centroids(corpus, c_id, c_vec, n_centroids, kmeans_iters)
        cents = corpus.sparkSession.createDataFrame(
            [(j, learned[j]) for j in range(n_centroids)], "cent_id long, centv array<double>"
        ).withColumn("centn", F.sqrt(_dot_raw(F.col("centv"), F.col("centv"))))
    else:
        cents = _normed(
            corpus.where(F.col(c_id) < n_centroids), c_id, c_vec, "cent_id", "centv", "centn"
        )
    cos_order = [F.col("cos_c").desc(), F.col("cent_id").asc()]

    c = spread(_normed(corpus, c_id, c_vec, "neighbor_id", "cv", "cn"))
    assign = c.crossJoin(F.broadcast(cents)).select(
        "neighbor_id", "cv", "cn", "cent_id",
        (_dot_raw(F.col("cv"), F.col("centv")) / (F.col("cn") * F.col("centn"))).alias("cos_c"),
    )
    cells = top_k_per_key(assign, ["neighbor_id"], cos_order, 1, rank_name="r").select(
        "neighbor_id", "cv", "cn", F.col("cent_id").alias("cell")
    )

    q = _normed(queries, q_id, q_vec, "query_id", "qv", "qn")
    qprobe = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "qn", "cent_id",
        (_dot_raw(F.col("qv"), F.col("centv")) / (F.col("qn") * F.col("centn"))).alias("cos_c"),
    )
    probes = top_k_per_key(qprobe, ["query_id"], cos_order, n_probe, rank_name="r").select(
        "query_id", "qv", "qn", F.col("cent_id").alias("cell")
    )

    cand = probes.join(cells, "cell").where(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id",
        (_dot_raw(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_raw"),
    )
    top = top_k_per_key(
        scored, ["query_id"], [F.col("cos_raw").desc(), F.col("neighbor_id").asc()], k, rank_name="rank"
    )
    return top.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), (F.round("cos_raw", 4) + F.lit(0.0)).alias("cosine")
    )


@lru_cache(maxsize=None)
def _plane_weights(n_planes: int, n_dims: int) -> tuple[tuple[float, ...], ...]:
    """Deterministic hyperplane weights: plane p's weight for dimension i is
    md5("plane{p}:{i}") mapped to [-500, 500] (integer-exact, so the DuckDB
    oracle reproduces the identical values from the same formula)."""
    return tuple(
        tuple(
            float(int(hashlib.md5(f"plane{p}:{i}".encode()).hexdigest()[:15], 16) % 1001 - 500)
            for i in range(n_dims)
        )
        for p in range(n_planes)
    )


def hyperplane_sign_bucket(vec: Column, n_planes: int = 8, n_dims: int = 64) -> Column:
    """LSH bucket id: sign pattern of the vector against n deterministic
    pseudo-random hyperplanes.

    The weights are CONSTANTS: they are precomputed driver-side (one md5 per
    (plane, dim), once per process) and enter the plan as literal arrays —
    the previous formulation re-derived them per ROW via md5+conv inside
    ``F.transform``, which made the bucketing 3x slower than brute force at
    sf0.1. ``n_dims`` must match the embedding dimension (the oracle SQL
    asserts it); a shorter vector would zip_with-pad with nulls and yield a
    null projection, never a wrong bucket.
    """
    W = _plane_weights(n_planes, n_dims)
    # One traversal of the vector for ALL planes: dim i contributes an
    # n_planes-vector of partial products, folded into an n_planes-vector
    # accumulator. Per plane the fold order over dims is unchanged
    # (((0 + x0*w0) + x1*w1) + ...), so projections are bit-identical to the
    # per-plane formulation and the DuckDB oracle. The transposed matrix
    # enters the plan as ONE nested-array Literal node — a per-element
    # F.array(F.lit(...)) build is ~600 expression nodes whose analysis +
    # codegen dominated the whole query at small scale.
    wlit = F.lit([[W[p][i] for p in range(n_planes)] for i in range(n_dims)])
    projs = F.aggregate(
        F.zip_with(_dbl(vec), wlit, lambda x, ws: F.transform(ws, lambda w: x * w)),
        F.array(*([F.lit(0.0)] * n_planes)),
        lambda acc, xs: F.zip_with(acc, xs, lambda a, b: a + b),
    )
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        bucket = bucket + F.when(F.element_at(projs, p + 1) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def bucketed_neardup_pairs(
    corpus: DataFrame, id_col: str, vec_col: str, threshold: float = 0.99, n_planes: int = 8
) -> DataFrame:
    """Embedding near-dup at scale: hyperplane-bucket the corpus once, score
    pairs ONLY within a bucket (id_a < id_b), keep cosine >= threshold.

    This retires the all-pairs crossJoin as the only near-dup answer: the
    candidate set is sum-of-squared-bucket-sizes instead of |corpus|^2, and
    the bucket id doubles as a write-time partition key at 10^10 vectors.
    Near-identical vectors (the near-dup regime) agree on every hyperplane
    sign with overwhelming probability, so recall loss concentrates exactly
    where cosine < threshold anyway; the exact crossJoin variant is the
    tests' verification baseline (``embed_neardup`` in
    ``tests/test_allpairs_oracles.py``), which pins this operator's recall.
    """
    c = spread(_normed(corpus, id_col, vec_col, "doc", "v", "n")).withColumn(
        "bucket", hyperplane_sign_bucket(F.col("v"), n_planes)
    )
    a = c.select(F.col("doc").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"), "bucket")
    b = c.select(F.col("doc").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"), "bucket")
    pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b",
        F.round(_dot_raw(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4).alias("cosine"),
    )
    return scored.where(F.col("cosine") >= threshold)


def _lsh_probe_topk(
    queries: DataFrame, corpus: DataFrame, q_id: str, q_vec: str, c_id: str, c_vec: str,
    k: int, n_planes: int, multiprobe: bool,
) -> DataFrame:
    """Shared sign-LSH ANN engine (single- and multi-probe).

    Round-6 shape (guide §4.2, same treatment as :func:`brute_force_topk`):
    the query side is collected (it is the small side by contract) and its
    buckets/probe sets are inverted into a bucket → query-indices map
    driver-side; ONE ``mapInArrow`` pass over the corpus then computes each
    corpus row's bucket, gathers ONLY the bucket-matched (row, query)
    candidate pairs as index arrays, and folds their cosines dim-by-dim in
    NumPy — the former column-expression form stepped interpreted HOF
    lambdas per element for the bucketing (~512 steps/row) AND per candidate
    dot. The candidate SET is identical to the bucket equi-join by
    construction (each corpus vector in exactly one bucket, probe sets
    distinct per query, self-pairs dropped), and the arithmetic is
    bit-identical to the oracle: the projection and dot accumulators run the
    same left-to-right dim fold per (row/pair), float32→float64 casts are
    exact, norms fold identically, and ``cn * qn`` / division match IEEE.
    Each batch keeps per query what :func:`_keep_topk` keeps."""
    import numpy as np

    qids_l, Q, qn_l = _query_side(queries, q_id, q_vec)
    n_dims = Q.shape[1]
    W = np.array(_plane_weights(n_planes, n_dims), dtype=np.float64)  # (planes, dims)
    pow2 = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
    qproj = np.zeros((len(qids_l), n_planes))
    for i in range(n_dims):
        qproj += Q[:, i][:, None] * W[:, i][None, :]
    qbuck = (qproj > 0).astype(np.int64) @ pow2
    probe_of: dict[int, list[int]] = {}
    for j, b in enumerate(qbuck):
        bs = {int(b)}
        if multiprobe:
            bs |= {int(b) ^ (1 << p) for p in range(n_planes)}
        for bb in bs:
            probe_of.setdefault(bb, []).append(j)
    probe_arr = {b: np.array(idx, dtype=np.int64) for b, idx in probe_of.items()}

    def score(batches):
        for batch in batches:
            n = batch.num_rows
            ids = batch.column("neighbor_id").to_numpy(zero_copy_only=False)
            C = _vector_matrix(batch.column("cv"), c_vec, n_dims)
            cn_acc = np.zeros(n)
            cproj = np.zeros((n, n_planes))
            for i in range(n_dims):
                ci = C[:, i]
                cn_acc += ci * ci
                cproj += ci[:, None] * W[:, i][None, :]
            cn = np.sqrt(cn_acc)
            cbuck = (cproj > 0).astype(np.int64) @ pow2
            # candidate (row, query) index arrays: rows grouped by bucket,
            # cross-joined with the queries probing that bucket
            order = np.argsort(cbuck, kind="stable")
            uniq, starts = np.unique(cbuck[order], return_index=True)
            r_parts: list = []
            q_parts: list = []
            for t in range(len(uniq)):
                ql = probe_arr.get(int(uniq[t]))
                if ql is None:
                    continue
                rows = order[starts[t] : (starts[t + 1] if t + 1 < len(uniq) else n)]
                r_parts.append(np.repeat(rows, ql.size))
                q_parts.append(np.tile(ql, rows.size))
            if not r_parts:
                continue
            r_idx = np.concatenate(r_parts)
            q_idx = np.concatenate(q_parts)
            keep = ids[r_idx] != qids_l[q_idx]
            r_idx, q_idx = r_idx[keep], q_idx[keep]
            acc = np.zeros(r_idx.size)
            for i in range(n_dims):
                acc += C[r_idx, i] * Q[q_idx, i]
            cos = acc / (cn[r_idx] * qn_l[q_idx])
            nids = ids[r_idx]
            out: list = []
            for j in np.unique(q_idx):
                mine = q_idx == j
                _keep_topk(out, qids_l[j], nids[mine], cos[mine], k)
            if out:
                yield _candidate_batch(out)

    return _ranked_topk(corpus, c_id, c_vec, score, k, empty=not qids_l.size)


def multiprobe_lsh_topk(
    queries: DataFrame, corpus: DataFrame, q_id: str, q_vec: str, c_id: str, c_vec: str,
    k: int = 10, n_planes: int = 8,
) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own hyperplane bucket plus
    every bucket at Hamming distance 1 (one sign bit flipped) — the standard
    recall fix for sign-LSH (a near neighbor that lands just across ONE
    hyperplane is recovered; with single-probe it is silently lost).

    Cost model at 10^10 vectors: the corpus is still bucketed ONCE (bucket =
    write-time partition key, never reshuffled); only the tiny query side
    fans out x(n_planes+1). Each corpus vector lives in exactly one bucket
    and the probe set {b, b^1, b^2, ...} is distinct, so a (query, neighbor)
    pair scores at most once — no dedup pass needed. Execution shape:
    :func:`_lsh_probe_topk`.

    The query side is collected when this DataFrame is built (at most
    ``MAX_QUERY_ROWS`` rows): re-executing the result never re-reads it,
    and an empty query side gives a permanently empty result. A null or
    wrong-length vector on either side raises ``ValueError``.
    """
    return _lsh_probe_topk(queries, corpus, q_id, q_vec, c_id, c_vec, k, n_planes, True)


def lsh_bucketed_topk(
    queries: DataFrame, corpus: DataFrame, q_id: str, q_vec: str, c_id: str, c_vec: str,
    k: int = 10, n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: bucket-matched candidates only, re-rank inside.

    The 10^10-scale path: the corpus is bucketed once (write-time partition
    key), each query probes one bucket — no cross join, and only
    bucket-matched pairs are ever scored. Recall is traded for the
    2^n_planes fan-in reduction; :func:`multiprobe_lsh_topk` raises recall
    by also probing the n_planes Hamming-1 buckets at (n_planes+1)x the
    probe fan-out. Execution shape: :func:`_lsh_probe_topk`.

    The query side is collected when this DataFrame is built (at most
    ``MAX_QUERY_ROWS`` rows): re-executing the result never re-reads it,
    and an empty query side gives a permanently empty result. A null or
    wrong-length vector on either side raises ``ValueError``.
    """
    return _lsh_probe_topk(queries, corpus, q_id, q_vec, c_id, c_vec, k, n_planes, False)
