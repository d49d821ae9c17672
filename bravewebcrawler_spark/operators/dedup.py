"""Deduplication operators for training-data pipelines at corpus scale.

The reference dedups implicitly (each input row processed once,
SURVEY.md §2.4 A6); a 100 TB corpus needs the full ladder:

  exact           hash-groupBy on md5(text)
  MinHash + LSH   portable minhash signatures → band buckets → bucket join,
                  exact Jaccard refinement on the candidate pairs
  SimHash         per-bit token-hash vote → bucket on the signature
  embedding       cosine near-dup (operators/similarity.py)

Shingling runs as Arrow-batched Python over (doc, text) — one per-doc
shingle helper, one md5 hash and one NumPy minhash helper shared by the
three passes (decontamination strings, signatures, signatures plus hash
sets), because the column-expression form steps an interpreted lambda per
shingle (that form, ``shingles_col``, is the reference twin the tests compare
the passes against, in ``tests/twins.py``). Everything downstream is
built-in DataFrame ops (explode / groupBy / join): shuffles land on
shingle/band/bucket keys and partial aggregation is map-side. The three
pair operators (MinHash candidates, refined Jaccard, SimHash Hamming) share
one banding body, :func:`_band_pairs`. All hashes are the portable
md5-derived construction (functions/text.py) so every operator has an exact
DuckDB oracle twin in __spark_entry__.oracle_sql.

Ids are byte, short, int or long; any other id type raises ``TypeError``.

Scale notes: shingle explode multiplies rows by ~tokens-per-doc — at 100 TB
the LSH path (fixed 16-value signature per doc, then tiny band keys) is the
one that survives; exact Jaccard runs as the LSH refinement step on
candidate pairs only (the full-pair shingle self-join is the tests'
verification-scale oracle, ``tests/twins.jaccard_pairs``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from bravewebcrawler_spark.functions.text import portable_hash64, tokens_col

MINHASH_P = 1_000_000_007
NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows per band
_SIG_COLS = [f"m{j}" for j in range(NUM_HASHES)]
_SIG_DDL = ", ".join(f"{m} long" for m in _SIG_COLS)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: (keeper_id, n_dups) per distinct text hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def sql_shingles(expr: str, k: int = 3) -> str:
    toks = f"list_filter(string_split({expr}, ' '), t -> t <> '')"
    return (
        f"case when len({toks}) >= {k} then "
        f"list_transform(range(1, len({toks}) - {k - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')) "
        f"else [] end"
    )


def _require_integral_ids(df: DataFrame, *cols: str) -> None:
    """Every operator here casts its ids to long; refuse any other source
    type up front. A fractional id would truncate (1.5 and 1.7 both become
    doc 1, merging two documents) and a string id would fail only at run
    time with CAST_INVALID_INPUT."""
    for c in cols:
        t = df.select(c).schema[0].dataType
        if not isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
            raise TypeError(f"id column {c!r} must be byte, short, int or long, got {t.simpleString()}")


def _doc_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The (doc long, text) projection every shingle pass reads."""
    _require_integral_ids(df, id_col)
    return df.select(F.col(id_col).cast("long").alias("doc"), F.col(text_col).alias("text"))


def _shingles_py(txt: str | None, k: int) -> list[str]:
    """Python twin of ``tests/twins.shingles_col``: the k-word shingles of the
    whitespace tokens (empty tokens dropped), in order, repeats kept."""
    toks = [t for t in (txt or "").split(" ") if t]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _h60(s: str) -> int:
    """Python twin of :func:`portable_hash64`: hashlib md5 == Spark md5 ==
    DuckDB md5 over the same UTF-8 bytes, and int(hexdigest[:15], 16) ==
    conv(substring(md5(s), 1, 15), 16, 10)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _minhash_minima(flat, counts):
    """The NUM_HASHES minhash minima of consecutive hash sets (``counts[i]``
    values of ``flat`` per set, every count > 0): h_j(H) = (a_j * (H mod P)
    + b_j) mod P, one NumPy segment-min per j. Exact integer math: H mod P
    < P and a_j <= 2*NUM_HASHES+3 keep a_j*H + b_j < 2^63, so int64 never
    wraps. Repeated values (duplicate shingles, 60-bit or mod-P collisions)
    cannot change a min, so distinct-ness may be taken on any of them."""
    import numpy as np

    H = np.array(flat, dtype=np.int64) % MINHASH_P
    offs = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=offs[1:])
    return [
        np.minimum.reduceat((H * (2 * j + 3) + (5 * j + 7)) % MINHASH_P, offs)
        for j in range(NUM_HASHES)
    ]


def exploded_shingle_strings(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc, sh, shh) — one row per DISTINCT k-shingle per doc with both the
    string (for collision-proof confirms / audit examples) and its portable
    hash, from one Arrow-batched pass. Equals
    ``explode(array_distinct(shingles_col)) + portable_hash64`` row-for-row;
    exists because the column-expression shingle build steps an interpreted
    HOF lambda per element (guide §4.2 — decontamination over the corpus
    measured the HOF pass at ~25 µs/shingle vs ~1 µs in batched Python)."""

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            out_d: list[int] = []
            out_s: list[str] = []
            for d, txt in zip(batch.column("doc").to_pylist(), batch.column("text").to_pylist()):
                sh = dict.fromkeys(_shingles_py(txt, k))
                out_d += [d] * len(sh)
                out_s += sh
            if out_d:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_d, pa.int64()),
                        pa.array(out_s, pa.string()),
                        pa.array([_h60(s) for s in out_s], pa.int64()),
                    ],
                    names=["doc", "sh", "shh"],
                )

    return _doc_text(df, id_col, text_col).mapInArrow(run, "doc long, sh string, shh long")


def minhash_signature_cols(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc, m0..m15) — per-doc minhash signature over the portable 60-bit
    shingle hashes (:func:`_minhash_minima`), for docs with at least one
    shingle. One Arrow-batched pass: each batch holds complete docs, so no
    shuffle runs before the signature rows exist (the former explode →
    16-way min aggregate measured ~53 core-seconds at sf1.0)."""

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            docs: list[int] = []
            counts: list[int] = []
            flat: list[int] = []
            for d, txt in zip(batch.column("doc").to_pylist(), batch.column("text").to_pylist()):
                hs = {_h60(s) for s in _shingles_py(txt, k)}
                if hs:
                    docs.append(d)
                    counts.append(len(hs))
                    flat.extend(hs)
            if docs:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(docs, pa.int64()), *[pa.array(m, pa.int64()) for m in _minhash_minima(flat, counts)]],
                    names=["doc", *_SIG_COLS],
                )

    return _doc_text(df, id_col, text_col).mapInArrow(run, f"doc long, {_SIG_DDL}")


def minhash_sig_and_arrays(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc, hs, m0..m15) — each doc's DISTINCT shingle-hash set as one
    array cell plus its minhash signature, from ONE Arrow pass over the
    corpus. The refined-dedup chain consumes both (candidates from the
    signature bands, exact Jaccard from the sets), so the text is shingled
    once. Every doc gets a row; a doc with no shingles (< k tokens) gets an
    empty set and NULL minima, so ``size(hs) > 0`` recovers exactly the row
    set of :func:`minhash_signature_cols` with identical values."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("doc").to_pylist()
            sets = [list({_h60(s) for s in _shingles_py(txt, k)}) for txt in batch.column("text").to_pylist()]
            counts = np.array([len(hs) for hs in sets], dtype=np.int64)
            has = counts > 0
            mins = np.zeros((NUM_HASHES, len(ids)), dtype=np.int64)
            if has.any():
                mins[:, has] = _minhash_minima([h for hs in sets for h in hs], counts[has])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(sets, pa.list_(pa.int64())),
                    *[pa.array(m, pa.int64(), mask=~has) for m in mins],
                ],
                names=["doc", "hs", *_SIG_COLS],
            )

    return _doc_text(df, id_col, text_col).mapInArrow(run, f"doc long, hs array<long>, {_SIG_DDL}")


def _band_pairs(sig: DataFrame, keys: list[Column], carry: list[str], cache_registry: list) -> DataFrame:
    """Candidate pairs of docs whose band keys agree in at least one band:
    ``(id_a, id_b, <c>_a, <c>_b for c in carry)``, each pair once, id_a < id_b.

    ``keys`` holds one band-key expression per band over ``sig``'s columns.
    The banded table ``(doc, *carry, keys, band, band_key)`` is one
    ``posexplode`` of the key array, persisted into ``cache_registry`` so
    the self-join reads it twice from memory and the signature work upstream
    runs once. One self-join on ``(band, band_key)`` forms the bucket pairs;
    a pair that agrees in several bands meets once per agreeing band, and
    only its first agreeing band keeps it (``band == array_position(
    zip_with(keys_a, keys_b, =), true) - 1``, written as a CASE chain so it
    compiles to JVM code). Each pair is therefore produced exactly once, in
    one join partition, with no global ``distinct`` over the pair list — the
    partition-then-verify-locally pattern of distributed set-similarity
    joins — and each side's carried columns arrive with the pair, so no join
    brings them back. The caller releases the registry after the result is
    consumed.
    """
    from pyspark import StorageLevel

    # posexplode of the array constructor, not of the ``keys`` attribute:
    # over an attribute the optimizer infers a non-empty-array filter and
    # pushes it below the corpus exchange, where it evaluates the whole
    # signature expression a second time (measured at sf0.1 on 4 cores: the
    # simhash bit-vote ran twice, +20 s of CPU)
    banded = sig.select(
        "doc",
        *carry,
        F.array(*keys).alias("keys"),
        F.posexplode(F.array(*keys)).alias("band", "band_key"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cache_registry.append(banded)
    a, b = banded.alias("a"), banded.alias("b")
    first_agreeing = F.coalesce(*[
        F.when(F.col("a.keys")[i] == F.col("b.keys")[i], F.lit(i)) for i in range(len(keys))
    ])
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc") < F.col("b.doc"))
        & (F.col("a.band") == first_agreeing),
    ).select(
        F.col("a.doc").alias("id_a"),
        F.col("b.doc").alias("id_b"),
        *[F.col(f"{side}.{c}").alias(f"{c}_{side}") for c in carry for side in "ab"],
    )


def _minhash_band_keys() -> list[Column]:
    """The NUM_BANDS band keys of a (m0..m15) signature, one per band of
    NUM_HASHES // NUM_BANDS consecutive minima."""
    rows_per_band = NUM_HASHES // NUM_BANDS

    def band_key(band: int):
        key = F.lit(0).cast("long")
        for r in range(rows_per_band):
            key = (key * 31 + F.col(f"m{band * rows_per_band + r}")) % MINHASH_P
        return key

    return [band_key(band) for band in range(NUM_BANDS)]


def minhash_lsh_pairs(sig: DataFrame, *, cache_registry: list) -> DataFrame:
    """MinHash+LSH candidate pairs from a (doc, m0..m15) signature table
    (:func:`minhash_signature_cols`): band keys → bucket equi-join
    (:func:`_band_pairs`).

    The scale path: per doc only NUM_HASHES values survive; candidate
    generation shuffles on small (band, band_key) keys. Pairs are distinct
    (id_a < id_b); refinement (true Jaccard on candidates) is
    :func:`lsh_refined_pairs`. The caller releases ``cache_registry`` (the
    banded table) after the result is consumed.
    """
    return _band_pairs(sig, _minhash_band_keys(), [], cache_registry)


def lsh_refined_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.6,
    *, cache_registry: list,
) -> DataFrame:
    """The 100-TB dedup composition: MinHash+LSH candidate generation, exact
    Jaccard refinement computed ONLY on the candidate pairs.

    The full-corpus shingle self-join is quadratic in hot shingles; here the
    expensive exact step touches only |candidates| pairs, and size-ratio
    pruning drops candidate pairs that provably cannot reach the threshold
    (J <= min_sz/max_sz) before the intersection runs.

    One Arrow-batched Python pass over the corpus
    (:func:`minhash_sig_and_arrays`) yields both the signature (candidate
    generation) and each doc's DISTINCT shingle-hash set as one array cell.
    The set rides the banded table as a carried column (:func:`_band_pairs`),
    so each candidate pair meets both sets in the join partition of its
    first agreeing band and is verified there: ``size(array_intersect)`` per
    surviving pair, a codegen'd JVM set-op, with set sizes as ``size(hs)``.
    The cost: every doc's set crosses the band join once per band, not only
    the candidate docs' sets once. Jaccard on 60-bit shingle hashes equals
    Jaccard on the shingle sets themselves absent a 60-bit collision inside
    a candidate pair (~|set|^2 / 2^60) — and the DuckDB oracle hashes
    identically, so parity is exact by construction either way.

    ``threshold`` must lie in (0, 1]: at ``threshold <= 0`` the Jaccard
    filter would keep zero-intersection candidate pairs, so it raises
    ``ValueError`` instead. The caller releases ``cache_registry`` (the
    banded table, the only persist) once the result is fully consumed.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"lsh_refined_pairs: threshold must be in (0, 1], got {threshold!r}")
    # size(hs) > 0 recovers exactly the row set of minhash_signature_cols
    sig = minhash_sig_and_arrays(df, id_col, text_col, k).where(F.size("hs") > 0)
    pairs = _band_pairs(sig, _minhash_band_keys(), ["hs"], cache_registry)
    # Size-ratio candidate pruning: J(A,B) = |∩|/|∪| <= min(|A|,|B|)/max(|A|,|B|),
    # so a pair whose set-size ratio cannot reach the threshold cannot pass the
    # Jaccard filter either — drop it BEFORE the per-pair intersection runs.
    # The margin covers the 4-decimal output rounding (a pair at true
    # J = threshold - 0.00005 still rounds up to threshold) plus float slack,
    # so pruning can never change the result set.
    prune_t = threshold - 0.000051
    return (
        pairs.select(
            "id_a",
            "id_b",
            "hs_a",
            "hs_b",
            F.size("hs_a").alias("sz_a"),
            F.size("hs_b").alias("sz_b"),
        )
        .where(F.least("sz_a", "sz_b") >= F.lit(prune_t) * F.greatest("sz_a", "sz_b"))
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_col(text_col, bits: int = 16):
    """SimHash over whitespace tokens: bit b is the sign of the per-bit vote
    sum across token hashes. Composed per-bit from array folds (built-ins)."""
    hashed = F.transform(tokens_col(text_col), lambda t: portable_hash64(t))

    # Plain closure per bit (see similarity.hyperplane_sign_bucket note on
    # why `lambda a, h, b=b:` breaks under PySpark lambda-arity dispatch).
    def vote_fn(b: int):
        return lambda a, h: a + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)

    acc = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hashed, F.lit(0).cast("long"), vote_fn(b))
        acc = acc + F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return acc


def simhash_groups(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Near-dup buckets: docs sharing a full simhash (cheap first stage;
    simhash_near_pairs below is the banded Hamming refinement)."""
    sh = df.select(F.col(id_col).alias("doc"), simhash_col(F.col(text_col), bits).alias("simhash"))
    return (
        sh.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc").alias("keeper_id"))
        .where(F.col("n_docs") >= 1)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
    *, cache_registry: list,
) -> DataFrame:
    """Banded-Hamming simhash near-dup pairs (the scale refinement).

    Pigeonhole: two signatures within Hamming distance d < ``bands`` agree
    exactly on at least one of the ``bands`` bit-bands, so candidate
    generation is an equi-join on (band, band_bits) (:func:`_band_pairs`,
    carrying each side's simhash) — never an all-pairs XOR scan — and the
    exact ``bit_count(xor) <= max_hamming`` check runs only on candidates.
    Requires max_hamming < bands for completeness within the candidate set.
    The caller releases ``cache_registry`` (the banded table) after the
    result is consumed.
    """
    assert max_hamming < bands, "pigeonhole completeness needs max_hamming < bands"
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sig = df.select(
        F.col(id_col).alias("doc"), simhash_col(F.col(text_col), bits).alias("simhash")
    )
    keys = [F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask)) for b in range(bands)]
    return _band_pairs(sig, keys, ["simhash"], cache_registry).select(
        "id_a",
        "id_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def _scratch_ckpt(spark, prefix: str):
    """Scratch parquet: write a frame and read it back (the engine's
    plans/checkpoint.py pattern). Used for per-round lineage truncation in
    iterative graph loops and for the query registry's oversized-result
    spill. The CC round body references its input more than once, so
    without truncation the Catalyst plan grows exponentially in rounds
    (measured: driver GC OOM during plan canonicalization by round ~10).
    At cluster scale the scratch dir must be distributed storage — defaults
    to $SPARK_GRAFT_STATE_DIR_BASE (the same knob the crawl state uses),
    falling back to local tmp.

    Returns (ckpt(df, k) -> DataFrame, cleanup()).
    """
    import os
    import shutil
    import tempfile

    base = os.environ.get("SPARK_GRAFT_STATE_DIR_BASE") or None
    work = tempfile.mkdtemp(prefix=prefix, dir=base)

    def ckpt(df: DataFrame, k: int) -> DataFrame:
        path = os.path.join(work, f"state-{k:04d}")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return ckpt, (lambda: shutil.rmtree(work, ignore_errors=True))


class _ScratchOwner:
    """Pairs a persisted result with the scratch checkpoint dir its plan
    reads: ``unpersist()`` releases the cache FIRST, then deletes the
    scratch files. Handed to the ``cache_registry`` owner so that on a real
    cluster an executor loss while the result is still in use can always
    recompute from the checkpoint parquet (ADVICE r4)."""

    def __init__(self, df: DataFrame, cleanup) -> None:
        self._df, self._cleanup = df, cleanup

    def unpersist(self, blocking: bool = False):
        out = self._df.unpersist(blocking)
        self._cleanup()
        return out


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "node",
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 50,
    *, cache_registry: list,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over an undirected
    near-dup pair list — ``(node, component)`` with component = the minimum
    node id reachable from ``node``.

    This is the step that turns pairwise dedup output (minhash_lsh_pairs /
    lsh_refined_pairs / simhash_near_pairs) into keep-one-per-cluster
    groups, as a large-corpus pipeline needs: pairs (a,b),(b,c) must
    collapse to ONE cluster {a,b,c}, which no per-pair filter can do.

    Min-label propagation: every round each node takes the min label over
    itself and its neighbors — one partitioned equi-join on node id plus one
    min-groupBy per round, O(diameter) rounds. Near-dup clusters are dense
    (band collisions make them near-cliques, diameter 1-3), so a handful of
    rounds closes a corpus; convergence is detected by a one-number action
    (sum of labels — each label is nonincreasing and a round that changes
    nothing changes no label, so an unchanged sum IS the fixpoint; summed as
    decimal(38,0) so 10^10 nodes cannot overflow). No all-pairs anything:
    at 10^10 edges each round shuffles on node ids only.

    An adversarially long chain needs more than ``max_iters`` rounds; the
    loop then stops and warns (``RuntimeWarning``) rather than returning
    under-merged labels silently.

    Each round's state is checkpointed to scratch parquet and read back
    (:func:`_scratch_ckpt` — lineage truncation). The result is persisted
    lazily — the consumer's own action materializes it. ``cache_registry``
    receives the persisted edge list and one :class:`_ScratchOwner` that
    owns BOTH the result's persist and the scratch files (deleted together
    at ``unpersist()``, so cluster-mode recomputation after executor loss
    can always re-read the checkpoints); the caller releases them once the
    result is consumed.
    """
    from pyspark import StorageLevel

    _require_integral_ids(edges, src, dst)
    _require_integral_ids(nodes, id_col)
    und = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .union(edges.select(F.col(dst).cast("long").alias("u"), F.col(src).cast("long").alias("v")))
        # key the cached edge list by the per-round join key and let AQE size
        # the exchange: a bare union persists as (2 x input) partitions — at
        # bench scale 64 near-empty cached blocks that every round's join (or
        # broadcast build) re-reads as 64 tasks (measured ~1.5 s/round of
        # pure scheduling); at 10^10 edges the same rule yields real-sized
        # hash partitions aligned with the propagation join.
        .repartition(F.col("u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-round scratch checkpoint: the round body references `cur` twice,
    # so without lineage truncation the plan doubles per round (driver OOM
    # on long chains — see _scratch_ckpt)
    ckpt, cleanup = _scratch_ckpt(edges.sparkSession, "bwc-cc-")
    from pyspark.sql import Observation

    ssum = F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
    # Round-6: propagate labels over EDGE-ENDPOINT nodes only. A node that
    # appears in no pair has no neighbors — its label can never change — so
    # dragging the full node table through every round's join + groupBy-min
    # is pure overhead; it rejoins at the end via the left-join + coalesce.
    # In a real corpus near-dup graph the overwhelming majority of docs are
    # singletons, so the per-round state shrinks from |corpus| to |endpoints|
    # at any scale. Identical labels by construction: endpoints see the same
    # propagation; non-endpoints were (node, node) throughout and
    # coalesce(comp, node) restores precisely that row.
    # No round-0 checkpoint (round-6): the initial label table derives from
    # the PERSISTED symmetric edge list in one narrow step, so round 1 can
    # consume it directly — the parquet write+read and the separate initial
    # label-sum job both disappear. Convergence compares consecutive ROUND
    # sums (a sentinel stands in before the first round completes); with any
    # edges present round 1 always lowers some label, so the first possible
    # break is round 2 — exactly where the old init-sum scheme broke too.
    cur = (
        und.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("comp"))
    )
    cur_sum: object = object()  # sentinel: no sum observed yet
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        prop = und.join(cur, und["u"] == cur["node"]).select(
            F.col("v").alias("node"), F.col("comp")
        )
        # the convergence label-sum rides an Observation on the checkpoint
        # write that runs anyway — the separate O(nodes) agg job per round
        # is gone (VERDICT r3 #7)
        obs = Observation()
        new = ckpt(
            cur.select("node", "comp")
            .union(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .observe(obs, ssum),
            rounds,
        )
        new_sum = obs.get["s"]
        if new_sum == cur_sum:
            break
        cur, cur_sum = new, new_sum
    else:
        # One consistent label per node either way (the groupBy-min keeps the
        # schema), but an iteration-capped exit means labels may still be
        # propagating — never fail silently (ADVICE r4).
        import warnings

        warnings.warn(
            f"min-label propagation did not converge in {max_iters} rounds; "
            "labels are consistent but may under-merge components",
            RuntimeWarning,
            stacklevel=2,
        )
    out = (
        nodes.select(F.col(id_col).cast("long").alias("node"))
        .distinct()
        .join(cur.select("node", "comp"), "node", "left")
        .select("node", F.coalesce("comp", "node").alias("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cache_registry.extend((und, _ScratchOwner(out, cleanup)))
    return out
