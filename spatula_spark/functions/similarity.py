"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline (native
``zip_with``/``aggregate`` dot products — no UDF), and an LSH-bucketed
ANN variant as the scale path: random-hyperplane signs from the
deterministic portable hash, so buckets are reproducible across runs
and engines.

Scale shapes: brute force is queries×corpus — fine for a broadcast
query set, wrong for all-pairs; the LSH path buckets the corpus once
(narrow), joins query buckets (shuffle on a short key), and only
scores within buckets. IVF (k-means coarse quantizer) is the natural
next step and slots into the same bucket-join shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _bucket_pairs


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# DataType OBJECT, not a DDL string: string return types are parsed
# through the active SparkContext at decoration time, and this module
# imports before any session exists
@F.pandas_udf(T.DoubleType())
def _cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    # null propagation like the native form: null in -> null out
    av, bv = a.to_numpy(), b.to_numpy()
    ok = np.array([u is not None and v is not None
                   for u, v in zip(av, bv)])
    out = np.full(len(av), np.nan)
    if ok.any():
        x = np.vstack(av[ok])
        y = np.vstack(bv[ok])
        num = np.einsum("ij,ij->i", x, y)
        den = np.sqrt(np.einsum("ij,ij->i", x, x)) * np.sqrt(
            np.einsum("ij,ij->i", y, y)
        )
        out[ok] = num / den
    return pd.Series(out).where(ok, None)


def cosine_fast(a: Column | str, b: Column | str) -> Column:
    """Arrow-vectorized :func:`cosine` for bulk pair scoring.

    numpy's SIMD/pairwise summation differs from the Catalyst fold in
    the last ulp (relative error ~1e-16 on unit-scale sums); every
    consumer rounds to 6 decimals before comparison — the same slack
    that already lets the DuckDB oracles (whose own summation order
    differs from Spark's) hash-match. Interpreted higher-order-function
    cosine costs ~2*dim lambda evals per pair (~3 s for 5*10^5
    candidate pairs); this scores them in milliseconds plus the Arrow
    transfer."""
    return _cosine_udf(a, b)


# ------------------------------------------------------------------ LSH ANN


_M64 = (1 << 64) - 1


def plane_signs(plane: int, dim: int) -> list[int]:
    """Deterministic ±1 coords of hyperplane ``plane`` via a
    splitmix64 bit mix of (plane, d).

    Round-3 fix: the previous affine-mod-97 pattern made every plane a
    SHIFTED COPY of one base ±1 sequence, so distinct planes were
    strongly correlated — at 11 planes/table the LSH buckets ran ~70x
    above the uniform expectation (caught by scripts/sf1_battery.py's
    candidate-growth check). Proper mixing restores ~independent
    planes and ~uniform buckets. The signs are computed in PYTHON at
    plan-build time and folded to LITERALS in both engines (the DuckDB
    oracles inline the same ±1 lists), so cross-engine parity is by
    construction, not by replicating the formula in SQL."""
    out = []
    for d in range(dim):
        z = (plane * 0x9E3779B97F4A7C15 + d * 0xD6E8FEB86659FD93 + 1) & _M64
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        z ^= z >> 31
        out.append(1 if z & 1 == 0 else -1)
    return out


def lsh_buckets_fast(
    vec_col: str, n_tables: int, n_planes: int, dim: int
) -> Column:
    """One bucket id per hash table (multi-table LSH: recall compounds
    across independent tables, the standard random-hyperplane recipe).
    Table t uses planes [t*n_planes, (t+1)*n_planes); its id sums
    ``1 << p`` over the planes whose signed dot with ``vec`` is
    positive. Arrow-vectorized, and bit-identical to the pure-Catalyst
    spelling the DuckDB oracles mirror (it lives in tests, pinned per
    row against this), ~7x faster.

    The Catalyst spelling evaluates dim*planes interpreted-lambda ops
    per row (higher-order functions are CodegenFallback; unrolling the
    dots into plain expressions exceeds the janino method limit and
    falls back to interpreted eval, which is even slower — both
    measured). Here each plane's signed dot is an explicit LEFT FOLD
    over the dimensions, vectorized across rows:
    ``acc = acc + X[:, d] * s[d]`` in dimension order — the exact
    association the aggregate/zip_with form computes, and IEEE
    ``x * (-1.0) == -x`` — so bucket ids are bit-identical to the
    Catalyst spelling and the DuckDB oracle parity is untouched.
    Measured on 4k x 64-dim doubles: 2.5 s (interpreted HOF) -> 0.36 s
    end-to-end."""
    signs = np.array(
        [plane_signs(p, dim) for p in range(n_tables * n_planes)],
        dtype=np.float64,
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        vv = vecs.to_numpy()
        ok = np.array([v is not None for v in vv])
        res: list = [None] * len(vv)
        if ok.any():
            x = np.vstack(vv[ok])
            n = x.shape[0]
            out = np.zeros((n, n_tables), dtype=np.int32)
            for t in range(n_tables):
                bucket = np.zeros(n, dtype=np.int64)
                for p in range(n_planes):
                    s = signs[t * n_planes + p]
                    acc = np.zeros(n)
                    for d in range(dim):  # exact left fold per row
                        acc = acc + x[:, d] * s[d]
                    bucket |= (acc > 0).astype(np.int64) << p
                out[:, t] = bucket
            for j, i in enumerate(np.nonzero(ok)[0]):
                res[i] = out[j]
        return pd.Series(res)

    return _buckets(vec_col)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    n_planes: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table LSH: candidates = union of the
    query's buckets across ``n_tables`` independent hyperplane tables,
    scored exactly, deduped, top-k. Deterministic (hyperplanes derived
    from index arithmetic); recall vs an exact brute-force top-k is
    asserted in the suite. Scale shape: corpus bucketed once per table
    (narrow), candidates shuffle on (table, bucket) short keys only."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.posexplode(
            lsh_buckets_fast(vec_col, n_tables, n_planes, dim)
        ).alias("table", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.posexplode(
            lsh_buckets_fast(vec_col, n_tables, n_planes, dim)
        ).alias("table", "bucket"),
    )
    scored = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fast(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_centroids(
    c: DataFrame, n_centroids: int
) -> tuple[np.ndarray, np.ndarray]:
    """Pick exactly ``min(n_centroids, |corpus|)`` centroids as the
    corpus rows with the smallest ``portable_hash64('ivf:' || id)`` —
    a deterministic uniform sample whose driver footprint is
    O(n_centroids) REGARDLESS of corpus size (the round-2 stride
    selection collected |corpus|/stride rows: a driver OOM at 10^10).
    Spark plans the orderBy+limit as TakeOrderedAndProject (per-
    partition top-n, merge of n rows at the driver — no global sort
    shuffle). Hash-order (not id-order) keeps the sample unbiased
    under clustered ids, and md5 arithmetic keeps it reproducible in
    DuckDB for the full value-hash oracle.

    Returns ``(cent_ids, cmat)`` sorted by centroid id so np.argmax's
    first-maximum tie-break == the oracle's row_number ordering.
    ``c`` must have columns (cid, cv)."""
    from ..urls import portable_hash64

    h = portable_hash64(F.concat(F.lit("ivf:"), F.col("cid").cast("string")))
    rows = (
        c.withColumn("_h", h)
        .orderBy("_h", "cid")
        .limit(n_centroids)
        .select("cid", "cv")
        .collect()
    )
    if not rows:
        raise ValueError("ivf_topk: empty corpus — no centroids")
    rows.sort(key=lambda r: r["cid"])
    cent_ids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in rows])
    return cent_ids, cmat


def _assign_udf(cent_ids: np.ndarray, cmat: np.ndarray):
    """Arrow-vectorized nearest-centroid assignment closure. One
    matmul row per batch; argmax over round(cos, 6) with ties ->
    smaller cent_id (rows sorted by cent_id + np.argmax first-max ==
    the oracle's row_number ordering). Null / zero-norm embeddings get
    a null cent_id (dirty crawled rows must not kill the batch)."""
    cnorm = cmat / np.sqrt(np.einsum("ij,ij->i", cmat, cmat))[:, None]

    @F.pandas_udf(T.LongType())
    def _assign(vecs: pd.Series) -> pd.Series:
        vv = vecs.to_numpy()
        ok = np.array([v is not None for v in vv])
        res: list = [None] * len(vv)
        if ok.any():
            x = np.vstack(vv[ok]).astype(np.float64)
            nrm = np.sqrt(np.einsum("ij,ij->i", x, x))
            good = nrm > 0
            xn = np.zeros_like(x)
            xn[good] = x[good] / nrm[good, None]
            sims = np.round(xn @ cnorm.T, 6)
            pick = cent_ids[np.argmax(sims, axis=1)]
            for j, i in enumerate(np.nonzero(ok)[0]):
                if good[j]:
                    res[i] = int(pick[j])
        return pd.Series(res, dtype="object")

    return _assign


def lloyd_pass(
    c: DataFrame, cent_ids: np.ndarray, cmat: np.ndarray
) -> np.ndarray:
    """One distributed k-means (Lloyd) iteration executed as a Spark
    aggregation: assign every corpus vector to its nearest centroid
    (Arrow matmul, no |corpus| x |cents| join), then recompute each
    centroid as the per-dimension mean of its cluster — 64 partial
    ``avg`` aggregates, map-side combined, collecting only
    n_centroids rows. Centroids keep their sampled ids (tie-break and
    oracle identity stable); clusters that lose every point keep
    their previous vector. ``c`` must have columns (cid, cv)."""
    dim = cmat.shape[1]
    assign = _assign_udf(cent_ids, cmat)
    means = (
        c.withColumn("cent_id", assign("cv"))
        .filter(F.col("cent_id").isNotNull())
        .groupBy("cent_id")
        .agg(*[F.avg(F.col("cv")[d]).alias(f"d{d}") for d in range(dim)])
        .collect()
    )
    by_id = {
        int(r["cent_id"]): [r[f"d{d}"] for d in range(dim)] for r in means
    }
    return np.vstack([
        np.asarray(by_id.get(int(i), cmat[j]), dtype=np.float64)
        for j, i in enumerate(cent_ids)
    ])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    lloyd_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    scale path next to :func:`ann_lsh_topk`.

    Centroids: a FIXED count of hash-order-sampled corpus vectors
    (:func:`ivf_centroids`) — deterministic (no RNG, so the DuckDB
    oracle replicates the whole pipeline exactly) and driver-bounded at
    O(n_centroids) independent of corpus rows; a k-means refinement
    would slot into the same list mechanics. Build: the centroid matrix
    is collected once and closed over by an Arrow-vectorized assignment
    pass — each corpus vector gets its nearest centroid in one matmul
    row, with NO corpus x centroids cross join (the previous spelling
    materialized |corpus| x |cents| vector pairs through the scorer).
    ``lloyd_iters`` k-means passes (:func:`lloyd_pass`, one distributed
    aggregation each) optionally refine the sample into true cluster
    centers — ids stay stable, so determinism and the oracle survive.
    Null / zero-norm embeddings get a null cent_id (they fall out of
    candidate lists instead of crashing the Arrow batch). Query: probe
    the ``nprobe`` nearest centroids, score exactly ONLY the vectors in
    those lists (~nprobe/n_centroids of the corpus), top-k.

    Scale shape: lists are bucketed by ``cent_id`` (an Iceberg
    deployment partitions on it), so a probe reads nprobe partitions —
    candidate generation never shuffles the corpus, and with
    ``nprobe >= n_centroids`` the result provably equals the exact
    brute-force top-k (asserted in tests). Size ``n_centroids``
    ~sqrt(|corpus|) for balanced lists (the classic IVF operating
    point); the driver cost stays n_centroids rows either way."""
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    cent_ids, cmat = ivf_centroids(c, n_centroids)
    for _ in range(lloyd_iters):
        # optional k-means refinement: each pass is one distributed
        # aggregation; ids/tie-breaks stay stable, so the DuckDB
        # oracle replicates the iteration exactly (assign + group-avg)
        cmat = lloyd_pass(c, cent_ids, cmat)
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(cent_ids, cmat)],
        "cent_id long, centv array<double>",
    )
    assigned = c.withColumn("cent_id", _assign_udf(cent_ids, cmat)("cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("_qs").desc(), F.col("cent_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "qv", "cent_id",
            F.round(cosine(F.col("qv"), F.col("centv")), 6).alias("_qs"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "cent_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .filter(F.col("cid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("cid").alias("neighbor_id"),
            F.round(cosine_fast(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def perturbed_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """corpus ∪ ε-perturbed copies (vec_id + 1_000_000) — deterministic
    planted near-duplicates (cos ≈ 0.9996), the vector analog of
    ``dedup.perturbed_corpus``: near-dup queries and recall tests get
    guaranteed positives instead of hoping random vectors collide.
    Coordinate d is scaled by 1 + ((d*37 mod 5) - 2)/100 — pure
    arithmetic, reproducible in any SQL dialect for the oracle."""
    pert = df.select(
        (F.col(id_col) + 1_000_000).alias(id_col),
        F.zip_with(
            F.col(vec_col),
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda x, d: x * (F.lit(1.0) + (d * 37 % 5 - 2) * 0.01),
        ).alias(vec_col),
    )
    return df.select(id_col, vec_col).unionByName(pert)


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via MULTI-TABLE banded
    hyperplane LSH (the ann_lsh_topk shape): candidates = pairs sharing
    (table, bucket) in ANY of ``n_tables`` independent tables, deduped,
    then exact-cosine verified — only the candidate sliver is scored.

    Scale: buckets per table = 2^n_planes; raise ``n_planes`` with the
    corpus (16 planes -> 65,536 buckets/table for 10^9+ rows). The
    round-1 single-table/6-plane variant had 64 buckets total —
    quadratic within-bucket and unmeasured recall; multi-table banding
    compounds recall across tables while keeping buckets narrow
    (recall asserted vs planted positives in tests/test_functions.py).
    """
    # localCheckpoint, not persist(): both tables are consumed twice
    # (the self-join and the verify joins), and each consumer would
    # otherwise recompute the 32-plane projection (per-consumer
    # recompute of non-exchange subtrees). Checkpoint blocks are freed
    # by the ContextCleaner when the driver reference is GC'd —
    # un-unpersisted persist()s accumulated cache across battery runs.
    slim = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).localCheckpoint()
    b = slim.select(
        "vid",
        F.posexplode(
            lsh_buckets_fast("v", n_tables, n_planes, dim)
        ).alias("table", "bucket"),
    ).localCheckpoint()
    # distinct BEFORE scoring: a pair may share many tables
    cands = _bucket_pairs(b, ["table", "bucket"], "vid", None).select(
        F.col("_a").alias("vec_a"), F.col("_b").alias("vec_b")
    )
    pairs = (
        cands.join(
            slim.select(F.col("vid").alias("vec_a"), F.col("v").alias("va")),
            "vec_a",
        )
        .join(
            slim.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb")),
            "vec_b",
        )
        .select(
            "vec_a", "vec_b",
            F.round(cosine_fast(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= threshold)


# ------------------------------------------------------------------ PQ / ADC
def pq_codebooks(
    c: DataFrame, m: int, n_codes: int, dim: int
) -> np.ndarray:
    """Per-subspace PQ codebooks from ONE deterministic hash-order
    sample (the :func:`ivf_centroids` pattern): the ``n_codes`` corpus
    rows with the smallest ``portable_hash64('pq:' || id)`` supply
    codeword ``j`` of EVERY subspace (row j's s-th subvector). One
    driver collect of n_codes rows regardless of corpus size; no RNG,
    so a SQL oracle replicates the whole scheme. A production tune-up
    would run per-subspace k-means (:func:`lloyd_pass` mechanics) —
    the encode/ADC plumbing is identical.

    Returns ``(m, n_codes, dim//m)`` float64; codeword order = sample
    rank (ties in the hash broken by id), so argmin's first-minimum
    tie-break matches the oracle's row_number."""
    from ..urls import portable_hash64

    h = portable_hash64(F.concat(F.lit("pq:"), F.col("cid").cast("string")))
    rows = (
        c.withColumn("_h", h).orderBy("_h", "cid").limit(n_codes)
        .select("cv").collect()
    )
    if not rows:
        raise ValueError("pq_topk: empty corpus — no codebook sample")
    sub = dim // m
    mat = np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in rows])
    # (n_codes, dim) -> (m, n_codes, sub)
    return np.stack([mat[:, s * sub:(s + 1) * sub] for s in range(m)])


def _pq_encode_udf(books: np.ndarray):
    """Arrow-vectorized PQ encoder: per subspace, argmin of the
    ROUNDED (6 dp) squared L2 to each codeword, ties -> smaller code
    (== the oracle's row_number over (round(d,6), j)). Null rows get
    null codes."""
    m, n_codes, sub = books.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        vv = vecs.to_numpy()
        out: list = [None] * len(vv)
        ok = [i for i, v in enumerate(vv) if v is not None]
        if ok:
            x = np.vstack([np.asarray(vv[i], dtype=np.float64) for i in ok])
            codes = np.empty((len(ok), m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * sub:(s + 1) * sub]
                # EXPLICIT d-sequential accumulation (numpy's .sum()
                # uses pairwise blocking): the SQL twin adds terms
                # left-to-right, and identical fold order makes the
                # doubles bit-identical before the integer keying
                acc = np.zeros((xs.shape[0], n_codes))
                for d in range(sub):
                    diff = xs[:, [d]] - books[s][None, :, d]
                    acc = acc + diff * diff
                # integer keys: floor(d*1e6 + 0.5) == round-half-up
                # on the non-negative distances — the same tie rule as
                # Spark's round() and DuckDB's round(), so cross-engine
                # argmin needs no float comparison semantics at all
                codes[:, s] = np.argmin(
                    np.floor(acc * 1e6 + 0.5).astype(np.int64), axis=1)
            for r, i in enumerate(ok):
                out[i] = [int(v) for v in codes[r]]
        return pd.Series(out, dtype="object")

    return _enc


def _pq_lut_udf(books: np.ndarray):
    """Arrow-vectorized ADC lookup table: lut[s*n_codes + j] =
    round-half-up integer micro-distance ||v_sub_s - book[s][j]||^2 *
    1e6, folded over d left to right so the DuckDB twin replays it
    bit-for-bit (integer entries sum order-independently). Computed in
    numpy instead of a ~1k-term Catalyst expression, whose stage would
    eat the Janino 64KB compile-and-fail cost (~3 s of driver time for
    20 rows)."""
    m, n_codes, sub = books.shape

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _lut(vecs: pd.Series) -> pd.Series:
        out: list = [None] * len(vecs)
        for i, v in enumerate(vecs):
            if v is None:
                continue
            x = np.asarray(v, dtype=np.float64)
            ent = np.empty(m * n_codes, dtype=np.int64)
            for s in range(m):
                xs = x[s * sub:(s + 1) * sub]
                acc = np.zeros(n_codes)
                for d in range(sub):
                    diff = xs[d] - books[s][:, d]
                    acc = acc + diff * diff
                ent[s * n_codes:(s + 1) * n_codes] = np.floor(
                    acc * 1e6 + 0.5
                ).astype(np.int64)
            out[i] = [int(e) for e in ent]
        return pd.Series(out, dtype="object")

    return _lut


def _pq_adist_expr(m: int, n_codes: int) -> Column:
    """ADC distance from columns ``lut`` and ``codes``: the pure-
    Catalyst fold (sum_s lut[s*n_codes + codes[s]]) / 1e6."""
    picks_sql = " + ".join(
        f"element_at(lut, {ss * n_codes + 1} + element_at(codes, {ss + 1}))"
        for ss in range(m)
    )
    return F.expr(f"({picks_sql}) / 1e6")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-side scale path next to IVF's list pruning: the
    corpus is stored as ``m`` one-byte-ish codes per vector
    (64 doubles -> 8 codes here, a 64x shrink), and a query scans
    CODES, never raw vectors.

    Encode: one Arrow pass closes over the (m, n_codes, dim/m)
    codebook tensor (driver-bounded sample, `pq_codebooks`). Query:
    each query precomputes its lookup table — round(squared L2, 6) to
    every codeword of every subspace, m*n_codes doubles — broadcast as
    a flat array; the approximate distance is a PURE CATALYST fold
    over the code array (`aggregate(sequence, element_at(lut, ...))`),
    no UDF and no vector bytes in the scan. Top-k ranks by
    round(adist, 6) asc with neighbor-id tie-break.

    Scale shape: the corpus side of the scoring join carries only
    (id, m codes); at 10^10 rows that is ~100 GB instead of ~5 TB of
    float vectors — the difference between a scan that fits in page
    cache and one that doesn't. Composes with IVF (probe lists first,
    ADC within lists). Planted-positive recall and ADC/true-L2
    calibration are asserted in tests; the DuckDB oracle replicates
    encode + ADC bit-for-bit (integerized micro-distances — order-free
    integer sums — plus matching round-half-up ties). NOTE on quality:
    on UNIFORM random vectors all pairwise distances concentrate into
    a narrow band, so exact-top-k overlap is intrinsically poor for
    any quantizer; real embeddings cluster and compress far better —
    n_codes and k-means-refined codebooks are the quality dials."""
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    books = pq_codebooks(c, m, n_codes, dim)
    sub = dim // m
    codes = c.select(
        "cid", _pq_encode_udf(books)("cv").alias("codes")
    ).filter(F.col("codes").isNotNull())

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # lut[s*n_codes + j] = round(||q_sub_s - book[s][j]||^2 * 1e6) as
    # LONGS: integer micro-distances sum order-independently, so the
    # ADC total is bit-identical across numpy / Catalyst / DuckDB with
    # no float-fold-order hazard (the per-entry d-fold is the explicit
    # left-to-right order the numpy/SQL twins use). r6: computed by the
    # Arrow LUT (same integer entries — see _pq_lut_udf) instead of the
    # ~1k-term generated Catalyst expression, whose janino
    # compile-and-fail alone cost ~1-3 s of driver time per run (the
    # same finding that moved the ivfpq probe LUT to Arrow in r5).
    qlut = q.select("query_id", _pq_lut_udf(books)("qv").alias("lut"))
    # adist = (sum_s lut[s*n_codes + codes[s]]) / 1e6 — pure Catalyst,
    # sequential fold spelled as one parsed expression
    adist = _pq_adist_expr(m, n_codes)
    scored = (
        codes.join(F.broadcast(qlut))
        .filter(F.col("cid") != F.col("query_id"))
        .select(
            "query_id", F.col("cid").alias("neighbor_id"),
            adist.alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist",
                F.col("rank").cast("int").alias("rank"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with residual encoding and exact re-rank — the deployed
    10^9-vector ANN shape (Jégou et al. 2011): IVF's coarse quantizer
    prunes WHICH vectors are scanned (~nprobe/n_centroids of the
    corpus) while PQ compresses WHAT is scanned (m small codes per
    vector instead of dim floats), and the two compose through
    residuals — each vector is PQ-encoded as (v - its centroid), so
    the codebook only has to cover the within-cell displacement, not
    the whole space.

    Build: hash-sampled centroids (:func:`ivf_centroids`, fixed
    driver cost), one Arrow assignment pass, residuals as a pure
    Catalyst zip_with, residual codebooks from a second fixed-size
    hash sample (:func:`pq_codebooks` over the residual table), one
    Arrow encode pass. The stored index row is (cid, cent_id,
    m codes) — at 10^10 rows ~200 GB against ~5 TB of raw float64.

    Query: probe the nprobe nearest centroids; per probe the query
    residual (qv - centv) feeds the Arrow integer LUT
    (:func:`_pq_lut_udf`), broadcast as (query_id, cent_id, lut);
    ADC is the pure-Catalyst fold over probed lists only. The ADC
    ``shortlist`` per query is then re-ranked EXACTLY — one broadcast
    join back to the raw vectors of shortlist x queries rows, never
    the corpus — by round(cosine, 6) DESC, neighbor ASC.

    Everything is deterministic (hash samples, integer
    micro-distances, total-order ranks), so the ENTIRE composition —
    assignment, residuals, codebooks, LUTs, ADC, re-rank — replays in
    DuckDB as a full value-hash oracle. Planted-twin recall@k = 1.0
    and the scanned-fraction bound are asserted in tests."""
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    cent_ids, cmat = ivf_centroids(c, n_centroids)
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(cent_ids, cmat)],
        "cent_id long, centv array<double>",
    )
    residual = F.zip_with("cv", "centv", lambda a, b: a - b)
    # localCheckpoint: consumed twice (codebook hash-sample collect +
    # the encode pass) — without it each consumer re-runs the Arrow
    # assignment matmul over the whole corpus
    assigned = (
        c.withColumn("cent_id", _assign_udf(cent_ids, cmat)("cv"))
        .filter(F.col("cent_id").isNotNull())
        .join(F.broadcast(cents), "cent_id")
        .select("cid", "cent_id", "cv", residual.alias("rv"))
        .localCheckpoint()
    )
    books = pq_codebooks(
        assigned.select("cid", F.col("rv").alias("cv")), m, n_codes, dim
    )
    codes = assigned.select(
        "cid", "cent_id", _pq_encode_udf(books)("rv").alias("codes")
    ).filter(F.col("codes").isNotNull())

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("_qs").desc(), F.col("cent_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "qv", "cent_id", "centv",
            F.round(cosine(F.col("qv"), F.col("centv")), 6).alias("_qs"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select(
            "query_id",
            "cent_id",
            F.zip_with("qv", "centv", lambda a, b: a - b).alias("rv"),
        )
    )
    qlut = probes.select(
        "query_id", "cent_id", _pq_lut_udf(books)("rv").alias("lut")
    )
    short_w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    cand = (
        codes.join(F.broadcast(qlut), "cent_id")
        .filter(F.col("cid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("cid").alias("neighbor_id"),
            _pq_adist_expr(m, n_codes).alias("adist"),
        )
        .withColumn("_sr", F.row_number().over(short_w))
        .filter(F.col("_sr") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        c.join(
            F.broadcast(cand), F.col("cid") == F.col("neighbor_id")
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_fast(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def semdedup(
    corpus: DataFrame,
    n_centroids: int = 32,
    eps: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    embedding — k-means-cluster the corpus, then within each cluster
    mark every document whose cosine to a lower-id cluster-mate is
    >= ``eps`` as a semantic duplicate of that mate. The clustering is
    what makes the quadratic tractable: all-pairs runs per-cluster
    (corpus/k rows each), never across the corpus, which is exactly
    the paper's trick and exactly a keyed Spark equi-join on cent_id.

    Scale shape: centroid sample is a fixed-n TakeOrderedAndProject
    (driver memory independent of corpus size), assignment is one
    Arrow matmul batch pass, the pair join is a shuffle keyed on
    cent_id (raise n_centroids with the corpus to bound cluster
    sizes, like IVF nlist). The pair join is the near-dup operators'
    one bucket join (dedup._bucket_pairs) with ``max_cluster`` as its
    cap: oversized clusters are star-connected to their min-id hub.
    The cap DEFAULTS ON at 4096 — at 100 TB one runaway cluster must
    degrade to O(m) hub comparisons, never O(m^2) pairs; for the
    epsilon-ball clusters that actually create mega-clusters the hub
    finds the same duplicates the full clique would (pinned by
    test_semdedup_cluster_cap), and the sf1 battery pins ~linear
    candidate growth with the cap active. ``max_cluster=None`` lifts
    the cap (every within-cluster pair is compared) when cluster sizes
    are known-bounded.

    Returns the DROPPED set: (vec_id, cent_id, dup_of, cos) where
    dup_of is the smallest qualifying lower id (deterministic,
    oracle-replayable tie-break); survivors = corpus anti-join on
    vec_id.
    """
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    cent_ids, cmat = ivf_centroids(c, n_centroids)
    assign = _assign_udf(cent_ids, cmat)
    # checkpoint: consumed by both sides of the self-join — without it
    # each side recomputes the assignment matmul (per-consumer
    # recompute of non-exchange subtrees)
    asg = (
        c.withColumn("cent_id", assign("cv"))
        .filter(F.col("cent_id").isNotNull())
        .localCheckpoint()
    )
    # dup_of stays deterministic under the cap: the hub is the min id
    pr = _bucket_pairs(asg, ["cent_id"], "cid", max_cluster, payload_c="cv")
    hits = pr.select(
        F.col("_b").alias("vec_id"),
        F.col("_a").alias("a_id"),
        F.round(cosine_fast(F.col("_pa"), F.col("_pb")), 6).alias("cos"),
    ).filter(F.col("cos") >= eps)
    best = hits.groupBy("vec_id").agg(  # smallest anchor id
        F.min(F.struct("a_id", "cos")).alias("m")
    )
    return best.join(
        asg.select(F.col("cid").alias("vec_id"), "cent_id"), "vec_id"
    ).select(
        "vec_id", "cent_id",
        F.col("m.a_id").alias("dup_of"), F.col("m.cos").alias("cos"),
    )
