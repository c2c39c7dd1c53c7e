"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Engine-level training-data operators (no reference analog — spatula
emits records one at a time and never compares them; mandated by the
task brief as first-class components). Everything is native Catalyst —
shingling via ``split``/``transform``/``sequence``, hashing via the
md5-based :func:`spatula_spark.urls.portable_hash64` so the DuckDB
oracle reproduces signatures bit-for-bit.

Scale shapes:
* exact: one hash-aggregate on the fingerprint (map-side partial).
* MinHash/LSH: per-doc signature (narrow Arrow UDF) -> explode bands
  (xB rows) -> bucket join on (band, md5 band signature), the payload
  slim; verification joins the text column back onto the candidate
  sliver only and scores exact Jaccard in one Arrow UDF.
* SimHash: 64-bit, per doc from native md5 hash transforms over the
  word array and an Arrow bit-fold — no word explode, no shuffle;
  near-dups are a banded or multi-index hamming bucket join.
* One bucket join: every banded or bucketed near-dup operator (LSH,
  SimHash / hamming bands, multi-index hamming, embedding LSH,
  SemDeDup clusters) finds candidates with :func:`_bucket_pairs` — a
  join on the bucket keys with ``l.id < r.id``, then ``distinct``.
  Its one cap rule, :func:`_cap_buckets` (``max_bucket``): a bucket
  over the cap keeps only its min-id hub in the join and reaches its
  other members by hub -> member star edges (O(m) rows, not O(m^2)),
  sized by a map-side aggregate and join-back, never a window.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..urls import portable_hash64
from .text import fingerprint


# Java regex \s (ASCII-only), NOT Python's unicode-aware \s — the
# Python fast paths must normalize exactly like the Catalyst forms
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _spread(df: DataFrame) -> DataFrame:
    """Small-file inputs arrive in 1-2 partitions; the per-row hashing
    here is CPU-heavy (interpreted HOFs / Arrow UDFs), so spread to
    the session's parallelism first (a tiny shuffle buying full-width
    compute). WIDEN-ONLY: an input already at or above session width
    (any real-scale table) passes through untouched — repartition(n)
    on a 10^5-partition corpus would otherwise COLLAPSE it to n."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)

# ------------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest doc_id per identical (normalized) text."""
    return (
        df.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------- shingles


def normalized_words(text: Column) -> Column:
    return F.split(F.lower(F.regexp_replace(F.trim(text), "\\s+", " ")), " ")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams as strings (the MinHash feature set).

    Built as nested zip_with over n shifted slices so the words array
    appears only OUTSIDE lambdas: Catalyst does not common-
    subexpression-eliminate across lambda boundaries, and the previous
    ``transform(sequence, i -> array_join(slice(w, i+1, n)))`` form
    re-evaluated the split once per produced shingle — measured 11.5 s
    vs 1.7 s (6.7x) for the sf0.1 shingle explode, bit-identical
    output. Same trap and fix as lm.bigrams_from_words."""
    w = normalized_words(text)
    m = F.size(w) - n + 1
    acc = F.slice(w, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(w, k + 1, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    short = F.array(F.array_join(w, " "))  # doc shorter than n words
    return F.array_distinct(F.when(F.size(w) >= n, acc).otherwise(short))


# ----------------------------------------------------------------- minhash


def minhash_signatures(
    df: DataFrame, text_col: str = "text", num_perms: int = 8, n: int = 3
) -> DataFrame:
    """Arrow-vectorized MinHash signatures, four 32-bit permutations per
    md5: permutation ``i`` is hex chunk ``i % 4`` of ``md5(shingle +
    ':' + i//4)``, minimized over the doc's shingles (one md5 call
    covers four permutations; md5 dominates). Bit-identical to the
    pure-Catalyst spelling the DuckDB oracle mirrors, which lives in
    tests as the reference this is pinned against (md5 is md5; the
    chunk arithmetic ``int(hex[8k:8k+8], 16)`` equals
    ``conv(substring(...), 16, 10)``), and ~6x faster: the Catalyst
    spelling evaluates the md5 + conv transforms as interpreted
    higher-order functions per shingle
    (~600 us/doc measured at sf0.1); here each doc is one tight Python
    loop over hashlib.md5. Normalization replicates the reference
    column expression exactly: trim = leading/trailing SPACES only,
    ``\\s+`` = Java's ASCII class ``[ \\t\\n\\x0b\\f\\r]`` (NOT
    Python's unicode-aware ``\\s``), split keeps empty fields."""
    n_salts = (num_perms + 3) // 4

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        import struct
        from hashlib import md5

        salts = [(":%d" % j).encode() for j in range(n_salts)]
        unpack = struct.Struct(">4I").unpack  # 4 big-endian u32 chunks
        out: list = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            grams = _shingle_set(t, n)
            # one row of chunk-values per (gram, salt); column-wise min
            rows = [
                unpack(md5(gb + salt).digest())
                for gb in (g.encode("utf-8", "surrogatepass")
                           for g in grams)
                for salt in salts
            ]
            # rows alternate salt 0..n_salts-1 per gram: perm i lives at
            # rows [i//4::n_salts] chunk i%4
            out.append([
                min(r[i % 4] for r in rows[i // 4::n_salts])
                for i in range(num_perms)
            ])
        return pd.Series(out)

    return _spread(df).select(
        "doc_id", _sig(F.col(text_col)).alias("_mh")
    ).select(
        "doc_id",
        *[F.col("_mh")[i].alias(f"mh_{i}") for i in range(num_perms)],
    )


def _bucket_cap_stats(
    bands: DataFrame, key_cols: list[str], max_bucket: int, stats: dict
) -> None:
    """Fill ``stats`` with the cap telemetry a scale harness needs: how
    many buckets tripped the cap, the largest bucket seen, and the
    within-bucket pair candidates replaced by star edges (an upper
    bound on *dropped* pairs — the same pair may still surface through
    another band's small bucket). One extra cheap count-agg job, only
    when the caller opts in."""
    n, cnt = F.col("count"), F.lit(1)
    row = (
        bands.groupBy(*key_cols)
        .count()
        .agg(
            F.sum((n > max_bucket).cast("long")).alias("nb"),
            F.sum(
                F.when(n > max_bucket, n * (n - 1) / 2 - (n - 1)).otherwise(0)
            ).alias("dp"),
            F.max(n).alias("mx"),
            F.count(cnt).alias("tot"),
        )
        .collect()[0]
    )
    stats.update(
        capped_buckets=int(row.nb or 0),
        starred_pairs=int(row.dp or 0),
        max_bucket_size=int(row.mx or 0),
        total_buckets=int(row.tot or 0),
    )


def _cap_buckets(
    bands: DataFrame,
    key_cols: list[str],
    id_c: str,
    max_bucket: int | None,
    payload_c: str | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The mega-bucket cap of every bucket join: ``(kept, stars)``.

    ``max_bucket=None`` is no cap: ``(bands, None)``, nothing planned.
    Otherwise a bucket of <= ``max_bucket`` rows keeps every member in
    ``kept``; a bigger bucket keeps only its min-id hub there, and
    ``stars`` holds its hub -> member edges ``(_a, _b[, _pa, _pb])``
    instead — connectivity-equivalent for the connected-components
    consumer (a clique and a star have the same components) while
    turning the worst case from O(m^2) rows per bucket to O(m). The
    repo's sf1 battery measured 98.7x banded candidate growth at 10x
    rows on boilerplate-heavy corpora without this cap; with it,
    growth is bounded linear by construction.

    Completeness caveat (documented contract): pairs internal to a
    capped bucket are represented transitively through the hub, so a
    pair-level consumer that verifies with a radius/threshold may
    reject a hub edge a full clique would have kept; an uncapped
    caller keeps exact pair enumeration.

    Invariant: the ``key_cols`` are non-null. Every caller's keys are
    (band literal, md5 band signature), (band literal, bit block of a
    fingerprint), (table, hyperplane bucket) or a null-filtered
    cluster id. The stats join-back drops a null-key row (a null
    fingerprint), which then emits nothing — the same as in the
    uncapped equi-join — whereas a count/min window would have pooled
    every null key into one bucket.
    """
    if max_bucket is None:
        return bands, None
    pay = [payload_c] if payload_c else []
    hub_struct = F.struct(
        F.col(id_c).alias("i"), *[F.col(c).alias("p") for c in pay]
    )
    # bucket size + hub via a map-side-combinable AGGREGATE + join
    # back, not count/min windows over the bucket key: the window form
    # buffered every mega-bucket's rows (ids + payloads) in one task
    # BEFORE the cap could split it — the same failure mode the
    # containment df-cap had (VERDICT r5 item 3), here on the exact
    # operator whose reason to exist is mega-bucket safety. The stats
    # table is bucket-count-sized; AQE broadcasts it when small and the
    # join reuses the bands exchange otherwise. Same (_bn, _hub) per
    # row exactly (min over a struct == the window's min).
    bstats = bands.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_bn"),
        F.min(hub_struct).alias("_hub"),
    )
    b2 = bands.join(bstats, key_cols)
    big = F.col("_bn") > max_bucket
    hub = F.col(id_c) == F.col("_hub.i")
    kept = b2.filter(~big | hub).select(id_c, *pay, *key_cols)
    stars = b2.filter(big & ~hub).select(
        F.col("_hub.i").alias("_a"),
        F.col(id_c).alias("_b"),
        *([F.col("_hub.p").alias("_pa"), F.col(payload_c).alias("_pb")]
          if payload_c else []),
    )
    if stats is not None:
        _bucket_cap_stats(bands, key_cols, max_bucket, stats)
    return kept, stars


def _bucket_pairs(
    bands: DataFrame,
    key_cols: list[str],
    id_c: str,
    max_bucket: int | None,
    payload_c: str | None = None,
    stats: dict | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """The one bucket join of every near-dup operator: distinct
    ``(_a < _b)`` id pairs that share a bucket (equal ``key_cols``),
    plus the payload (fingerprint, vector) of each side as ``_pa`` /
    ``_pb`` when ``payload_c`` is given.

    The buckets are capped by :func:`_cap_buckets` (``max_bucket``;
    ``None`` = every pair) and its star edges are unioned in. A hub is
    alone in its kept bucket, so it forms no self-pair there, and
    bucket-min hubs keep ``_a < _b``. ``probe`` (same columns as
    ``bands``) replaces the kept bands on the left side of the join —
    the multi-index hamming scheme probes with flipped keys."""
    kept, stars = _cap_buckets(
        bands, key_cols, id_c, max_bucket, payload_c, stats
    )
    pay = [payload_c] if payload_c else []
    l, r = (kept if probe is None else probe).alias("l"), kept.alias("r")
    cond = F.col(f"l.{id_c}") < F.col(f"r.{id_c}")
    for k in key_cols:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    pairs = l.join(r, cond).select(
        F.col(f"l.{id_c}").alias("_a"),
        F.col(f"r.{id_c}").alias("_b"),
        *[F.col(f"l.{c}").alias("_pa") for c in pay],
        *[F.col(f"r.{c}").alias("_pb") for c in pay],
    )
    if stars is not None:
        pairs = pairs.union(stars)
    return pairs.distinct()


def _band_table(
    sig: DataFrame, num_perms: int, band_rows: int
) -> DataFrame:
    """Explode a minhash-signature frame into its banded form
    ``(doc_id, band, bsig)`` — the probe/build key table of every LSH
    join (self-join dedup, delta-vs-corpus incremental dedup). bsig is
    md5 over the band's ``band_rows`` signature columns, so bucket
    keys are fixed-width strings regardless of ``band_rows``, which must
    divide ``num_perms`` (a remainder would be hashed and never used)."""
    if band_rows < 1 or num_perms % band_rows:
        raise ValueError(
            f"band_rows must be a positive divisor of num_perms "
            f"(got band_rows={band_rows}, num_perms={num_perms})"
        )
    n_bands = num_perms // band_rows
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh_{b * band_rows + r}")
                                for r in range(band_rows)
                            ],
                        )
                    ).alias("bsig"),
                )
                for b in range(n_bands)
            ])
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.bsig")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    num_perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: equal (band, band-signature) bucket
    => candidate. Returns distinct (doc_a < doc_b) pairs.

    ``max_bucket`` caps mega-buckets (boilerplate cliques): buckets
    above it emit star edges to the bucket-min doc instead of all
    pairs — see :func:`_cap_buckets` for the exact contract."""
    # EAGER localCheckpoint, not lazy persist: the self-join's two
    # shuffle legs run concurrently, and with a lazy cache both legs
    # race past the empty cache and compute the whole signature
    # pipeline twice (measured 4.9s -> 1.9s on the sf0.1 candidate
    # stage). Checkpoint blocks free on driver GC (no unpersist leak).
    sig = minhash_signatures(df, text_col, num_perms, n).localCheckpoint()
    bands = _band_table(sig, num_perms, band_rows)
    return _bucket_pairs(
        bands, ["band", "bsig"], "doc_id", max_bucket, stats=stats
    ).select(F.col("_a").alias("doc_a"), F.col("_b").alias("doc_b"))


def _shingle_set(t: str, n: int) -> set:
    """Python twin of :func:`word_shingles` (same normalization rules:
    trim = spaces only, Java's ASCII ``\\s`` class, split keeps empty
    fields; sets are fine — minhash minima and Jaccard are
    order-independent and both engines dedupe)."""
    words = _WS_RE.sub(" ", t.strip(" ")).lower().split(" ")
    if len(words) >= n:
        return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}
    return {" ".join(words)}


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (verification stage).

    Arrow fast path: candidates join back to the TEXT column (slimmer
    than materialized shingle arrays) and one pandas UDF computes
    |A∩B| / |A∪B| per pair — integer set sizes, so the double division
    is bit-identical to the Catalyst ``size(array_intersect) /
    size(array_union)`` form, and the ROUNDING stays in Spark
    (``F.round``) so oracle semantics are untouched. Replaces a
    corpus-wide interpreted shingle materialization + two array-op
    joins (measured ~2.5s -> ~0.6s on the sf0.1 verify stage); the
    joins still only touch the candidate sliver."""

    @F.pandas_udf(T.DoubleType())
    def _jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out: list = [None] * len(ta)
        for i, (x, y) in enumerate(zip(ta, tb)):
            if x is None or y is None:
                continue  # null text -> null jaccard, like the ref form
            a, b = _shingle_set(x, n), _shingle_set(y, n)
            out[i] = len(a & b) / len(a | b)
        return pd.Series(out, dtype="object")

    slim = df.select("doc_id", text_col)
    a = slim.select(F.col("doc_id").alias("doc_a"),
                    F.col(text_col).alias("_ta"))
    b = slim.select(F.col("doc_id").alias("doc_b"),
                    F.col(text_col).alias("_tb"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.round(_jac("_ta", "_tb"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    num_perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> band -> bucket-join
    -> exact-Jaccard verify. ``max_bucket`` bounds mega-bucket candidate
    blowup (see :func:`_cap_buckets`)."""
    df = df.persist()  # read by both the signature and the verify stage
    cands = lsh_candidate_pairs(
        df, text_col, num_perms, band_rows, n, max_bucket, stats
    )
    return jaccard_pairs(df, cands, text_col, n, threshold)


def incremental_near_dups(
    base: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    num_perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup detection: the NEW
    batch's band table probes the EXISTING corpus's band table, so
    candidates are (delta, base) cross pairs ONLY — never delta×delta
    or base×base. This is the shape a continuous crawl pipeline
    actually runs: per-ingest cost scales with the new batch, not the
    accumulated corpus, and the base band table is the artifact the
    pipeline persists between runs (bucketed/bucket-sorted by
    ``(band, bsig)`` so each probe is a co-located join; accepted
    delta bands are appended after the run).

    Returns one row per delta doc with a verified near-dup in the
    base: ``(delta_id, base_id, jaccard)`` where ``base_id`` is the
    best match (highest exact n-gram Jaccard ≥ ``threshold``, ties to
    the smallest base doc_id). The verify stage touches only the
    candidate sliver, exactly like :func:`minhash_dedup_pairs`.

    ``max_bucket`` caps mega base buckets (a boilerplate clique of m
    near-identical corpus docs would otherwise mint m candidates per
    probing delta doc): base buckets larger than the cap are collapsed
    to their bucket-min doc as the sole representative, turning the
    per-probe worst case from O(m) to O(1). For the dup/not-dup
    decision this is lossless in the clique limit (any member of a
    near-identical bucket verifies like any other); the reported
    ``base_id`` may shift from the global best to the representative,
    which is why the gate-scale battery query runs uncapped.
    ``stats`` (opt-in) is filled with the same cap telemetry as
    :func:`_cap_buckets`, which caps the base side here (its star
    edges are not needed: a delta doc meets the representative).

    The ``(band, bsig)`` bucket keys are never null (``bsig`` is md5
    over ``concat_ws``, which skips nulls), so the cap's stats
    join-back keeps every base band row.
    """
    # both sides are read twice (signature build + text re-join in the
    # verify stage) — same lifecycle as minhash_dedup_pairs
    base = base.persist()
    delta = delta.persist()
    bands_b, _ = _cap_buckets(
        _band_table(
            minhash_signatures(base, text_col, num_perms, n),
            num_perms, band_rows,
        ),
        ["band", "bsig"], "doc_id", max_bucket, stats=stats,
    )
    bands_d = _band_table(
        minhash_signatures(delta, text_col, num_perms, n),
        num_perms, band_rows,
    )
    cands = (
        bands_d.alias("d")
        .join(
            bands_b.alias("b"),
            (F.col("d.band") == F.col("b.band"))
            & (F.col("d.bsig") == F.col("b.bsig")),
        )
        .select(
            F.col("d.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    both = base.select("doc_id", text_col).unionByName(
        delta.select("doc_id", text_col)
    )
    verified = jaccard_pairs(both, cands, text_col, n, threshold)
    w = Window.partitionBy("doc_a").orderBy(
        F.col("jaccard").desc(), F.col("doc_b").asc()
    )
    return (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("doc_a").alias("delta_id"),
            F.col("doc_b").alias("base_id"),
            "jaccard",
        )
    )


def perturbed_corpus(df: DataFrame, text_col: str = "text") -> DataFrame:
    """documents ∪ near-copies (last word dropped, doc_id + 1_000_000):
    a deterministic corpus with guaranteed near-duplicates, used so the
    dedup correctness checks have positives (the synthetic docs
    themselves are random word soup)."""
    w = normalized_words(F.col(text_col))
    copies = df.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(1))), " ")
        .alias(text_col),
    )
    return df.select("doc_id", text_col).unionByName(copies)


# ------------------------------------------------------------ containment


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    max_df: int = 50,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric n-gram containment C(a in b) = |A'∩B'| / |A'| over an
    inverted shingle index — the quote / boilerplate / fragment case
    Jaccard misses (a 50-word excerpt of a 5000-word page has Jaccard
    ~0.01 but containment ~1.0). Reference scope: spatula's dedup
    story is first-URL-wins identity only
    (/root/reference/src/spatula/core.py:89); content-level dedup is
    part of this engine's training-data mandate.

    Shape and scale: shingles explode to a (gram, doc_id) posting
    table; the candidate stage is a self-equi-join on gram. Its worst
    case is the hottest posting list squared, so grams with document
    frequency > ``max_df`` are DROPPED FIRST (the shingle analogue of
    stopword removal — a gram shared by >max_df docs identifies
    boilerplate, not provenance) and the containment score is defined
    over the pruned shingle space A' = A minus hot grams on BOTH
    sides of the ratio. That bounds per-gram join fan-out at max_df²
    rows independent of corpus size — candidate volume stays linear in
    document count for fixed max_df — and makes the cap part of the
    operator's semantics (the oracle replicates it exactly) instead of
    a silent truncation. Docs whose entire shingle set is hot (pure
    boilerplate) drop out with the grams, which is the behavior a
    cleaning pipeline wants.

    The df filter and the self-join both shuffle on ``gram``, so AQE
    reuses one exchange; per-doc pruned sizes ride a second aggregate
    on the already-pruned postings. Emits BOTH directions (containment
    is asymmetric): ``(doc_a, doc_b, containment)`` = share of doc_a's
    pruned shingles that also occur in doc_b, ≥ ``threshold``,
    doc_a ≠ doc_b, rounded to 6 places (integer-count division —
    bit-identical cross-engine).

    The call itself runs Spark work: the pruned posting table is cut
    with an EAGER ``localCheckpoint`` before this returns (one job for
    the shingle explode and hot-gram anti-join), and its blocks stay
    on the executors until the returned DataFrame is garbage
    collected on the driver."""
    posts = (
        _spread(df)
        .select(
            "doc_id",
            F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
        )
        # word_shingles is array_distinct, so (doc_id, gram) is unique
        # and count(*) per gram below is a true document frequency
    )
    # hot grams via groupBy + anti-join, NOT a count window: the window
    # form buffers the hottest gram's ENTIRE posting list in one task
    # before dropping it (the exact failure _dup_positions documents
    # and avoids, same file below) — a boilerplate mega-gram with 10^8
    # postings is a straggler/OOM at scale. The partial-agg hot set is
    # bounded by distinct-grams/max_df rows, broadcast by AQE, and the
    # anti-join reuses the same gram exchange. Same kept set exactly
    # (df > max_df <=> membership in the hot set).
    hot_grams = (
        posts.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("gram")
    )
    # EAGER localCheckpoint: kept has THREE consumers (sizes, both
    # self-join legs); without the cut each consumer re-runs the
    # interpreted shingle explode + anti-join (the lazy-cache race
    # lsh_candidate_pairs documents — measured 3.2s vs 1.3s here). The
    # checkpoint is the PRUNED posting table — strictly smaller than
    # what the old count window buffered, and spread across tasks
    # instead of one window task per gram.
    kept = posts.join(
        hot_grams, "gram", "left_anti"
    ).localCheckpoint(eager=True)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "gram")
    b = kept.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("_inter") / F.col("_sz"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ------------------------------------------------------- duplicate spans


def _positioned_grams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """(doc_id, pos, gram): the word n-gram starting at 0-based word
    index ``pos``. Unlike word_shingles this keeps POSITION and does
    NOT dedupe — a gram repeated inside one doc is two occurrences,
    which is what substring-level duplication counts."""
    w = (
        _spread(df)
        .select(
            "doc_id", normalized_words(F.col(text_col)).alias("_w")
        )
        .filter(F.size("_w") >= n)
    )
    return w.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_w") - n),
                lambda p: F.array_join(F.slice("_w", p + 1, n), " "),
            )
        ).alias("pos", "gram"),
    )


def _dup_positions(
    df: DataFrame,
    text_col: str,
    n: int,
    min_count: int,
    hash_grams: bool = False,
) -> DataFrame:
    """(doc_id, pos) of every n-gram occurrence whose gram occurs
    >= min_count times corpus-wide (within-doc repeats count — any
    substring the corpus contains twice is a duplicated substring).

    Spelled as partial-agg + semi-join rather than a count window on
    purpose: a boilerplate mega-gram with 10^8 occurrences collapses
    to one row per map partition before the shuffle (map-side
    combine), and the probe side reuses the same gram exchange under
    AQE — a count(*) OVER (PARTITION BY gram) window would instead
    buffer the entire hot posting list in one task.

    ``hash_grams=True`` replaces the gram string with its xxhash64
    BEFORE the shuffle — at the Lee et al. 2022 production span
    length (n ~ 50 words, ~300-byte gram strings) the exchange key
    shrinks ~40x, which is the difference between a shippable and an
    unshippable gram shuffle at 10^10 positions. The tradeoff is a
    64-bit collision could mark a unique position duplicated
    (~N²/2^65 expected false positives — negligible and benign for a
    dedup FILTER); the exact-string path stays the default so the
    DuckDB oracle replays bit-for-bit."""
    grams = _positioned_grams(df, text_col, n)
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gram")
    )
    return grams.join(hot, "gram", "left_semi").select("doc_id", "pos")


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_count: int = 2,
    min_len: int = 3,
    hash_grams: bool = False,
) -> DataFrame:
    """Exact duplicated-substring spans, the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    substring-dedup shape re-expressed as a distributed k-gram index
    instead of a monolithic suffix array: a word position is
    *duplicated* when the n-gram starting there occurs >= min_count
    times corpus-wide; maximal runs of consecutive duplicated
    positions become spans covering words [span_start,
    span_start + span_len). Reference scope: spatula dedupes URLs
    only (/root/reference/src/spatula/core.py:89); substring-level
    text dedup is this engine's training-data mandate.

    Returns (doc_id, span_start, span_len) with span_len >= min_len,
    span_len counted in WORDS (a run of positions [s..e] covers
    e - s + n words). Two shuffles total: one on gram (partial-agg +
    AQE-reused semi-join probe, see _dup_positions) and one on doc_id
    for the gap-and-islands window — both keys are slim, neither
    carries text payloads. The production span length is n ~ 50 words
    (the Lee et al. 2022 shape); at that n pass ``hash_grams=True``
    so the gram exchange carries 8-byte xxhash64 keys instead of
    ~300-byte strings (see _dup_positions); the string key stays the
    default so the DuckDB oracle replays the exact pipeline."""
    dup = _dup_positions(df, text_col, n, min_count, hash_grams)
    isl = dup.withColumn(
        "_grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return (
        isl.groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + n).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("doc_id", "span_start", "span_len")
    )


def duplicate_token_ratio(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_count: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Per-doc fraction of words covered by a duplicated span — the
    actionable substring-dedup FILTER metric (drop or trim docs whose
    duplicated fraction exceeds a budget). A word index t is covered
    when any duplicated n-gram position p satisfies p <= t <= p+n-1;
    coverage is counted as DISTINCT covered indices, so overlapping
    spans don't double-count. Emits (doc_id, n_tokens, dup_tokens,
    dup_ratio) for docs with any coverage; dup_ratio is an
    integer-count division rounded to 6 places (bit-identical
    cross-engine). Shuffles: the gram exchange from _dup_positions
    plus one distinct + agg on (doc_id, tok) — all slim keys."""
    sizes = (
        _spread(df)
        .select(
            "doc_id",
            F.size(normalized_words(F.col(text_col))).alias("n_tokens"),
        )
    )
    cov = (
        _dup_positions(df, text_col, n, min_count, hash_grams)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + n - 1)
            ).alias("tok"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    return cov.join(sizes, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.round(F.col("dup_tokens") / F.col("n_tokens"), 6).alias(
            "dup_ratio"
        ),
    )


# ----------------------------------------------------------------- simhash

SIMHASH_BITS = 64


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Per-document 64-bit SimHash: for each bit j, sum +-1 over words
    by bit j of the word's hash; sign -> bit.

    Hashing stays NATIVE (two md5 transforms per word array — bits
    0-31 from hash(word), 32-63 from hash(word || ':b'), exactly what
    the DuckDB oracles mirror); only the 64 bit-fold moves to an
    Arrow-vectorized UDF over the precomputed hash arrays. The fold is
    pure integer arithmetic (popcount per bit position), so the result
    is bit-identical to the Catalyst reference :func:`simhash_ref`
    (pinned per-row in tests) — the 64 interpreted aggregate passes per
    document it replaces were the dominant cost."""
    if bits != SIMHASH_BITS:
        return simhash_ref(text, bits)
    w = normalized_words(text)
    h_lo = F.transform(w, lambda s: portable_hash64(s))
    h_hi = F.transform(
        w, lambda s: portable_hash64(F.concat(s, F.lit(":b")))
    )
    return _simhash_fold_udf(h_lo, h_hi)


@F.pandas_udf(T.LongType())
def _simhash_fold_udf(lo: pd.Series, hi: pd.Series) -> pd.Series:
    j32 = np.arange(32, dtype=np.uint64)
    out: list = [None] * len(lo)
    for i, (ls, hs) in enumerate(zip(lo.to_numpy(), hi.to_numpy())):
        if ls is None or hs is None:
            continue  # null text -> null simhash (native-form parity)
        val = np.uint64(0)
        for off, arr in ((0, ls), (32, hs)):
            a = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            n = len(a)
            ones = ((a[:, None] >> j32) & np.uint64(1)).sum(axis=0)
            bits_set = (2 * ones > n)  # sum(+-1) > 0
            val |= np.uint64(
                np.packbits(bits_set.astype(np.uint8), bitorder="little")
                .view(np.uint32)[0]
            ) << np.uint64(off)
        out[i] = int(val.astype(np.int64))
    return pd.Series(out, dtype="object")


def simhash_ref(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Pure-Catalyst SimHash reference (what the DuckDB oracles mirror
    structurally); :func:`simhash` must equal it bit-for-bit."""
    w = normalized_words(text)
    h_lo = F.transform(w, lambda s: portable_hash64(s))
    h_hi = F.transform(
        w, lambda s: portable_hash64(F.concat(s, F.lit(":b")))
    )

    def bit_contrib(arr: Column, j: int) -> Column:
        # closure factory: pyspark introspects lambda arity, so the
        # bit index must be captured by closure, not default arg
        def merge(a, hv):
            return a + F.when(
                F.shiftright(hv, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        return F.aggregate(arr, F.lit(0).cast("long"), merge)

    acc = F.lit(0).cast("long")
    for j in range(bits):
        arr, jj = (h_lo, j) if j < 32 else (h_hi, j - 32)
        # shiftleft(1L, 63) natively yields the sign bit — no literal
        # overflow; disjoint bits combine with OR
        bit = F.when(
            bit_contrib(arr, jj) > 0,
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        acc = acc.bitwiseOR(bit)
    return acc


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, candidate-limited by
    16-bit quarter-keys: <=3 flipped bits across 4 disjoint 16-bit
    bands leave at least one band identical (pigeonhole), so the bucket
    join is COMPLETE for max_hamming<=3 — the oracle brute-forces all
    pairs and must agree exactly.

    Scale: 65,536 buckets per band (vs 256 with the round-1 8-bit keys
    over a 32-bit hash, which degenerated toward all-pairs beyond ~10^5
    docs) — expected within-bucket candidates shrink ~N^2/65536 per
    band; ``max_bucket`` bounds the residual identical-fingerprint
    clique case (see :func:`_cap_buckets`).

    The banded join itself is :func:`hamming_near_dups` at n_bands=4
    (identical quarter-key scheme — one implementation, one cap)."""
    sh = _spread(df).select(
        "doc_id", simhash(F.col(text_col)).alias("sh")
    ).persist()
    out = hamming_near_dups(
        sh, "doc_id", "sh", max_hamming, n_bands=4,
        max_bucket=max_bucket, stats=stats,
    )
    return (
        out.withColumnRenamed("doc_id_a", "doc_a")
        .withColumnRenamed("doc_id_b", "doc_b")
    )


def hamming_near_dups(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    n_bands: int | None = None,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Generic hamming-radius self-join over any 64-bit fingerprint
    column (SimHash, DCT image pHash, audio fingerprints, ...).

    Two complete schemes, auto-selected; both are the bucket join
    :func:`_bucket_pairs` on ``(band, key)`` followed by an exact
    hamming filter:

    * **banded** (``n_bands`` given, or radius <= 3): ``n_bands``
      disjoint bands of ``64/n_bands`` bits; <= ``max_hamming`` flips
      leave >=1 band identical whenever ``max_hamming < n_bands``.
      Bucket count per band is ``2^(64/n_bands)`` — fine while bands
      stay >= 16 bits wide.
    * **multi-index** (radius 4-11, default): the banded scheme at
      radius 7 would need 8-bit bands = 256 buckets/band, the same
      quadratic-candidate trap the 256-bucket SimHash bands hit (a
      10^6-row corpus makes ~n^2/256 candidates per band). Instead: 4
      blocks of 16 bits; by pigeonhole some block carries <=
      ``max_hamming // 4`` of the flips, so expanding ONE join side's
      block key by all <=q-bit flips (q=1 -> 17 keys, q=2 -> 137) and
      matching the other side exactly is complete — with 65,536
      buckets per block (Norouzi et al., multi-index hashing). The
      expansion masks are plan-build-time literals; the join is a
      plain equi-join on (block, key), so it shuffles short keys only
      and AQE handles skewed buckets. Both schemes are asserted equal
      to the brute-force all-pairs join in tests.

    ``max_bucket`` caps identical-fingerprint mega-buckets in either
    scheme (star edges to the bucket-min id above the cap, the
    connectivity-preserving contract of :func:`_cap_buckets`);
    ``stats`` receives cap telemetry when given. In the multi-index
    scheme the cap applies to the exact side: probe rows from outside
    a capped bucket meet only its hub (the lossy, documented trade —
    an outside probe within radius of a member but not hub-connected
    through any other small bucket is dropped).
    """
    mih = n_bands is None and 3 < max_hamming <= 11
    if n_bands is None:
        n_bands = 4 if mih else max_hamming + 1
    if not (0 < n_bands <= 64 and 64 % n_bands == 0):
        raise ValueError("n_bands must divide 64")
    if max_hamming >= n_bands and not mih:
        raise ValueError(
            f"completeness needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    h = df.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    )
    bands = h.select(
        "_id", "_h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("b"),
                    F.shiftright("_h", width * b).bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("_id", "_h", "bk.b", "bk.key")
    probe = None
    if mih:  # probe side: every <=q-flip variant of each block key
        masks = [0] + [1 << j for j in range(16)]
        if max_hamming // 4 >= 2:
            masks += [(1 << i) | (1 << j)
                      for i in range(16) for j in range(i + 1, 16)]
        probe = bands.select(
            "_id", "_h", "b",
            F.explode(F.transform(
                F.array(*[F.lit(m) for m in masks]),
                lambda m: F.col("key").bitwiseXOR(m),
            )).alias("key"),
        )
    cands = _bucket_pairs(
        bands, ["b", "key"], "_id", max_bucket, "_h", stats, probe
    )
    ham = F.bit_count(F.col("_pa").bitwiseXOR(F.col("_pb")))
    return cands.select(
        F.col("_a").alias(id_col + "_a"),
        F.col("_b").alias(id_col + "_b"),
        ham.cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ----------------------------------------------- connected components
def connected_components(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph ->
    ``(node, component)`` where ``component`` is the smallest node id
    in the node's component.

    Dedup at corpus scale clusters the candidate-pair graph instead of
    greedily dropping the larger member of each pair (greedy pair-drop
    over-deletes chains: for a~b, b~c but a!~c it keeps only a;
    clustering keeps one doc per *component* and gives every doc a
    stable cluster id for provenance).

    Algorithm: Boruvka-style tree hanging + pointer doubling (the PRAM
    CC shape, same family as GraphFrames' big-star/small-star). Each
    outer round (1) hangs every node from ``min(self, neighbors)`` —
    parent pointers strictly decrease, so they form a forest; (2)
    flattens the forest to its roots by pointer doubling,
    ``parent <- parent(parent)``, O(log depth) self-joins — this is
    what kills the adversarial increasing-id chain (doc i near-dup of
    doc i-1, the shape an incremental crawl of drifting pages emits),
    where plain hash-min label propagation needs O(n) rounds; (3)
    contracts edges to root pairs. Every tree merges with at least the
    tree holding its min neighbor, so trees per component at least
    halve per outer round: O(log n) outer rounds, O(log^2 n) short-key
    shuffle joins worst case, each on the *contracted* graph. State is
    ``localCheckpoint``-ed per round so lineage stays flat; no
    driver-side collect at any size (the only actions are per-round
    empty/convergence probes on contracted state).

    ``stats``, when given, receives ``{"rounds": k, "jumps": j}`` —
    outer contraction rounds and total pointer-doubling joins — so
    scale harnesses can assert round counts stay ~constant as the
    corpus grows (see scripts/sf1_battery.py).
    """
    from pyspark.sql import Observation

    # convergence probes ride Observations on the eager localCheckpoint
    # jobs (metrics fire when the checkpoint materializes — verified on
    # this Spark), so neither the per-jump "did any pointer move" check
    # nor the per-round "any edges left" check costs an extra job: the
    # r5 shape paid one join+isEmpty job per jump and one isEmpty per
    # round, which dominated the whole operator at small graph sizes
    # (fixed per-job cost x O(log^2 n) probes).
    e_obs = Observation()
    e = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .observe(e_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = int(e_obs.get["n"])
    comp = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("rep"))
        .localCheckpoint(eager=True)
    )
    rounds = jumps = 0
    for _ in range(max_iter):
        if n_edges == 0:
            break
        rounds += 1
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # hang: parent = min(self, neighbors); strictly-decreasing
        # pointers == a forest over the contracted node set
        par = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select(
                F.col("u").alias("_n"), F.least("u", "_mn").alias("_p")
            )
            .localCheckpoint(eager=True)
        )
        # flatten: pointer doubling until parent(parent) == parent
        for _ in range(max_iter):
            gp = par.select(
                F.col("_n").alias("_pn"), F.col("_p").alias("_gp")
            )
            jumps += 1
            j_obs = Observation()
            nxt = (
                par.join(gp, par["_p"] == gp["_pn"], "left")
                .select(
                    "_n",
                    F.col("_p").alias("_old"),
                    F.coalesce("_gp", "_p").alias("_p"),
                )
                .observe(
                    j_obs,
                    F.sum(
                        (F.col("_p") != F.col("_old")).cast("long")
                    ).alias("moved"),
                )
                .localCheckpoint(eager=True)
                .select("_n", "_p")
            )
            settled = int(j_obs.get["moved"] or 0) == 0
            par = nxt
            if settled:
                break
        else:
            raise RuntimeError(
                f"pointer doubling did not flatten in {max_iter} rounds"
            )
        # fold this round's roots into the global assignment
        comp = (
            comp.join(par, comp["rep"] == par["_n"], "left")
            .select("node", F.coalesce("_p", "rep").alias("rep"))
            .localCheckpoint(eager=True)
        )
        # contract edges to root pairs
        ru = par.select(F.col("_n").alias("u"), F.col("_p").alias("_ru"))
        rv = par.select(F.col("_n").alias("v"), F.col("_p").alias("_rv"))
        e_obs = Observation()
        e = (
            e.join(ru, "u")
            .join(rv, "v")
            .filter(F.col("_ru") != F.col("_rv"))
            .select(
                F.least("_ru", "_rv").alias("u"),
                F.greatest("_ru", "_rv").alias("v"),
            )
            .distinct()
            .observe(e_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_edges = int(e_obs.get["n"])
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats.update(rounds=rounds, jumps=jumps)
    return comp.select("node", F.col("rep").alias("component"))
