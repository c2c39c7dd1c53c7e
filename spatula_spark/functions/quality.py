"""Corpus-quality operators: repetition filters, decontamination,
quality-weighted sampling — the filter layer of a training-data
pipeline, 100% native Catalyst.

The reference (spatula) scrapes; it has no corpus hygiene. These are
the operators a 100 TB image+caption corpus needs between crawl and
training, each a pure column function (whole-stage codegen, zero
Python in the hot path, zero shuffles except where noted) with exact
DuckDB mirrors wired in ``entry_queries``:

* :func:`repetition_profile` — Gopher-style repeated-n-gram fractions
  (Rae et al. 2021 §A1.1 "repetition removal"): duplicate word /
  bigram / trigram fractions and an adjacent-duplicate-word fraction,
  plus a keep flag. Map-side only — per-row array expressions, no
  shuffle, so it streams at scan speed over any corpus size.
* :func:`decontaminate` — benchmark n-gram overlap flagging (the
  GPT-3/PaLM eval-decontamination step): any document sharing a word
  3-gram with the benchmark set is flagged. The benchmark gram set is
  broadcast (benchmark suites are ~10^6 grams — MBs), so the corpus
  side stays a map-side broadcast join; the only shuffle is the final
  per-doc count. At larger benchmark sets swap the broadcast for the
  sharded Bloom filter in ``operators/seen.py`` (same anti-join
  shape the crawl frontier uses).
* :func:`weighted_sample` — deterministic importance sampling: keep a
  row iff portable_hash(id)/2^60 < weight. A pure column predicate —
  stable under repartitioning/cluster size (unlike ``df.sample``'s
  per-partition RNG), recomputable by any engine from the id alone,
  and zero-shuffle, so sampling 100 TB costs one scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..urls import portable_hash64
from .dedup import _spread, normalized_words, word_shingles

# keep thresholds, calibrated so the synthetic corpus splits both ways
# (the operator shape is the point; production thresholds are Gopher's)
MAX_DUP_WORD_FRAC = 0.55
MAX_DUP_BIGRAM_FRAC = 0.05
MAX_ADJACENT_DUP_FRAC = 0.08

SAMPLE_DENOM = float(1 << 60)  # portable_hash64 is uniform in [0, 2^60)


def word_ngrams_from(w: Column, n: int) -> Column:
    """All word n-grams of an ALREADY-PROJECTED words-array column,
    WITH multiplicity (repetition metrics need counts; the distinct
    variant is :func:`~spatula_spark.functions.dedup.word_shingles`).
    Empty array when the doc has fewer than n words. Nested zip_with
    over shifted slices keeps the array OUTSIDE every lambda: Catalyst
    does not CSE across lambda boundaries, so callers must project the
    array first (see dedup.word_shingles for the measurements)."""
    m = F.size(w) - n + 1
    acc = F.slice(w, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(w, k + 1, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(w) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def _dup_frac(grams: Column) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier
    occurrence: (total - distinct) / total."""
    total = F.size(grams)
    dup = total - F.size(F.array_distinct(grams))
    return F.round(dup / F.greatest(total, F.lit(1)), 6)


def adjacent_dup_frac(text: Column) -> Column:
    """Fraction of adjacent word pairs that are the same word — the
    "aaaa aaaa aaaa" degenerate-generation signal."""
    return adjacent_dup_frac_from(normalized_words(text))


def adjacent_dup_frac_from(w: Column) -> Column:
    n1 = F.size(w) - 1
    eq = F.zip_with(
        F.slice(w, 1, n1), F.slice(w, 2, n1), lambda a, b: a == b
    )
    adj = F.when(
        F.size(w) >= 2, F.size(F.filter(eq, lambda x: x))
    ).otherwise(F.lit(0))
    return F.round(adj / F.greatest(F.size(w) - 1, F.lit(1)), 6)


def repetition_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition metrics + keep flag. Map-side only.

    r6 shape fix: the words array and the bigram/trigram arrays are
    projected into real columns, and each metric is computed once with
    the keep flag derived from the metric COLUMNS — the inlined form
    evaluated the normalize+split subtree ~40x per row inside one
    interpreted Project (no codegen for HOF-bearing Projects, hence no
    subexpression elimination: the lambda-CSE trap measured in
    lm.bigrams_from_words). Deliberately NOT spread: the operator's
    contract is exchange-free scan-speed streaming (pinned by
    test_repetition_profile_is_map_side_only), and with the CSE fix
    the per-row work is 5x cheaper anyway."""
    base = df.withColumn(
        "__w", normalized_words(F.col(text_col))
    ).withColumn(
        "__b2", word_ngrams_from(F.col("__w"), 2)
    ).withColumn(
        "__b3", word_ngrams_from(F.col("__w"), 3)
    )
    w = F.col("__w")
    m = base.select(
        "doc_id",
        F.size(w).alias("n_words"),
        _dup_frac(w).alias("dup_word_frac"),
        _dup_frac(F.col("__b2")).alias("dup_bigram_frac"),
        _dup_frac(F.col("__b3")).alias("dup_trigram_frac"),
        adjacent_dup_frac_from(w).alias("adjacent_dup_frac"),
    )
    keep = (
        (F.col("dup_word_frac") <= MAX_DUP_WORD_FRAC)
        & (F.col("dup_bigram_frac") <= MAX_DUP_BIGRAM_FRAC)
        & (F.col("adjacent_dup_frac") <= MAX_ADJACENT_DUP_FRAC)
    )
    return m.select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        "dup_bigram_frac",
        "dup_trigram_frac",
        "adjacent_dup_frac",
        keep.alias("keep"),
    )


def benchmark_member(id_col: Column, mod: int = 20, salt: str = "bench") -> Column:
    """Deterministic pseudo-benchmark membership: hash-buckets 1/mod of
    the ids. Stands in for a real eval-suite doc list (which would arrive
    as its own table); keeps the operator self-contained and oracle-
    reproducible."""
    return (
        F.pmod(
            portable_hash64(F.concat(F.lit(salt + ":"), id_col.cast("string"))),
            F.lit(mod),
        )
        == 0
    )


def decontaminate(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    bench_mod: int = 20,
    broadcast_max_grams: int | None = 5_000_000,
) -> DataFrame:
    """Flag corpus docs sharing any word n-gram with the benchmark set.

    Returns (doc_id, n_hit_shingles, contaminated) for every
    non-benchmark doc. The benchmark gram set is deduped then
    broadcast; corpus grams are exploded map-side and left-joined
    against it, so the lone shuffle is the per-doc hit count
    aggregation (keyed on doc_id — no skew: explode fan-out is bounded
    by doc length)."""
    t = F.col(text_col)
    is_bench = benchmark_member(F.col("doc_id"), bench_mod)
    # higher-order array functions are interpreted (no codegen), so the
    # shingle build is CPU-bound: spread the handful-of-file input to
    # full session width before computing it
    spread = _spread(df)
    bench_grams = (
        spread.filter(is_bench)
        .select(F.explode(word_shingles(t, n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    rest_grams = spread.filter(~is_bench).select(
        "doc_id", F.explode(word_shingles(t, n)).alias("gram")
    )
    # broadcast only while the gram set is broadcast-sized (one
    # bounded count job on the small side); oversized benchmark sets
    # fall back to a shuffle join — same result, and the next step up
    # is the sharded-Bloom prefilter from operators/seen.py
    if broadcast_max_grams is None or (
        bench_grams.count() <= broadcast_max_grams
    ):
        bench_grams = F.broadcast(bench_grams)
    hits = (
        rest_grams.join(bench_grams, "gram", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit_shingles"))
    )
    return hits.select(
        "doc_id",
        "n_hit_shingles",
        (F.col("n_hit_shingles") > 0).alias("contaminated"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    salt: str = "qsample",
) -> DataFrame:
    """Keep each row independently with probability ``weight`` (a
    column in [0, 1]), deterministically: u = hash(salt:id)/2^60 and
    keep iff u < weight. Same-id rows always get the same verdict;
    the expected kept fraction is mean(weight)."""
    u = (
        portable_hash64(
            F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
        ).cast("double")
        / F.lit(SAMPLE_DENOM)
    )
    return df.filter(u < weight)


C4_BADWORDS = ("casino", "xxx", "viagra")
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3


def c4_clean(
    df: DataFrame,
    lines_col: str = "lines",
    badwords: tuple[str, ...] = C4_BADWORDS,
    min_line_words: int = C4_MIN_LINE_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, the T5 corpus
    recipe) over a pre-split ``array<string>`` lines column:

    - LINE rule: keep a line iff it ends in terminal punctuation
      (. ! ? ") and has at least ``min_line_words`` words.
    - PAGE rules, in C4's order: drop pages containing '{' (code),
      the phrase 'lorem ipsum' (template filler), any bad word;
      then drop pages with fewer than ``min_kept_lines`` surviving
      lines.

    Entirely higher-order-function arithmetic on the lines array —
    zero joins, zero shuffles, scan-speed; the verdict CASE is the
    first reason that fires, so the oracle replay is order-exact.
    Returns (doc_id, n_lines, n_kept, clean_chars, verdict) where
    clean_chars is the total length of the kept lines (the size the
    cleaned corpus would actually ship).
    """
    is_kept = (
        lambda x: x.rlike('[.!?"]$')
        & (F.size(F.split(x, " ")) >= min_line_words)
    )
    # project the kept-lines array once: it feeds three consumers
    # (count, char sum, verdict threshold) and the line filter is the
    # expensive pass (regex + split per line). Spread widen-only first
    # (guide §2.5 single-file inputs).
    staged = _spread(df).withColumn(
        "__kept", F.filter(F.col(lines_col), is_kept)
    )
    lines = F.col(lines_col)
    kept = F.col("__kept")
    has = lambda needle: F.exists(
        lines, lambda x: x.contains(needle)
    )
    any_bad = F.exists(
        lines,
        lambda x: F.arrays_overlap(
            F.split(F.lower(x), "[^a-z0-9]+"),
            F.array(*[F.lit(b) for b in badwords]),
        ),
    )
    verdict = (
        F.when(has("{"), F.lit("brace"))
        .when(
            F.exists(lines, lambda x: F.lower(x).contains("lorem ipsum")),
            F.lit("lorem"),
        )
        .when(any_bad, F.lit("badword"))
        .when(F.size(kept) < min_kept_lines, F.lit("too_few_sentences"))
        .otherwise(F.lit("ok"))
    )
    return staged.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.aggregate(
            kept, F.lit(0), lambda acc, x: acc + F.length(x)
        ).alias("clean_chars"),
        verdict.alias("verdict"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
) -> DataFrame:
    """The Gopher word-level quality rules (Rae et al. 2021, App. A):
    word count in [min_words, max_words]; mean word length in
    [3, 10]; symbol-to-word ratio ('#' or ellipsis words) <= 10%;
    >= 80% of words contain an alphabetic character; >= 2 words from
    Gopher's 8-stopword list. (The paper's line-shape rules —
    bullet-start / ellipsis-end fractions — need a lines column and
    live with the C4 recipe's line machinery instead.)

    Every threshold is cross-multiplied into integer comparisons
    (mean length bounds become min*n <= sum_chars <= max*n, the 10%
    symbol rule becomes 10*n_sym > n, the 80% alpha rule becomes
    5*n_alpha < 4*n), so no float touches a verdict and any SQL
    engine replays the CASE chain bit-for-bit. Verdict is the FIRST
    failing rule in the paper's listing order. One narrow projection
    over the word array: no joins, no shuffles, scan-speed.
    """
    from .dedup import normalized_words

    # project the words array into a real column: five lambda-bearing
    # metrics read it, and Catalyst does not CSE across lambda
    # boundaries — inlined, the split would re-run per element per
    # metric (the measured 13x trap documented in lm.bigrams_from_words)
    df = _spread(df).withColumn("__w", normalized_words(F.col(text_col)))
    w = F.col("__w")
    n = F.size(w)
    sum_chars = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_sym = F.size(
        F.filter(w, lambda x: x.contains("#") | x.contains("..."))
    )
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    n_stop = F.size(
        F.filter(w, lambda x: x.isin(*GOPHER_STOPWORDS))
    )
    # metrics once (each an array pass); the verdict CASE reads the
    # metric COLUMNS — inlining it doubled every pass (r6 plan diff)
    m = df.select(
        "doc_id",
        n.alias("n_words"),
        sum_chars.alias("sum_word_chars"),
        n_sym.alias("n_symbol_words"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stopwords"),
    )
    nw = F.col("n_words")
    verdict = (
        F.when(
            (nw < min_words) | (nw > max_words), F.lit("word_count")
        )
        .when(
            (F.col("sum_word_chars") < min_mean_len * nw)
            | (F.col("sum_word_chars") > max_mean_len * nw),
            F.lit("mean_word_len"),
        )
        .when(F.col("n_symbol_words") * 10 > nw, F.lit("symbol_ratio"))
        .when(F.col("n_alpha_words") * 5 < nw * 4, F.lit("alpha_frac"))
        .when(F.col("n_stopwords") < 2, F.lit("stopwords"))
        .otherwise(F.lit("ok"))
    )
    return m.select(
        "doc_id",
        "n_words",
        "sum_word_chars",
        "n_symbol_words",
        "n_alpha_words",
        "n_stopwords",
        verdict.alias("verdict"),
    )
