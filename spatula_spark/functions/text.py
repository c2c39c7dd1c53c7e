"""Text-analysis operators for training-data pipelines — 100% native.

The reference has no text analytics (its ``process_page`` hooks are
arbitrary user Python); these are the engine-level operators a
100 TB document pipeline needs, each expressed as Catalyst column
functions (whole-stage codegen, no Python) with exact DuckDB-SQL
equivalents wired in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import _broadcast_rows_budget, local_df, scoped_conf

# tiny embedded stopword lists for the language-ID heuristic; the
# point is the *operator shape* (vectorized n-gram/marker scoring),
# not linguistic accuracy
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "nicht"),
    "es": ("el", "la", "que", "de", "y"),
    "fr": ("le", "la", "et", "les", "des"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the baseline tokenizer)."""
    return F.split(F.trim(text), "\\s+")


def token_count_from(text: Column, toks: Column) -> Column:
    """Token count from an ALREADY-PROJECTED tokens-array column (the
    lambda-CSE-safe form — see lm.bigrams_from_words for the trap)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )


def token_count(text: Column) -> Column:
    return token_count_from(text, tokens(text))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword-boundary token count: punctuation marks split
    into their own tokens (the pre-tokenization a BPE tokenizer does
    before merges). Spelled lookahead-free (RE2-safe, so the DuckDB
    oracle evaluates the identical regex): space-pad each punctuation
    mark, then count whitespace tokens."""
    padded = F.regexp_replace(text, "([.,!?;:])", " $1 ")
    return F.when(F.length(F.trim(padded)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(padded), "\\s+"))
    )


def stopword_count_from(toks: Column) -> Column:
    return F.size(
        F.filter(toks, lambda w: F.lower(w).isin(*STOPWORDS))
    )


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, "[.,!?;:]", ""))


def quality_score_from(text: Column, toks: Column) -> Column:
    """:func:`quality_score` over a projected tokens column."""
    n_tok = token_count_from(text, toks)
    stop_ratio = stopword_count_from(toks) / F.greatest(n_tok, F.lit(1))
    punct_ratio = punct_count(text) / F.greatest(F.length(text), F.lit(1))
    return (
        F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((stop_ratio >= 0.05) & (stop_ratio <= 0.6), F.lit(0.4))
        .otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
    )


def quality_score(text: Column) -> Column:
    """Cheap composite quality heuristic: length band + stopword ratio
    band - punctuation-spam penalty. Deterministic, pure-native; the
    exact formula is mirrored in the DuckDB oracle."""
    return quality_score_from(text, tokens(text))


def lang_marker_score_from(toks: Column, lang: str) -> Column:
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda w: F.lower(w).isin(*markers)))


def lang_id_from(toks: Column) -> Column:
    """:func:`lang_id` over a projected tokens column."""
    scores = [
        (lang, lang_marker_score_from(toks, lang)) for lang in LANG_MARKERS
    ]
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in reverse so earlier languages win ties (> not >=)
    for lang, score in reversed(scores):
        take = score > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, score).otherwise(best_score)
    return best


def lang_id(text: Column) -> Column:
    """Marker-count language ID: argmax over per-language marker hits,
    ties resolved in fixed key order, zero hits -> 'und'."""
    return lang_id_from(tokens(text))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, lowercased
    text — the exact-dedup key (content-defined rolling-hash chunking
    is the MinHash shingle path in dedup.py)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), "\\s+", " ")))


def winnow_fingerprints_fast(text_col, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS rolling-hash selection): hash every k-word
    gram, slide a w-hash window, keep each window's MINIMUM; the
    distinct selected hashes are the document's fingerprint set.

    Guarantee: two documents sharing any run of >= w+k-1 words share
    at least one selected fingerprint, at an expected density of only
    2/(w+1) of all grams — the sparse, position-robust join key a
    plagiarism / substring-level near-dup pass uses at corpus scale.
    Short docs (< k words) hash the whole text; <= w grams yield one
    global minimum.

    A pandas UDF, bit-identical by construction (the ASCII-\\s
    normalization twin the minhash fast path pins, the md5-prefix
    portable hash) to the pure-Catalyst spelling the DuckDB oracle
    replays, which lives in tests and is asserted equal there. That
    spelling is interpreted end-to-end (HOFs get no codegen) and
    measured 42 s at sf0.01 even spread across cores; this computes
    the same selection in ~1 s."""
    import hashlib
    import re

    from pyspark.sql import types as T

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _win(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([None])  # matches the Catalyst form's [null]
                continue
            words = ws_re.sub(" ", t.strip(" ")).lower().split(" ")
            if len(words) >= k:
                grams = [
                    " ".join(words[i:i + k])
                    for i in range(len(words) - k + 1)
                ]
            else:
                grams = [" ".join(words)]
            hs = [
                int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                for g in grams
            ]
            if len(hs) > w:
                sel = {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}
            else:
                sel = {min(hs)}
            out.append(sorted(sel))
        return pd.Series(out)

    return _win(text_col)


def anchor_text_topk(
    links: DataFrame,
    dst_col: str = "dst",
    host_col: str = "src_host",
    text_col: str = "anchor",
    k: int = 3,
) -> DataFrame:
    """Per-target top-``k`` anchor phrases from a link graph — the
    web-search / WebLI-style signal where the text OTHER pages use to
    link to a page labels that page (often better than its own title).
    Anti-spam weighting: a phrase is ranked first by how many distinct
    *source hosts* use it (one host repeating an anchor a million
    times counts once), then by raw link count, then lexically —
    all-integer keys, so a cross-engine oracle is exact. Anchors are
    normalized (trim / lowercase / collapse runs of whitespace) before
    counting.

    Plan shape at a 10^11-edge link graph (pinned in test_plans.py):
    join-free, exactly three keyed exchanges — the (dst, phrase, host)
    pre-distinct aggregate with map-side partials (the only one that
    sees edge-scale data), the (dst, phrase) distinct rollup, and the
    per-dst window over the anchor-vocabulary-sized result. Never a
    self-join, never a collect."""
    from pyspark.sql import Window

    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    per = (
        links.select(
            F.col(dst_col).alias("dst"), F.col(host_col).alias("h"),
            norm.alias("phrase"),
        )
        .groupBy("dst", "phrase")
        .agg(
            F.countDistinct("h").alias("n_hosts"),
            F.count("*").alias("n_links"),
        )
    )
    w = Window.partitionBy("dst").orderBy(
        F.col("n_hosts").desc(), F.col("n_links").desc(), "phrase"
    )
    return (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("dst", "phrase", "n_hosts", "n_links", "rn")
    )


def feature_hash_embedding(
    words: Column, dim: int = 16, seed: str = "fh"
) -> Column:
    """Hashing-trick text embedding (Weinberger et al., ICML 2009):
    every token hashes to one of ``dim`` buckets and contributes a ±1
    sign drawn from an independent bit of the same hash. No vocabulary
    and no fit step, so the projection is stateless — identical on
    every executor with nothing broadcast — which is what makes it
    usable as the deterministic stand-in for a learned text encoder in
    alignment / similarity filters at 100 TB (a real model embedding
    slots into the same array<double> column).

    Pure HOF arithmetic per row (transform × aggregate), zero
    shuffles; ``portable_hash64`` keeps a DuckDB oracle bit-exact
    (the bucket sums are exact small integers, so cross-engine
    float drift is impossible before any later normalization).
    """
    from ..urls import portable_hash64

    def term(w: Column, d: Column) -> Column:
        h = portable_hash64(F.concat(F.lit(seed + ":"), w))
        sign = F.when(
            F.shiftright(h, 59).bitwiseAND(F.lit(1)) == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
        return F.when(h % dim == d, sign).otherwise(F.lit(0.0))

    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)).cast("array<bigint>"),
        lambda d: F.aggregate(
            words, F.lit(0.0), lambda acc, w: acc + term(w, d)
        ),
    )


def feature_hash_embedding_duckdb(
    words_expr: str, dim: int = 16, seed: str = "fh"
) -> str:
    """DuckDB rendering of :func:`feature_hash_embedding` (same hash,
    same sign bit, same bucket arithmetic) for exact oracles."""
    from ..urls import portable_hash64_duckdb

    h = portable_hash64_duckdb(f"'{seed}:' || w")
    term = (
        f"CASE WHEN ({h}) % {dim} = d THEN "
        f"(CASE WHEN (({h}) >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) "
        f"ELSE 0.0 END"
    )
    return (
        f"list_transform(range(0, {dim}), "
        f"d -> list_sum(list_transform({words_expr}, w -> {term})))"
    )


# PII scrub patterns — the lookahead-free common subset of Java regex
# (Spark) and RE2 (DuckDB), so oracles evaluate the identical pattern
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
REDACTED = "<PII>"


def redact_pii(text: Column) -> Column:
    """C4-style PII scrub: replace email addresses and phone numbers
    with a redaction token. Pure regexp_replace — map-side, codegen'd,
    streams at scan speed."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, REDACTED), PHONE_RE, REDACTED
    )


def tfidf_topk(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf, the textbook distributed
    spelling: explode words -> per-(doc, word) term counts -> document
    frequency over the distinct (doc, word) pairs -> score join ->
    per-doc window top-k. Three shuffles total (tf agg, df agg + join,
    doc window), each keyed and skew-free; the df table is vocabulary-
    sized (Heaps-law sublinear in the corpus), so at web scale the
    score join is the only wide one.

    score = tf * ln(N / df). Ranking uses the ROUNDED score (6 dp)
    with the term as tiebreaker so the DuckDB oracle reproduces the
    exact top-k independent of last-ulp libm differences.
    """
    from .dedup import normalized_words

    n_docs = df.count()  # one bounded job; the only driver scalar
    words = df.select(
        "doc_id", F.explode(normalized_words(F.col(text_col))).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("dfreq"))
    scored = tf.join(dfreq, "word").select(
        "doc_id",
        "word",
        "tf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("dfreq")), 6
        ).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "word", "tf", "score")
    )


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass profile: every operator above over a documents table.

    r6: the tokens array is projected into a real column first — the
    inlined form evaluated ``split(trim(text))`` 34x per row in one
    interpreted Project (HOF-bearing Projects get no codegen and no
    subexpression elimination; the lambda-CSE trap measured in
    lm.bigrams_from_words) — and the input is spread to session width
    (widen-only; single-file scans otherwise run the whole per-row
    pipeline on one task, guide §2.5)."""
    from .dedup import _spread

    t = F.col(text_col)
    base = _spread(df).withColumn("__t", tokens(t))
    tk = F.col("__t")
    return base.select(
        "doc_id",
        token_count_from(t, tk).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        stopword_count_from(tk).alias("n_stopwords"),
        punct_count(t).alias("n_punct"),
        F.round(quality_score_from(t, tk), 6).alias("quality"),
        lang_id_from(tk).alias("lang_guess"),
        fingerprint(t).alias("fp"),
    )


def boilerplate_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 10,
) -> DataFrame:
    """CCNet-style cross-page boilerplate removal: a line whose
    whitespace-normalized form appears on >= ``min_df`` distinct pages
    is boilerplate (nav bars, cookie banners, copyright footers) and
    is stripped; unique content lines survive in original order.

    This is the line-frequency variant (Wenzek et al., CCNet 2020 §3.1
    paragraph dedup) rather than a per-page DOM heuristic (jusText) —
    the one that actually needs a cluster, and the one that parallels
    trivially: one map-side-combinable count-distinct aggregate keyed
    by a 60-bit line hash (8-byte shuffle keys, never the line text),
    one hash join back (line-frequency table is distinct-lines-sized,
    Heaps-law sublinear — AQE broadcasts it when small), and one
    per-doc regroup. No window over the corpus, no self-join, no
    collect; every stage is keyed and skew-free (the hottest key is a
    boilerplate line, and counts are combined map-side).

    Returns one row per input doc: kept-line count, total-line count,
    boiler_ratio (rounded 6dp), and the cleaned ``content`` (kept
    lines joined by newline; empty string when everything was
    boilerplate). Empty/whitespace-only lines are never counted as
    boilerplate (they carry no content signal) and are kept verbatim.
    """
    from ..urls import portable_hash64

    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    norm = F.lower(F.regexp_replace(F.trim(F.col("line")), "\\s+", " "))
    keyed = lines.withColumn(
        "lkey", F.when(norm != "", portable_hash64(norm))
    )
    freq = (
        keyed.filter(F.col("lkey").isNotNull())
        .groupBy("lkey")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= min_df)  # ship only the boiler set
    )
    # left-join the (small, boiler-only) frequency table to TAG lines,
    # then ONE conditional per-doc aggregation produces totals, kept
    # count and cleaned content together — vs the naive anti-join +
    # two groupBys + rejoin spelling, this is one keyed exchange
    # instead of three (measured 8 -> ~4 exchanges in BENCH/PLANS.md)
    boiler = F.col("line_df").isNotNull()
    tagged = keyed.join(freq, "lkey", "left").select(
        "doc_id", F.struct("pos", boiler.alias("b"), "line").alias("s")
    )
    n_kept = F.sum(F.when(~F.col("s.b"), 1).otherwise(0))
    content = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(F.collect_list("s")), lambda s: ~s["b"]
            ),
            lambda s: s["line"],
        ),
        "\n",
    )
    return tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        n_kept.alias("n_kept"),
        content.alias("content"),
    ).select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.round(
            (F.col("n_lines") - F.col("n_kept")) / F.col("n_lines"), 6
        ).alias("boiler_ratio"),
        "content",
    )


def logfreq_score(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    text_col: str = "text",
    keep_min: int = 4,
) -> DataFrame:
    """Unigram log-frequency quality score — the integer-exact engine
    shape of CCNet's LM-perplexity filter: train a unigram "model" on
    a reference corpus (token -> corpus count), score each candidate
    document by the mean floor(log2(count)) of its tokens, and flag
    documents below ``keep_min`` (gibberish / OCR noise / spam keyword
    stuffing score near 0 because their tokens are corpus-rare; fluent
    text scores high because common words dominate).

    floor(log2(c)) is computed as ``length(bin(c)) - 1`` — pure integer
    bit-length on both engines, so the oracle is bit-exact with no
    libm log in sight; the per-doc sum is an exact integer and the
    single final division is correctly rounded everywhere.

    Scale shape: one explode -> count aggregate over the reference
    corpus (map-side combined; result is vocabulary-sized), one hash
    join from candidate tokens to that vocab (AQE broadcasts it when
    small; tokens absent from the vocab score 0 = log2(1), the +1
    smoothing), one per-doc regroup. All narrow integer keys.
    """
    from .dedup import normalized_words

    vocab = (
        (lm_docs if lm_docs is not None else docs)
        .select(F.explode(normalized_words(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg((F.length(F.bin(F.count("*"))) - 1).alias("ilog2"))
    )
    toks = docs.select(
        "doc_id", F.explode(normalized_words(F.col(text_col))).alias("tok")
    )
    scored = toks.join(vocab, "tok", "left").groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.coalesce("ilog2", F.lit(0))).alias("sum_ilog2"),
    )
    mean = F.round(F.col("sum_ilog2") / F.col("n_tokens"), 6)
    return scored.select(
        "doc_id",
        "n_tokens",
        "sum_ilog2",
        mean.alias("mean_ilog2"),
        (mean >= keep_min).alias("kept"),
    )


def two_phase_topk(
    df: DataFrame,
    key_col: str,
    order: list[Column],
    k: int,
    n_groups: int = 64,
) -> DataFrame:
    """Exact global top-``k`` by a total order without funnelling the
    full table through one task: phase 1 hash-buckets rows into a
    FIXED ``n_groups`` and takes each bucket's top-k (every global
    top-k row necessarily survives its own bucket's top-k), phase 2
    ranks the <= n_groups*k survivors in one constant-size task. The
    final window partitions by a literal so WindowExec never runs
    with an empty partition spec — its input is bounded by
    n_groups*k regardless of cluster size or corpus vocabulary,
    unlike the single-phase global window whose WindowGroupLimit
    merge grows with input partitions x k. Adds a ``rank`` column
    (1-based)."""
    from pyspark.sql import Window

    gw = Window.partitionBy("_g").orderBy(*order)
    survivors = (
        df.withColumn("_g", F.pmod(F.xxhash64(key_col), F.lit(n_groups)))
        .withColumn("_lr", F.row_number().over(gw))
        .filter(F.col("_lr") <= k)
        .drop("_g", "_lr")
    )
    fw = Window.partitionBy(F.lit(0)).orderBy(*order)
    return survivors.withColumn("rank", F.row_number().over(fw)).filter(
        F.col("rank") <= k
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", k: int = 30
) -> DataFrame:
    """The core aggregate of BPE tokenizer training (Sennrich et al.
    2016): corpus-wide counts of adjacent symbol pairs, from which
    each merge round picks the argmax. Computed the way a real
    tokenizer trainer scales: ONE corpus pass builds the word-
    frequency table (Heaps-law vocabulary-sized), then pair
    generation and counting run over the vocab weighted by frequency
    — pair candidates never touch corpus-scale rows again, so 100 TB
    of text costs one word-count aggregate plus vocab-sized work.

    Symbols here are characters with an explicit end-of-word marker
    '</w>' (the classic formulation's first round); pairs are ranked
    by weighted count desc then pair text, top ``k`` returned —
    integer counts and lexical tie-breaks keep a cross-engine oracle
    exact."""
    from .dedup import normalized_words

    freq = (
        df.select(F.explode(normalized_words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    w, n = F.col("w"), F.length("w")
    inner = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1), lambda i: F.substring(w, i, 2)
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = F.concat(
        inner, F.array(F.concat(F.substring(w, -1, 1), F.lit("</w>")))
    )
    counted = (
        freq.select("n_w", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("n_w").alias("n"))
    )
    # two-phase exact top-k over the PAIR table (alphabet-bounded
    # anyway, but this keeps WindowExec off the empty-partition path)
    return two_phase_topk(
        counted, "pair", [F.col("n").desc(), F.col("pair")], k
    )


# symbol separator in the packed segmentation string; not whitespace,
# so normalized_words can never put it inside a word (a defensive
# filter drops any word that does contain it, on both engine and twin)
BPE_SEP = "\x1f"


def _bpe_segment(word: Column) -> Column:
    """A word's initial packed segmentation: ``SEP c1 SEP ... SEP cn SEP
    </w> SEP`` (characters plus the end-of-word symbol; leading and
    trailing SEP so every symbol boundary is explicit)."""
    chars = F.split(word, "(?!$)")
    return F.concat(
        F.lit(BPE_SEP),
        F.array_join(chars, BPE_SEP),
        F.lit(BPE_SEP + "</w>" + BPE_SEP),
    )


def _bpe_apply(syms: Column, merges) -> Column:
    """Apply the ordered ``(left, right, ...)`` merges to a packed
    segmentation, one boundary-anchored regexp_replace per merge. Java
    regex ``replaceAll`` consumes matches left-to-right without
    overlap, which IS the BPE merge rule, and the ``(?<=SEP)l SEP
    r(?=SEP)`` lookarounds make overlapping occurrences like ``a a a
    a`` merge to ``aa aa`` exactly as the scan-based formulation does.
    The chain stays one projection however long it is."""
    import re as _re

    sep = BPE_SEP
    for left, right, *_ in merges:
        pattern = (
            f"(?<={sep})" + _re.escape(left) + sep
            + _re.escape(right) + f"(?={sep})"
        )
        # Java replacement string: $ and \ are special
        repl = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        syms = F.regexp_replace(syms, pattern, repl)
    return syms


def _bpe_ranked_pairs(
    state: DataFrame, k: int
) -> list[tuple[str, str, int]]:
    """The top ``k`` adjacent symbol pairs of a packed ``(n_w, syms)``
    vocabulary as ``(left, right, n)``, ``n`` weighted by word count,
    in (n DESC, left ASC, right ASC) order: one vocab-sized aggregate
    (map-side combined) and one collect of at most ``k`` rows."""
    arr = F.split(F.col("syms"), BPE_SEP)
    # the packed form splits to ['', s1..sk, ''] — slice the empties
    # off, then adjacent pairs via two shifted slices
    inner = F.slice(arr, 2, F.size(arr) - 2)
    seg = state.select("n_w", inner.alias("s"))
    n = F.size(F.col("s"))
    pairs = F.zip_with(
        F.slice(F.col("s"), 1, n - 1),
        F.slice(F.col("s"), 2, n - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    rows = (
        seg.select("n_w", F.explode(pairs).alias("p"))
        .groupBy("p.l", "p.r")
        .agg(F.sum("n_w").alias("n"))
        .orderBy(F.col("n").desc(), "l", "r")
        .limit(k)
        .collect()
    )
    return [(r["l"], r["r"], int(r["n"])) for r in rows]


def _bpe_merge_batch(
    ranked: list[tuple[str, str, int]], made: set[str], room: int
) -> list[tuple[str, str, int]]:
    """The merges one training round may accept: the longest prefix of
    ``ranked`` that sequential BPE would also pick next, in order.

    ``ranked`` is this round's top pairs as ``(left, right, n)`` in
    (n DESC, left ASC, right ASC) order, at most ``room + 1`` of them;
    ``made`` holds every string merged in earlier rounds; ``room`` is
    how many merges are still wanted. Member ``p_i`` (i >= 2) joins
    only when

    (a) no earlier member is a self-pair ``(a, a)`` — its merge creates
        ``(aa, a)``, bounded only by its own count;
    (b) its left symbol is no earlier member's right symbol and its
        right symbol no earlier member's left symbol, so occurrences of
        members never overlap;
    (c) no earlier member's merged string is already live — a live
        string (``</w>`` or anything merged before) would raise counts
        of pairs holding it; and
    (d) its merged string differs from every earlier member's.

    The batch then drops members from the tail until its last count is
    strictly above the next ranked pair's, or one member is left."""
    batch: list[tuple[str, str, int]] = []
    lefts: set[str] = set()
    rights: set[str] = set()
    merged: set[str] = set()
    for left, right, n in ranked[:room]:
        if batch:
            last_l, last_r, _ = batch[-1]
            if (
                last_l == last_r
                or left in rights
                or right in lefts
                or last_l + last_r in made
                or last_l + last_r == "</w>"
                or left + right in merged
            ):
                break
        batch.append((left, right, n))
        lefts.add(left)
        rights.add(right)
        merged.add(left + right)
    while (
        len(batch) > 1
        and len(ranked) > len(batch)
        and ranked[len(batch)][2] == batch[-1][2]
    ):
        batch.pop()
    return batch


def _bpe_driver_vocab_max(spark) -> int:
    """Distinct words :func:`bpe_train_merges` trains on the driver:
    5% of the heap at ~1.5 KB per word, the word, its symbol list and
    its pair-index entries (the tracemalloc peak of 1,000 merges over
    100k random words of 2-14 letters); ~71k words at a 2 GiB heap,
    ~860k at 24 GiB. A bigger vocabulary trains in the Spark loop."""
    return _broadcast_rows_budget(spark, 0.05, 1500)


def _bpe_train_local(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Sequential BPE over a driver-resident ``(word, n_w)`` vocabulary:
    up to ``n_merges`` merges in training order as ``(left, right, n)``.

    Incremental: a pair -> weighted-count map and a pair -> words index
    are built once; each merge re-segments only the words holding the
    merged pair and applies their pairs' count changes. A heap keyed
    (-count, left, right) holds every pair count ever reached; an entry
    whose count is no longer the pair's is skipped when popped, so the
    top live entry is the (count DESC, left ASC, right ASC) argmax."""
    import heapq
    from collections import defaultdict

    segs = [[*w, "</w>"] for w, _ in vocab]
    weight = [n for _, n in vocab]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    holders: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(segs):
        for pair in zip(syms, syms[1:]):
            counts[pair] += weight[i]
            holders[pair].add(i)
    heap = [(-n, left, right) for (left, right), n in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while heap and len(merges) < n_merges:
        neg, left, right = heapq.heappop(heap)
        if counts.get((left, right)) != -neg:
            continue
        merges.append((left, right, -neg))
        merged = left + right
        delta: dict[tuple[str, str], int] = defaultdict(int)
        for i in holders.pop((left, right)):
            old, new, j = segs[i], [], 0
            # left to right without overlap: the BPE merge rule
            while j < len(old):
                if old[j] == left and old[j + 1:j + 2] == [right]:
                    new.append(merged)
                    j += 2
                else:
                    new.append(old[j])
                    j += 1
            for pair in zip(old, old[1:]):
                delta[pair] -= weight[i]
                holders[pair].discard(i)
            for pair in zip(new, new[1:]):
                delta[pair] += weight[i]
                holders[pair].add(i)
            segs[i] = new
        for pair, d in delta.items():
            if not d:
                continue
            counts[pair] += d
            if counts[pair]:
                heapq.heappush(heap, (-counts[pair], *pair))
            else:
                del counts[pair]
                holders.pop(pair, None)
    return merges


def _bpe_train_spark(
    freq: DataFrame, n_merges: int
) -> list[tuple[str, str, int]]:
    """The batched Spark merge loop over a ``(w, n_w)`` vocabulary
    DataFrame: up to ``n_merges`` merges in training order as
    ``(left, right, n)`` (see :func:`bpe_train_merges`)."""
    spark = freq.sparkSession
    cur = freq.select(
        "n_w", _bpe_segment(F.col("w")).alias("syms")
    ).persist()
    prev = None
    merges: list[tuple[str, str, int]] = []
    made: set[str] = set()
    # AQE is off from the count on, both confs restored after: its
    # per-stage re-planning dominates the sub-second jobs of this loop
    # (measured ~25% of the 10-round wall) and turns the count into
    # four jobs; the cached vocabulary keeps the layout AQE gave it at
    # persist. The count materializes that state (round 1 would
    # otherwise do it implicitly) and sizes the loop's shuffles from
    # the VOCAB, capped at the session width: every round is a
    # vocab-sized pair aggregate, so at battery scale one reduce task
    # beats a wider split of a ~100-row table, while at production
    # vocab sizes a static ~50k-rows-per-partition layout is already
    # right.
    try:
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            n_vocab = cur.count()
            n_sess = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
            loop_parts = min(n_sess, n_vocab // 50_000 + 1)
            with scoped_conf(
                spark, {"spark.sql.shuffle.partitions": loop_parts}
            ):
                while len(merges) < n_merges:
                    room = n_merges - len(merges)
                    ranked = _bpe_ranked_pairs(cur, room + 1)
                    # the ranking job consumed every partition of cur,
                    # so its cache is now fully materialized and the
                    # previous round's state can be dropped without
                    # triggering recompute
                    if prev is not None:
                        prev.unpersist()
                        prev = None
                    batch = _bpe_merge_batch(ranked, made, room)
                    if not batch:
                        break
                    merges.extend(batch)
                    made.update(left + right for left, right, _ in batch)
                    prev = cur
                    cur = cur.withColumn(
                        "syms", _bpe_apply(F.col("syms"), batch)
                    ).persist()
    finally:
        cur.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges


def _bpe_train(
    df: DataFrame, text_col: str, n_merges: int
) -> list[tuple[str, str, int]]:
    """BPE merges of ``df``'s ``text_col`` in training order as
    ``(left, right, n)``, on the driver or in the Spark loop (see
    :func:`bpe_train_merges`). The words are Spark's
    ``normalized_words``, never re-normalized in Python: Java and
    Python disagree on what ``\\s`` matches."""
    from .dedup import normalized_words

    freq = (
        df.select(F.explode(normalized_words(F.col(text_col))).alias("w"))
        .filter((F.length("w") > 0) & (~F.col("w").contains(BPE_SEP)))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    spark = df.sparkSession
    cap = _bpe_driver_vocab_max(spark)
    # with AQE on, the aggregate's map stage would be a job of its own
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        vocab = freq.limit(cap + 1).toArrow()
    if vocab.num_rows <= cap:
        return _bpe_train_local(
            list(zip(vocab["w"].to_pylist(), vocab["n_w"].to_pylist())),
            n_merges,
        )
    return _bpe_train_spark(freq, n_merges)


def bpe_train_merges(
    df: DataFrame, text_col: str = "text", n_merges: int = 10
) -> DataFrame:
    """Full BPE tokenizer training (Sennrich et al. 2016): ``n_merges``
    merges in training order, the iterative loop
    :func:`bpe_pair_counts` is the first round of.

    Scale shape — one corpus pass builds the Heaps-law word-frequency
    table ``(w, n_w)``, collected as one Arrow table of at most
    :func:`_bpe_driver_vocab_max` + 1 rows (the cap is derived from the
    driver heap); no merge touches corpus-scale rows.

    - A table within the cap trains on the driver, incrementally
      (:func:`_bpe_train_local`): each merge recounts only the words
      holding the merged pair. Training is that one Spark action.
    - A bigger table trains in a batched Spark loop, which builds the
      table again from the corpus (a second pass). Its state is the
      vocabulary ``(n_w, syms)``, ``syms`` packing the word's current
      segmentation as ``SEP sym SEP ... SEP``. Each round runs one
      vocab-sized pair count (map-side combined) and collects its top
      ``room + 1`` pairs, ``room`` being the merges still wanted. The
      driver accepts the longest ranked prefix :func:`_bpe_merge_batch`
      allows (no self-pair before the last member, no member
      overlapping an earlier one, no earlier member's merged string
      already live, no two members merging to one string, and a strict
      count drop after the last member) and rewrites the packed string
      with that prefix's merges chained in one persisted projection
      (:func:`_bpe_apply`). Per-round state is persisted and the
      previous round unpersisted, so lineage stays O(1) across rounds.

    Exactness: the driver trainer is plain sequential BPE. In the Spark
    loop, a merge to a string not yet live lowers only the counts of
    pairs overlapping it, and a pair it creates, ``(x, ab)``, is
    bounded by the overlapping pair ``(x, a)``. The batch conditions
    keep every such pair out of the accepted prefix, so each lies at or
    below the first rejected pair, whose count is strictly below the
    last member's: every member is the argmax at its own step, its
    count this round is its sequential count, and a batch of one is
    the plain argmax. Both routes train on the words Spark normalized,
    so they return the same merges.

    Determinism: integer counts; the tie-break is (count DESC, left
    ASC, right ASC) — a total order, so the merge sequence is
    replayable bit-for-bit by an independent trainer (the pure-Python
    twin that renders the oracle literal table, pinned again by
    pytest on both routes).

    Returns (step, left_sym, right_sym, merged, n): the merge table a
    tokenizer ships as its vocab, in training order."""
    merges = _bpe_train(df, text_col, n_merges)
    # a LocalRelation: scanning the merge table starts no Python worker
    return local_df(
        df.sparkSession,
        [
            (step, left, right, left + right, n)
            for step, (left, right, n) in enumerate(merges, 1)
        ],
        "step int, left_sym string, right_sym string, merged string, "
        "n long",
    )


def bpe_encode_counts(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The inference side of BPE — tokenize the corpus under a trained
    merge table and count tokens per document (the number every
    training-data pipeline actually bills by). ``merges`` is the
    ordered [(left, right), ...] list; None trains it on ``df`` the
    way :func:`bpe_train_merges` does, on the driver or in the Spark
    loop by the same vocabulary cap (train-then-tokenize, the
    self-contained corpus-prep shape).

    Scale shape: the merge chain is applied to the DISTINCT word table
    only — all ``n_merges`` boundary-anchored regexp_replaces fuse
    into ONE vocab-sized projection — and documents then count tokens
    via an explode + join on the word key + per-doc sum, so
    corpus-scale rows never carry segmentation strings. Returns (doc_id, n_words, n_tokens); docs
    with no words are omitted (explode semantics), matching the twin."""
    from .dedup import normalized_words

    sep = BPE_SEP
    if merges is None:
        merges = _bpe_train(df, text_col, n_merges)
    toks = df.select(
        "doc_id", F.explode(normalized_words(F.col(text_col))).alias("w")
    ).filter((F.length("w") > 0) & (~F.col("w").contains(sep)))
    vocab = toks.select("w").distinct()
    syms = _bpe_apply(_bpe_segment(F.col("w")), merges)
    # packed form splits to ['', s1..sk, ''] — token count = size - 2
    wordtok = vocab.select(
        "w", (F.size(F.split(syms, sep)) - 2).cast("long").alias("w_toks")
    )
    return (
        toks.join(wordtok, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_toks").alias("n_tokens"),
        )
        .select("doc_id", "n_words", "n_tokens")
    )


def bpe_encode_python_twin(
    texts: list[tuple[int, str]], n_merges: int = 10
) -> dict:
    """Independent train-then-tokenize twin for
    :func:`bpe_encode_counts`: trains with :func:`bpe_python_twin`'s
    algorithm, then re-segments every word by scan replay. Returns
    {"word_tokens": {word: n_tokens}, "per_doc": {doc_id: (n_words,
    n_tokens)}}."""
    import re as _re

    merges = bpe_python_twin([t for _, t in texts], n_merges)
    order = [(left, right) for _, left, right, _, _ in merges]

    def segment(word: str) -> int:
        syms = list(word) + ["</w>"]
        for left, right in order:
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    word_tokens: dict = {}
    per_doc: dict = {}
    for doc_id, t in texts:
        if t is None:
            continue
        norm = _re.sub(r"\s+", " ", t.strip()).lower()
        words = [w for w in norm.split(" ") if w and BPE_SEP not in w]
        if not words:
            continue
        total = 0
        for w in words:
            if w not in word_tokens:
                word_tokens[w] = segment(w)
            total += word_tokens[w]
        per_doc[doc_id] = (len(words), total)
    return {"word_tokens": word_tokens, "per_doc": per_doc}


def bpe_python_twin(
    texts: list[str], n_merges: int = 10
) -> list[tuple[int, str, str, str, int]]:
    """Independent dict-based BPE trainer — the oracle twin for
    :func:`bpe_train_merges` (same normalization, same tie-break,
    scan-based re-segmentation instead of regex). Kept deliberately
    free of any shared code with the Spark path."""
    import re as _re
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        if t is None:
            continue
        norm = _re.sub(r"\s+", " ", t.strip()).lower()
        for w in norm.split(" "):
            if w and BPE_SEP not in w:
                wf[w] += 1
    segs = {w: tuple(list(w) + ["</w>"]) for w in wf}
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pc: Counter = Counter()
        for w, syms in segs.items():
            nw = wf[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += nw
        if not pc:
            break
        (left, right), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        merges.append((step, left, right, merged, int(n)))
        for w, syms in segs.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


def oov_rate(
    df: DataFrame,
    vocab_docs: DataFrame | None = None,
    text_col: str = "text",
    vocab_size: int = 100,
    flag_pct: int = 30,
) -> DataFrame:
    """Tokenizer-vocabulary coverage per document: the out-of-
    vocabulary rate against the top-``vocab_size`` corpus words — the
    health check run after (or before) training a tokenizer, because
    a doc whose tokens mostly miss the vocab will shatter into
    char-level pieces and blow up its token count downstream
    (bpe_pair_counts is the training side; this is the audit side).

    Exactness: vocab membership is a top-k by (count DESC, word ASC)
    — total order, so the vocab set is deterministic; per-doc counts
    are integers and the flag threshold is cross-multiplied
    (n_oov * 100 >= flag_pct * n_tokens), no float anywhere but the
    rounded report rate.

    Scale shape: one corpus word count (map-side combined,
    vocab-sized result), one window over that vocab-sized table, one
    join from exploded candidate tokens to the vocab (AQE broadcasts
    the top-k side — it is ``vocab_size`` rows), one per-doc regroup.
    """
    from .dedup import normalized_words

    src = vocab_docs if vocab_docs is not None else df
    counts = (
        src.select(F.explode(normalized_words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    # two-phase exact top-k: the distinct-word table is corpus-
    # vocabulary-sized (50k-250k words at production scale), so the
    # single-phase global window's WindowGroupLimit merge (input
    # partitions x vocab_size rows into ONE task) is replaced by a
    # fixed-fan-in bucket top-k whose final task sees <= 64*vocab_size
    # rows no matter how many input partitions feed it
    vocab = two_phase_topk(
        counts, "w", [F.col("n").desc(), F.col("w")], vocab_size
    ).select("w", F.lit(True).alias("in_vocab"))
    toks = df.select(
        "doc_id", F.explode(normalized_words(F.col(text_col))).alias("w")
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_frac"),
        (F.col("n_oov") * 100 >= F.lit(flag_pct) * F.col("n_tokens"))
        .alias("flagged"),
    )


def anchor_spam_hosts(
    links: DataFrame,
    dst_col: str = "dst",
    host_col: str = "src_host",
    text_col: str = "anchor",
    min_links: int = 20,
) -> DataFrame:
    """Link-farm detection from anchor-text shape — the complement of
    :func:`anchor_text_topk`: a page whose in-links are numerous but
    come from FEW source hosts repeating ONE phrase is bought/botted
    reputation, not earned (the classic Google link-spam signature),
    and a crawler demotes it before the ranking stage ever sees it.

    Spam rule (all integer cross-multiplications, first-match order):
    flagged iff n_links >= min_links AND the top phrase carries more
    than half of all in-links (top_phrase_links * 2 > n_links) AND
    source-host concentration is >= 5 links/host on average
    (n_src_hosts * 5 < n_links). Organic pages fail at least one leg:
    their anchors vary and their linkers are spread.

    Shape: one (dst, phrase) aggregate with map-side partials — the
    only edge-scale stage — then a dst-level rollup of the
    vocabulary-sized result plus a dst-keyed distinct-host count;
    join-free on the edge table, never a self-join.
    """
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    base = links.select(
        F.col(dst_col).alias("dst"), F.col(host_col).alias("h"),
        norm.alias("phrase"),
    )
    per_phrase = base.groupBy("dst", "phrase").agg(
        F.count("*").alias("n_pl")
    )
    per_dst = per_phrase.groupBy("dst").agg(
        F.sum("n_pl").alias("n_links"),
        F.count("*").alias("n_phrases"),
        F.max("n_pl").alias("top_phrase_links"),
    )
    hosts = base.groupBy("dst").agg(
        F.countDistinct("h").alias("n_src_hosts")
    )
    out = per_dst.join(hosts, "dst")
    spam = (
        (F.col("n_links") >= min_links)
        & (F.col("top_phrase_links") * 2 > F.col("n_links"))
        & (F.col("n_src_hosts") * 5 < F.col("n_links"))
    )
    return out.select(
        "dst", "n_links", "n_phrases", "n_src_hosts",
        "top_phrase_links", spam.alias("spam"),
    )
