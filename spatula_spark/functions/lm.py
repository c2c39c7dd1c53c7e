"""Bigram language-model quality scoring — the integer-exact engine
shape of CCNet's perplexity bucketing (Wenzek et al. 2020).

CCNet trains a KenLM model on a trusted corpus and splits each
language's crawl into head/middle/tail perplexity tertiles; tail is
dropped or down-weighted when building LLM pretraining mixes. The
scoring signal a bigram model adds over the unigram filter
(functions/text.py logfreq_score) is WORD ORDER: a scrambled or
template-stuffed page has the exact same unigram profile as fluent
text but its adjacent-word pairs are corpus-rare, so its conditional
cost explodes. That is precisely the spam/SEO failure mode unigram
filters cannot see.

Cross-engine exactness: a real log-prob is float and libm-dependent,
so (as everywhere in this engine — see functions/graph.py) the score
uses integer bit-length as floor(log2): the cost of bigram (w1, w2)
is ``ilog2(count(w1)) - ilog2(count(w1 w2))`` — a floor-log2 surrogate
of -log2 P(w2|w1) that is monotone in the true conditional rarity,
always >= 0 (count(w1 w2) <= count(w1) and bit-length is monotone),
and pure int64 on both engines. Per-doc sums are exact integers; the
single mean division is rounded to 6 dp (correctly rounded double of
exact ints, the convention the rest of the battery already relies
on). Bucket edges are percent_rank over (mean_cost, doc_id), fully
ordered, so head/middle/tail assignment is deterministic too.

Scale shape (100 TB): two explode->count aggregates over the training
corpus (map-side combined; results are vocab- and bigram-vocab-sized,
Heaps-sublinear in corpus size), one hash join from candidate bigram
occurrences to the model (AQE broadcasts the model when it fits), one
per-doc regroup, one per-language window over the doc-level table
(slim: 4 columns/doc). No corpus-scale shuffle carries text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bigrams_from_words(w: Column) -> Column:
    """Adjacent-word pairs of an ALREADY-PROJECTED words-array column,
    as 'w1 w2' strings; empty array under two words. The caller must
    project the array into a real column first (withColumn), never
    inline the split expression: Catalyst does not common-subexpression
    -eliminate across lambda boundaries, so an inlined split()
    re-evaluates once per produced element — measured 11.4 s vs 0.9 s
    for the sf0.1 bigram count (13x). zip_with over two shifted slices
    is one pass with no per-element element_at indexing."""
    n = F.size(w)
    grams = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n >= 2, grams).otherwise(
        F.array().cast("array<string>")
    )


def bigram_lm_score(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    text_col: str = "text",
    head_frac: float = 0.1,
    middle_frac: float = 0.7,
) -> DataFrame:
    """Score ``docs`` with a bigram model trained on ``lm_docs``
    (default: self-trained, the bootstrap a fresh crawl starts from)
    and bucket per language into head/middle/tail by mean conditional
    cost. Returns (doc_id, lang, n_bigrams, sum_cost, mean_cost,
    bucket). Docs with no bigram (one word) cost 0 — they are the
    head of any distribution and a length filter's problem, not the
    LM's."""
    from .dedup import normalized_words

    train = lm_docs if lm_docs is not None else docs
    # ONE text pass + ONE corpus-scale shuffle for BOTH model tables:
    # the bigram explode is the pipeline's dominant cost (measured 3x
    # the rest combined at sf0.1), so the bigram-count aggregate runs
    # once and the unigram context model is derived from IT — the
    # word's count in bigram-LEFT position is the sum of its bigram
    # counts, a vocab-sized follow-up aggregate, not a second corpus
    # pass. Every (w1, w2) occurrence is also a left-position
    # occurrence of w1, so count(bg) <= count(w1) and the conditional
    # cost stays >= 0. The count table is checkpointed because two
    # model tables consume it — it is bigram-vocab-sized (Heaps-
    # sublinear), so the checkpoint is small at any corpus size.
    def bigram_occ(df):
        return df.withColumn(
            "__w", normalized_words(F.col(text_col))
        ).select(
            "*", F.explode(bigrams_from_words(F.col("__w"))).alias("bg")
        ).drop("__w", text_col)

    t_cnt = (
        bigram_occ(train.select(text_col))
        .groupBy("bg")
        .agg(F.count("*").alias("n_bg"))
        .withColumn("w1", F.split(F.col("bg"), " ")[0])
        .localCheckpoint(eager=True)
    )
    uni = (
        t_cnt.groupBy("w1")
        .agg((F.length(F.bin(F.sum("n_bg"))) - 1).alias("ilog2_uni"))
    )
    big = t_cnt.select(
        "bg", (F.length(F.bin(F.col("n_bg"))) - 1).alias("ilog2_big")
    )
    occ = bigram_occ(
        docs.select("doc_id", "lang", text_col)
    ).withColumn("w1", F.split(F.col("bg"), " ")[0])
    # unseen-in-training tokens/bigrams cost ilog2(1) = 0 on both legs
    cost = (
        occ.join(big, "bg", "left")
        .join(uni, "w1", "left")
        .select(
            "doc_id",
            "lang",
            (
                F.coalesce("ilog2_uni", F.lit(0))
                - F.coalesce("ilog2_big", F.lit(0))
            ).alias("c"),
        )
    )
    per_doc = (
        docs.select("doc_id", "lang")
        .join(
            cost.groupBy("doc_id").agg(
                F.count("*").alias("n_bigrams"),
                F.sum("c").alias("sum_cost"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            F.coalesce("sum_cost", F.lit(0).cast("long")).alias(
                "sum_cost"
            ),
        )
        .withColumn(
            "mean_cost",
            F.when(F.col("n_bigrams") == 0, F.lit(0.0)).otherwise(
                F.round(F.col("sum_cost") / F.col("n_bigrams"), 6)
            ),
        )
    )
    win = Window.partitionBy("lang").orderBy(
        F.col("mean_cost").asc(), F.col("doc_id").asc()
    )
    pr = F.percent_rank().over(win)
    return per_doc.withColumn(
        "bucket",
        F.when(pr <= head_frac, F.lit("head"))
        .when(pr <= middle_frac, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def bigram_lm_score_duckdb(
    docs_sql: str,
    train_sql: str | None = None,
    head_frac: float = 0.1,
    middle_frac: float = 0.7,
) -> str:
    """DuckDB mirror as CTEs over ``lm_docs(doc_id, lang, text)``;
    final table ``lm_scored`` matches Spark's output bit-for-bit.
    ``docs_sql`` must yield (doc_id, lang, text) with single-spaced
    lower-normalizable text (the battery's corpus convention)."""
    words = (
        "string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),"
        " ' ')"
    )
    parts = [
        f"lm_docs AS ({docs_sql})",
        f"lm_train AS ({train_sql or 'SELECT * FROM lm_docs'})",
        f"lm_w AS (SELECT doc_id, lang, {words} AS w FROM lm_docs)",
        f"lm_tw AS (SELECT {words} AS w FROM lm_train)",
        "lm_tcnt AS (SELECT bg, count(*) AS n_bg, "
        "string_split(bg, ' ')[1] AS w1 FROM "
        "(SELECT unnest(CASE WHEN len(w) >= 2 THEN "
        "list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) "
        "ELSE []::VARCHAR[] END) AS bg FROM lm_tw) GROUP BY bg)",
        "lm_uni AS (SELECT w1, (length(bin(sum(n_bg))) - 1)::BIGINT AS "
        "ilog2_uni FROM lm_tcnt GROUP BY w1)",
        "lm_big AS (SELECT bg, (length(bin(n_bg)) - 1)::BIGINT AS "
        "ilog2_big FROM lm_tcnt)",
        "lm_occ AS (SELECT doc_id, lang, bg, string_split(bg, ' ')[1] "
        "AS w1 FROM (SELECT doc_id, lang, unnest(CASE WHEN len(w) >= 2 "
        "THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || "
        "w[i+1]) ELSE []::VARCHAR[] END) AS bg FROM lm_w))",
        "lm_cost AS (SELECT o.doc_id, o.lang, "
        "coalesce(u.ilog2_uni, 0) - coalesce(b.ilog2_big, 0) AS c "
        "FROM lm_occ o LEFT JOIN lm_big b ON o.bg = b.bg "
        "LEFT JOIN lm_uni u ON o.w1 = u.w1)",
        "lm_per_doc AS (SELECT d.doc_id, d.lang, "
        "coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams, "
        "coalesce(s.sum_cost, 0)::BIGINT AS sum_cost, "
        "CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 0.0 ELSE "
        "round(coalesce(s.sum_cost, 0)::DOUBLE / s.n_bigrams, 6) END "
        "AS mean_cost FROM lm_docs d LEFT JOIN "
        "(SELECT doc_id, count(*) AS n_bigrams, sum(c) AS sum_cost "
        "FROM lm_cost GROUP BY doc_id) s ON d.doc_id = s.doc_id)",
        "lm_scored AS (SELECT doc_id, lang, n_bigrams, sum_cost, "
        "mean_cost, CASE "
        f"WHEN pr <= {head_frac} THEN 'head' "
        f"WHEN pr <= {middle_frac} THEN 'middle' "
        "ELSE 'tail' END AS bucket FROM (SELECT *, percent_rank() OVER "
        "(PARTITION BY lang ORDER BY mean_cost ASC, doc_id ASC) AS pr "
        "FROM lm_per_doc))",
    ]
    return ",\n".join(parts) + "\n-- final: lm_scored"


DSIR_BUCKETS = 1024


def dsir_importance(
    cands: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, Data Selection via
    Importance Resampling): score each candidate document by how much
    more likely its hashed-bigram features are under a small TARGET
    corpus (the distribution you want — wiki-quality text, a domain)
    than under the RAW pool, then keep positive-weight docs. This is
    the third canonical data-selection recipe next to C4's rules and
    Gopher's thresholds — distribution matching rather than
    hand-written heuristics.

    Integer-exact log-ratio, same trick as this module's bigram LM:
    the per-feature weight is
    ``ilog2(t_c * n_raw_docs) - ilog2(r_c * n_target_docs)`` (with
    ilog2 = bit-length - 1 and ilog2(0) defined 0) — a floor-log2
    surrogate of log((t_c/T)/(r_c/R)) that stays in int64
    (t_c * n_raw <= corpus_pairs * docs; at 10^10 docs switch to the
    difference-of-bitlens form) and replays bit-for-bit in any SQL
    engine. Counts are hashed into ``n_buckets`` buckets exactly as
    DSIR does, so the model table is fixed-size regardless of corpus.

    Shape: two explode->count aggregates (bucket-sized results), one
    broadcast join from candidate feature occurrences to the
    two-sided bucket table, one per-doc regroup; kept = sum > 0 needs
    no global window. Returns (doc_id, n_feats, sum_w, kept).
    """
    from ..urls import portable_hash64

    from .dedup import normalized_words

    def buckets(df):
        # words projected to a real column first (lambda-CSE trap, see
        # bigrams_from_words); explode stays a top-level generator
        return df.withColumn(
            "__w", normalized_words(F.col(text_col))
        ).select(
            "doc_id",
            F.explode(bigrams_from_words(F.col("__w"))).alias("bg"),
        ).select(
            "doc_id",
            F.pmod(portable_hash64(F.col("bg")), F.lit(n_buckets))
            .alias("b"),
        )

    t_occ = buckets(target)
    # r_occ feeds BOTH the raw bucket counts and the per-doc scoring
    # join; eager checkpoint so the bigram explode runs once (the
    # lazy-persist double-compute trap BENCH/BASELINE.md documents)
    r_occ = buckets(cands).localCheckpoint(eager=True)
    n_t = target.count()
    n_r = cands.count()
    t_c = t_occ.groupBy("b").agg(F.count("*").alias("t_c"))
    r_c = r_occ.groupBy("b").agg(F.count("*").alias("r_c"))
    model = (
        r_c.join(t_c, "b", "left")
        .select(
            "b",
            (
                (
                    F.length(F.bin(F.coalesce("t_c", F.lit(0)) * n_r))
                    - 1
                )
                - (F.length(F.bin(F.col("r_c") * n_t)) - 1)
            ).alias("w"),
        )
    )
    scored = (
        r_occ.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("w").alias("sum_w"),
        )
    )
    return cands.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_feats", F.lit(0).cast("long")).alias("n_feats"),
        F.coalesce("sum_w", F.lit(0).cast("long")).alias("sum_w"),
        (F.coalesce("sum_w", F.lit(0).cast("long")) > 0).alias("kept"),
    )
