"""Driver-contract query battery: Spark implementations + DuckDB oracles.

Each entry is one operator/pipeline from SURVEY.md §2 (engine
relational building blocks) or the training-data operator mandate
(dedup / similarity / text analysis / streaming), implemented
Spark-first and paired with an ANSI/DuckDB oracle that reproduces it
bit-for-bit (hashing via the md5-based portable hash both engines can
compute — see urls.portable_hash64).

Column names are aliased identically on both sides: the driver's
compare sorts columns by name and value-hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import dedup as dd
from .functions import similarity as sim
from .functions import text as tx
from .urls import (
    canonicalize_url,
    canonicalize_url_duckdb,
    portable_hash64,
    portable_hash64_duckdb,
    surt_key,
    surt_key_duckdb,
)

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle=None):
    """Register a battery query; ``oracle`` is the DuckDB SQL string or
    a zero-arg callable returning it (for oracles whose literal tables
    are expensive to derive — rendered lazily by
    ``__spark_entry__.oracle_sql``, never at import)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _np(spark: SparkSession) -> int:
    """Session parallelism — the scale-adaptive repartition width for
    per-row-heavy stages (replaces round-5's hardcoded repartition(8),
    which capped the Arrow codec pipelines at 8 tasks on any box)."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


# --------------------------------------------------------------------------
# SQL fragments shared by several oracles
# --------------------------------------------------------------------------
def duck_hash(expr: str) -> str:
    """DuckDB rendering of urls.portable_hash64."""
    return f"(('0x'||substr(md5({expr}),1,15))::ubigint)::bigint"


DUCK_WORDS = (
    "string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')"
)

DUCK_SHINGLES_CTE = f"""
w AS (SELECT doc_id, {DUCK_WORDS} AS words FROM corpus),
sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
      THEN list_distinct(list_transform(range(1, len(words)-1),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
      ELSE [array_to_string(words, ' ')] END AS shingles
  FROM w)
"""

DUCK_PERTURBED_CORPUS = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(words[1:greatest(len(words)-1, 1)], ' ') AS text
  FROM (SELECT doc_id, {DUCK_WORDS} AS words FROM documents)
)
"""


def _duck_minhash_cols(num_perms: int) -> str:
    """Mirror of dedup.minhash_signatures' chunked scheme: permutation
    i = 32-bit hex chunk i%4 of md5(shingle || ':' || i//4)."""
    return ", ".join(
        "list_min(list_transform(shingles, s -> "
        f"(('0x' || substr(md5(s || ':{i // 4}'), {1 + 8 * (i % 4)}, 8))"
        f"::ubigint)::bigint)) AS mh_{i}"
        for i in range(num_perms)
    )


def _duck_simhash_expr(bits: int = dd.SIMHASH_BITS) -> str:
    """DuckDB mirror of dedup.simhash: bits 0-31 from hs (hash(word)),
    32-63 from hs2 (hash(word||':b')). Bit 63's literal is min-bigint
    (2^63 overflows); disjoint-bit terms sum without overflow."""
    terms = []
    for j in range(bits):
        arr, jj = ("hs", j) if j < 32 else ("hs2", j - 32)
        lit = (
            "(-9223372036854775807 - 1)" if j == 63 else f"{1 << j}::BIGINT"
        )
        terms.append(
            f"(CASE WHEN list_sum(list_transform({arr}, v -> CASE WHEN (v >> "
            f"{jj}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {lit} "
            "ELSE 0::BIGINT END)"
        )
    return " + ".join(terms)


# the two per-word hash arrays every simhash oracle needs
DUCK_SIMHASH_H_CTE = (
    "h AS (SELECT doc_id, "
    f"list_transform(words, x -> {duck_hash('x')}) AS hs, "
    f"""list_transform(words, x -> {duck_hash("x || ':b'")}) AS hs2 """
    "FROM w)"
)


# ==========================================================================
# 1. Relational building blocks of the crawl engine (SURVEY §2.6)
# ==========================================================================
@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the per-wave metrics aggregation pattern
    (partial+final hash agg, SURVEY §2.6 'metrics')."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
SELECT o_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: multi-join + agg + deterministic top-k (the
    frontier 'priority queue' pattern)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_region_revenue",
    """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join with small-dim broadcasts (the
    dependency-augmentation join, SURVEY D4)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "host_budget_topk",
    """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    (row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey))::INT AS rn
  FROM orders)
WHERE rn <= 3
""",
)
def host_budget_topk(spark, sf_dir):
    """The politeness budget window (F5): top-k per partition key."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"), "rn",
        )
    )


@register(
    "seen_antijoin",
    """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
""",
)
def seen_antijoin(spark, sf_dir):
    """The URL-seen dedup shape (F4): left_anti against the seen set."""
    o = _t(spark, sf_dir, "orders")
    seen = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return o.join(seen, "o_custkey", "left_anti").select(
        "o_orderkey", "o_custkey"
    )


@register(
    "frontier_first_wins",
    """
SELECT user_id, event_id, ts FROM (
  SELECT user_id, event_id, ts,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
""",
)
def frontier_first_wins(spark, sf_dir):
    """In-wave first-wins dedup (E5 at frontier level)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts")
    )


@register(
    "wave_metrics",
    """
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY 1, 2
""",
)
def wave_metrics(spark, sf_dir):
    """Per-wave/host metrics aggregation shape."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))


@register(
    "broadcast_dep_join",
    """
SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def broadcast_dep_join(spark, sf_dir):
    """Dependency augmentation (D4) as an explicit broadcast hash join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "priority_topk",
    """
SELECT event_id, user_id, round(value, 6) AS value FROM events
ORDER BY value DESC, event_id LIMIT 100
""",
)
def priority_topk(spark, sf_dir):
    """Frontier priority ordering (deterministic global top-k)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.orderBy(F.col("value").desc(), "event_id")
        .limit(100)
        .select("event_id", "user_id", F.round("value", 6).alias("value"))
    )


_DUCK_URL = (
    "'HTTP://H' || (o_orderkey % 50)::varchar || '.Example.COM:80/o/' "
    "|| o_orderkey::varchar || '/?b=' || o_custkey::varchar || '&a=1#f'"
)


@register(
    "url_canonicalize",
    f"""
WITH u AS (SELECT o_orderkey, {_DUCK_URL} AS url FROM orders)
SELECT o_orderkey, {canonicalize_url_duckdb('url')} AS canon_url FROM u
""",
)
def url_canonicalize(spark, sf_dir):
    """The seen-set key function over synthesized messy URLs — the
    whole canonicalizer is native Catalyst (urls.py). Input spread to
    session width (widen-only): the canonicalizer is a heavy
    interpreted projection (~10 parse_url evaluations/row) and the
    single-file scan otherwise runs it all on one task (guide §2.5;
    VERDICT r5 item 6)."""
    o = dd._spread(_t(spark, sf_dir, "orders"))
    url = F.concat(
        F.lit("HTTP://H"),
        (F.col("o_orderkey") % 50).cast("string"),
        F.lit(".Example.COM:80/o/"),
        F.col("o_orderkey").cast("string"),
        F.lit("/?b="),
        F.col("o_custkey").cast("string"),
        F.lit("&a=1#f"),
    )
    return o.select(
        "o_orderkey", canonicalize_url(url).alias("canon_url")
    )


@register(
    "sessionize",
    """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR date_diff('second', lag(ts) OVER w, ts) > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
    (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
  FROM g)
SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start
FROM s GROUP BY user_id, session_id
""",
)
def sessionize(spark, sf_dir):
    """Gap-based sessionization (lag + cumulative sum windows)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
        )
    )


@register(
    "lineage_order",
    """
SELECT (row_number() OVER (ORDER BY l_orderkey, l_linenumber))::BIGINT AS rn,
  l_orderkey, l_linenumber
FROM lineitem QUALIFY rn <= 500
""",
)
def lineage_order(spark, sf_dir):
    """The DFS path-key total order (D1): global sort -> stable ranks.

    The unpartitioned window is deliberate and bounded: the rn <= 500
    filter lets Spark's WindowGroupLimit keep a map-side top-500 per
    partition, so the single merge task sees at most partitions x 500
    rows — a top-k, not a full-table single-partition sort."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_orderkey", "l_linenumber")
    return (
        li.select(
            F.row_number().over(w).cast("long").alias("rn"),
            "l_orderkey", "l_linenumber",
        ).filter(F.col("rn") <= 500)
    )


@register(
    "events_json_extract",
    """
SELECT event_type, sum(regexp_extract(props, '([0-9]+)', 1)::BIGINT)::BIGINT AS k_total
FROM events GROUP BY event_type
""",
)
def events_json_extract(spark, sf_dir):
    """Semi-structured payload extraction (JsonPage P3 analog)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(
            F.regexp_extract("props", "([0-9]+)", 1).cast("long")
        ).alias("k_total")
    )


# ==========================================================================
# 2. Training-data operators: text analysis
# ==========================================================================
_DUCK_TOKENS = "string_split(trim(text), ' ')"  # docs are single-spaced


def _duck_count_in(words_expr: str, vals: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{v}'" for v in vals)
    return (
        f"len(list_filter({words_expr}, x -> list_contains([{lst}], lower(x))))"
    )


_duck_ntok = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_DUCK_TOKENS}) END"
_duck_nstop = _duck_count_in(_DUCK_TOKENS, tx.STOPWORDS)
_duck_npunct = (
    "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
)
_duck_quality = (
    f"round((CASE WHEN ({_duck_ntok}) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)"
    f" + (CASE WHEN (({_duck_nstop})::DOUBLE / greatest({_duck_ntok}, 1)) "
    f"BETWEEN 0.05 AND 0.6 THEN 0.4 ELSE 0.0 END)"
    f" + (CASE WHEN (({_duck_npunct})::DOUBLE / greatest(length(text), 1)) "
    f"<= 0.1 THEN 0.2 ELSE 0.0 END), 6)::DOUBLE"
)


def _duck_lang_guess() -> str:
    # mirror text.lang_id: argmax in key order, > beats ties, 0 -> 'und'
    scores = {
        lang: _duck_count_in(_DUCK_TOKENS, markers)
        for lang, markers in tx.LANG_MARKERS.items()
    }
    expr_best, expr_score = "'und'", "0"
    for lang, score in reversed(list(scores.items())):
        expr_best = f"(CASE WHEN {score} > {expr_score} THEN '{lang}' ELSE {expr_best} END)"
        expr_score = f"greatest({score}, {expr_score})"
    return expr_best


@register(
    "text_profile",
    f"""
SELECT doc_id,
  ({_duck_ntok})::INT AS n_tokens,
  (CASE WHEN trim(regexp_replace(text, '([.,!?;:])', ' \\1 ', 'g')) = ''
        THEN 0 ELSE len(string_split_regex(
          trim(regexp_replace(text, '([.,!?;:])', ' \\1 ', 'g')),
          '\\s+')) END)::INT AS n_bpe_tokens,
  ({_duck_nstop})::INT AS n_stopwords,
  ({_duck_npunct})::INT AS n_punct,
  {_duck_quality} AS quality,
  {_duck_lang_guess()} AS lang_guess,
  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
)
def text_profile(spark, sf_dir):
    """Language-ID, quality scoring, token counting, fingerprinting —
    one native pass (functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.text_profile(docs)


@register(
    "boilerplate_strip",
    f"""
WITH pages AS (
  SELECT doc_id,
    'home products about contact host' || (doc_id % 7) || chr(10) ||
    array_to_string(list_transform(range(0, (len(words)+7)//8),
        i -> array_to_string(words[i*8+1:i*8+8], ' ')), chr(10)) || chr(10)
    || 'copyright host' || (doc_id % 7) || ' example all rights reserved'
    AS text
  FROM (SELECT doc_id, {DUCK_WORDS} AS words FROM documents)),
l AS (
  SELECT doc_id, u.pos AS pos, u.line AS line FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(ls)+1),
        i -> {{'pos': i-1, 'line': ls[i]}})) AS u
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM pages))),
n AS (SELECT doc_id, pos, line,
        lower(regexp_replace(trim(line), '\\s+', ' ', 'g')) AS norm FROM l),
boiler AS (SELECT norm FROM n WHERE norm <> ''
           GROUP BY norm HAVING count(DISTINCT doc_id) >= 10),
kept AS (SELECT doc_id, pos, line FROM n
         WHERE norm = '' OR norm NOT IN (SELECT norm FROM boiler)),
agg AS (SELECT doc_id, count(*) AS n_kept,
          string_agg(line, chr(10) ORDER BY pos) AS content
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
SELECT t.doc_id, t.n_lines,
  coalesce(a.n_kept, 0) AS n_kept,
  round((t.n_lines - coalesce(a.n_kept, 0))::DOUBLE / t.n_lines, 6)
    AS boiler_ratio,
  coalesce(a.content, '') AS content
FROM tot t LEFT JOIN agg a USING (doc_id)
""",
)
def boilerplate_strip(spark, sf_dir):
    """Cross-page line-frequency boilerplate removal
    (tx.boilerplate_clean, CCNet §3.1 shape). The corpus wraps every
    document in per-host nav/footer lines (host = doc_id % 7, so each
    boilerplate line recurs on ~1/7 of all pages — far above
    min_df=10) and splits the body into 8-word lines that are unique
    per page; the operator must strip exactly the planted wrapper and
    keep the body verbatim, order intact."""
    # words projected to a real column: the chunks lambda would
    # otherwise re-run the split per produced line (the lambda-CSE
    # trap measured in dd.word_shingles)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "__w", dd.normalized_words(F.col("text"))
    )
    w = F.col("__w")
    h = (F.col("doc_id") % 7).cast("string")
    nch = F.floor((F.size(w) + 7) / 8).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.array_join(F.slice(w, i * 8 + 1, 8), " "),
    )
    page = F.array_join(
        F.concat(
            F.array(F.concat(F.lit("home products about contact host"), h)),
            chunks,
            F.array(
                F.concat(
                    F.lit("copyright host"),
                    h,
                    F.lit(" example all rights reserved"),
                )
            ),
        ),
        "\n",
    )
    pages = docs.select("doc_id", page.alias("text"))
    return tx.boilerplate_clean(pages, min_df=10)


@register(
    "logfreq_quality",
    f"""
WITH cands AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
    array_to_string(list_transform({DUCK_WORDS}, x -> x || '~' || doc_id),
                    ' ') AS text
  FROM documents WHERE doc_id < 50),
vocab AS (
  SELECT tok, length(bin(count(*))) - 1 AS ilog2 FROM (
    SELECT unnest({DUCK_WORDS}) AS tok FROM documents) GROUP BY tok),
toks AS (SELECT doc_id, unnest({DUCK_WORDS}) AS tok FROM cands),
sc AS (
  SELECT doc_id, count(*) AS n_tokens,
         sum(coalesce(ilog2, 0))::BIGINT AS sum_ilog2
  FROM toks LEFT JOIN vocab USING (tok) GROUP BY doc_id)
SELECT doc_id, n_tokens, sum_ilog2,
  round(sum_ilog2::DOUBLE / n_tokens, 6) AS mean_ilog2,
  round(sum_ilog2::DOUBLE / n_tokens, 6) >= 4 AS kept
FROM sc
""",
)
def logfreq_quality(spark, sf_dir):
    """Unigram log-frequency quality filter (tx.logfreq_score) — the
    integer-exact shape of CCNet's LM-perplexity cut. Vocabulary is
    trained on the clean documents table; candidates are that table
    plus 50 planted gibberish twins whose every token is
    doc-id-suffixed (absent from the vocab, so they score mean 0 and
    are cut); real word-soup docs score floor(log2(corpus count)) ~ 9
    per token and pass."""
    docs = _t(spark, sf_dir, "documents")
    w = dd.normalized_words(F.col("text"))
    gib = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.array_join(
            F.transform(
                w,
                lambda x: F.concat(
                    x, F.lit("~"), F.col("doc_id").cast("string")
                ),
            ),
            " ",
        ).alias("text"),
    )
    cands = docs.select("doc_id", "text").unionByName(gib)
    return tx.logfreq_score(cands, lm_docs=docs, keep_min=4)


@register(
    "bpe_pair_counts",
    f"""
WITH freq AS (
  SELECT w, count(*) AS n_w FROM (
    SELECT unnest({DUCK_WORDS}) AS w FROM documents) GROUP BY w),
p AS (
  SELECT n_w, unnest(
    list_append(
      CASE WHEN length(w) >= 2
        THEN list_transform(range(1, length(w)), i -> w[i:i+1])
        ELSE []::VARCHAR[] END,
      w[-1:] || '</w>')) AS pair
  FROM freq),
c AS (SELECT pair, sum(n_w)::BIGINT AS n FROM p GROUP BY pair)
SELECT pair, n, rank FROM (
  SELECT pair, n,
    (row_number() OVER (ORDER BY n DESC, pair))::INT AS rank FROM c)
WHERE rank <= 30
""",
)
def bpe_pair_counts_q(spark, sf_dir):
    """BPE tokenizer-training pair statistics (tx.bpe_pair_counts):
    corpus-weighted adjacent-symbol-pair counts with the '</w>'
    end-of-word marker, top 30 — the aggregate each BPE merge round
    argmaxes over, computed on the word-frequency table so pair work
    is vocab-sized, not corpus-sized."""
    return tx.bpe_pair_counts(_t(spark, sf_dir, "documents"))


_BPE_MERGE_SQL_CACHE: list = []


def _bpe_merges_oracle() -> str:
    """Lazy oracle for bpe_train_merges: the merge sequence is an
    iterative argmax the driver's single SQL statement cannot replay,
    so — like the codec-pinned image fingerprints — the literal table
    comes from an INDEPENDENT implementation (tx.bpe_python_twin, a
    dict-based scan trainer sharing no code with either training
    route, the driver trainer or the Spark loop) run
    over the same documents table the driver compares at
    (sf0.01 per the driver contract; SPARK_GRAFT_ORACLE_SF_DIR
    overrides for local runs at other scales). The honest asymmetry —
    the corpus read is pinned to that directory rather than the SQL
    views — is the same shape image_near_dup_phash documents, and the
    twin-vs-engine equivalence is separately pytest-pinned on an
    adversarial corpus (escapes, overlaps, ties), on both routes."""
    if not _BPE_MERGE_SQL_CACHE:
        import os

        import duckdb

        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        texts = [
            r[0]
            for r in duckdb.sql(
                f"SELECT text FROM '{sf_dir}/documents.parquet'"
            ).fetchall()
        ]
        rows = tx.bpe_python_twin(texts, 10)

        def q(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        vals = ", ".join(
            f"({step}::INT, {q(l)}, {q(r)}, {q(m)}, {n}::BIGINT)"
            for step, l, r, m, n in rows
        )
        _BPE_MERGE_SQL_CACHE.append(
            "SELECT * FROM (VALUES "
            + vals
            + ") AS t(step, left_sym, right_sym, merged, n)"
        )
    return _BPE_MERGE_SQL_CACHE[0]


_BPE_ENCODE_SQL_CACHE: list = []


def _bpe_encode_oracle() -> str:
    """Lazy oracle for bpe_encode_counts: the vocab-sized word ->
    token-count function table comes from the independent twin
    (tx.bpe_encode_python_twin — train + scan-replay segmentation,
    sharing no code with the Spark path), pinned as literals exactly
    like the codec fingerprints; the CORPUS-SCALE compute — word
    explode, vocabulary join, per-doc aggregation — runs in real SQL,
    so the value hash pins the distributed half of the plan against
    DuckDB's own execution."""
    if not _BPE_ENCODE_SQL_CACHE:
        import os

        import duckdb

        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        rows = duckdb.sql(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
        wt = tx.bpe_encode_python_twin(rows, 10)["word_tokens"]

        def q(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        vals = ", ".join(
            f"({q(w)}, {n}::BIGINT)" for w, n in sorted(wt.items())
        )
        _BPE_ENCODE_SQL_CACHE.append(f"""
WITH wt(w, w_toks) AS (VALUES {vals}),
toks AS (
  SELECT doc_id, unnest({DUCK_WORDS}) AS w FROM documents)
SELECT doc_id, count(*)::BIGINT AS n_words,
       sum(w_toks)::BIGINT AS n_tokens
FROM toks JOIN wt USING (w)
GROUP BY doc_id
""")
    return _BPE_ENCODE_SQL_CACHE[0]


@register("bpe_encode_tokens", _bpe_encode_oracle)
def bpe_encode_tokens_q(spark, sf_dir):
    """Train-then-tokenize (tx.bpe_encode_counts): the 10-merge BPE
    vocabulary trained on documents is applied back to the corpus and
    every document billed its token count — the inference side of the
    tokenizer story, with the whole merge chain fused into ONE
    vocab-sized projection and corpus rows touching only an explode +
    word join + sum. Oracle: twin-literal word->tokens function table
    (independent scan-replay implementation) + real SQL for the
    corpus-scale aggregation."""
    return tx.bpe_encode_counts(
        _t(spark, sf_dir, "documents"), n_merges=10
    )


@register("bpe_train_merges", _bpe_merges_oracle)
def bpe_train_merges_q(spark, sf_dir):
    """Full BPE tokenizer training (tx.bpe_train_merges): 10 merges
    over the documents corpus. One Spark action collects the
    word-frequency table (31 distinct words at sf0.01), and the driver
    trains on it incrementally, recounting only the words that hold
    each merged pair. A vocabulary above the heap-derived cap trains in rounds
    instead: each round one vocab-sized pair-count aggregate, a ranked
    top-pairs collect from which the driver accepts every merge
    sequential BPE would make next, and those merges' boundary-anchored
    regexp re-segmentation of the persisted vocabulary state. The merge
    sequence (step, pair, merged, count) is integer/total-order
    deterministic on both routes, replayed bit-for-bit by the
    independent pure-Python twin that renders the oracle."""
    return tx.bpe_train_merges(_t(spark, sf_dir, "documents"), n_merges=10)


# ==========================================================================
# 3. Training-data operators: deduplication
# ==========================================================================
@register(
    "dedup_exact",
    """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 2000000, text FROM documents)
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
  min(doc_id) AS keep_doc_id, count(*) AS n_dups
FROM corpus GROUP BY fp
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup over a corpus with injected exact copies."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    )
    return dd.exact_dedup(corpus)


@register(
    "minhash_signatures",
    f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{DUCK_SHINGLES_CTE}
SELECT doc_id, {_duck_minhash_cols(8)} FROM sh
""",
)
def minhash_signatures_q(spark, sf_dir):
    """Per-document 8-permutation MinHash signatures (bit-exact vs
    the oracle through the portable md5 hash)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_signatures(docs, num_perms=8)


_DUCK_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(mh_{2*b}::varchar || '_' || mh_{2*b+1}::varchar) AS bsig FROM sig"
    for b in range(4)
)

@register(
    "dedup_minhash_lsh",
    f"""
WITH {DUCK_PERTURBED_CORPUS},
{DUCK_SHINGLES_CTE},
sig AS (SELECT doc_id, {_duck_minhash_cols(8)} FROM sh),
bands AS ({_DUCK_BANDS}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bsig = r.bsig AND l.doc_id < r.doc_id)
SELECT doc_a, doc_b,
  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.8
""",
)
def dedup_minhash_lsh(spark, sf_dir):
    """Full MinHash+LSH near-dup pipeline over a corpus with injected
    near-copies (guaranteed positives): shingle -> minhash -> band ->
    bucket join -> exact-Jaccard verify."""
    docs = _t(spark, sf_dir, "documents")
    corpus = dd.perturbed_corpus(docs)
    return dd.minhash_dedup_pairs(corpus)


@register(
    "dedup_incremental",
    f"""
WITH base AS (SELECT doc_id, text FROM documents),
wb AS (SELECT doc_id, {DUCK_WORDS} AS words FROM base),
delta AS (
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(words[1:greatest(len(words)-1, 1)], ' ') AS text
  FROM wb WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text FROM base WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id + 30000000 AS doc_id,
         array_to_string(words[1:greatest(len(words)//2, 1)], ' ') AS text
  FROM wb WHERE doc_id % 3 = 2
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
{DUCK_SHINGLES_CTE},
sig AS (SELECT doc_id, {_duck_minhash_cols(8)} FROM sh),
bands AS ({_DUCK_BANDS}),
cand AS (
  SELECT DISTINCT d.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands d JOIN bands b
    ON d.band = b.band AND d.bsig = b.bsig
   AND d.doc_id >= 10000000 AND b.doc_id < 10000000),
v AS (
  SELECT doc_a, doc_b,
    round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b)
SELECT doc_a AS delta_id, doc_b AS base_id, jaccard
FROM (SELECT *, row_number() OVER (PARTITION BY doc_a
        ORDER BY jaccard DESC, doc_b ASC) AS rn
      FROM v WHERE jaccard >= 0.8)
WHERE rn = 1
""",
)
def dedup_incremental_q(spark, sf_dir):
    """Incremental delta-vs-corpus near-dup detection
    (dedup.incremental_near_dups): the shape a CONTINUOUS pipeline
    runs — the new batch's LSH bands probe the persisted corpus band
    table, so per-ingest cost scales with |delta|, never |corpus|, and
    no delta×delta / base×base pairs are ever minted. The synthetic
    delta carries all three real ingest classes: near-copies (last
    word dropped), exact re-crawls, and novel docs (first half only —
    bands may collide, the Jaccard verify must reject them)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = dd.normalized_words(F.col("text"))
    near = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.array_join(
            F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(1))), " "
        ).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
    )
    novel = docs.filter(F.col("doc_id") % 3 == 2).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.array_join(
            F.slice(
                w,
                1,
                F.greatest(
                    F.floor(F.size(w) / 2).cast("int"), F.lit(1)
                ),
            ),
            " ",
        ).alias("text"),
    )
    delta = near.unionByName(exact).unionByName(novel)
    return dd.incremental_near_dups(docs, delta)


@register(
    "winnow_near_dups",
    f"""
WITH {DUCK_PERTURBED_CORPUS},
w AS (SELECT doc_id, {DUCK_WORDS} AS words FROM corpus),
g AS (SELECT doc_id,
        CASE WHEN len(words) >= 3 THEN
          list_transform(range(1, len(words)-1),
            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
        ELSE [array_to_string(words, ' ')] END AS grams FROM w),
h AS (SELECT doc_id, list_transform(grams, s -> {duck_hash('s')}) AS hs
      FROM g),
s AS (SELECT doc_id,
        CASE WHEN len(hs) > 4 THEN
          list_transform(range(1, len(hs)-2), i -> list_min(hs[i:i+3]))
        ELSE [list_min(hs)] END AS sel FROM h),
f AS (SELECT DISTINCT doc_id, fp
      FROM (SELECT doc_id, unnest(sel) AS fp FROM s))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
""",
)
def winnow_near_dups_q(spark, sf_dir):
    """Substring-level near-dup detection via WINNOWING rolling-hash
    fingerprints (text.winnow_fingerprints_fast — the MOSS selection, k=3
    words, w=4 windows): documents sharing >= 3 selected fingerprints,
    with the shared count. Complements MinHash (whole-document Jaccard)
    with the guarantee that any shared run of >= 6 words surfaces, at
    ~2/(w+1) of the join rows hashing every shingle would cost. The
    perturbed corpus plants (doc, doc+10^6) positives that share almost
    every window; DuckDB replays gram hashing, window minima,
    distinct-set semantics, the self-join and the threshold exactly."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # _spread: the gram-hash/window-min HOF chain is interpreted (no
    # codegen for HOFs) — on a single-file input it would run on 1-2
    # cores (the decontaminate lesson, 9s -> 1.1s)
    corpus = dd._spread(dd.perturbed_corpus(docs))
    f = corpus.select(
        "doc_id",
        F.explode(tx.winnow_fingerprints_fast(F.col("text"))).alias("fp"),
    )
    a = f.select(F.col("doc_id").alias("doc_a"), "fp")
    b = f.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


_BOILER = ("same boilerplate navigation text repeated on every page "
           "footer copyright terms privacy contact")


@register(
    "dedup_lsh_capped",
    f"""
WITH corpus AS (
  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN '{_BOILER}' ELSE text END
         AS text FROM documents),
{DUCK_SHINGLES_CTE},
sig AS (SELECT doc_id, {_duck_minhash_cols(8)} FROM sh),
bands AS ({_DUCK_BANDS}),
bn AS (SELECT band, bsig, count(*) AS n, min(doc_id) AS hub
       FROM bands GROUP BY 1, 2),
cand AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l
  JOIN bn ON bn.band = l.band AND bn.bsig = l.bsig AND bn.n <= 16
  JOIN bands r
    ON l.band = r.band AND l.bsig = r.bsig AND l.doc_id < r.doc_id
  UNION
  SELECT bn.hub AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN bn ON bn.band = b.band AND bn.bsig = b.bsig
  WHERE bn.n > 16 AND b.doc_id <> bn.hub)
SELECT doc_a, doc_b,
  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.8
""",
)
def dedup_lsh_capped_q(spark, sf_dir):
    """The mega-bucket cap under a FULL cross-engine oracle: every 5th
    document's text is replaced by one boilerplate string (a planted
    100-doc clique — the shape that made the uncapped banded join mint
    98.7x candidate volume at 10x rows in the sf1 battery), and the
    LSH pipeline runs with max_bucket=16. Buckets above the cap emit
    star edges to the bucket-min doc instead of all pairs
    (functions/dedup.py _cap_buckets); DuckDB replicates the
    same rule (bucket counts -> full pairs below the cap, hub stars
    above) so the hash match pins the capped candidate semantics — the
    100 TB safety valve — not just the happy path."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(_BOILER))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dd.minhash_dedup_pairs(docs, max_bucket=16)


@register(
    "clean_corpus",
    f"""
WITH {DUCK_PERTURBED_CORPUS},
prof AS (
  SELECT doc_id, text, ({_duck_ntok})::INT AS n_tokens,
         {_duck_quality} AS quality,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM corpus),
passed AS (SELECT * FROM prof WHERE quality >= 0.8),
keepers AS (
  SELECT p.* FROM passed p
  JOIN (SELECT fp, min(doc_id) AS doc_id FROM passed GROUP BY fp) k
    ON p.doc_id = k.doc_id AND p.fp = k.fp),
{DUCK_SHINGLES_CTE.replace("FROM corpus", "FROM keepers")},
sig AS (SELECT doc_id, {_duck_minhash_cols(8)} FROM sh),
bands AS ({_DUCK_BANDS}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bsig = r.bsig AND l.doc_id < r.doc_id),
neardup AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
  WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
          / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.8)
SELECT doc_id, n_tokens, round(quality, 6) AS quality
FROM keepers WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
""",
)
def clean_corpus_q(spark, sf_dir):
    """THE END-TO-END CLEANING PIPELINE a training-data user actually
    runs, as ONE oracle-gated query over a corpus with planted exact
    and near duplicates: quality scoring -> low-quality filter (>=0.8)
    -> exact dedup (keep lowest doc_id per fingerprint) -> MinHash+LSH
    near-dup removal (drop the higher id of every verified pair).
    Every stage is one of the already-verified operators; the oracle
    composes their DuckDB forms into the same chain, so the HASH match
    checks the composition (filter/dedup/join interplay), not just the
    parts."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = dd.perturbed_corpus(docs)
    t = F.col("text")
    prof = corpus.select(
        "doc_id", "text",
        tx.token_count(t).alias("n_tokens"),
        tx.quality_score(t).alias("quality"),
        tx.fingerprint(t).alias("fp"),
    )
    passed = prof.filter(F.col("quality") >= 0.8)
    keep = passed.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # localCheckpoint, not persist(): the blocks are freed by the
    # ContextCleaner once the driver reference is GC'd, so repeated
    # invocations (bench battery, check_oracles, long sessions) don't
    # accumulate cached partitions the way un-unpersisted persist()s do
    keepers = passed.join(keep, ["fp", "doc_id"]).localCheckpoint()
    pairs = dd.minhash_dedup_pairs(
        keepers.select("doc_id", "text"), threshold=0.8
    )
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return keepers.join(drop, "doc_id", "left_anti").select(
        "doc_id", "n_tokens", F.round("quality", 6).alias("quality")
    )


@register(
    "dedup_simhash",
    f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
w AS (SELECT doc_id, {DUCK_WORDS} AS words FROM corpus),
{DUCK_SIMHASH_H_CTE}
SELECT doc_id, ({_duck_simhash_expr()}) AS simhash FROM h
""",
)
def dedup_simhash(spark, sf_dir):
    """Per-document 64-bit SimHash (document fingerprinting for
    near-dup detection), pure column expressions."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", dd.simhash(F.col("text")).alias("simhash")
    )


@register(
    "simhash_near_dups",
    f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(words[1:greatest(len(words)-1, 1)], ' ') AS text
  FROM (SELECT doc_id, {DUCK_WORDS} AS words FROM base)),
w AS (SELECT doc_id, {DUCK_WORDS} AS words FROM corpus),
{DUCK_SIMHASH_H_CTE},
s AS (SELECT doc_id, ({_duck_simhash_expr()}) AS sh FROM h)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  bit_count(xor(a.sh, b.sh))::INT AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
""",
)
def simhash_near_dups_q(spark, sf_dir):
    """64-bit SimHash near-dup pairs via the 16-bit quarter-key bucket
    join; the oracle brute-forces ALL pairs — equality proves the
    candidate scheme is complete for hamming<=3, not just plausible."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    corpus = dd.perturbed_corpus(docs)
    return dd.simhash_near_dups(corpus, max_hamming=3)


@register(
    "ngram_jaccard",
    f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(words[1:greatest(len(words)-1, 1)], ' ') AS text
  FROM (SELECT doc_id, {DUCK_WORDS} AS words FROM documents WHERE doc_id < 50)),
{DUCK_SHINGLES_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.5
""",
)
def ngram_jaccard(spark, sf_dir):
    """All-pairs n-gram Jaccard on a small slice (the exact-verify
    kernel of the dedup family, run standalone)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    corpus = dd.perturbed_corpus(docs)
    sh = corpus.select(
        "doc_id", dd.word_shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        6,
    )
    return pairs.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= 0.5)


_CONTAIN_BOILER = "legal notice all rights reserved worldwide"


@register(
    "ngram_containment",
    f"""
WITH base AS (
  SELECT doc_id, text || ' {_CONTAIN_BOILER}' AS text
  FROM documents WHERE doc_id < 40),
bw AS (SELECT doc_id, {DUCK_WORDS} AS words FROM base),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(words[1:greatest(len(words)//4, 5)], ' ') AS text
  FROM bw),
{DUCK_SHINGLES_CTE},
posts AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
kept AS (SELECT doc_id, gram FROM (
    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS _df
    FROM posts) WHERE _df <= 30),
sizes AS (SELECT doc_id AS doc_a, count(*) AS _sz FROM kept GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS _inter
  FROM kept a JOIN kept b USING (gram)
  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, round(_inter::DOUBLE / _sz, 6) AS containment
FROM inter JOIN sizes USING (doc_a)
WHERE round(_inter::DOUBLE / _sz, 6) >= 0.5
""",
)
def ngram_containment(spark, sf_dir):
    """Asymmetric containment |A'∩B'|/|A'| via a df-capped inverted
    shingle index (dd.containment_pairs) — catches fragments/quotes
    that Jaccard misses. The corpus plants both failure modes: every
    base doc carries the same boilerplate suffix (its grams exceed
    max_df=30 and are pruned — exercising the cap in the gated query)
    and each doc has a first-quarter fragment twin (containment ≈ 1
    toward its source at Jaccard ≈ 0.25)."""
    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + _CONTAIN_BOILER)).alias("text"),
    )
    w = dd.normalized_words(F.col("text"))
    frags = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.slice(
                w, 1,
                F.greatest(
                    F.floor(F.size(w) / 4).cast("int"), F.lit(5)
                ),
            ),
            " ",
        ).alias("text"),
    )
    corpus = base.unionByName(frags)
    return dd.containment_pairs(corpus, max_df=30, threshold=0.5)


def duck_dup_positions(n: int) -> str:
    """DuckDB rendering of dd._dup_positions for word n-grams."""
    return f"""
bw AS (SELECT doc_id, {DUCK_WORDS} AS words FROM corpus),
g AS (
  SELECT doc_id, u.pos AS pos, u.gram AS gram
  FROM (
    SELECT doc_id, unnest(list_transform(range(0, len(words) - {n - 1}),
      p -> {{'pos': p,
             'gram': array_to_string(words[p+1:p+{n}], ' ')}})) AS u
    FROM bw WHERE len(words) >= {n})),
hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM g JOIN hot USING (gram))
"""


DUCK_DUP_POSITIONS = duck_dup_positions(3)


@register(
    "duplicate_spans",
    f"""
WITH {DUCK_PERTURBED_CORPUS},
{DUCK_DUP_POSITIONS},
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) - min(pos) + 3)::BIGINT AS span_len
FROM isl GROUP BY doc_id, grp HAVING max(pos) - min(pos) + 3 >= 3
""",
)
def duplicate_spans(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022 substring
    dedup as a distributed k-gram index — dd.duplicate_spans). The
    perturbed corpus plants (doc, doc+10^6) twins sharing every
    3-gram, so each twin pair yields near-full-doc maximal spans; the
    random-soup background contributes only chance-collision grams."""
    corpus = dd.perturbed_corpus(_t(spark, sf_dir, "documents"))
    return dd.duplicate_spans(corpus)


@register(
    "duplicate_spans_n",
    f"""
WITH {DUCK_PERTURBED_CORPUS},
{duck_dup_positions(5)},
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) - min(pos) + 5)::BIGINT AS span_len
FROM isl GROUP BY doc_id, grp HAVING max(pos) - min(pos) + 5 >= 6
""",
)
def duplicate_spans_n(spark, sf_dir):
    """Configurable-length exact-substring dedup: the same distributed
    k-gram span finder at n=5 with a min span of 6 words, proving the
    span length is a knob, not a constant. The production shape is
    n ~ 50 words with hash_grams=True (8-byte xxhash64 exchange keys
    — see dd._dup_positions); that path is pinned by the pure-Python
    twin test (test_duplicate_spans_n50_hashed_matches_twin) because
    xxhash64 has no DuckDB twin to replay the strings through."""
    corpus = dd.perturbed_corpus(_t(spark, sf_dir, "documents"))
    return dd.duplicate_spans(corpus, n=5, min_len=6)


@register(
    "dup_token_ratio",
    f"""
WITH {DUCK_PERTURBED_CORPUS},
{DUCK_DUP_POSITIONS},
sizes AS (SELECT doc_id, len({DUCK_WORDS}) AS n_tokens FROM corpus),
cov AS (
  SELECT doc_id, count(*) AS dup_tokens FROM (
    SELECT DISTINCT doc_id, pos + t.tok AS tok
    FROM dup, range(0, 3) t(tok)) GROUP BY doc_id)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       dup_tokens::BIGINT AS dup_tokens,
       round(dup_tokens::DOUBLE / n_tokens, 6) AS dup_ratio
FROM cov JOIN sizes USING (doc_id)
""",
)
def dup_token_ratio(spark, sf_dir):
    """Per-doc duplicated-token fraction (dd.duplicate_token_ratio) —
    the substring-dedup FILTER metric: a cleaning pipeline drops or
    trims docs whose duplicated fraction exceeds a budget. Planted
    twins read dup_ratio ~1.0; untouched docs appear only via chance
    gram collisions."""
    corpus = dd.perturbed_corpus(_t(spark, sf_dir, "documents"))
    return dd.duplicate_token_ratio(corpus)


# ==========================================================================
# 4. Training-data operators: similarity search
# ==========================================================================
@register(
    "embedding_topk",
    """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT query_id, neighbor_id,
        round(list_cosine_similarity(qv, cv), 4) AS cos
      FROM q, c WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, (row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id))::INT AS rank FROM s)
WHERE rank <= 5
""",
)
def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k (native zip_with/aggregate dot
    products; ranks computed on rounded scores so both engines break
    ties identically)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    # rank on the ROUNDED score so both engines break near-ties the
    # same way (cross-engine float-summation stability)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim.cosine(F.col("qv"), F.col("cv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def _duck_bucket(
    vec: str, first_plane: int = 0, n_planes: int = 6, dim: int = 64
) -> str:
    # the ±1 hyperplane coords are INLINED AS LITERALS from the same
    # plane_signs() call the Spark side folds at plan-build time —
    # cross-engine parity by construction (see similarity.plane_signs);
    # the left-fold list_sum keeps DuckDB's summation order identical
    # to the Catalyst aggregate/zip_with fold
    parts = []
    for p in range(n_planes):
        signs = ", ".join(str(s) for s in sim.plane_signs(first_plane + p, dim))
        sgn = (
            f"(CASE WHEN list_sum(list_transform(range(0, {dim}), d -> "
            f"([{signs}])[d+1] * {vec}[d+1])) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
        parts.append(sgn)
    return "(" + " + ".join(parts) + ")"


_DUCK_ND_TABLES = 4
_DUCK_ND_PLANES = 8
_DUCK_ND_BUCKET_COLS = ", ".join(
    f"{_duck_bucket('v', t * _DUCK_ND_PLANES, _DUCK_ND_PLANES)} AS b{t}"
    for t in range(_DUCK_ND_TABLES)
)
_DUCK_ND_MATCH = " OR ".join(
    f"l.b{t} = r.b{t}" for t in range(_DUCK_ND_TABLES)
)
# the vector analog of DUCK_PERTURBED_CORPUS (similarity.perturbed_embeddings)
_DUCK_PERTURBED_EMB = """
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(range(0, 64),
           d -> v[d+1] * (1.0 + ((d*37) % 5 - 2) * 0.01)) AS v
  FROM base)
"""


@register(
    "embedding_near_dups",
    f"""
WITH {_DUCK_PERTURBED_EMB},
b AS (SELECT vec_id AS vid, v, {_DUCK_ND_BUCKET_COLS} FROM corpus),
cand AS (
  SELECT DISTINCT l.vid AS vec_a, r.vid AS vec_b
  FROM b l JOIN b r ON l.vid < r.vid AND ({_DUCK_ND_MATCH}))
SELECT vec_a, vec_b,
  round(round(list_cosine_similarity(a.v, bb.v), 6), 4) AS cos
FROM cand JOIN b a ON a.vid = vec_a JOIN b bb ON bb.vid = vec_b
WHERE round(list_cosine_similarity(a.v, bb.v), 6) >= 0.95
""",
)
def embedding_near_dups_q(spark, sf_dir):
    """Embedding-cosine near-dup pairs over a corpus with PLANTED
    ε-perturbed near-duplicates, multi-table banded hyperplane LSH +
    exact-cosine verify. The oracle replicates the hyperplane buckets
    (verifying candidate arithmetic + survivors exactly); recall vs
    brute force with the planted positives is asserted separately in
    tests/test_functions.py — and unlike round 1 (0 rows at sf0.001)
    this query demonstrably finds the planted near-dups."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    corpus = sim.perturbed_embeddings(emb)
    out = sim.embedding_near_dups(corpus, threshold=0.95)
    return out.select(
        "vec_a", "vec_b", F.round("cos", 4).alias("cos")
    )


@register(
    "semdedup_prune",
    f"""
WITH {_DUCK_PERTURBED_EMB},
c AS (SELECT vec_id AS cid, v AS cv FROM corpus),
cents AS (
  SELECT cid AS cent_id, cv AS centv FROM (
    SELECT cid, cv FROM c
    ORDER BY {duck_hash("'ivf:'||cid")}, cid LIMIT 32)),
sc AS (SELECT cid, cv, cent_id,
         round(list_cosine_similarity(cv, centv), 6) AS cs FROM c, cents),
assigned AS (
  SELECT cid, cv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY cid
             ORDER BY cs DESC, cent_id) AS rn FROM sc) WHERE rn = 1),
p AS (
  SELECT a.cent_id AS cent_id, b.cid AS vec_id, a.cid AS a_id,
         round(list_cosine_similarity(a.cv, b.cv), 6) AS cos
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.cid < b.cid
  WHERE round(list_cosine_similarity(a.cv, b.cv), 6) >= 0.999)
SELECT vec_id, cent_id, a_id AS dup_of, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY a_id) AS rn
  FROM p) WHERE rn = 1
""",
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup (sim.semdedup): cluster-then-prune semantic dedup over
    a corpus with planted ε-perturbed twins (cos ~ 0.9996 >= eps).
    The oracle replays the whole pipeline — hash-sampled centroids,
    rounded-cosine argmax assignment, within-cluster pair scoring,
    min-anchor tie-break — so the value hash pins clustering AND
    pruning; every planted twin lands in its original's cluster and is
    dropped against it."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    corpus = sim.perturbed_embeddings(emb)
    return sim.semdedup(corpus, n_centroids=32, eps=0.999)


@register(
    "ann_ivf_topk",
    f"""
WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
cents AS (
  SELECT cid AS cent_id, cv AS centv FROM (
    SELECT cid, cv FROM c
    ORDER BY {duck_hash("'ivf:'||cid")}, cid LIMIT 32)),
sc AS (SELECT cid, cv, cent_id,
         round(list_cosine_similarity(cv, centv), 6) AS cs FROM c, cents),
assigned AS (
  SELECT cid, cv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY cid
             ORDER BY cs DESC, cent_id) AS rn FROM sc)
  WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
qs AS (SELECT query_id, qv, cent_id,
         round(list_cosine_similarity(qv, centv), 6) AS cs FROM q, cents),
probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cs DESC, cent_id) AS pr FROM qs)
  WHERE pr <= 4),
s AS (SELECT query_id, cid AS neighbor_id,
        round(list_cosine_similarity(qv, cv), 6) AS cos
      FROM assigned JOIN probes USING (cent_id)
      WHERE cid <> query_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, (row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id))::INT AS rank FROM s)
WHERE rank <= 5
""",
)
def ann_ivf_topk_q(spark, sf_dir):
    """IVF coarse-quantizer ANN (inverted lists + nprobe probing).
    Deterministic centroid pick => the oracle replicates the ENTIRE
    pipeline (assignment, probes, scoring) — a full value-hash check,
    unlike LSH's rows-only; nprobe>=n_centroids equality with brute
    force is asserted in tests/test_functions.py. Centroids: 32
    hash-order-sampled vectors (driver cost fixed at 32 rows whatever
    the corpus size — the round-2 stride pick grew with the corpus)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ivf_topk(emb, queries, k=5, n_centroids=32, nprobe=4)


@register(
    "ann_ivf_kmeans_topk",
    f"""
WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
cents0 AS (
  SELECT cid AS cent_id, cv AS centv FROM (
    SELECT cid, cv FROM c
    ORDER BY {duck_hash("'ivf:'||cid")}, cid LIMIT 32)),
asg0 AS (
  SELECT cid, cv, cent_id FROM (
    SELECT c.cid, c.cv, cent_id,
           row_number() OVER (PARTITION BY c.cid
             ORDER BY round(list_cosine_similarity(cv, centv), 6) DESC,
                      cent_id) AS rn
    FROM c, cents0) WHERE rn = 1),
cm AS (
  SELECT cent_id, u.d AS d, avg(u.x) AS m
  FROM (SELECT cent_id,
          unnest(list_transform(range(0, 64),
            d -> struct_pack(d := d, x := cv[d+1]))) AS u
        FROM asg0)
  GROUP BY cent_id, u.d),
cents AS (
  SELECT c0.cent_id, coalesce(l.centv, c0.centv) AS centv
  FROM cents0 c0 LEFT JOIN (
    SELECT cent_id, list(m ORDER BY d) AS centv FROM cm GROUP BY cent_id
  ) l USING (cent_id)),
sc AS (SELECT cid, cv, cent_id,
         round(list_cosine_similarity(cv, centv), 6) AS cs FROM c, cents),
assigned AS (
  SELECT cid, cv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY cid
             ORDER BY cs DESC, cent_id) AS rn FROM sc)
  WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
qs AS (SELECT query_id, qv, cent_id,
         round(list_cosine_similarity(qv, centv), 6) AS cs FROM q, cents),
probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cs DESC, cent_id) AS pr FROM qs)
  WHERE pr <= 4),
s AS (SELECT query_id, cid AS neighbor_id,
        round(list_cosine_similarity(qv, cv), 6) AS cos
      FROM assigned JOIN probes USING (cent_id)
      WHERE cid <> query_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, (row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id))::INT AS rank FROM s)
WHERE rank <= 5
""",
)
def ann_ivf_kmeans_topk_q(spark, sf_dir):
    """IVF with ONE distributed k-means (Lloyd) refinement pass: the
    hash-sampled centroids are re-centered as per-dimension cluster
    means (a Spark aggregation collecting only n_centroids rows), then
    the usual inverted-list probe. Centroid ids stay stable through
    the pass, so the oracle replicates the full iteration — sample ->
    assign -> group-avg (empty clusters keep their old vector) ->
    reassign -> probe -> score — as plain SQL; the value-hash match
    pins a distributed ITERATIVE algorithm end to end."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ivf_topk(emb, queries, k=5, n_centroids=32, nprobe=4,
                        lloyd_iters=1)


_DUCK_ANN_BUCKET_COLS = ", ".join(
    f"{_duck_bucket('v', t * 5, 5)} AS b{t}" for t in range(4)
)
_DUCK_ANN_MATCH = " OR ".join(f"q.b{t} = c.b{t}" for t in range(4))


@register(
    "ann_lsh_topk",
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {_DUCK_ANN_BUCKET_COLS} FROM e),
q AS (SELECT * FROM b WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM q JOIN b c ON c.vec_id <> q.vec_id AND ({_DUCK_ANN_MATCH})),
s AS (
  SELECT query_id, neighbor_id,
    round(list_cosine_similarity(qb.v, cb.v), 6) AS cos
  FROM cand JOIN b qb ON qb.vec_id = query_id
            JOIN b cb ON cb.vec_id = neighbor_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, (row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id))::INT AS rank FROM s)
WHERE rank <= 5
""",
)
def ann_lsh_topk_q(spark, sf_dir):
    """LSH-bucketed approximate top-k (scale path of embedding_topk).
    FULL oracle since round 3 session 3: the approximation is
    deterministic (hyperplanes are plan-build-time literals), so
    DuckDB replays the bucket arithmetic, candidate union, exact
    rescoring, and rank — recall vs brute force is additionally
    asserted in tests/test_functions.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ann_lsh_topk(emb, queries, k=5)


# ==========================================================================
# 5. The crawl engine itself (flagship) + streaming
# ==========================================================================
@register(
    "crawl_doc_tree",
    """
WITH RECURSIVE r(doc_id, depth) AS (
  SELECT 0::BIGINT AS doc_id, 0 AS depth
  UNION ALL
  SELECT c.doc_id, r.depth + 1
  FROM r JOIN documents c
    ON c.doc_id = r.doc_id * 2 + 1 OR c.doc_id = r.doc_id * 2 + 2)
SELECT d.doc_id, d.lang, d.n_chars, r.depth::INT AS wave
FROM r JOIN documents d ON d.doc_id = r.doc_id
""",
)
def crawl_doc_tree_q(spark, sf_dir):
    """THE ENGINE ORACLE: run the full frontier loop (fetch-join, seen
    set, native transforms, wave scheduling) over a binary-tree web
    derived from documents; DuckDB recursively walks the same tree.
    Row equality incl. the wave column proves BFS scheduling, seen-set
    exactness, and reachability in one check."""
    from .plans.doc_pipeline import crawl_doc_tree

    return crawl_doc_tree(spark, sf_dir)


@register(
    "stream_window_counts",
    """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, event_type,
  count(*) AS n, round(sum(value), 6) AS total
FROM events GROUP BY 1, 2
""",
)
def stream_window_counts_q(spark, sf_dir):
    """Structured Streaming tumbling-window aggregation drained
    synchronously from the parquet source; must equal the batch
    aggregation (the streaming/batch unification check)."""
    from .streaming.windows import stream_window_counts

    return stream_window_counts(spark, f"{sf_dir}/events.parquet")


@register(
    "asof_join_purchases",
    """
SELECT p.event_id, p.user_id, p.ts, v.ts AS ts_r,
       round(v.value, 6) AS value_r
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
""",
)
def asof_join_purchases_q(spark, sf_dir):
    """AS-OF JOIN — a relational operator Spark lacks natively: each
    purchase matched to the user's most recent view at-or-before it
    (point-in-time lookup). Implemented as tagged-union + one window
    pass (functions/temporal.py — one shuffle on the key, NO join);
    the oracle is DuckDB's native ASOF JOIN, so the hash match pins
    the inclusive boundary, per-key isolation, and no-match nulls."""
    from .functions.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = asof_join(purchases, views, on="user_id")
    return out.select(
        "event_id", "user_id", "ts", "ts_r",
        F.round("value_r", 6).alias("value_r"),
    )


@register(
    "range_join_error_bursts",
    """
WITH e AS (SELECT ts, event_id FROM events WHERE event_type = 'error'),
g AS (SELECT ts, CASE WHEN lag(ts) OVER w IS NULL
        OR date_diff('microsecond', lag(ts) OVER w, ts)
           > 3600::BIGINT * 1000000 THEN 1 ELSE 0 END AS n
      FROM e WINDOW w AS (ORDER BY ts, event_id)),
s AS (SELECT ts, sum(n) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS bid
      FROM g),
b AS (SELECT bid, count(*) AS c, min(ts) AS burst_start,
             max(ts) AS burst_end
      FROM s GROUP BY 1 HAVING c >= 3)
SELECT p.event_id, p.user_id, p.ts, b.burst_start, b.burst_end
FROM events p, b
WHERE p.event_type = 'purchase'
  AND p.ts BETWEEN b.burst_start AND b.burst_end
""",
)
def range_join_error_bursts_q(spark, sf_dir):
    """UN-KEYED RANGE JOIN at scale: purchases that fell inside global
    error bursts (gap-grouped error intervals, >=3 errors). A naive
    BETWEEN join is BroadcastNestedLoop (|P| x |I|); the
    temporal.range_join_buckets spelling explodes intervals to overlap
    buckets and EQUI-joins on the bucket — a plain shuffle join that
    survives both sides being large. The oracle runs the naive BETWEEN
    join, so the hash match proves the bucketed plan returns exactly
    the same containment set."""
    from .functions.temporal import range_join_buckets

    e = _t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("ts", "event_id")
    # interval derivation is a global window: fine, the interval side
    # is small by construction (bursts); the JOIN is the scale path
    w = Window.orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.col("ts").cast("timestamp").cast("double")
            - prev.cast("timestamp").cast("double")) > 3600.0),
        1,
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    bursts = (
        errors.withColumn("_new", is_new)
        .withColumn("_bid", F.sum("_new").over(cum))
        .groupBy("_bid")
        .agg(
            F.count("*").alias("_c"),
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
        )
        .filter(F.col("_c") >= 3)
        .select("burst_start", "burst_end")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return range_join_buckets(
        purchases, bursts, ts="ts", start="burst_start", end="burst_end"
    ).select("event_id", "user_id", "ts", "burst_start", "burst_end")


def _zorder_oracle() -> str:
    from .functions.layout import zorder_key_duckdb

    return f"""
WITH e AS (
  SELECT user_id AS u,
         epoch_us(ts) // 60000000 - 28401120 AS m
  FROM events),
k AS (SELECT u, m, {zorder_key_duckdb('u', 'm', 16)} AS zkey FROM e)
SELECT (zkey >> 20)::BIGINT AS bucket, count(*) AS n,
  min(u) AS umin, max(u) AS umax,
  min(m)::BIGINT AS mmin, max(m)::BIGINT AS mmax
FROM k GROUP BY 1
"""


@register("zorder_layout", _zorder_oracle)
def zorder_layout_q(spark, sf_dir):
    """Z-order (Morton) clustering keys over events(user_id, minute) —
    the OPTIMIZE ZORDER primitive (functions/layout.py): one unrolled
    map-side bit-interleave expression, no UDF, no shuffle for the key
    itself. The query rolls events up by zkey-prefix bucket and
    reports each bucket's user/time ranges: the value-hash match pins
    the interleave arithmetic, and the narrow per-bucket ranges
    (asserted in tests/test_functions.py) demonstrate the 2-D
    locality that makes parquet min/max stats prunable on either
    dimension after a repartitionByRange(zkey) rewrite."""
    from .functions import layout as lay

    ev = _t(spark, sf_dir, "events")
    k = ev.select(
        F.col("user_id").alias("u"),
        (
            F.floor(ev["ts"].cast("timestamp").cast("long") / 60)
            - F.lit(28401120)
        )
        .cast("long")
        .alias("m"),
    ).withColumn("zkey", lay.zorder_key(F.col("u"), F.col("m")))
    return k.groupBy(
        F.shiftright("zkey", 20).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.min("u").alias("umin"), F.max("u").alias("umax"),
        F.min("m").alias("mmin"), F.max("m").alias("mmax"),
    )


@register(
    "stream_sliding_counts",
    """
SELECT win_start, event_type, count(*) AS n, round(sum(value), 6) AS total
FROM (
  SELECT event_type, value,
    time_bucket(INTERVAL '5 minutes', ts) - to_minutes(5 * i) AS win_start
  FROM events, range(2) t(i)
)
GROUP BY 1, 2
""",
)
def stream_sliding_counts_q(spark, sf_dir):
    """SLIDING (hopping) windows: width 10 min, slide 5 min — every
    event lands in exactly 2 overlapping windows; the oracle replicates
    the expansion with a 2-row range join on the bucketed start."""
    from .streaming.windows import stream_window_counts

    return stream_window_counts(
        spark, f"{sf_dir}/events.parquet", slide="5 minutes"
    )


@register(
    "stream_sessionize",
    """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
    (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
  FROM g),
sess AS (
  SELECT user_id, session_id, count(*) AS n_events,
         min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY 1, 2),
m AS (SELECT max(ts) AS max_ts FROM events)
SELECT user_id, session_id, n_events, session_start
FROM sess, m
WHERE session_id < (SELECT max(s2.session_id) FROM sess s2
                    WHERE s2.user_id = sess.user_id)
   OR (epoch_us(session_end) // 1000 + 1800000)
      < (epoch_us(max_ts) // 1000 - 1500)
""",
)
def stream_sessionize_q(spark, sf_dir):
    """CUSTOM STATEFUL STREAMING OPERATOR (applyInPandasWithState +
    event-time timeout): gap sessionization emitting provably-CLOSED
    sessions only. The oracle replicates the closure predicate exactly
    — every non-final session per user (closed by the next session's
    arrival) plus final sessions whose ms-floored timeout precedes the
    final watermark (max_ts - 1500 ms delay). Value-hash match proves
    state transitions, timeout firing, and emission timing, not just
    aggregation."""
    from .streaming.sessions import stream_sessionize

    return stream_sessionize(spark, f"{sf_dir}/events.parquet")


def _image_phash_literals() -> list[tuple[int, int]]:
    """Driver-side twin of the worker fingerprint computation in
    image_near_dup_phash_q: the SAME codec functions, run once in plain
    Python, produce the (image_id, fp) literal table the DuckDB oracle
    brute-forces. Cached — ~7 s of pure-Python JPEG for 400 images."""
    from .functions.images import dct_phash, synth_pixels
    from .functions.jpeg import jpeg_decode, jpeg_encode

    out = []
    for i in range(400):
        px = synth_pixels(i, 48, 32)
        out.append((i, dct_phash(px)))
        out.append(
            (i + 1_000_000, dct_phash(jpeg_decode(jpeg_encode(px, 95))))
        )
    return out


_IMAGE_PHASH_SQL_CACHE: list = []


def _image_phash_oracle() -> str:
    """Lazy oracle for image_near_dup_phash (see its docstring for what
    the hash match does and does not prove)."""
    if not _IMAGE_PHASH_SQL_CACHE:
        vals = ", ".join(
            f"({i}, {fp}::BIGINT)" for i, fp in _image_phash_literals()
        )
        _IMAGE_PHASH_SQL_CACHE.append(f"""
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents
             ORDER BY g LIMIT 400),
fp(image_id, fp) AS (VALUES {vals}),
corpus AS (SELECT f.image_id, f.fp FROM fp f
           JOIN ids ON (f.image_id % 1000000) = ids.g)
SELECT a.image_id AS image_id_a, b.image_id AS image_id_b,
       bit_count(xor(a.fp, b.fp))::INT AS hamming
FROM corpus a JOIN corpus b
  ON a.image_id < b.image_id AND bit_count(xor(a.fp, b.fp)) <= 7
""")
    return _IMAGE_PHASH_SQL_CACHE[0]


@register("image_near_dup_phash", _image_phash_oracle)
def image_near_dup_phash_q(spark, sf_dir):
    """Image near-dup dedup as a first-class battery entry: a
    deterministic image corpus derived from documents.doc_id
    (closed-form pixels, images.synth_pixels), each original paired
    with a REAL baseline-JPEG recompression of itself
    (functions/jpeg.py encoder/decoder); decode + 64-bit DCT pHash run
    Arrow-batched in mapInPandas, candidate pairs via the generic
    banded hamming join (pigeonhole-complete at the radius,
    functions/dedup.py:470). Recompression ids are original+10^6, so
    every (i, i+10^6) pair within hamming<=7 is a planted positive.

    FULL value-hash oracle with one honestly-stated asymmetry: a JPEG
    entropy coder is not SQL-expressible, so the oracle's fingerprint
    table is 800 literals computed ONCE, driver-side, by the same codec
    functions (_image_phash_literals, rendered lazily so imports stay
    fast) and inlined as VALUES; DuckDB then brute-forces ALL pairs at
    the radius. The hash match therefore proves (a) the distributed
    mapInPandas codec path reproduces the pinned fingerprints
    bit-for-bit on every worker and (b) the multi-index hamming join is
    complete and exact vs an independent engine's brute force. Whether
    the codec itself is a correct JPEG stays pytest-pinned
    (test_jpeg_roundtrip_and_structure,
    test_image_near_dups_via_hamming_join, PSNR floors).
    """
    import pandas as pd

    from .functions import dedup as dd

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long"))
        .orderBy("doc_id")
        .limit(400)
        # session-width spread: the from-scratch JPEG encode+decode+DCT
        # per image is the heaviest per-row kernel in the battery; 8
        # tasks capped it at a quarter of a 32-core box (r6 A/B: 3.3-3.7s
        # -> 2.1s). The lighter Arrow pipelines below keep 8 — their
        # wall-clock is python-worker fixed cost, and 32 workers cost
        # more than they parallelize (r6 A/B: audio 0.7s -> 1.1s).
        .repartition(_np(spark))
    )

    def phash_pairs(batches):
        # heavy imports inside the worker, once per task
        import numpy as np  # noqa: F401

        from spatula_spark.functions.images import dct_phash, synth_pixels
        from spatula_spark.functions.jpeg import jpeg_decode, jpeg_encode

        for pdf in batches:
            out_id, out_fp = [], []
            for i in pdf["doc_id"].astype("int64"):
                px = synth_pixels(int(i), 48, 32)
                out_id.append(int(i))
                out_fp.append(dct_phash(px))
                out_id.append(int(i) + 1_000_000)
                out_fp.append(
                    dct_phash(jpeg_decode(jpeg_encode(px, quality=95)))
                )
            yield pd.DataFrame({"image_id": out_id, "fp": out_fp})

    corpus = ids.mapInPandas(phash_pairs, "image_id long, fp long")
    # radius 7 auto-selects the multi-index scheme (4 x 16-bit blocks,
    # 65,536 buckets/block) — the 8-bit banded spelling is a
    # quadratic-candidate trap at corpus scale (see dedup.py docstring)
    return dd.hamming_near_dups(
        corpus, "image_id", "fp", max_hamming=7
    ).orderBy("image_id_a", "image_id_b")


@register(
    "image_stats_filter",
    """
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents ORDER BY g LIMIT 200),
imgs AS (
  SELECT g AS image_id, g AS idx, 0 AS variant FROM ids
  UNION ALL SELECT g + 2000000, g, 1 FROM ids WHERE g < 50
  UNION ALL SELECT g + 3000000, g, 2 FROM ids WHERE g < 50
  UNION ALL SELECT g + 4000000, g, 3 FROM ids WHERE g < 50),
px AS (
  SELECT image_id, variant,
    (x*3 + y*7 + ((idx * 2654435761) % 4294967296)) % 256 AS r0,
    (x*5 + y*2 + ((idx * 2654435761) % 4294967296) // 256) % 256 AS g0,
    ((x*x) // 7 + y*11 + ((idx * 2654435761) % 4294967296) // 65536) % 256
      AS b0
  FROM imgs, range(0, 48) t1(x), range(0, 32) t2(y)),
ch AS (
  SELECT image_id,
    CASE variant WHEN 1 THEN r0 // 8 WHEN 2 THEN 128
                 WHEN 3 THEN 255 - r0 // 8 ELSE r0 END AS r,
    CASE variant WHEN 1 THEN g0 // 8 WHEN 2 THEN 128
                 WHEN 3 THEN 255 - g0 // 8 ELSE g0 END AS g,
    CASE variant WHEN 1 THEN b0 // 8 WHEN 2 THEN 128
                 WHEN 3 THEN 255 - b0 // 8 ELSE b0 END AS b
  FROM px),
ys AS (SELECT image_id, (77*r + 150*g + 29*b) // 256 AS y FROM ch),
st AS (
  SELECT image_id, count(*)::BIGINT AS n_px,
    sum(y)::BIGINT AS sum_y, sum(y*y)::BIGINT AS sum_y2,
    min(y)::INT AS min_y, max(y)::INT AS max_y
  FROM ys GROUP BY image_id)
SELECT image_id, n_px, sum_y, sum_y2, min_y, max_y,
  round(sum_y::DOUBLE / n_px, 6) AS mean_luma,
  (n_px*sum_y2 - sum_y*sum_y)::BIGINT AS ivar,
  CASE WHEN sum_y < 32*n_px THEN 'dark'
       WHEN sum_y >= 224*n_px THEN 'blown'
       WHEN n_px*sum_y2 - sum_y*sum_y < 100*n_px*n_px THEN 'flat'
       ELSE 'ok' END AS verdict
FROM st
""",
)
def image_stats_filter_q(spark, sf_dir):
    """Image quality pre-filter — the cheap cut a multimodal pipeline
    runs before spending embed/caption compute: per-image integer luma
    statistics (BT.601, exact int sums) classify dark / blown-out /
    flat frames. The corpus plants all three failure modes against the
    deterministic image field (variants of 50 originals: channels//8,
    constant 128, 255-channels//8); stats run Arrow-batched in
    mapInPandas over numpy (the shape a real decoder feeds), verdicts
    are pure-integer Catalyst CASE arithmetic (no float in any
    comparison). Unlike the phash entry this oracle has NO literal
    asymmetry: synth_pixels is a closed integer form, so DuckDB
    regenerates every pixel of all 350 images and replays the stats —
    a full cross-engine check of the pixel pipeline end to end."""
    import pandas as pd

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long"))
        .orderBy("doc_id")
        .limit(200)
        .repartition(8)
    )

    def stats_iter(batches):
        import numpy as np

        from spatula_spark.functions.images import luma_stats, synth_pixels

        def emit(rows, image_id, px):
            rows.append((image_id,) + luma_stats(px))

        for pdf in batches:
            rows: list = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                px = synth_pixels(i, 48, 32).astype(np.int64)
                emit(rows, i, px)
                if i < 50:
                    emit(rows, i + 2_000_000, px // 8)
                    emit(rows, i + 3_000_000, np.full_like(px, 128))
                    emit(rows, i + 4_000_000, 255 - px // 8)
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "n_px", "sum_y", "sum_y2", "min_y", "max_y"
                ],
            )

    from .functions.images import IMAGE_STATS_SCHEMA, image_quality_verdict

    st = ids.mapInPandas(stats_iter, IMAGE_STATS_SCHEMA)
    n, sy, sy2 = F.col("n_px"), F.col("sum_y"), F.col("sum_y2")
    return st.select(
        "image_id", "n_px", "sum_y", "sum_y2", "min_y", "max_y",
        F.round(sy / n, 6).alias("mean_luma"),
        (n * sy2 - sy * sy).alias("ivar"),
        image_quality_verdict(n, sy, sy2).alias("verdict"),
    )


@register(
    "image_downsample",
    """
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents ORDER BY g LIMIT 200),
px AS (
  SELECT g AS image_id, x, y,
    (x*3 + y*7 + ((g * 2654435761) % 4294967296)) % 256 AS r0,
    (x*5 + y*2 + ((g * 2654435761) % 4294967296) // 256) % 256 AS g0,
    ((x*x) // 7 + y*11 + ((g * 2654435761) % 4294967296) // 65536) % 256
      AS b0
  FROM ids, range(0, 48) t1(x), range(0, 32) t2(y))
SELECT image_id, (x//8)::INT AS bx, (y//8)::INT AS by,
  (sum(r0) // 64)::INT AS r, (sum(g0) // 64)::INT AS g,
  (sum(b0) // 64)::INT AS b
FROM px GROUP BY image_id, x//8, y//8
""",
)
def image_downsample_q(spark, sf_dir):
    """Integer box-filter thumbnailing (images.box_downsample) — the
    resize step of an image ingestion pipeline, emitted one row per
    OUTPUT PIXEL so the oracle checks every thumbnail value
    individually: DuckDB regenerates the full-resolution pixel field
    from the closed form and replays the 8x8 floor-mean per channel.
    Spark side runs the numpy reshape-sum kernel Arrow-batched in
    mapInPandas (the exact shape a PIL/libjpeg decode feeds at
    production scale)."""
    import pandas as pd

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long"))
        .orderBy("doc_id")
        .limit(200)
        .repartition(8)
    )

    def thumbs_iter(batches):
        from spatula_spark.functions.images import (
            box_downsample,
            synth_pixels,
        )

        for pdf in batches:
            rows: list = []
            for i in pdf["doc_id"].astype("int64"):
                th = box_downsample(synth_pixels(int(i), 48, 32), 8)
                for by in range(th.shape[0]):
                    for bx in range(th.shape[1]):
                        rows.append(
                            (int(i), bx, by, int(th[by, bx, 0]),
                             int(th[by, bx, 1]), int(th[by, bx, 2]))
                        )
            yield pd.DataFrame(
                rows, columns=["image_id", "bx", "by", "r", "g", "b"]
            )

    return ids.mapInPandas(
        thumbs_iter, "image_id long, bx int, by int, r int, g int, b int"
    )


@register(
    "audio_features",
    """
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents),
par AS (SELECT g, (200 + (g % 7) * 40)::BIGINT AS n FROM ids),
p AS (SELECT g, n,
        list_transform(range(0, n),
          k -> ((g*31 + k*17) % 4001 - 2000)
               - CASE WHEN (g*31 + k*17) % 4001 > 2000 THEN 1
                      WHEN (g*31 + k*17) % 4001 < 2000 THEN -1
                      ELSE 0 END) AS pv
      FROM par)
SELECT g::VARCHAR AS clip_id, n AS n_samples,
  (8000 + (g % 3) * 4000)::INT AS sample_rate,
  round(sqrt((list_sum(list_transform(pv, x -> x*x))::DOUBLE
              / 1073741824.0) / n), 6) AS rms,
  len(list_filter(range(1, n), k -> pv[k] * pv[k+1] < 0))::BIGINT
    AS zero_crossings
FROM p
""",
)
def audio_features_q(spark, sf_dir):
    """Audio pipeline under a FULL value-hash oracle (the multimodal
    gap VERDICT r3 flagged): per-doc PCM is a closed integer form
    s_k = (g*31 + k*17) % 4001 - 2000, fed as s/32768 floats through
    the REAL stdlib-wave encode path (multimodal.wav_encode) and
    decoded + featurized by the REAL decode path
    (multimodal.audio_features, Arrow-batched mapInPandas). The
    encoder's *32767 truncation maps s -> s - sign(s) exactly (s/2^15
    is dyadic, s*32767 < 2^52, trunc toward zero), so DuckDB replays
    the decoded PCM without touching a codec; energy is an exact
    integer sum (sum(p^2) < 2^31, every float partial sum dyadic below
    2^52 => summation-order-proof), making rms bit-reproducible
    through one division + sqrt, and zero-crossings pure integer sign
    arithmetic. A hash match pins encode, decode, Arrow transport, and
    the feature math end-to-end against an engine with no codec."""
    import pandas as pd

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("g"))
        .repartition(8)
    )

    def make_clips(batches):
        import numpy as np

        from spatula_spark.functions.multimodal import wav_encode

        for pdf in batches:
            out_id, out_b = [], []
            for g in pdf["g"].astype("int64"):
                g = int(g)
                n = 200 + (g % 7) * 40
                k = np.arange(n, dtype=np.int64)
                s = (g * 31 + k * 17) % 4001 - 2000
                out_id.append(str(g))
                out_b.append(
                    wav_encode(s / 32768.0, rate=8000 + (g % 3) * 4000)
                )
            yield pd.DataFrame({"clip_id": out_id, "bytes": out_b})

    from .functions import multimodal as mm

    clips = ids.mapInPandas(make_clips, "clip_id string, bytes binary")
    return mm.audio_features(clips).withColumn("rms", F.round("rms", 6))


def _pq_terms(av: str, bv: str, s: str) -> str:
    """Unrolled squared-L2 over one 8-dim subspace, left-to-right —
    the exact fold order of the Spark/numpy twins."""
    ts = []
    for d in range(1, 9):
        a, b = f"{av}[{s}*8+{d}]", f"{bv}[{s}*8+{d}]"
        ts.append(f"({a}-{b})*({a}-{b})")
    return " + ".join(ts)


@register(
    "ann_pq_topk",
    f"""
WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
samp AS (
  SELECT cid, cv, {duck_hash("'pq:'||cid")} AS h FROM c
  ORDER BY h, cid LIMIT 16),
bk AS (SELECT (row_number() OVER (ORDER BY h, cid) - 1) AS j, cv AS bv
       FROM samp),
ss AS (SELECT unnest(range(0, 8)) AS s),
enc AS (
  SELECT cid, s, j AS code FROM (
    SELECT c.cid, ss.s, bk.j,
      row_number() OVER (PARTITION BY c.cid, ss.s
        ORDER BY CAST(round(({_pq_terms('c.cv', 'bk.bv', 'ss.s')}) * 1e6)
                 AS BIGINT), bk.j) AS rn
    FROM c, ss, bk) t WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
lut AS (SELECT q.query_id, ss.s, bk.j,
          CAST(round(({_pq_terms('q.qv', 'bk.bv', 'ss.s')}) * 1e6)
               AS BIGINT) AS e
        FROM q, ss, bk),
ad AS (SELECT l.query_id, e.cid AS neighbor_id, sum(l.e)::BIGINT AS adl
       FROM enc e JOIN lut l ON l.s = e.s AND l.j = e.code
       WHERE e.cid <> l.query_id
       GROUP BY l.query_id, e.cid)
SELECT query_id, neighbor_id, adist, rank FROM (
  SELECT query_id, neighbor_id, (adl / 1e6) AS adist,
    (row_number() OVER (PARTITION BY query_id
        ORDER BY adl, neighbor_id))::INT AS rank
  FROM ad) WHERE rank <= 5
""",
)
def ann_pq_topk_q(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation
    (similarity.pq_topk): the corpus is stored as 8 codes/vector (64x
    smaller than the float vectors — the memory-side scale path that
    composes with IVF's list pruning). Deterministic hash-sampled
    codebooks + integerized micro-distances make the ENTIRE pipeline
    (encode argmin, lookup tables, ADC fold, ranking) replicable in
    DuckDB — a full value-hash oracle for a vector-compression ANN.
    Planted-positive recall vs brute force is asserted in tests."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.pq_topk(emb, queries, k=5, m=8, n_codes=16)


@register(
    "ann_ivfpq_topk",
    f"""
WITH {_DUCK_PERTURBED_EMB},
c AS (SELECT vec_id AS cid, v AS cv FROM corpus),
cents AS (
  SELECT cid AS cent_id, cv AS centv FROM (
    SELECT cid, cv FROM c
    ORDER BY {duck_hash("'ivf:'||cid")}, cid LIMIT 32)),
sc AS (SELECT cid, cv, cent_id, centv,
         round(list_cosine_similarity(cv, centv), 6) AS cs FROM c, cents),
assigned AS (
  SELECT cid, cv, cent_id, centv FROM (
    SELECT *, row_number() OVER (PARTITION BY cid
             ORDER BY cs DESC, cent_id) AS rn FROM sc) WHERE rn = 1),
res AS (SELECT cid, cent_id,
          list_transform(range(0, 64), d -> cv[d+1] - centv[d+1]) AS rv
        FROM assigned),
samp AS (
  SELECT rv, {duck_hash("'pq:'||cid")} AS h, cid FROM res
  ORDER BY h, cid LIMIT 16),
bk AS (SELECT (row_number() OVER (ORDER BY h, cid) - 1) AS j, rv AS bv
       FROM samp),
ss AS (SELECT unnest(range(0, 8)) AS s),
enc AS (
  SELECT cid, cent_id, s, j AS code FROM (
    SELECT r.cid, r.cent_id, ss.s, bk.j,
      row_number() OVER (PARTITION BY r.cid, ss.s
        ORDER BY CAST(round(({_pq_terms('r.rv', 'bk.bv', 'ss.s')}) * 1e6)
                 AS BIGINT), bk.j) AS rn
    FROM res r, ss, bk) t WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 5),
qs AS (SELECT query_id, qv, cent_id, centv,
         round(list_cosine_similarity(qv, centv), 6) AS cs FROM q, cents),
probes AS (
  SELECT query_id, cent_id,
         list_transform(range(0, 64), d -> qv[d+1] - centv[d+1]) AS rv
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cs DESC, cent_id) AS pr FROM qs) WHERE pr <= 4),
lut AS (SELECT p.query_id, p.cent_id, ss.s, bk.j,
          CAST(round(({_pq_terms('p.rv', 'bk.bv', 'ss.s')}) * 1e6)
               AS BIGINT) AS e
        FROM probes p, ss, bk),
ad AS (SELECT l.query_id, e.cid AS neighbor_id, sum(l.e)::BIGINT AS adl
       FROM enc e JOIN lut l
         ON l.cent_id = e.cent_id AND l.s = e.s AND l.j = e.code
       WHERE e.cid <> l.query_id
       GROUP BY l.query_id, e.cid),
short AS (SELECT query_id, neighbor_id FROM (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
        ORDER BY adl, neighbor_id) AS sr FROM ad) WHERE sr <= 20),
rr AS (SELECT s.query_id, s.neighbor_id,
         round(list_cosine_similarity(q.qv, c.cv), 6) AS cos
       FROM short s JOIN q ON q.query_id = s.query_id
       JOIN c ON c.cid = s.neighbor_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, (row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id))::INT AS rank FROM rr)
WHERE rank <= 5
""",
)
def ann_ivfpq_topk_q(spark, sf_dir):
    """IVF-PQ with residual encoding and exact re-rank
    (sim.ivfpq_topk) — the deployed 10^9-vector composition: IVF
    prunes WHICH lists are scanned (nprobe/n_centroids of the
    corpus), residual PQ compresses WHAT is scanned (8 codes vs 64
    doubles), ADC shortlists, raw vectors re-rank only shortlist x
    queries rows. Every stage is deterministic (hash samples, integer
    micro-distances, total-order ranks), so the oracle replays the
    ENTIRE composition. Planted-twin recall@5 = 1.0 and the
    scanned-fraction bound are asserted in tests/test_functions.py."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    corpus = sim.perturbed_embeddings(emb)
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ivfpq_topk(
        corpus, queries, k=5, n_centroids=32, nprobe=4, m=8,
        n_codes=16, shortlist=20,
    )


# --------------------------------------------------------------------------
# Image+caption (media) pipeline queries — the graft cell's payload.
#
# The driver's oracle battery only ships text/embedding parquet, so these
# derive a media-shaped corpus (image_id, w, h, fmt, caption-phrase, 64-bit
# fingerprint) column-side from documents.doc_id with formulas BOTH engines
# compute: metadata mirrors sources/synthweb.py media() (w/h/fmt closed
# forms), the fingerprint plants near-dup groups (shared portable-hash base
# per g%97 group, <=3 deterministic bit flips per member -> pairwise hamming
# <=6), captions draw from the synthweb word pool via the portable hash.
# This gives the banded/multi-index hamming join and the composed media
# cleaning pipeline FULL cross-engine value-hash oracles; the codec-backed
# sibling (image_near_dup_phash) stays rows-only because a JPEG entropy
# coder is not SQL-expressible.
# --------------------------------------------------------------------------
def _derived_fp(g: str = "g"):
    """Planted-near-dup 64-bit fingerprint, Spark side (see block comment).

    base = portable_hash64('ph:' || g%97); members flip g%4 distinct bits
    at positions (g*7 + 13*i) % 60, i < g%4 — distinct because 0,13,26 are
    distinct mod 60, so pairwise in-group hamming <= 6 exactly."""
    from .urls import portable_hash64

    # F.shiftleft only takes a literal shift count, so the whole thing
    # is one parsed SQL expression (also keeps the Column tree tiny —
    # see the PQ LUT commit for the py4j-op-tree cost lesson)
    flips = " | ".join(
        f"(CASE WHEN {g} % 4 > {i} THEN "
        f"shiftleft(cast(1 as bigint), cast(({g}*7 + {13 * i}) % 60 as int))"
        f" ELSE cast(0 as bigint) END)"
        for i in range(3)
    )
    base = (
        f"cast(conv(substr(md5(concat('ph:', cast({g} % 97 as string)))"
        f", 1, 15), 16, 10) as bigint)"
    )
    return F.expr(f"({base}) ^ ({flips})")


def _duck_fp(gexpr: str = "g") -> str:
    """DuckDB rendering of :func:`_derived_fp` (same bit arithmetic)."""
    g = gexpr
    flips = " | ".join(
        f"(CASE WHEN {g} % 4 > {i} THEN "
        f"(1::BIGINT << (({g}*7 + {13 * i}) % 60)) ELSE 0 END)"
        for i in range(3)
    )
    base = duck_hash(f"'ph:' || ({g} % 97)::VARCHAR")
    return f"xor({base}, ({flips}))"


@register(
    "media_phash_near_dups",
    f"""
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents),
c AS (SELECT g, {_duck_fp('g')} AS fp FROM ids)
SELECT a.g AS image_a, b.g AS image_b,
       bit_count(xor(a.fp, b.fp))::INT AS hamming
FROM c a JOIN c b
  ON a.g < b.g AND bit_count(xor(a.fp, b.fp)) <= 7
""",
)
def media_phash_near_dups_q(spark, sf_dir):
    """The generic 64-bit hamming near-dup join (functions/dedup.py
    hamming_near_dups, multi-index scheme at radius 7) under a FULL
    cross-engine value-hash oracle: fingerprints are derived column-side
    (portable hash + planted bit flips, see _derived_fp) so DuckDB can
    brute-force ALL pairs with bit_count(xor()) while Spark runs the
    4x16-bit multi-index equi-join — a hash match proves the MIH
    candidate scheme is complete AND exact at the radius against an
    independent engine, not just against Spark's own cross join
    (tests pin that separately)."""
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("g")
    )
    corpus = ids.select(
        F.col("g").alias("image"), _derived_fp("g").alias("fp")
    )
    return dd.hamming_near_dups(corpus, "image", "fp", max_hamming=7)


def _media_caption_exprs():
    """(Spark phrase Column builder, DuckDB phrase SQL) from the one
    synthweb word pool — caption words are picked by the portable hash
    of (g%173, position), so both engines agree and the phrase key has
    ~173 distinct values (planted caption-level duplicates)."""
    from .sources.synthweb import _WORDS
    from .urls import portable_hash64

    def spark_phrase(g):
        warr = F.array(*[F.lit(x) for x in _WORDS])
        words = [
            F.element_at(
                warr,
                (
                    portable_hash64(
                        F.concat(
                            F.lit("cap:"),
                            (g % 173).cast("string"),
                            F.lit(f":{i}"),
                        )
                    )
                    % 20
                    + 1
                ).cast("int"),
            )
            for i in range(4)
        ]
        return F.concat_ws(" ", *words)

    wlist = "[" + ",".join(f"'{w}'" for w in _WORDS) + "]"
    hashes = [
        duck_hash(f"'cap:' || (g % 173)::VARCHAR || ':{i}'")
        for i in range(4)
    ]
    duck_phrase = " || ' ' || ".join(
        f"{wlist}[({h} % 20) + 1]" for h in hashes
    )
    return spark_phrase, duck_phrase


_SPARK_PHRASE, _DUCK_PHRASE = _media_caption_exprs()


@register(
    "media_clean",
    f"""
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents),
m AS (
  SELECT g,
    (16 + (g*5) % 49)::INT AS w,
    (16 + (g*7) % 49)::INT AS h,
    CASE WHEN g % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
    ({_DUCK_PHRASE}) AS phrase,
    {_duck_fp('g')} AS fp
  FROM ids),
q AS (SELECT * FROM m
      WHERE least(w, h) >= 24 AND greatest(w, h) <= 2 * least(w, h)),
k AS (SELECT q.* FROM q
      JOIN (SELECT phrase, min(g) AS g FROM q GROUP BY phrase) d
        ON q.g = d.g AND q.phrase = d.phrase),
nd AS (SELECT DISTINCT b.g AS g FROM k a JOIN k b
       ON a.g < b.g AND bit_count(xor(a.fp, b.fp)) <= 7)
SELECT g AS image_id, w, h, fmt, phrase,
       'image ' || g || ': ' || phrase AS caption
FROM k WHERE g NOT IN (SELECT g FROM nd)
""",
)
def media_clean_q(spark, sf_dir):
    """THE LAION-STYLE image+caption cleaning pipeline as ONE
    oracle-gated query — the composed stage a 100 TB image-crawl corpus
    actually runs before training: (1) metadata quality filter
    (min-dimension >= 24 px, aspect ratio <= 2 — w/h/fmt mirror
    sources/synthweb.py media()'s closed forms), (2) caption-level
    exact dedup (many images share a stock caption phrase; keep the
    lowest image_id per phrase), (3) image near-dup removal via the
    multi-index hamming join over the 64-bit fingerprint (drop every
    survivor with a lower-id survivor within hamming <= 7). Every
    stage composes an already-verified operator; the DuckDB oracle
    chains the same three stages with brute-force pairs, so the hash
    match checks the filter/dedup/near-dup interplay end to end."""
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("g")
    )
    g = F.col("g")
    m = ids.select(
        "g",
        (F.lit(16) + (g * 5) % 49).cast("int").alias("w"),
        (F.lit(16) + (g * 7) % 49).cast("int").alias("h"),
        F.when(g % 2 == 0, F.lit("png")).otherwise(F.lit("jpeg"))
        .alias("fmt"),
        _SPARK_PHRASE(g).alias("phrase"),
        _derived_fp("g").alias("fp"),
    )
    q = m.filter(
        (F.least("w", "h") >= 24)
        & (F.greatest("w", "h") <= 2 * F.least("w", "h"))
    )
    first = q.groupBy("phrase").agg(F.min("g").alias("g"))
    # one shuffle for the first-wins dedup; localCheckpoint so the two
    # consumers below (pair join legs + final anti-join) don't recompute
    k = q.join(first, ["phrase", "g"]).localCheckpoint()
    # max_bucket: identical-fingerprint mega-buckets (site chrome
    # images) emit hub stars, not O(m^2) pairs — inert below 4096
    # (every gate-scale bucket is), the safety valve at corpus scale
    pairs = dd.hamming_near_dups(
        k.select(F.col("g").alias("image"), "fp"), "image", "fp",
        max_hamming=7, max_bucket=4096,
    )
    drop = pairs.select(F.col("image_b").alias("g")).distinct()
    return k.join(drop, "g", "left_anti").select(
        g.alias("image_id"), "w", "h", "fmt", "phrase",
        F.concat(F.lit("image "), g.cast("string"), F.lit(": "),
                 F.col("phrase")).alias("caption"),
    )


@register(
    "media_dedup_cc",
    f"""
WITH RECURSIVE ids AS (SELECT doc_id::BIGINT AS g FROM documents),
c AS (SELECT g, {_duck_fp('g')} AS fp FROM ids),
p AS (SELECT a.g AS u, b.g AS v FROM c a JOIN c b
      ON a.g < b.g AND bit_count(xor(a.fp, b.fp)) <= 7),
e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
walk(node, lab) AS (
    SELECT g, g FROM ids
  UNION
    SELECT e.u, w.lab FROM e JOIN walk w ON w.node = e.v
)
SELECT node AS image_id, min(lab)::BIGINT AS component
FROM walk GROUP BY node
""",
)
def media_dedup_cc_q(spark, sf_dir):
    """Cluster-based near-dup dedup: connected components over the
    hamming<=7 pair graph (functions/dedup.py connected_components —
    Boruvka tree hanging + pointer doubling), every doc labeled with
    its component's min image id; isolated docs are their own
    component. This is the dedup semantics a training corpus actually
    wants (greedy pair-drop over-deletes chains; see media_clean for
    the greedy spelling). The DuckDB oracle computes the transitive
    closure independently with a recursive CTE over brute-force
    all-pairs edges, so the value-hash match verifies BOTH the MIH
    candidate join and the iterative contraction against an engine
    that shares no code with either."""
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("g")
    )
    corpus = ids.select(
        F.col("g").alias("image"), _derived_fp("g").alias("fp")
    )
    # capped (inert at gate scale, linear star edges above 4096): the
    # CC consumer is exactly what the cap's connectivity contract serves
    pairs = dd.hamming_near_dups(
        corpus, "image", "fp", max_hamming=7, max_bucket=4096
    )
    cc = dd.connected_components(pairs, "image_a", "image_b")
    return ids.join(cc, ids["g"] == cc["node"], "left").select(
        F.col("g").alias("image_id"),
        F.coalesce("component", "g").alias("component"),
    )


# ---- multimodal dedup: image-phash edges ∪ caption-equality edges ----
# blocks of 6 docs (b = g div 6): members 0-2 share a phash base (each
# flips <=3 bits -> pairwise hamming <=6), members 2-4 share a caption
# phrase; 5 is isolated. So image edges alone cluster {0,1,2}, caption
# edges alone {2,3,4}, and the MULTIMODAL union must produce {0..4}+{5}
# per block — each modality contributes edges the other cannot see.
_MM_SUB = "(CASE WHEN {g} % 6 < 3 THEN -1 ELSE {g} % 6 END)"
_MM_CSUB = "(CASE WHEN {g} % 6 BETWEEN 2 AND 4 THEN -1 ELSE {g} % 6 END)"


def _mm_fp_spark(g: str = "g"):
    sub = _MM_SUB.format(g=g)
    key = (
        f"concat('mmph:', cast({g} div 6 as string), ':', "
        f"cast({sub} as string))"
    )
    base = f"cast(conv(substr(md5({key}), 1, 15), 16, 10) as bigint)"
    flips = " | ".join(
        f"(CASE WHEN {g} % 4 > {i} THEN "
        f"shiftleft(cast(1 as bigint), cast(({g}*7 + {13 * i}) % 60 as int))"
        f" ELSE cast(0 as bigint) END)"
        for i in range(3)
    )
    return F.expr(f"({base}) ^ ({flips})")


def _mm_fp_duck(g: str = "g") -> str:
    sub = _MM_SUB.format(g=g)
    key = f"'mmph:' || ({g} // 6)::VARCHAR || ':' || ({sub})::VARCHAR"
    flips = " | ".join(
        f"(CASE WHEN {g} % 4 > {i} THEN "
        f"(1::BIGINT << (({g}*7 + {13 * i}) % 60)) ELSE 0 END)"
        for i in range(3)
    )
    return f"xor({duck_hash(key)}, ({flips}))"


def _mm_caption_exprs():
    from .sources.synthweb import _WORDS
    from .urls import portable_hash64

    def spark_phrase():  # over a column literally named g
        warr = F.array(*[F.lit(x) for x in _WORDS])
        csub = F.expr(_MM_CSUB.format(g="g"))
        key = F.concat(
            F.lit("mmcap:"),
            F.expr("g div 6").cast("string"),
            F.lit(":"),
            csub.cast("string"),
        )
        words = [
            F.element_at(
                warr,
                (
                    portable_hash64(F.concat(key, F.lit(f":{i}"))) % 20 + 1
                ).cast("int"),
            )
            for i in range(3)
        ]
        return F.concat_ws(" ", *words)

    wlist = "[" + ",".join(f"'{w}'" for w in _WORDS) + "]"
    csub = _MM_CSUB.format(g="g")
    key = f"'mmcap:' || (g // 6)::VARCHAR || ':' || ({csub})::VARCHAR"
    parts = []
    for i in range(3):
        kexpr = f"{key} || ':{i}'"
        parts.append(f"{wlist}[({duck_hash(kexpr)} % 20) + 1]")
    return spark_phrase, " || ' ' || ".join(parts)


_MM_SPARK_PHRASE, _MM_DUCK_PHRASE = _mm_caption_exprs()


@register(
    "multimodal_dedup_cc",
    f"""
WITH RECURSIVE ids AS (SELECT doc_id::BIGINT AS g FROM documents),
c AS (SELECT g, {_mm_fp_duck('g')} AS fp, ({_MM_DUCK_PHRASE}) AS phrase
      FROM ids),
img AS (SELECT a.g AS u, b.g AS v FROM c a JOIN c b
        ON a.g < b.g AND bit_count(xor(a.fp, b.fp)) <= 7),
cap AS (SELECT c.g AS u, d.v FROM c
        JOIN (SELECT phrase, min(g) AS v FROM c GROUP BY phrase) d
          ON c.phrase = d.phrase AND c.g <> d.v),
p AS (SELECT u, v FROM img UNION SELECT u, v FROM cap),
e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
walk(node, lab) AS (
    SELECT g, g FROM ids
  UNION
    SELECT e.u, w.lab FROM e JOIN walk w ON w.node = e.v
)
SELECT node AS image_id, min(lab)::BIGINT AS component
FROM walk GROUP BY node
""",
)
def multimodal_dedup_cc_q(spark, sf_dir):
    """MULTIMODAL near-dup clustering: one connected-components pass
    over the union of image edges (64-bit phash hamming <= 7 via the
    multi-index join) and caption edges (exact phrase match). Caption
    cliques are spelled as STAR edges (member -> per-phrase min id) —
    same closure, linear edge count — because stock captions form
    10^6-member cliques at web scale and pairwise edges would explode
    quadratically. The planted-block corpus (see _MM_SUB comment)
    makes each modality contribute edges the other cannot see, so the
    value-hash match proves the union closure, not either modality
    alone. Oracle: brute-force edges + recursive-CTE closure."""
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("g")
    )
    corpus = ids.select(
        "g", _mm_fp_spark("g").alias("fp"),
        _MM_SPARK_PHRASE().alias("phrase"),
    ).localCheckpoint()  # two edge builds + final label join read it
    img = dd.hamming_near_dups(
        corpus.select(F.col("g").alias("image"), "fp"), "image", "fp",
        max_hamming=7, max_bucket=4096,  # inert at gate scale; see cc twin
    ).select(F.col("image_a").alias("u"), F.col("image_b").alias("v"))
    first = corpus.groupBy("phrase").agg(F.min("g").alias("v"))
    cap = (
        corpus.join(first, "phrase")
        .filter(F.col("g") != F.col("v"))
        .select(F.col("g").alias("u"), "v")
    )
    edges = img.unionByName(cap)
    cc = dd.connected_components(edges, "u", "v")
    return ids.join(cc, ids["g"] == cc["node"], "left").select(
        F.col("g").alias("image_id"),
        F.coalesce("component", "g").alias("component"),
    )


def _corpus_split_oracle() -> str:
    from .functions.sampling import duck_split_sql

    return f"""
WITH s AS (
  SELECT doc_id, {duck_split_sql('doc_id')} AS split,
         {_duck_lang_guess()} AS lang_guess,
         ({_duck_ntok})::INT AS n_tokens
  FROM documents)
SELECT lang_guess, split, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens
FROM s GROUP BY lang_guess, split
"""


@register("corpus_split", None)
def corpus_split_q(spark, sf_dir):
    """Deterministic stratified train/val/test split
    (functions/sampling.py hash_split): assignment is a pure column
    function of doc_id — stable under repartitioning, cluster size,
    and reruns, unlike randomSplit's per-partition seeded sampling —
    grouped by the language-ID stratum to show per-language
    proportions hold. The oracle recomputes the md5 bucket arithmetic
    and the lang-ID argmax independently in DuckDB."""
    from .functions import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    s = sp.hash_split(docs, "doc_id").select(
        tx.lang_id(F.col("text")).alias("lang_guess"),
        "split",
        tx.token_count(F.col("text")).alias("n_tokens"),
    )
    return s.groupBy("lang_guess", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


ORACLES["corpus_split"] = _corpus_split_oracle()


def _corpus_shuffle_oracle() -> str:
    h_sort = duck_hash("'epoch0:' || doc_id::VARCHAR")
    h_shard = duck_hash("'shard:' || doc_id::VARCHAR")
    return f"""
WITH s AS (
  SELECT doc_id,
         {h_sort} AS sort_key,
         ({h_shard} % 16)::INT AS shard
  FROM documents)
SELECT doc_id, shard, sort_key,
       (row_number() OVER (PARTITION BY shard
                           ORDER BY sort_key, doc_id))::BIGINT AS pos
FROM s
"""


@register("corpus_shuffle", None)
def corpus_shuffle_q(spark, sf_dir):
    """Deterministic seeded training-order shuffle
    (functions/sampling.py seeded_shuffle): every doc's (shard,
    sort_key) is a pure column function of (seed, doc_id) — the
    training-loader order is reproducible across reruns, cluster
    sizes and partitionings, unlike orderBy(rand(seed)), and a new
    epoch is just a new seed string. ``pos`` (rank within shard) is a
    per-shard window — shards are the parallel unit, so no task sorts
    more than corpus/n_shards rows at any scale. Oracle recomputes
    the md5 hashes and per-shard row_number in DuckDB."""
    from .functions import sampling as sp

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    s = sp.seeded_shuffle(docs, "doc_id", seed="epoch0", n_shards=16)
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return s.select(
        "doc_id", "shard", "sort_key",
        F.row_number().over(w).cast("long").alias("pos"),
    )


ORACLES["corpus_shuffle"] = _corpus_shuffle_oracle()


@register(
    "mixture_plan",
    f"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum({_duck_ntok})::BIGINT AS tokens
  FROM documents GROUP BY source),
tot AS (SELECT sum(tokens)::BIGINT AS tot, count(*)::BIGINT AS n FROM per)
SELECT source, n_docs, tokens,
  (tokens * 1000000 // tot)::BIGINT AS natural_share_ppm,
  (1000000 // n)::BIGINT AS target_share_ppm,
  least(1000000, (tot // 2 * 1 // n) * 1000000 // tokens)::BIGINT
    AS sample_rate_ppm,
  ((tot // 2 * 1 // n) * 1000000 // tokens)::BIGINT AS epochs_ppm
FROM per, tot
""",
)
def mixture_plan_q(spark, sf_dir):
    """Training-mixture planning (functions/sampling.py mixture_plan):
    per-source token inventories -> sampling rate and epoch count for
    a uniform target mixture under a half-corpus token budget. The
    downsample/repeat decision every pretraining data recipe makes;
    all-int64 ppm fixed point (floor division, operation order
    mirrored in the oracle) so no float share ever materializes."""
    from .functions import sampling as sp
    from .functions import text as _tx

    docs = _t(spark, sf_dir, "documents")
    return sp.mixture_plan(
        docs.select("source", _tx.token_count(F.col("text")).alias("ntok")),
        "source",
        "ntok",
    )


# ==========================================================================
# 10. Corpus hygiene: repetition filters / decontamination / sampling
# ==========================================================================
_DUCK_NWORDS = "len(words)"


def _duck_rep_metrics() -> str:
    """DuckDB mirror of quality.repetition_profile's metric columns
    (expects a CTE `w(doc_id, words)` of normalized word lists)."""
    n = _DUCK_NWORDS
    bigrams = (
        f"list_transform(range(1, {n}), i -> words[i] || ' ' || words[i+1])"
    )
    trigrams = (
        f"list_transform(range(1, {n}-1), "
        "i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])"
    )
    dw = f"round(({n} - len(list_distinct(words)))::DOUBLE / greatest({n}, 1), 6)"
    db = (
        f"round((CASE WHEN {n} >= 2 THEN ({n}-1) - len(list_distinct({bigrams})) "
        f"ELSE 0 END)::DOUBLE / greatest(CASE WHEN {n} >= 2 THEN {n}-1 ELSE 0 END, 1), 6)"
    )
    dt = (
        f"round((CASE WHEN {n} >= 3 THEN ({n}-2) - len(list_distinct({trigrams})) "
        f"ELSE 0 END)::DOUBLE / greatest(CASE WHEN {n} >= 3 THEN {n}-2 ELSE 0 END, 1), 6)"
    )
    adj = (
        f"round((len(list_filter(range(1, {n}), i -> words[i] = words[i+1])))"
        f"::DOUBLE / greatest({n}-1, 1), 6)"
    )
    from .functions import quality as ql

    return f"""
  {n}::INT AS n_words,
  {dw} AS dup_word_frac,
  {db} AS dup_bigram_frac,
  {dt} AS dup_trigram_frac,
  {adj} AS adjacent_dup_frac,
  ({dw} <= {ql.MAX_DUP_WORD_FRAC} AND {db} <= {ql.MAX_DUP_BIGRAM_FRAC}
   AND {adj} <= {ql.MAX_ADJACENT_DUP_FRAC}) AS keep"""


@register("doc_repetition_filters", None)
def doc_repetition_filters_q(spark, sf_dir):
    """Gopher-style repetition removal (functions/quality.py
    repetition_profile): duplicate word/bigram/trigram fractions +
    adjacent-duplicate-word fraction + keep flag, all map-side array
    expressions (no shuffle — streams at scan speed at 100 TB)."""
    from .functions import quality as ql

    return ql.repetition_profile(_t(spark, sf_dir, "documents"))


ORACLES["doc_repetition_filters"] = f"""
WITH w AS (SELECT doc_id, {DUCK_WORDS} AS words FROM documents)
SELECT doc_id,{_duck_rep_metrics()}
FROM w
"""


@register(
    "quality_cut",
    f"""
WITH w AS (SELECT doc_id, lang, {DUCK_WORDS} AS words FROM documents),
m AS (SELECT doc_id, lang,
        round((len(words) - len(list_distinct(words)))::DOUBLE
              / greatest(len(words), 1), 6) AS dup_word_frac FROM w),
r AS (SELECT doc_id, lang, dup_word_frac,
        round(percent_rank() OVER (PARTITION BY lang
          ORDER BY dup_word_frac ASC, doc_id ASC), 6) AS pr FROM m)
SELECT doc_id, lang, dup_word_frac, pr FROM r WHERE pr <= 0.25
""",
)
def quality_cut_q(spark, sf_dir):
    """Per-language quality cut (curriculum selection): keep the
    cleanest quartile WITHIN each language rather than above a global
    threshold — a global cut empties low-resource languages from the
    mixture. Exact percent_rank window per lang (pure integer rank
    arithmetic → bit-exact oracle). Scale note: a per-lang window
    sorts each whole language in one partition; at 100 TB swap it for
    a two-pass cut with identical keep semantics (per-lang
    approxQuantile threshold → broadcast → map-side filter)."""
    from .functions import quality as ql

    # __w projected (lambda-CSE trap) + widen-only spread (guide §2.5)
    docs = dd._spread(_t(spark, sf_dir, "documents")).withColumn(
        "__w", dd.normalized_words(F.col("text"))
    )
    m = docs.select(
        "doc_id", "lang",
        ql._dup_frac(F.col("__w")).alias("dup_word_frac"),
    )
    win = Window.partitionBy("lang").orderBy(
        F.col("dup_word_frac").asc(), F.col("doc_id").asc()
    )
    return m.select(
        "doc_id",
        "lang",
        "dup_word_frac",
        F.round(F.percent_rank().over(win), 6).alias("pr"),
    ).filter(F.col("pr") <= 0.25)


def _pagerank_oracle() -> str:
    from .functions import graph as gr

    nodes_sql = "SELECT doc_id AS node FROM documents"
    dst = duck_hash("node::VARCHAR || ':pr' || j")
    edges_sql = (
        f"SELECT node AS src, {dst} % "
        "(SELECT count(*) FROM documents) AS dst "
        f"FROM ({nodes_sql}) CROSS JOIN unnest([1, 2, 3]) AS t(j)"
    )
    return f"""
WITH {gr.integer_pagerank_duckdb(nodes_sql, edges_sql, n_iter=5)}
SELECT node AS doc_id, r AS rank_scaled
FROM pr_r5 ORDER BY r DESC, node ASC LIMIT 20
"""


@register("pagerank_top20", _pagerank_oracle)
def pagerank_top20_q(spark, sf_dir):
    """Integer-exact distributed PageRank (functions/graph.py) over a
    deterministic 3-outlink doc graph: 5 power-iteration rounds, each
    one slim (node, rank) join + hash agg — the canonical crawl-
    prioritization workload. Scaled-integer arithmetic makes every
    round order-independent, so the DuckDB oracle value-hashes the
    top-20 ranks bit-for-bit (a float PageRank could never be
    hash-gated: float sums differ across engines AND partitionings)."""
    from .functions import graph as gr

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    n = docs.count()  # driver scalar: one long, corpus-size-independent
    edges = docs.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(*[
                F.pmod(
                    portable_hash64(
                        F.concat(
                            F.col("node").cast("string"), F.lit(f":pr{j}")
                        )
                    ),
                    F.lit(n),
                )
                for j in (1, 2, 3)
            ])
        ).alias("dst"),
    )
    ranks = gr.integer_pagerank(docs, edges, n_iter=5)
    return (
        ranks.orderBy(F.col("rank_scaled").desc(), F.col("node").asc())
        .limit(20)
        .select(F.col("node").alias("doc_id"), "rank_scaled")
    )


@register(
    "degree_histogram",
    f"""
WITH nodes AS (SELECT doc_id AS node FROM documents),
e AS (
  SELECT node AS src, {duck_hash("node::VARCHAR || ':pr' || j")}
         % (SELECT count(*) FROM documents) AS dst
  FROM nodes CROSS JOIN unnest([1, 2, 3]) AS t(j)
  UNION ALL
  SELECT node, {duck_hash("node::VARCHAR || ':pr4'")} % 10 FROM nodes),
d AS (SELECT dst, count(*) AS deg FROM e GROUP BY dst)
SELECT (length(bin(deg)) - 1)::INT AS bucket, count(*) AS n_nodes,
  min(deg)::BIGINT AS min_deg, max(deg)::BIGINT AS max_deg
FROM d GROUP BY 1
""",
)
def degree_histogram_q(spark, sf_dir):
    """Log2-bucketed in-degree distribution (gr.degree_histogram) over
    the pagerank graph plus a planted HUB leg (every node's 4th edge
    lands on nodes 0-9, giving those nodes ~n/10 in-degree): the hub
    bucket sits ~log2(n/10) bins above the Poisson(3) background,
    which is exactly the skew forecast a crawl pipeline reads off this
    histogram before choosing join strategies downstream."""
    from .functions import graph as gr

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    n = docs.count()

    def h(j):
        return portable_hash64(
            F.concat(F.col("node").cast("string"), F.lit(f":pr{j}"))
        )

    edges = docs.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                *[F.pmod(h(j), F.lit(n)) for j in (1, 2, 3)],
                F.pmod(h(4), F.lit(10)),
            )
        ).alias("dst"),
    )
    return gr.degree_histogram(edges)


@register(
    "url_template_mining",
    """
WITH d AS (SELECT doc_id, 'h' || (doc_id % 7) AS host FROM documents),
u AS (
  SELECT host, 'https://' || host || p AS url FROM (
    SELECT host, unnest([
      '/product/' || doc_id,
      '/list/page/' || (doc_id % 5),
      '/cal/2024/' || ((doc_id*37) % 500) || '/' || ((doc_id*91) % 500)
    ]) AS p FROM d)),
c AS (SELECT host, regexp_replace(url, '[0-9]+', '{n}', 'g') AS template,
        count(DISTINCT url) AS n_urls
      FROM u GROUP BY 1, 2)
SELECT host, template, n_urls, n_urls >= 50 AS flagged FROM c
""",
)
def url_template_mining_q(spark, sf_dir):
    """URL-template mining (urls.url_templates): digit runs masked to
    '{n}', distinct-URL counts per (host, template). The synthetic
    frontier plants a bounded browse space (/list/page/{n}: 5 pages
    per host, never flagged), an id-per-entity space (/product/{n})
    and a calendar-trap shape (/cal/{n}/{n}/{n}) that both exceed the
    per-host budget threshold and get flagged for the crawl-budget
    machinery."""
    from .urls import url_templates

    d = _t(spark, sf_dir, "documents").select("doc_id")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
    paths = F.array(
        F.concat(F.lit("/product/"), F.col("doc_id").cast("string")),
        F.concat(
            F.lit("/list/page/"), (F.col("doc_id") % 5).cast("string")
        ),
        F.concat(
            F.lit("/cal/2024/"),
            ((F.col("doc_id") * 37) % 500).cast("string"),
            F.lit("/"),
            ((F.col("doc_id") * 91) % 500).cast("string"),
        ),
    )
    urls = d.select(
        host.alias("host"), F.explode(paths).alias("p")
    ).select(
        "host",
        F.concat(F.lit("https://"), F.col("host"), F.col("p")).alias("url"),
    )
    return url_templates(urls, threshold=50)


def _hll_oracle() -> str:
    from .functions import sketches as sk

    return f"""
WITH e AS (SELECT concat('https://host', user_id % 50, '/page/',
                         event_id % 700) AS url FROM events),
{sk.hll_distinct_duckdb('e', 'url', p=6)},
x AS (SELECT count(DISTINCT url) AS exact_distinct FROM e)
SELECT p, m, n_buckets_seen, exact_distinct, hll_estimate,
  round(hll_estimate / exact_distinct - 1, 6) AS rel_err
FROM hll_s, x
"""


def _cms_oracle() -> str:
    from .functions import sketches as sk

    cells = " UNION ALL ".join(
        f"SELECT word, {i} AS i, "
        f"{sk.cms_hash_duckdb('word', i, 1024)} AS cell FROM tok"
        for i in range(4)
    )
    pcells = " UNION ALL ".join(
        f"SELECT word, {i} AS i, "
        f"{sk.cms_hash_duckdb('word', i, 1024)} AS cell FROM top10"
        for i in range(4)
    )
    return f"""
WITH w AS (SELECT {DUCK_WORDS} AS words FROM documents),
tok AS (SELECT unnest(words) AS word FROM w),
cms AS (SELECT i, cell, count(*)::BIGINT AS cnt
        FROM ({cells}) GROUP BY i, cell),
exact AS (SELECT word, count(*)::BIGINT AS exact_cnt
          FROM tok GROUP BY word),
top10 AS (SELECT word, exact_cnt FROM exact
          ORDER BY exact_cnt DESC, word ASC LIMIT 10),
pc AS ({pcells}),
est AS (SELECT pc.word, min(cnt)::BIGINT AS cms_est
        FROM pc JOIN cms ON cms.i = pc.i AND cms.cell = pc.cell
        GROUP BY pc.word)
SELECT t.word, t.exact_cnt, e.cms_est,
       e.cms_est - t.exact_cnt AS overest
FROM top10 t JOIN est e ON t.word = e.word
"""


@register("cms_word_freq", _cms_oracle)
def cms_word_freq_q(spark, sf_dir):
    """Count-min-sketch token frequencies (functions/sketches.py):
    frequency questions over 100 TB normally shuffle every distinct
    token; the CMS shuffles a key space BOUNDED at d*w = 4,096 cells
    regardless of corpus size (map-side-combinable partial sums). The
    query estimates the corpus's exact top-10 words through the
    sketch; pure-integer arithmetic means the oracle value-hashes the
    estimates AND the (always >= 0) overestimation error."""
    from .functions import sketches as sk

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(dd.normalized_words(F.col("text"))).alias("word")
    )
    cms = sk.cms_table(tok)
    exact = tok.groupBy("word").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top10 = exact.orderBy(
        F.col("exact_cnt").desc(), F.col("word").asc()
    ).limit(10)
    est = sk.cms_estimate(cms, top10.select("word"))
    return top10.join(est, "word").select(
        "word",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overest"),
    )


@register("hll_url_distinct", _hll_oracle)
def hll_url_distinct_q(spark, sf_dir):
    """HyperLogLog distinct-URL estimation (functions/sketches.py):
    exact COUNT(DISTINCT) over a 100 TB crawl log is a full shuffle of
    every distinct key; the sketch is ONE map-side-combinable
    aggregate into 2^p registers (network cost: executors x m longs,
    corpus-size-independent). Integer-only register arithmetic + a
    scaled-integer harmonic sum make the estimate bit-exact across
    engines, so the oracle value-hashes it alongside the exact count
    and the relative error."""
    from .functions import sketches as sk

    ev = _t(spark, sf_dir, "events")
    urls = ev.select(
        F.concat(
            F.lit("https://host"),
            (F.col("user_id") % 50).cast("string"),
            F.lit("/page/"),
            (F.col("event_id") % 700).cast("string"),
        ).alias("url")
    )
    est = sk.hll_distinct(urls, "url", p=6)
    exact = urls.agg(F.countDistinct("url").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "p",
        "m",
        "n_buckets_seen",
        "exact_distinct",
        "hll_estimate",
        F.round(
            F.col("hll_estimate") / F.col("exact_distinct") - 1, 6
        ).alias("rel_err"),
    )


@register("decontaminate", None)
def decontaminate_q(spark, sf_dir):
    """Benchmark n-gram decontamination (functions/quality.py
    decontaminate): flag non-benchmark docs sharing any word 3-gram
    with the hash-designated benchmark subset. Benchmark gram set is
    broadcast; corpus side stays map-side until the per-doc count."""
    from .functions import quality as ql

    return ql.decontaminate(_t(spark, sf_dir, "documents"))


ORACLES["decontaminate"] = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{DUCK_SHINGLES_CTE.strip().rstrip()},
b AS (SELECT doc_id FROM documents
      WHERE {duck_hash("'bench:' || doc_id::VARCHAR")} % 20 = 0),
bg AS (SELECT DISTINCT unnest(shingles) AS gram FROM sh
       WHERE doc_id IN (SELECT doc_id FROM b)),
rg AS (SELECT doc_id, unnest(shingles) AS gram FROM sh
       WHERE doc_id NOT IN (SELECT doc_id FROM b))
SELECT doc_id,
  (count(*) FILTER (WHERE gram IN (SELECT gram FROM bg)))::BIGINT
    AS n_hit_shingles,
  (count(*) FILTER (WHERE gram IN (SELECT gram FROM bg)) > 0)
    AS contaminated
FROM rg GROUP BY doc_id
"""


@register(
    "tfidf_topk",
    f"""
WITH w AS (
  SELECT doc_id, unnest(words) AS word
  FROM (SELECT doc_id, {DUCK_WORDS} AS words FROM documents)),
tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
dfreq AS (SELECT word, count(*)::BIGINT AS dfreq FROM tf GROUP BY 1),
s AS (
  SELECT tf.doc_id, tf.word, tf.tf,
    round(tf.tf * ln((SELECT count(*)::DOUBLE FROM documents)
                     / dfreq.dfreq), 6) AS score
  FROM tf JOIN dfreq USING (word)),
r AS (
  SELECT doc_id, word, tf, score,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, word) AS rank
  FROM s)
SELECT doc_id, rank, word, tf, score FROM r WHERE rank <= 3
""",
)
def tfidf_topk_q(spark, sf_dir):
    """Per-doc top-3 tf-idf terms (functions/text.py tfidf_topk):
    keyword extraction as the textbook explode -> tf -> df -> window
    pipeline; ranking on the rounded score with a term tiebreaker so
    both engines agree bit-for-bit."""
    return tx.tfidf_topk(_t(spark, sf_dir, "documents"))


@register(
    "lang_rebalance",
    f"""
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT min(cnt) AS mn FROM c),
r AS (SELECT lang, (SELECT mn FROM m)::DOUBLE / cnt AS rate FROM c)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE ({duck_hash("'rebal:' || doc_id::VARCHAR")})::DOUBLE
      / 1152921504606846976.0 < r.rate
""",
)
def lang_rebalance_q(spark, sf_dir):
    """Training-mixture construction (functions/sampling.py
    rebalance): downsample every language to the rarest one's size via
    per-group hash-threshold rates — one tiny aggregate broadcast back,
    then a map-side predicate; deterministic under repartitioning."""
    from .functions import sampling as sp

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sp.rebalance(docs, "lang", "doc_id").select("doc_id", "lang")


_PII_CASE_SPARK = (
    "CASE WHEN doc_id % 7 = 0 THEN concat(' contact bob', "
    "cast(doc_id as string), '@mail.example.com') "
    "WHEN doc_id % 7 = 1 THEN ' call 555-123-4567' ELSE '' END"
)
_PII_CASE_DUCK = (
    "CASE WHEN doc_id % 7 = 0 THEN ' contact bob' || doc_id::VARCHAR "
    "|| '@mail.example.com' "
    "WHEN doc_id % 7 = 1 THEN ' call 555-123-4567' ELSE '' END"
)


@register(
    "redact_pii",
    f"""
WITH p AS (
  SELECT doc_id, text || ({_PII_CASE_DUCK}) AS pii FROM documents)
SELECT doc_id,
  regexp_matches(pii, '{tx.EMAIL_RE}') AS has_email,
  regexp_matches(pii, '{tx.PHONE_RE}') AS has_phone,
  md5(regexp_replace(regexp_replace(pii, '{tx.EMAIL_RE}', '<PII>', 'g'),
      '{tx.PHONE_RE}', '<PII>', 'g')) AS red_md5
FROM p
""",
)
def redact_pii_q(spark, sf_dir):
    """C4-style PII scrub (functions/text.py redact_pii): emails and
    phone numbers planted deterministically on 2/7 of docs, scrubbed
    with lookahead-free patterns both engines evaluate identically;
    the md5 of the redacted text pins the replacement byte-for-byte."""
    docs = _t(spark, sf_dir, "documents")
    pii = F.concat(F.col("text"), F.expr(_PII_CASE_SPARK))
    return docs.select(
        "doc_id",
        pii.rlike(tx.EMAIL_RE).alias("has_email"),
        pii.rlike(tx.PHONE_RE).alias("has_phone"),
        F.md5(tx.redact_pii(pii)).alias("red_md5"),
    )


@register(
    "stream_dedup_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys_q(spark, sf_dir):
    """Streaming URL-seen (streaming/dedup.py): first-occurrence key
    emission via dropDuplicatesWithinWatermark — watermark-bounded
    state (the 10^10-key requirement), drained over the finite events
    file where it equals global distinct (the oracle). Two-batch
    state-eviction semantics pinned in tests/test_streaming_dedup.py."""
    from .streaming.dedup import stream_distinct_keys

    return stream_distinct_keys(spark, f"{sf_dir}/events.parquet")


@register("quality_sample", None)
def quality_sample_q(spark, sf_dir):
    """Deterministic quality-weighted sampling (functions/quality.py
    weighted_sample): keep each doc with probability = its quality
    score, via a pure hash-threshold predicate — stable under
    repartitioning and rerun, zero-shuffle (one scan at 100 TB),
    unlike df.sample's per-partition RNG."""
    from .functions import quality as ql

    docs = _t(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id",
        F.round(tx.quality_score(F.col("text")), 6).alias("weight"),
    )
    return ql.weighted_sample(weighted, "doc_id", F.col("weight"))


@register("pack_sequences", None)
def pack_sequences_q(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing
    (functions/packing.py): hash-shard docs into independent streams,
    per-stream running-sum window assigns token offsets, pack_id is a
    pure column function of the offset. One shuffle; deterministic
    epoch ordering for free (the hash order is the shuffle)."""
    from .functions import packing as pk

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.token_count(F.col("text")).alias("n_tokens")
    )
    return pk.pack_sequences(docs, "doc_id", "n_tokens").select(
        "doc_id", "stream", "offset", "pack_id", "pack_pos"
    )


ORACLES["pack_sequences"] = f"""
WITH t AS (
  SELECT doc_id, ({_duck_ntok})::INT AS n_tokens,
    {duck_hash("'pack:' || doc_id::VARCHAR")} AS h
  FROM documents),
s AS (SELECT doc_id, n_tokens, h, h % 8 AS stream FROM t),
c AS (SELECT doc_id, stream,
    (sum(n_tokens) OVER (PARTITION BY stream ORDER BY h, doc_id)
     - n_tokens)::BIGINT AS "offset"
  FROM s)
SELECT doc_id, stream, "offset",
  ("offset" // 512)::BIGINT AS pack_id,
  ("offset" % 512)::BIGINT AS pack_pos
FROM c
"""


ORACLES["quality_sample"] = f"""
SELECT doc_id, weight FROM (
  SELECT doc_id, {_duck_quality} AS weight,
    ({duck_hash("'qsample:' || doc_id::VARCHAR")})::DOUBLE
      / 1152921504606846976.0 AS u
  FROM documents)
WHERE u < weight
"""


# --------------------------------------------------------------------------
# RFC 9309 robots matching (operators/politeness.py)
# --------------------------------------------------------------------------
# Rules are plan-build-time literals shared VERBATIM by both engines:
# Spark compiles them through robots_allow_expr (the engine's small-
# rule-set path: prefix arms codegen'd startswith, wildcard arms
# anchored rlike), the DuckDB oracle inlines the same patterns as
# regexes (robots_pattern_regex is prefix-equivalent for non-wild
# rules) and replays longest-pattern / allow-wins-ties precedence with
# a window. Reference parity note: the reference delegates fetching to
# scrapelib with NO robots handling (cli.py:79-85); robots is a
# north-rule mandate, so the spec here is RFC 9309 as deployed
# (Google's reference matcher examples), pinned by
# tests/test_crawl_media.py::test_robots_rfc9309_grammar.
_ROBOTS_RFC_RULES = [
    ("h0", "/fish", False),
    ("h0", "/fish*.php$", True),
    ("h0", "/page", False),
    ("h1", "/*.php$", False),
    ("h1", "/page", True),
    ("h1", "/*.htm", False),
    ("h2", "/", False),
    ("h2", "/folder", True),
    ("h2", "/misc*1", True),
]


@register("robots_rfc_match", None)
def robots_rfc_match_q(spark, sf_dir):
    """RFC 9309 robots matching as a relational operator: URLs
    synthesized column-side from documents.doc_id (host, path segment,
    extension, query-string variety), decided by the engine's compiled
    CASE expression. Scale shape: ZERO shuffle — the whole decision
    evaluates inline during the scan; a 10^10-row frontier pays one
    map stage, no join, no sort."""
    from .operators import politeness as P

    i = F.col("doc_id")
    host = F.concat(F.lit("h"), (i % 3).cast("string"))
    seg = F.element_at(
        F.array(F.lit("fish"), F.lit("page"), F.lit("folder"),
                F.lit("misc")),
        (i % 4 + 1).cast("int"),
    )
    ext = F.element_at(
        F.array(F.lit(".php"), F.lit(".htm"), F.lit(""), F.lit("/")),
        (F.expr("doc_id div 4") % 4 + 1).cast("int"),
    )
    qs = F.when(
        i % 5 == 0, F.concat(F.lit("?id="), i.cast("string"))
    ).otherwise(F.lit(""))
    target = F.concat(F.lit("/"), seg, (i % 7).cast("string"), ext, qs)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        host.alias("host"),
        F.concat(F.lit("http://"), host, target).alias("url"),
    )
    return docs.withColumn(
        "allowed", P.robots_allow_expr(_ROBOTS_RFC_RULES)
    ).select("doc_id", "url", "allowed")


def _robots_rfc_oracle() -> str:
    from .operators.politeness import robots_pattern_regex as _rrx

    rule_rows = ",\n  ".join(
        f"('{h}', {len(p)}, {str(a).lower()}, '{_rrx(p)}')"
        for h, p, a in _ROBOTS_RFC_RULES
    )
    return f"""
WITH d AS (
  SELECT doc_id,
    'h' || (doc_id % 3)::VARCHAR AS host,
    '/' || (['fish','page','folder','misc'])[(doc_id % 4 + 1)::INT]
        || (doc_id % 7)::VARCHAR
        || (['.php','.htm','','/'])[((doc_id // 4) % 4 + 1)::INT]
        || (CASE WHEN doc_id % 5 = 0
            THEN '?id=' || doc_id::VARCHAR ELSE '' END) AS target
  FROM documents),
r(host, l, allow, rx) AS (VALUES
  {rule_rows}),
m AS (
  SELECT d.doc_id, d.host, d.target, r.allow,
    row_number() OVER (PARTITION BY d.doc_id
      ORDER BY r.l DESC, r.allow DESC) AS rn
  FROM d LEFT JOIN r
    ON d.host = r.host AND regexp_matches(d.target, r.rx)
)
SELECT doc_id, 'http://' || host || target AS url,
  coalesce(allow, true) AS allowed
FROM m WHERE rn = 1
"""


ORACLES["robots_rfc_match"] = _robots_rfc_oracle()


# --------------------------------------------------------------------------
# round-3 session-5 additions: CLIP-style alignment filter, sitemap
# frontier seeding, spider-trap detection
# --------------------------------------------------------------------------

def _alignment_oracle() -> str:
    cv = tx.feature_hash_embedding_duckdb("string_split(phrase, ' ')", 16)
    return f"""
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents),
m AS (SELECT g, ({_DUCK_PHRASE}) AS phrase, {_duck_fp('g')} AS fp FROM ids),
v AS (
  SELECT g, phrase, {cv} AS cv,
    list_transform(range(0, 16), d -> ((fp >> (4*d)) & 15) - 7.5) AS iv
  FROM m),
s AS (
  SELECT g, phrase,
    list_sum(list_transform(range(1, 17), i -> cv[i] * iv[i])) AS dot,
    list_sum(list_transform(cv, x -> x*x)) AS na2,
    list_sum(list_transform(iv, x -> x*x)) AS nb2
  FROM v)
SELECT g AS image_id, phrase,
  CASE WHEN na2 * nb2 = 0 THEN NULL
       ELSE round(dot / sqrt(na2 * nb2), 6) END AS align,
  coalesce(CASE WHEN na2 * nb2 = 0 THEN NULL
                ELSE round(dot / sqrt(na2 * nb2), 6) END >= 0.0,
           false) AS keep
FROM s
"""


@register("caption_image_alignment", None)
def caption_image_alignment_q(spark, sf_dir):
    """CLIP-score-style image/caption alignment filtering — the LAION
    gate that decides whether a crawled (image, caption) pair is
    usable training data. Real deployments score cosine(text-encoder,
    image-encoder); here both encoders are deterministic stand-ins so
    the DuckDB oracle can verify the whole pipe bit-exactly: the
    caption side is the hashing-trick embedder
    (functions/text.feature_hash_embedding — stateless, vocabulary-
    free, the shape a learned embedding column drops into) and the
    image side unpacks the 64-bit perceptual fingerprint into 16
    nibble features. All bucket sums and dot products are exact
    integers/halves, so the only float ops are one sqrt and one
    divide — bit-identical across engines.

    Scale shape: ZERO shuffles — pure per-row HOF arithmetic in one
    map stage over the scan; at 10^10 pairs this runs at scan speed
    and the keep flag prunes the corpus before any heavy stage."""
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("g")
    )
    g = F.col("g")
    fp = _derived_fp("g")
    m = ids.select(
        "g",
        _SPARK_PHRASE(g).alias("phrase"),
        fp.alias("fp"),
    ).select(
        "g", "phrase",
        tx.feature_hash_embedding(F.split(F.col("phrase"), " "), 16)
        .alias("cv"),
        F.array(*[
            (F.shiftright(F.col("fp"), 4 * d).bitwiseAND(F.lit(15))
             .cast("double") - F.lit(7.5))
            for d in range(16)
        ]).alias("iv"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    s = m.select(
        g.alias("image_id"), "phrase",
        dot("cv", "iv").alias("_dot"),
        dot("cv", "cv").alias("_na2"),
        dot("iv", "iv").alias("_nb2"),
    )
    align = F.when(
        F.col("_na2") * F.col("_nb2") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.round(F.col("_dot") / F.sqrt(F.col("_na2") * F.col("_nb2")), 6)
    )
    return s.select(
        "image_id", "phrase", align.alias("align"),
        F.coalesce(align >= 0.0, F.lit(False)).alias("keep"),
    )


ORACLES["caption_image_alignment"] = _alignment_oracle()


@register("sitemap_frontier", None)
def sitemap_frontier_q(spark, sf_dir):
    """Frontier seeding from sitemaps (operators/sitemaps.py): build
    one sitemaps.org <urlset> document per host (deterministic XML
    aggregation), run the REAL namespace-aware parser (Arrow-batched
    pandas UDF) to explode entries back out, canonicalize every <loc>
    (urls.canonicalize_url — messy scheme case / default port /
    duplicate slashes / unsorted query in the synthesized locs),
    anti-join the already-crawled seen set, and keep the 3 most
    recently modified URLs per host (budget-aware seeding ranked by
    <lastmod>). The DuckDB oracle constructs the same entries
    directly, so the value-hash match proves the XML aggregate→parse
    round trip is lossless AND the canonicalizer agrees cross-engine.

    Scale shape: sitemaps cap at 50k URLs by spec, so one document =
    one row and the parse is a shuffle-free explode; the only wide
    stages are the seen anti-join (the engine's bloom-backed shape)
    and the per-host top-k window (host-keyed, skew-salted upstream in
    the engine)."""
    from .operators.sitemaps import sitemap_entries

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("g")
    )
    g = F.col("g")
    hostn = (g % 41).cast("int")
    loc = F.concat(
        F.lit("HTTPS://Img-H"), hostn.cast("string"),
        F.lit(".Example:443/gal//item/"), g.cast("string"),
        F.lit("/?b=2&a=1"),
    )
    lastmod = F.date_add(
        F.to_date(F.lit("2026-01-01")), ((g * 13) % 365).cast("int")
    ).cast("string")
    # sitemaps are XML: '&' in a loc URL must ship as '&amp;' (the
    # parser unescapes it back — the round trip is part of the oracle)
    entry = F.concat(
        F.lit("<url><loc>"), F.regexp_replace(loc, "&", "&amp;"),
        F.lit("</loc><lastmod>"), lastmod, F.lit("</lastmod></url>"),
    )
    xml = (
        ids.select(
            hostn.alias("host"), F.struct(g.alias("g"), entry.alias("e"))
            .alias("s"),
        )
        .groupBy("host")
        .agg(
            F.concat(
                F.lit(
                    '<?xml version="1.0" encoding="UTF-8"?>'
                    '<urlset xmlns='
                    '"http://www.sitemaps.org/schemas/sitemap/0.9">'
                ),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")),
                        lambda s: s["e"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = sitemap_entries(xml, "xml", keep=("host",))
    canon = parsed.select(
        "host", canonicalize_url(F.col("loc")).alias("url"), "lastmod"
    )
    seen = ids.filter(g % 7 == 0).select(
        canonicalize_url(loc).alias("url")
    )
    fresh = canon.join(seen, "url", "left_anti")
    w = Window.partitionBy("host").orderBy(F.col("lastmod").desc(), "url")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("host", "url", "lastmod", "rn")
    )


ORACLES["sitemap_frontier"] = f"""
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents),
e AS (SELECT g, (g % 41)::INT AS host,
  'HTTPS://Img-H' || (g % 41)::VARCHAR || '.Example:443/gal//item/'
      || g::VARCHAR || '/?b=2&a=1' AS loc,
  (DATE '2026-01-01' + ((g*13) % 365)::INT)::VARCHAR AS lastmod
  FROM ids),
c AS (SELECT host, {canonicalize_url_duckdb('loc')} AS url, lastmod, g
      FROM e),
f AS (SELECT host, url, lastmod FROM c
      WHERE url NOT IN (SELECT url FROM c WHERE g % 7 = 0))
SELECT host, url, lastmod, rn FROM (
  SELECT host, url, lastmod,
    (row_number() OVER (PARTITION BY host
                        ORDER BY lastmod DESC, url))::INT AS rn
  FROM f) WHERE rn <= 3
"""


@register("crawl_trap_hosts", None)
def crawl_trap_hosts_q(spark, sf_dir):
    """Spider-trap detection (operators/politeness.trap_hosts) over a
    synthesized crawl log with planted traps: hosts ≡0 (mod 5) mint
    4× more URLs at every depth while serving one constant content
    fingerprint (the calendar-page signature); honest hosts grow
    linearly with fully distinct content. The operator flags a
    (host, depth) level only when BOTH the distinct-URL growth ratio
    and the content-diversity ratio cross their thresholds — the
    oracle brute-forces the same aggregate + lag window in DuckDB.

    Scale shape: one shuffle (the (host, depth) distinct-count
    aggregate, map-side partials) and a window over the tiny
    |hosts|×|depths| table; the crawl log itself is touched once."""
    from .operators.politeness import trap_hosts

    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("host")
    )
    hd = n.select(
        "host", F.explode(F.sequence(F.lit(1), F.lit(4))).alias("depth")
    )
    trap = F.col("host") % 5 == 0
    cnt = F.when(
        trap,
        F.element_at(
            F.array(F.lit(5), F.lit(20), F.lit(80), F.lit(320)),
            F.col("depth").cast("int"),
        ),
    ).otherwise(F.col("depth") * 5)
    rows = hd.select(
        "host", "depth",
        F.explode(F.sequence(F.lit(1), cnt.cast("int"))).alias("i"),
    )
    crawl = rows.select(
        "host", "depth",
        F.concat(
            F.lit("https://h"), F.col("host").cast("string"),
            F.lit(".example/p/"), F.col("depth").cast("string"),
            F.lit("/"), F.col("i").cast("string"),
        ).alias("url"),
        F.when(
            trap, F.concat(F.lit("dup:"), F.col("host").cast("string"))
        ).otherwise(
            F.concat_ws(
                ":", F.lit("u"), F.col("host").cast("string"),
                F.col("depth").cast("string"), F.col("i").cast("string"),
            )
        ).alias("content_fp"),
    )
    return trap_hosts(crawl)


ORACLES["crawl_trap_hosts"] = """
WITH h AS (SELECT n_nationkey::BIGINT AS host FROM nation),
hd AS (SELECT host, unnest([1,2,3,4]) AS depth FROM h),
cnt AS (SELECT host, depth,
  CASE WHEN host % 5 = 0 THEN ([5,20,80,320])[depth]
       ELSE depth*5 END AS c
  FROM hd),
rows_ AS (SELECT host, depth, unnest(range(1, c+1)) AS i FROM cnt),
crawl AS (SELECT host, depth,
  'https://h' || host || '.example/p/' || depth || '/' || i AS url,
  CASE WHEN host % 5 = 0 THEN 'dup:' || host
       ELSE 'u:' || host || ':' || depth || ':' || i END AS content_fp
  FROM rows_),
agg AS (SELECT host, depth, count(DISTINCT url) AS n_urls,
               count(DISTINCT content_fp) AS n_fp
        FROM crawl GROUP BY host, depth),
wdw AS (SELECT host, depth, n_urls, n_fp,
  round(n_urls / (lag(n_urls) OVER (PARTITION BY host ORDER BY depth)),
        6) AS growth,
  round(n_fp / n_urls, 6) AS diversity
  FROM agg)
SELECT host, depth, n_urls, n_fp, growth, diversity
FROM wdw WHERE depth >= 2 AND growth >= 4.0 AND diversity <= 0.25
"""


@register("recrawl_priority", None)
def recrawl_priority_q(spark, sf_dir):
    """Freshness-aware recrawl scheduling
    (operators/recrawl.recrawl_priority — Cho & Garcia-Molina change-
    rate estimation with a bit-exact Padé staleness surrogate, see the
    module docstring): the events table plays the fetch history (url
    <- user, fingerprint <- event_type, so change points are real),
    and the schedule keeps the 3 stalest URLs per host. The DuckDB
    oracle replays the identical lag-window change detection,
    smoothing arithmetic and rounded ranking."""
    from .operators.recrawl import recrawl_priority

    e = _t(spark, sf_dir, "events")
    hist = e.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 5).cast("string"),
            F.lit(".example/u/"), F.col("user_id").cast("string"),
        ).alias("url"),
        (F.col("user_id") % 5).alias("host"),
        F.col("ts").alias("fetch_ts"),
        F.col("event_type").alias("content_fp"),
    )
    return recrawl_priority(hist)


ORACLES["recrawl_priority"] = """
WITH hist AS (
  SELECT 'https://h' || (user_id % 5)::VARCHAR || '.example/u/'
           || user_id::VARCHAR AS url,
         user_id % 5 AS host,
         epoch_ms(ts) AS ms,
         event_type AS fp
  FROM events),
chg AS (
  SELECT url, host, ms,
    CASE WHEN lag(fp) OVER (PARTITION BY url ORDER BY ms, fp) IS NOT NULL
          AND fp != lag(fp) OVER (PARTITION BY url ORDER BY ms, fp)
         THEN 1 ELSE 0 END AS c
  FROM hist),
pu AS (
  SELECT url, host, count(*) AS n_fetches, sum(c)::BIGINT AS n_changes,
         min(ms) AS first_ms, max(ms) AS last_ms
  FROM chg GROUP BY url, host),
sc AS (
  SELECT url, host, n_fetches, n_changes,
    ((n_changes + 0.5) / ((last_ms - first_ms) / 1000.0 + 3600.0))
      * ((max(last_ms) OVER () - last_ms) / 1000.0) AS x
  FROM pu)
SELECT host, url, n_fetches, n_changes,
       round(x / (x + 1.0), 6) AS score, rn
FROM (SELECT *, (row_number() OVER (PARTITION BY host
        ORDER BY round(x / (x + 1.0), 6) DESC, url))::INT AS rn FROM sc)
WHERE rn <= 3
"""


@register("anchor_text_topk", None)
def anchor_text_topk_q(spark, sf_dir):
    """Anchor-text aggregation (functions/text.anchor_text_topk): the
    link graph is synthesized from documents (each doc links its
    div-5 parent; the anchor phrase is hash-picked so every target
    sees a few competing phrases repeated across distinct source
    hosts), then each target page gets its top-3 anchor phrases ranked
    by distinct-host support — the anti-spam web-search labeling
    signal. All ranking keys are integers, so the oracle is exact."""
    from .sources.synthweb import _WORDS
    from .urls import portable_hash64

    warr = F.array(*[F.lit(x) for x in _WORDS])
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    src = F.col("src")
    dst = F.expr("src div 5")
    pid = portable_hash64(
        F.concat(F.lit("anc:"), src.cast("string"))
    ) % 3
    word = lambda expr: F.element_at(warr, (expr % 20 + 1).cast("int"))  # noqa: E731
    anchor = F.concat(
        F.lit("  "), word(dst + pid), F.lit("   "), word(dst * 7 + pid),
        F.lit(" "),
    )
    links = d.select(
        dst.alias("dst"), (src % 13).alias("src_host"),
        anchor.alias("anchor"),
    )
    return tx.anchor_text_topk(links)


def _anchor_oracle() -> str:
    from .sources.synthweb import _WORDS

    wlist = "[" + ",".join(f"'{w}'" for w in _WORDS) + "]"
    pid = duck_hash("'anc:' || src::VARCHAR") + " % 3"
    return f"""
WITH d AS (SELECT doc_id::BIGINT AS src FROM documents),
l AS (
  SELECT src // 5 AS dst, src % 13 AS src_host,
    '  ' || {wlist}[(((src // 5) + ({pid})) % 20 + 1)::INT]
    || '   ' || {wlist}[(((src // 5) * 7 + ({pid})) % 20 + 1)::INT]
    || ' ' AS anchor
  FROM d),
n AS (
  SELECT dst, src_host,
    lower(regexp_replace(trim(anchor), '\\s+', ' ', 'g')) AS phrase
  FROM l),
per AS (
  SELECT dst, phrase, count(DISTINCT src_host) AS n_hosts,
         count(*) AS n_links
  FROM n GROUP BY dst, phrase)
SELECT dst, phrase, n_hosts, n_links, rn FROM (
  SELECT dst, phrase, n_hosts, n_links,
    (row_number() OVER (PARTITION BY dst
       ORDER BY n_hosts DESC, n_links DESC, phrase))::INT AS rn
  FROM per) WHERE rn <= 3
"""


ORACLES["anchor_text_topk"] = _anchor_oracle()


# ==========================================================================
# 8. Round-4 additions: link-graph HITS, bigram-LM quality, politeness
#    schedule projection
# ==========================================================================
def _hits_oracle() -> str:
    from .functions import hits as ht

    nodes_sql = "SELECT doc_id AS node FROM documents"
    dst = duck_hash("node::VARCHAR || ':pr' || j")
    hub4 = duck_hash("node::VARCHAR || ':pr4'")
    edges_sql = (
        f"SELECT node AS src, {dst} % "
        "(SELECT count(*) FROM documents) AS dst "
        f"FROM ({nodes_sql}) CROSS JOIN unnest([1, 2, 3]) AS t(j) "
        f"UNION ALL SELECT node, {hub4} % 10 FROM ({nodes_sql})"
    )
    return f"""
WITH {ht.integer_hits_duckdb(nodes_sql, edges_sql, n_iter=3)}
SELECT node AS doc_id, auth_scaled, hub_scaled
FROM ht_final
ORDER BY auth_scaled DESC, hub_scaled DESC, node ASC LIMIT 20
"""


@register("hits_topk", _hits_oracle)
def hits_topk_q(spark, sf_dir):
    """Integer-exact distributed HITS (functions/hits.py) over the
    battery's deterministic doc graph plus its hub leg (every node's
    4th edge lands on nodes 0-9): 3 mutual-reinforcement rounds, each
    two slim joins + two hash aggs + an exact integer max-rescale
    carried as a broadcast 1-row aggregate (never a driver collect).
    Authorities (nodes 0-9 by construction) and hubs separate exactly
    the way PageRank alone cannot; the DuckDB oracle unrolls the same
    integer arithmetic, so the top-20 hashes bit-for-bit."""
    from .functions import hits as ht

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    n = docs.count()

    def h(j):
        return portable_hash64(
            F.concat(F.col("node").cast("string"), F.lit(f":pr{j}"))
        )

    edges = docs.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                *[F.pmod(h(j), F.lit(n)) for j in (1, 2, 3)],
                F.pmod(h(4), F.lit(10)),
            )
        ).alias("dst"),
    )
    scores = ht.integer_hits(docs, edges, n_iter=3)
    return (
        scores.orderBy(
            F.col("auth_scaled").desc(),
            F.col("hub_scaled").desc(),
            F.col("node").asc(),
        )
        .limit(20)
        .select(
            F.col("node").alias("doc_id"), "auth_scaled", "hub_scaled"
        )
    )


def _lm_oracle() -> str:
    from .functions import lm

    docs_sql = """
SELECT doc_id, lang, text FROM documents
UNION ALL
SELECT doc_id + 3000000, lang,
  array_to_string(list_reverse(
    string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                 ' ')), ' ')
FROM documents WHERE doc_id < 50
"""
    train_sql = "SELECT doc_id, lang, text FROM documents"
    return f"""
WITH {lm.bigram_lm_score_duckdb(docs_sql, train_sql)}
SELECT doc_id, lang, n_bigrams, sum_cost, mean_cost, bucket
FROM lm_scored
"""


@register("lm_perplexity_cut", _lm_oracle)
def lm_perplexity_cut_q(spark, sf_dir):
    """CCNet-style perplexity bucketing with an integer-exact bigram
    LM (functions/lm.py): train bigram counts on the clean corpus,
    score clean docs PLUS 50 planted word-reversed twins (identical
    unigram profile — invisible to logfreq_quality — but corpus-rare
    adjacent pairs), bucket per language into head/middle/tail by
    percent_rank of mean conditional cost. The reversed plants sink
    into the tail bucket, which is exactly the spam/SEO failure mode
    a unigram filter cannot see. floor-log2-by-bit-length keeps every
    cost integer, so the DuckDB replay hashes bit-for-bit."""
    from .functions import lm
    from .functions.dedup import normalized_words

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    reversed_docs = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        "lang",
        F.array_join(
            F.reverse(normalized_words(F.col("text"))), " "
        ).alias("text"),
    )
    cands = docs.unionByName(reversed_docs)
    return lm.bigram_lm_score(cands, lm_docs=docs).select(
        "doc_id", "lang", "n_bigrams", "sum_cost", "mean_cost", "bucket"
    )


@register(
    "fetch_schedule",
    f"""
WITH f AS (
  SELECT o_orderkey AS url_id, 'h' || (o_custkey % 40)::VARCHAR AS host,
    (250 * (1 + o_custkey % 4))::BIGINT AS crawl_delay_ms,
    {duck_hash("o_orderkey::VARCHAR || ':prio'")} % 1000 AS priority
  FROM orders),
s AS (
  SELECT *, (row_number() OVER (PARTITION BY host
             ORDER BY priority DESC, url_id ASC) - 1)::BIGINT AS slot
  FROM f)
SELECT url_id, host, crawl_delay_ms, priority, slot,
  (slot * crawl_delay_ms)::BIGINT AS fetch_at_ms,
  ((slot * crawl_delay_ms) // 1000)::BIGINT AS sec_bucket
FROM s
""",
)
def fetch_schedule_q(spark, sf_dir):
    """Politeness fetch-schedule projection (operators/schedule.py):
    per-host serve slots and fetch times for a priority frontier —
    the timeline a distributed crawler must PLAN (the reference's
    sequential loop gets it implicitly; reference pages.py fetches
    one at a time). One window over host, then pure arithmetic; the
    per-URL slot/fetch_at table is what the recrawl planner and wave
    provisioner join against. Hosts carry heterogeneous crawl delays
    (250-1000 ms), so makespans diverge the way real hosts do."""
    from .operators.schedule import fetch_schedule

    o = _t(spark, sf_dir, "orders")
    frontier = o.select(
        F.col("o_orderkey").alias("url_id"),
        F.concat(
            F.lit("h"), (F.col("o_custkey") % 40).cast("string")
        ).alias("host"),
        (250 * (1 + F.col("o_custkey") % 4))
        .cast("long")
        .alias("crawl_delay_ms"),
        F.pmod(
            portable_hash64(
                F.concat(
                    F.col("o_orderkey").cast("string"), F.lit(":prio")
                )
            ),
            F.lit(1000),
        ).alias("priority"),
    )
    return fetch_schedule(frontier).select(
        "url_id", "host", "crawl_delay_ms", "priority", "slot",
        "fetch_at_ms", "sec_bucket",
    )


_COLORHIST_ORACLE = """
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents ORDER BY g LIMIT 200),
imgs AS (
  SELECT g AS image_id, g AS idx, 0 AS variant FROM ids
  UNION ALL SELECT g + 5000000, g, 1 FROM ids WHERE g < 50
  UNION ALL SELECT g + 2000000, g, 2 FROM ids WHERE g < 10),
coords AS (
  SELECT image_id, idx, variant,
    CASE WHEN variant = 1 THEN 47 - x ELSE x END AS px,
    CASE WHEN variant = 1 THEN 31 - y ELSE y END AS py
  FROM imgs, range(0, 48) t1(x), range(0, 32) t2(y)),
ch AS (
  SELECT image_id, variant,
    (px*3 + py*7 + ((idx * 2654435761) % 4294967296)) % 256 AS r0,
    (px*5 + py*2 + ((idx * 2654435761) % 4294967296) // 256) % 256 AS g0,
    ((px*px) // 7 + py*11 + ((idx * 2654435761) % 4294967296) // 65536)
      % 256 AS b0
  FROM coords),
ys AS (
  SELECT image_id,
    (77*(CASE WHEN variant = 2 THEN r0 // 8 ELSE r0 END)
     + 150*(CASE WHEN variant = 2 THEN g0 // 8 ELSE g0 END)
     + 29*(CASE WHEN variant = 2 THEN b0 // 8 ELSE b0 END)) // 256 AS yv
  FROM ch),
hist AS (
  SELECT image_id,
    sum(CASE WHEN yv // 32 = 0 THEN 1 ELSE 0 END)::BIGINT AS h0,
    sum(CASE WHEN yv // 32 = 1 THEN 1 ELSE 0 END)::BIGINT AS h1,
    sum(CASE WHEN yv // 32 = 2 THEN 1 ELSE 0 END)::BIGINT AS h2,
    sum(CASE WHEN yv // 32 = 3 THEN 1 ELSE 0 END)::BIGINT AS h3,
    sum(CASE WHEN yv // 32 = 4 THEN 1 ELSE 0 END)::BIGINT AS h4,
    sum(CASE WHEN yv // 32 = 5 THEN 1 ELSE 0 END)::BIGINT AS h5,
    sum(CASE WHEN yv // 32 = 6 THEN 1 ELSE 0 END)::BIGINT AS h6,
    sum(CASE WHEN yv // 32 = 7 THEN 1 ELSE 0 END)::BIGINT AS h7
  FROM ys GROUP BY image_id),
keyed AS (
  SELECT *, (h0//16)::VARCHAR || ':' || (h1//16)::VARCHAR || ':'
    || (h2//16)::VARCHAR || ':' || (h3//16)::VARCHAR || ':'
    || (h4//16)::VARCHAR || ':' || (h5//16)::VARCHAR || ':'
    || (h6//16)::VARCHAR || ':' || (h7//16)::VARCHAR AS k
  FROM hist)
SELECT a.image_id AS id_a, b.image_id AS id_b,
  (abs(a.h0-b.h0) + abs(a.h1-b.h1) + abs(a.h2-b.h2) + abs(a.h3-b.h3)
   + abs(a.h4-b.h4) + abs(a.h5-b.h5) + abs(a.h6-b.h6) + abs(a.h7-b.h7)
  )::BIGINT AS l1
FROM keyed a JOIN keyed b ON a.k = b.k AND a.image_id < b.image_id
WHERE abs(a.h0-b.h0) + abs(a.h1-b.h1) + abs(a.h2-b.h2) + abs(a.h3-b.h3)
   + abs(a.h4-b.h4) + abs(a.h5-b.h5) + abs(a.h6-b.h6) + abs(a.h7-b.h7)
   <= 64
"""


@register("colorhist_near_dups", _COLORHIST_ORACLE)
def colorhist_near_dups_q(spark, sf_dir):
    """Color-histogram image near-dup — the rotation-invariant
    modality of the image-dedup family (pHash is spatial: a
    180-degree rotation flips its DCT signs; the luma histogram is a
    pixel-MULTISET statistic, bit-identical under any spatial
    permutation). 50 planted rotated twins land at L1 = 0; 10 planted
    all-dark frames demonstrate the modality's known collision class
    (low-information images share histograms — the reason production
    dedup stacks AND the histogram with a spatial hash rather than
    trusting either alone). Candidates come from an exact equi-join
    on the 16-quantized histogram key — bucketed, never all-pairs,
    same scale shape as the LSH/banding family — then L1 <= 64
    verification on the candidate sliver. Histograms are computed
    Arrow-batched over the closed-form pixel field, so the DuckDB
    oracle regenerates every pixel (rotated coordinates spelled
    literally) and replays key join + L1 bit-for-bit."""
    import pandas as pd

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long"))
        .orderBy("doc_id")
        .limit(200)
        .repartition(8)
    )

    def hist_iter(batches):
        import numpy as np

        from spatula_spark.functions.images import (
            luma_histogram,
            synth_pixels,
        )

        for pdf in batches:
            rows: list = []
            for i in pdf["doc_id"].astype("int64"):
                i = int(i)
                px = synth_pixels(i, 48, 32)
                rows.append((i, *luma_histogram(px)))
                if i < 50:
                    rows.append(
                        (i + 5_000_000, *luma_histogram(px[::-1, ::-1]))
                    )
                if i < 10:
                    rows.append(
                        (i + 2_000_000, *luma_histogram(px // 8))
                    )
            yield pd.DataFrame(
                rows,
                columns=["image_id"] + [f"h{j}" for j in range(8)],
            )

    schema = "image_id long, " + ", ".join(
        f"h{j} long" for j in range(8)
    )
    # eager checkpoint: the self-join's two legs would otherwise race
    # past the empty cache and run the pixel kernel twice
    hist = ids.mapInPandas(hist_iter, schema).localCheckpoint(eager=True)
    key = F.concat_ws(
        ":", *[F.expr(f"h{j} div 16").cast("string") for j in range(8)]
    )
    keyed = hist.withColumn("k", key)
    a, b = keyed.alias("a"), keyed.alias("b")
    l1 = sum(
        F.abs(F.col(f"a.h{j}") - F.col(f"b.h{j}")) for j in range(8)
    )
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.image_id") < F.col("b.image_id")),
        )
        .select(
            F.col("a.image_id").alias("id_a"),
            F.col("b.image_id").alias("id_b"),
            l1.cast("long").alias("l1"),
        )
        .filter(F.col("l1") <= 64)
    )


def _hq_oracle() -> str:
    from .functions import sketches as sk

    lat = duck_hash("event_id::VARCHAR || ':lat'")
    rows = (
        "SELECT 'h' || (user_id % 25)::VARCHAR AS k, "
        f"{lat} % 2000 AS v FROM events"
    )
    return f"""
WITH {sk.histogram_quantiles_duckdb(rows)}
SELECT k AS host, n, min_v, max_v, q50, q95, q99 FROM hq_final
"""


@register("host_latency_quantiles", _hq_oracle)
def host_latency_quantiles_q(spark, sf_dir):
    """Exact per-host fetch-latency quantiles
    (sketches.histogram_quantiles): p50/p95/p99 over integer-binned
    latencies via the histogram-CDF rule — smallest value whose
    cumulative count reaches ceil(q% * n), all-integer, so the DuckDB
    replay is bit-exact. This is the scale-correct percentile: one
    map-side-combinable (host, latency) count, then a window over the
    value DOMAIN (<= 2000 rows per host), never a total-order sort of
    the raw rows and never percentile_approx's engine-specific float
    interpolation. The p95 feed is what the politeness scheduler uses
    to widen crawl delays on hosts that are slowing down."""
    from .functions import sketches as sk

    e = _t(spark, sf_dir, "events")
    rows = e.select(
        F.concat(F.lit("h"), (F.col("user_id") % 25).cast("string"))
        .alias("host"),
        F.pmod(
            portable_hash64(
                F.concat(F.col("event_id").cast("string"), F.lit(":lat"))
            ),
            F.lit(2000),
        ).alias("lat_ms"),
    )
    return sk.histogram_quantiles(
        rows, "host", "lat_ms", quantiles=(50, 95, 99)
    ).select("host", "n", "min_v", "max_v", "q50", "q95", "q99")


@register(
    "oov_rate",
    f"""
WITH cands AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 4000000,
    array_to_string(list_transform({DUCK_WORDS},
      x -> x || '~' || doc_id::VARCHAR), ' ')
  FROM documents WHERE doc_id < 20),
counts AS (
  SELECT w, count(*) AS n FROM (
    SELECT unnest({DUCK_WORDS}) AS w FROM documents) GROUP BY w),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY n DESC, w) AS r FROM counts)
  WHERE r <= 100),
toks AS (
  SELECT doc_id, unnest({DUCK_WORDS}) AS w FROM cands),
per AS (
  SELECT t.doc_id, count(*) AS n_tokens,
    sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.w = v.w GROUP BY t.doc_id)
SELECT doc_id, n_tokens, n_oov,
  round(n_oov::DOUBLE / n_tokens, 6) AS oov_frac,
  n_oov * 100 >= 30 * n_tokens AS flagged
FROM per
""",
)
def oov_rate_q(spark, sf_dir):
    """Tokenizer-vocabulary coverage audit (tx.oov_rate): per-doc OOV
    rate against the top-100 corpus vocabulary. 20 planted docs whose
    every word carries a '~docid' suffix are 100% OOV and flagged —
    the shattered-into-chars failure a vocab audit exists to catch —
    while clean docs built from the corpus's own word distribution
    sit near 0. Vocab membership is a deterministic top-k (count
    DESC, word ASC) and the flag threshold is cross-multiplied
    integer arithmetic, so the DuckDB replay hashes bit-for-bit."""
    from .functions import text as tx
    from .functions.dedup import normalized_words

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.array_join(
            F.transform(
                normalized_words(F.col("text")),
                lambda x: F.concat(
                    x, F.lit("~"), F.col("doc_id").cast("string")
                ),
            ),
            " ",
        ).alias("text"),
    )
    cands = docs.unionByName(planted)
    return tx.oov_rate(cands, vocab_docs=docs, vocab_size=100)


_C4_DUCK_LINES = f"""
wd AS (SELECT doc_id, {DUCK_WORDS} AS w FROM documents),
base AS (
  SELECT doc_id,
    list_transform(range(0, ((len(w) - 1) // 8) + 1),
      i -> array_to_string(w[i*8+1 : i*8+8], ' ')
           || CASE WHEN (doc_id + i) % 4 = 0 THEN '' ELSE '.' END) AS ls
  FROM wd),
lined AS (
  SELECT doc_id,
    list_concat(
      list_concat(
        list_concat(ls,
          CASE WHEN doc_id % 31 = 0
               THEN ['function() {{ return spam; }}'] ELSE [] END),
        CASE WHEN doc_id % 37 = 0
             THEN ['Lorem ipsum dolor sit amet sentence.'] ELSE [] END),
      CASE WHEN doc_id % 41 = 0
           THEN ['play casino games now here today.'] ELSE [] END) AS ls
  FROM base)
"""


@register(
    "c4_clean",
    f"""
WITH {_C4_DUCK_LINES},
flt AS (
  SELECT doc_id, ls,
    list_filter(ls, x -> regexp_matches(x, '[.!?"]$')
                AND len(string_split(x, ' ')) >= 5) AS kept
  FROM lined)
SELECT doc_id, len(ls)::INT AS n_lines, len(kept)::INT AS n_kept,
  coalesce(list_sum(list_transform(kept, x -> length(x))), 0)::INT
    AS clean_chars,
  CASE
    WHEN len(list_filter(ls, x -> contains(x, '{{'))) > 0 THEN 'brace'
    WHEN len(list_filter(ls, x -> contains(lower(x), 'lorem ipsum'))) > 0
      THEN 'lorem'
    WHEN len(list_filter(ls, x -> list_has_any(
        string_split_regex(lower(x), '[^a-z0-9]+'),
        ['casino', 'xxx', 'viagra']))) > 0 THEN 'badword'
    WHEN len(kept) < 3 THEN 'too_few_sentences'
    ELSE 'ok' END AS verdict
FROM flt
""",
)
def c4_clean_q(spark, sf_dir):
    """The C4 corpus-cleaning recipe (quality.c4_clean — Raffel et
    al. 2020): terminal-punctuation + >=5-word line filter, then page
    drops for '{{' / 'lorem ipsum' / bad words / <3 surviving lines,
    in C4's order. Lines are carved deterministically from the word
    stream (8-word lines; every (doc_id+i)%4==0 line loses its
    terminal punctuation, so the line filter has real work) and three
    page-level violations are planted on doc_id multiples of
    31/37/41. All higher-order-function arithmetic on the lines
    array: zero joins, zero shuffles, scan-speed at any corpus size —
    the DuckDB replay is the same lambda pipeline, hashed
    bit-for-bit."""
    from .functions import quality as q
    from .functions.dedup import normalized_words

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.withColumn("w", normalized_words(F.col("text")))
    base = F.expr(
        "transform(sequence(0, (size(w) - 1) div 8), i -> "
        "concat(array_join(slice(w, i*8+1, 8), ' '), "
        "CASE WHEN pmod(doc_id + i, 4) = 0 THEN '' ELSE '.' END))"
    )
    def plant(m, line):
        return (
            "CASE WHEN doc_id % " + str(m) + " = 0 THEN array('"
            + line + "') ELSE array()::array<string> END"
        )

    lines = F.expr(
        "concat(concat(concat(base, "
        + plant(31, "function() { return spam; }")
        + "), "
        + plant(37, "Lorem ipsum dolor sit amet sentence.")
        + "), "
        + plant(41, "play casino games now here today.")
        + ")"
    )
    lined = d.withColumn("base", base).withColumn("lines", lines)
    return q.c4_clean(lined).select(
        "doc_id", "n_lines", "n_kept", "clean_chars", "verdict"
    )


_GOPHER_DUCK = f"""
g_base AS (SELECT doc_id, {DUCK_WORDS} AS w FROM documents),
g_cand AS (
  SELECT doc_id, array_to_string(w, ' ') AS text FROM g_base
  UNION ALL SELECT doc_id + 7000000,
    array_to_string(w[1:5], ' ')
  FROM g_base WHERE doc_id < 25
  UNION ALL SELECT doc_id + 7000000,
    array_to_string(w, ' ') || ' ' || array_to_string(
      list_transform(range(0, 20), i -> '#'), ' ')
  FROM g_base WHERE doc_id >= 25 AND doc_id < 50
  UNION ALL SELECT doc_id + 7000000,
    array_to_string(list_transform(w, x -> '123'), ' ')
  FROM g_base WHERE doc_id >= 50 AND doc_id < 75
  UNION ALL SELECT doc_id + 7000000,
    array_to_string(list_transform(w, x -> 'zq' || x), ' ')
  FROM g_base WHERE doc_id >= 75 AND doc_id < 100),
g_w AS (
  SELECT doc_id,
    string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')
      AS w
  FROM g_cand),
g_stats AS (
  SELECT doc_id, len(w)::INT AS n_words,
    coalesce(list_sum(list_transform(w, x -> length(x))), 0)::INT
      AS sum_word_chars,
    len(list_filter(w, x -> contains(x, '#')
        OR contains(x, '...')))::INT AS n_symbol_words,
    len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::INT
      AS n_alpha_words,
    len(list_filter(w, x -> list_contains(
        ['the','be','to','of','and','that','have','with'], x)))::INT
      AS n_stopwords
  FROM g_w)
"""


@register(
    "gopher_quality",
    f"""
WITH {_GOPHER_DUCK}
SELECT doc_id, n_words, sum_word_chars, n_symbol_words, n_alpha_words,
  n_stopwords,
  CASE
    WHEN n_words < 10 OR n_words > 100000 THEN 'word_count'
    WHEN sum_word_chars < 3 * n_words
      OR sum_word_chars > 10 * n_words THEN 'mean_word_len'
    WHEN n_symbol_words * 10 > n_words THEN 'symbol_ratio'
    WHEN n_alpha_words * 5 < n_words * 4 THEN 'alpha_frac'
    WHEN n_stopwords < 2 THEN 'stopwords'
    ELSE 'ok' END AS verdict
FROM g_stats
""",
)
def gopher_quality_q(spark, sf_dir):
    """The Gopher quality rule-set (quality.gopher_quality — Rae et
    al. 2021) over clean docs plus four planted violation families
    (+7000000 twins): 5-word truncations trip word_count, 20 appended
    '#' words trip the 10% symbol rule, all-digit rewrites trip the
    80% alpha rule, 'zq'-prefixed vocabularies trip the 2-stopword
    floor. min_words is 10 here (the battery corpus runs 10-99 words;
    the paper's 50 would make word_count shadow every other rule) —
    the operator's default keeps Gopher's constant. All thresholds
    are integer cross-multiplications, verdict is the first failing
    rule in the paper's order, and the whole thing is one narrow
    word-array projection: no joins, no shuffles. The battery
    corpus's stopword-poor vocabulary means ~half the CLEAN docs
    genuinely fail the 2-stopword floor — a real verdict split the
    oracle hashes, not an accident."""
    from .functions import quality as q
    from .functions.dedup import normalized_words

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.withColumn("w", normalized_words(F.col("text")))
    did = F.col("doc_id")

    def variant(lo, hi, expr):
        return base.filter((did >= lo) & (did < hi)).select(
            (did + 7_000_000).alias("doc_id"), expr.alias("text")
        )

    w = F.col("w")
    cands = (
        base.select("doc_id", F.array_join(w, " ").alias("text"))
        .unionByName(variant(0, 25, F.array_join(F.slice(w, 1, 5), " ")))
        .unionByName(
            variant(
                25,
                50,
                F.concat(
                    F.array_join(w, " "),
                    F.lit(" " + " ".join(["#"] * 20)),
                ),
            )
        )
        .unionByName(
            variant(
                50, 75,
                F.array_join(F.transform(w, lambda x: F.lit("123")), " "),
            )
        )
        .unionByName(
            variant(
                75, 100,
                F.array_join(
                    F.transform(w, lambda x: F.concat(F.lit("zq"), x)),
                    " ",
                ),
            )
        )
    )
    return q.gopher_quality(cands, min_words=10)


def _caption_mismatch_oracle() -> str:
    return f"""
WITH ids AS (SELECT doc_id::BIGINT AS g FROM documents),
base AS (
  SELECT g AS image_id, g, ({_DUCK_PHRASE}) AS phrase,
         {_duck_fp('g')} AS fp
  FROM ids),
twins AS (
  SELECT g + 8000000 AS image_id, g, ({_DUCK_PHRASE}) AS phrase,
         xor({_duck_fp('g')},
             (1::BIGINT << ((g * 11) % 60)::INT)) AS fp
  FROM ids WHERE g < 30),
m AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
w AS (
  SELECT image_id, phrase, fp,
    min(image_id) OVER (PARTITION BY phrase) AS rep_id,
    arg_min(fp, image_id) OVER (PARTITION BY phrase) AS rep_fp
  FROM m)
SELECT phrase, rep_id, image_id, bit_count(xor(fp, rep_fp))::INT AS hd,
  bit_count(xor(fp, rep_fp)) > 20 AS mismatch
FROM w WHERE image_id <> rep_id
"""


@register("caption_pixel_mismatch", _caption_mismatch_oracle)
def caption_pixel_mismatch_q(spark, sf_dir):
    """Cross-modal label-noise detection: images sharing an EXACT
    caption whose perceptual fingerprints disagree (hamming > 20 vs
    the caption group's representative) are flagged as caption noise
    — the LAION-style pair where a boilerplate alt-text ('stock
    photo', 'image 1') was scraped onto unrelated pixels, which
    alignment scoring only partially catches (it scores pairs solo;
    this operator uses caption COLLISIONS as the signal). Scale
    shape: star-vs-representative, NOT all-pairs — each image
    compares against its caption group's min-id member, so a
    'stock photo' x 10^6 mega-caption costs 10^6 rows, not 10^12
    pairs (the same reasoning as dedup_lsh_capped's hub-star cap,
    built in rather than bolted on). ONE window shuffle keyed by
    caption, then integer XOR popcount per row. The synthetic caption
    key (g % 173) collides across unrelated fingerprint groups
    (g % 97), so organic mismatches occur; 30 planted twins sit 1 bit
    from their representative and come out mismatch=false."""
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("g")
    )
    g = F.col("g")
    base = ids.select(
        g.alias("image_id"), "g",
        _SPARK_PHRASE(g).alias("phrase"),
        _derived_fp("g").alias("fp"),
    )
    twins = ids.filter(g < 30).select(
        (g + 8_000_000).alias("image_id"), "g",
        _SPARK_PHRASE(g).alias("phrase"),
        _derived_fp("g")
        .bitwiseXOR(F.expr("shiftleft(cast(1 as bigint), "
                           "cast((g * 11) % 60 as int))"))
        .alias("fp"),
    )
    m = base.unionByName(twins)
    win = Window.partitionBy("phrase")
    w = m.select(
        "image_id", "phrase", "fp",
        F.min("image_id").over(win).alias("rep_id"),
        F.expr("min_by(fp, image_id)").over(win).alias("rep_fp"),
    )
    hd = F.bit_count(F.col("fp").bitwiseXOR(F.col("rep_fp"))).cast("int")
    return w.filter(F.col("image_id") != F.col("rep_id")).select(
        "phrase", "rep_id", "image_id", hd.alias("hd"),
        (hd > 20).alias("mismatch"),
    )


_DSIR_MARK = " wiki cite ref wiki cite ref wiki cite ref"

_DSIR_BG = (
    "CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), "
    "i -> w[i] || ' ' || w[i+1]) ELSE []::VARCHAR[] END"
)


def _dsir_oracle() -> str:
    wsplit = DUCK_WORDS
    b = duck_hash("bg") + " % 1024"
    return f"""
WITH d AS (SELECT doc_id, text FROM documents),
tgt AS (SELECT doc_id, text || '{_DSIR_MARK}' AS text FROM d
        WHERE doc_id < 100),
cands AS (
  SELECT doc_id, text FROM d
  UNION ALL SELECT doc_id + 9000000, text || '{_DSIR_MARK}'
  FROM d WHERE doc_id < 50),
nt AS (SELECT count(*) AS n FROM tgt),
nr AS (SELECT count(*) AS n FROM cands),
t_occ AS (
  SELECT {b} AS bkt FROM (
    SELECT unnest({_DSIR_BG}) AS bg FROM (
      SELECT {wsplit} AS w FROM tgt))),
r_occ AS (
  SELECT doc_id, {b} AS bkt FROM (
    SELECT doc_id, unnest({_DSIR_BG}) AS bg FROM (
      SELECT doc_id, {wsplit} AS w FROM cands))),
t_c AS (SELECT bkt, count(*) AS t_c FROM t_occ GROUP BY bkt),
r_c AS (SELECT bkt, count(*) AS r_c FROM r_occ GROUP BY bkt),
model AS (
  SELECT r_c.bkt,
    ((length(bin(coalesce(t_c.t_c, 0) * (SELECT n FROM nr))) - 1)
     - (length(bin(r_c.r_c * (SELECT n FROM nt))) - 1))::BIGINT AS w
  FROM r_c LEFT JOIN t_c ON r_c.bkt = t_c.bkt),
scored AS (
  SELECT o.doc_id, count(*) AS n_feats, sum(m.w) AS sum_w
  FROM r_occ o JOIN model m ON o.bkt = m.bkt GROUP BY o.doc_id)
SELECT c.doc_id, coalesce(s.n_feats, 0)::BIGINT AS n_feats,
  coalesce(s.sum_w, 0)::BIGINT AS sum_w,
  coalesce(s.sum_w, 0) > 0 AS kept
FROM cands c LEFT JOIN scored s ON c.doc_id = s.doc_id
"""


@register("dsir_select", _dsir_oracle)
def dsir_select_q(spark, sf_dir):
    """DSIR data selection (lm.dsir_importance — Xie et al. 2023):
    importance-weight every candidate by hashed-bigram likelihood
    ratio between a 100-doc TARGET corpus (marker-suffixed twins of
    docs 0-99, standing in for 'trusted wiki text') and the raw pool,
    keep positive-weight docs. 50 planted marker-suffixed candidates
    all come out kept; among organic positives the docs whose content
    IS in the target are ~3x enriched over base rate — distribution
    matching doing its job without a single hand-written rule. The
    log-ratio is the battery's integer floor-log2 (bit-length) form,
    the feature table is fixed at 1024 hashed buckets exactly as DSIR
    prescribes, and the whole pipe is two bucket-count aggregates +
    one broadcast model join + one per-doc regroup — no corpus-scale
    shuffle, no window."""
    from .functions import lm

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") < 100).select(
        "doc_id", F.concat("text", F.lit(_DSIR_MARK)).alias("text")
    )
    planted = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 9_000_000).alias("doc_id"),
        F.concat("text", F.lit(_DSIR_MARK)).alias("text"),
    )
    cands = docs.unionByName(planted)
    return lm.dsir_importance(cands, target)


def _reval_oracle() -> str:
    h = duck_hash("'rv:' || o_orderkey::VARCHAR")
    return f"""
WITH f AS (
  SELECT o_orderkey AS url_id, 'h' || (o_custkey % 30)::VARCHAR AS host,
    (500 + {h} % 20000)::BIGINT AS page_bytes,
    ({h} % 3 = 0) AS has_etag,
    ({h} % 5 < 2) AS has_lastmod,
    ({h} % 10 < 7) AS likely_unchanged
  FROM orders),
p AS (
  SELECT *, CASE WHEN has_etag THEN 'conditional_etag'
                 WHEN has_lastmod THEN 'conditional_lastmod'
                 ELSE 'full_fetch' END AS plan,
    CASE WHEN (has_etag OR has_lastmod) AND likely_unchanged
         THEN page_bytes ELSE 0 END AS bytes_saved
  FROM f)
SELECT host, plan, count(*)::BIGINT AS n_urls,
  sum(page_bytes)::BIGINT AS bytes_total,
  sum(bytes_saved)::BIGINT AS bytes_saved
FROM p GROUP BY host, plan
"""


@register("revalidation_plan", _reval_oracle)
def revalidation_plan_q(spark, sf_dir):
    """HTTP revalidation planning — the bandwidth side of recrawl
    (operators/recrawl.py schedules WHEN; this decides HOW): frontier
    rows with a stored ETag revalidate with If-None-Match, rows with
    only Last-Modified use If-Modified-Since, the rest re-fetch in
    full, and expected transfer savings are the bytes of
    conditionally-fetched pages predicted unchanged (a 304 costs
    headers only). One CASE projection + one (host, plan) aggregate,
    map-side combinable — the per-host savings table is what a crawl
    budget allocator reads to trade recrawl freshness against egress.
    Cache metadata is synthesized deterministically per URL, so the
    DuckDB replay hashes bit-for-bit."""
    o = _t(spark, sf_dir, "orders")
    h = portable_hash64(
        F.concat(F.lit("rv:"), F.col("o_orderkey").cast("string"))
    )
    f = o.select(
        F.col("o_orderkey").alias("url_id"),
        F.concat(
            F.lit("h"), (F.col("o_custkey") % 30).cast("string")
        ).alias("host"),
        (500 + F.pmod(h, F.lit(20000))).cast("long").alias("page_bytes"),
        (F.pmod(h, F.lit(3)) == 0).alias("has_etag"),
        (F.pmod(h, F.lit(5)) < 2).alias("has_lastmod"),
        (F.pmod(h, F.lit(10)) < 7).alias("likely_unchanged"),
    )
    plan = (
        F.when(F.col("has_etag"), F.lit("conditional_etag"))
        .when(F.col("has_lastmod"), F.lit("conditional_lastmod"))
        .otherwise(F.lit("full_fetch"))
    )
    saved = F.when(
        (F.col("has_etag") | F.col("has_lastmod"))
        & F.col("likely_unchanged"),
        F.col("page_bytes"),
    ).otherwise(F.lit(0))
    return (
        f.withColumn("plan", plan)
        .withColumn("bytes_saved", saved)
        .groupBy("host", "plan")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("page_bytes").alias("bytes_total"),
            F.sum("bytes_saved").alias("bytes_saved"),
        )
    )


def _datacard_oracle() -> str:
    from .functions import lm

    docs_sql = "SELECT doc_id, lang, text FROM documents"
    lm_ctes = lm.bigram_lm_score_duckdb(docs_sql).split("\n-- final")[0]
    return f"""
WITH {lm_ctes},
dc_w AS (
  SELECT doc_id, {DUCK_WORDS} AS w FROM documents),
dc_g AS (
  SELECT doc_id, len(w)::INT AS n_words,
    coalesce(list_sum(list_transform(w, x -> length(x))), 0)::INT
      AS sum_word_chars,
    len(list_filter(w, x -> contains(x, '#')
        OR contains(x, '...')))::INT AS n_symbol_words,
    len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::INT
      AS n_alpha_words,
    len(list_filter(w, x -> list_contains(
        ['the','be','to','of','and','that','have','with'], x)))::INT
      AS n_stopwords
  FROM dc_w),
dc_v AS (
  SELECT doc_id, n_words,
    CASE
      WHEN n_words < 10 OR n_words > 100000 THEN 'word_count'
      WHEN sum_word_chars < 3 * n_words
        OR sum_word_chars > 10 * n_words THEN 'mean_word_len'
      WHEN n_symbol_words * 10 > n_words THEN 'symbol_ratio'
      WHEN n_alpha_words * 5 < n_words * 4 THEN 'alpha_frac'
      WHEN n_stopwords < 2 THEN 'stopwords'
      ELSE 'ok' END AS gopher_verdict
  FROM dc_g)
SELECT s.lang, s.bucket AS lm_bucket, v.gopher_verdict,
  count(*)::BIGINT AS n_docs, sum(v.n_words)::BIGINT AS n_words,
  (sum(CASE WHEN s.bucket <> 'tail' AND v.gopher_verdict = 'ok'
            THEN v.n_words ELSE 0 END))::BIGINT AS n_words_kept
FROM lm_scored s JOIN dc_v v ON s.doc_id = v.doc_id
GROUP BY s.lang, s.bucket, v.gopher_verdict
"""


@register("corpus_datacard", _datacard_oracle)
def corpus_datacard_q(spark, sf_dir):
    """The pretraining data card: the per-(lang, LM bucket, Gopher
    verdict) census a corpus release publishes — doc counts, token
    totals, and the token budget surviving the combined cut (LM
    bucket != tail AND Gopher ok). Composes two battery operators
    over the SAME scan (lm.bigram_lm_score self-trained +
    quality.gopher_quality at the corpus's min_words=10), joins on
    doc_id and rolls up; the rollup output is vocabulary-of-
    categories-sized, so at 100 TB this is two model aggregates, one
    doc-keyed join, one final tiny aggregate — the census is free
    relative to the scoring it reuses. Both scorers are
    integer-exact, so the census hashes bit-for-bit in DuckDB."""
    from .functions import lm
    from .functions import quality as q

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    scored = lm.bigram_lm_score(docs).select(
        "doc_id", "lang", "bucket"
    )
    goph = q.gopher_quality(docs, min_words=10).select(
        "doc_id", "n_words",
        F.col("verdict").alias("gopher_verdict"),
    )
    kept_words = F.when(
        (F.col("bucket") != "tail")
        & (F.col("gopher_verdict") == "ok"),
        F.col("n_words"),
    ).otherwise(F.lit(0))
    return (
        scored.join(goph, "doc_id")
        .groupBy(
            "lang",
            F.col("bucket").alias("lm_bucket"),
            "gopher_verdict",
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum(kept_words).alias("n_words_kept"),
        )
    )


def _anchor_spam_oracle() -> str:
    from .sources.synthweb import _WORDS

    wlist = "[" + ",".join(f"'{w}'" for w in _WORDS) + "]"
    pid = duck_hash("'anc:' || src::VARCHAR") + " % 3"
    return f"""
WITH d AS (SELECT doc_id::BIGINT AS src FROM documents),
organic AS (
  SELECT src // 5 AS dst, src % 13 AS src_host,
    '  ' || {wlist}[(((src // 5) + ({pid})) % 20 + 1)::INT]
    || '   ' || {wlist}[(((src // 5) * 7 + ({pid})) % 20 + 1)::INT]
    || ' ' AS anchor
  FROM d),
popular AS (
  SELECT 8000000 + (src % 2) AS dst, src % 13 AS src_host,
    {wlist}[((src * 3) % 20 + 1)::INT] || ' '
    || {wlist}[((src * 11 + 5) % 20 + 1)::INT] AS anchor
  FROM d WHERE src < 100),
farm AS (
  SELECT 9000000 + (src % 3) AS dst, src % 3 AS src_host,
    ' Cheap   PILLS here ' AS anchor
  FROM d WHERE src < 60),
l AS (SELECT * FROM organic UNION ALL SELECT * FROM popular
      UNION ALL SELECT * FROM farm),
n AS (SELECT dst, src_host AS h,
        lower(regexp_replace(trim(anchor), '\\s+', ' ', 'g')) AS phrase
      FROM l),
pp AS (SELECT dst, phrase, count(*) AS n_pl FROM n GROUP BY 1, 2),
pd AS (SELECT dst, sum(n_pl)::BIGINT AS n_links,
         count(*)::BIGINT AS n_phrases,
         max(n_pl)::BIGINT AS top_phrase_links
       FROM pp GROUP BY dst),
hh AS (SELECT dst, count(DISTINCT h)::BIGINT AS n_src_hosts
       FROM n GROUP BY dst)
SELECT pd.dst, n_links, n_phrases, n_src_hosts, top_phrase_links,
  (n_links >= 20 AND top_phrase_links * 2 > n_links
   AND n_src_hosts * 5 < n_links) AS spam
FROM pd JOIN hh ON pd.dst = hh.dst
"""


@register("anchor_spam_hosts", _anchor_spam_oracle)
def anchor_spam_hosts_q(spark, sf_dir):
    """Link-farm detection (tx.anchor_spam_hosts): pages whose
    in-links are numerous but come from few hosts repeating one
    phrase are bought reputation — the classic link-spam signature a
    crawler demotes before ranking. Three planted populations: a
    long-tail organic graph (under the volume floor), two POPULAR
    targets (50+ links but varied anchors and 13 source hosts — must
    NOT flag), and a 3-target farm (20 links each from 3 hosts, one
    repeated anchor — must flag). One edge-scale (dst, phrase)
    aggregate, then vocabulary-sized rollups; join-free on edges."""
    from .functions import text as tx
    from .sources.synthweb import _WORDS

    warr = F.array(*[F.lit(x) for x in _WORDS])
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    src = F.col("src")
    dst = F.expr("src div 5")
    pid = portable_hash64(
        F.concat(F.lit("anc:"), src.cast("string"))
    ) % 3
    word = lambda expr: F.element_at(warr, (expr % 20 + 1).cast("int"))  # noqa: E731
    organic = d.select(
        dst.alias("dst"), (src % 13).alias("src_host"),
        F.concat(
            F.lit("  "), word(dst + pid), F.lit("   "),
            word(dst * 7 + pid), F.lit(" "),
        ).alias("anchor"),
    )
    popular = d.filter(src < 100).select(
        (8_000_000 + (src % 2)).alias("dst"),
        (src % 13).alias("src_host"),
        F.concat_ws(
            " ", word(src * 3), word(src * 11 + 5)
        ).alias("anchor"),
    )
    farm = d.filter(src < 60).select(
        (9_000_000 + (src % 3)).alias("dst"),
        (src % 3).alias("src_host"),
        F.lit(" Cheap   PILLS here ").alias("anchor"),
    )
    links = organic.unionByName(popular).unionByName(farm)
    return tx.anchor_spam_hosts(links)


@register(
    "stream_phash_dedup",
    f"""
SELECT DISTINCT {_duck_fp('(event_id % 200)')} AS fp FROM events
""",
)
def stream_phash_dedup_q(spark, sf_dir):
    """Streaming image-ingest dedup (streaming/dedup.py
    stream_distinct_derived): the arriving record stream maps to a
    perceptual fingerprint (closed-form stand-in for the decoder's
    pHash — 200 distinct images recurring across the firehose) and
    dropDuplicatesWithinWatermark keeps the first sighting of each,
    state watermark-evicted so a 10^10-image firehose holds only the
    horizon's fingerprints. Drained over the finite file this equals
    global DISTINCT, giving the exact oracle; the three-micro-batch
    eviction semantics are pinned in tests/test_streaming_dedup.py
    for the shared machinery."""
    from .streaming.dedup import stream_distinct_derived

    def derive(stream):
        return stream.select(
            _derived_fp("(event_id % 200)").alias("fp"), "ts"
        )

    return stream_distinct_derived(
        spark, f"{sf_dir}/events.parquet", derive, ("fp",)
    )


# --------------------------------------------------------------------------
# WARC / CDX (sources/warc.py) — the 100-TB page-store index
# --------------------------------------------------------------------------
_WARC_CRLF = "(chr(13) || chr(10))"


def _warc_cdx_oracle() -> str:
    c = _WARC_CRLF
    return f"""
WITH base AS (
  SELECT doc_id, text,
    'http://WWW.H' || (doc_id % 97)::varchar || '.Example.COM/doc/'
      || doc_id::varchar || '?id=' || doc_id::varchar || '&v=2' AS url,
    (doc_id % 86400) AS s,
    (CASE WHEN doc_id % 10 = 0 THEN 404 ELSE 200 END)::int AS status
  FROM documents),
tp AS (
  SELECT *, lpad((s // 3600)::varchar, 2, '0') AS hh,
    lpad(((s % 3600) // 60)::varchar, 2, '0') AS mi,
    lpad((s % 60)::varchar, 2, '0') AS ss FROM base),
rec AS (
  SELECT doc_id, url, status, text,
    '2026-08-19T' || hh || ':' || mi || ':' || ss || 'Z' AS warc_date,
    '20260819' || hh || mi || ss AS cdx_ts FROM tp),
blk AS (
  SELECT *,
    'HTTP/1.1 ' || status::varchar || ' '
      || (CASE WHEN status = 404 THEN 'Not Found' ELSE 'OK' END) || {c}
      || 'Content-Type: text/html' || {c}
      || 'Content-Length: ' || strlen(text)::varchar || {c} || {c}
      || text AS block,
    sha256(text) AS digest, md5(url || warc_date) AS h FROM rec),
fr AS (
  SELECT *,
    'WARC/1.1' || {c} || 'WARC-Type: response' || {c}
      || 'WARC-Record-ID: <urn:uuid:' || substr(h, 1, 8) || '-'
      || substr(h, 9, 4) || '-' || substr(h, 13, 4) || '-'
      || substr(h, 17, 4) || '-' || substr(h, 21, 12) || '>' || {c}
      || 'WARC-Date: ' || warc_date || {c}
      || 'WARC-Target-URI: ' || url || {c}
      || 'WARC-Payload-Digest: sha256:' || digest || {c}
      || 'Content-Type: application/http;msgtype=response' || {c}
      || 'Content-Length: ' || strlen(block)::varchar || {c} || {c}
      || block || {c} || {c} AS record
  FROM blk),
cdx AS (
  SELECT
    'cdx-' || lpad(({portable_hash64_duckdb('url')} % 8)::varchar, 5, '0')
      || '.warc' AS filename,
    {surt_key_duckdb('url')} AS surt, cdx_ts, url,
    digest AS digest_sha256, 'text/html' AS mime, status,
    strlen(record)::bigint AS cdx_length
  FROM fr)
SELECT filename, surt, cdx_ts, url, digest_sha256, mime, status,
  COALESCE(sum(cdx_length) OVER (PARTITION BY filename ORDER BY surt
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
    AS cdx_offset,
  cdx_length
FROM cdx
"""


@register("warc_cdx", _warc_cdx_oracle)
def warc_cdx(spark, sf_dir):
    """CDX index build over a synthesized WARC page store — the query
    a web-archive pipeline runs over 100 TB of ``.warc`` shards to
    make them seekable: SURT sort key, 14-digit timestamp, payload
    digest, and per-shard byte offsets (windowed cumulative sum, one
    shuffle keyed by shard so every 1000-executor task indexes its own
    shards). Record lengths come from the exact WARC/1.1 serialization
    of sources/warc.py (pinned byte-for-byte in tests/test_warc.py);
    offsets here are the UNCOMPRESSED ``.warc`` variant — write_warc's
    manifest carries the compressed ``.warc.gz`` member offsets. All
    native Catalyst (concat/sha2/md5/octet_length/window); the
    reference keeps pages only in memory (pages.py) — the archive
    layer is the 100-TB extension."""
    crlf = "\r\n"
    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    s = doc_id % 86400
    hh = F.lpad(F.floor(s / 3600).cast("string"), 2, "0")
    mi = F.lpad(F.floor((s % 3600) / 60).cast("string"), 2, "0")
    ss = F.lpad((s % 60).cast("string"), 2, "0")
    base = d.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("http://WWW.H"), (doc_id % 97).cast("string"),
            F.lit(".Example.COM/doc/"), doc_id.cast("string"),
            F.lit("?id="), doc_id.cast("string"), F.lit("&v=2"),
        ).alias("url"),
        F.when(doc_id % 10 == 0, F.lit(404)).otherwise(F.lit(200))
        .alias("status"),
        F.concat(
            F.lit("2026-08-19T"), hh, F.lit(":"), mi, F.lit(":"), ss,
            F.lit("Z"),
        ).alias("warc_date"),
        F.concat(F.lit("20260819"), hh, mi, ss).alias("cdx_ts"),
    )
    blk = base.select(
        "*",
        F.concat(
            F.lit("HTTP/1.1 "), F.col("status").cast("string"), F.lit(" "),
            F.when(F.col("status") == 404, F.lit("Not Found"))
            .otherwise(F.lit("OK")),
            F.lit(crlf + "Content-Type: text/html" + crlf
                  + "Content-Length: "),
            F.octet_length("text").cast("string"),
            F.lit(crlf + crlf), F.col("text"),
        ).alias("block"),
        F.sha2(F.col("text"), 256).alias("digest"),
        F.md5(F.concat(F.col("url"), F.col("warc_date"))).alias("h"),
    )
    rid = F.concat_ws(
        "-", F.substring("h", 1, 8), F.substring("h", 9, 4),
        F.substring("h", 13, 4), F.substring("h", 17, 4),
        F.substring("h", 21, 12),
    )
    fr = blk.select(
        "*",
        F.concat(
            F.lit("WARC/1.1" + crlf + "WARC-Type: response" + crlf
                  + "WARC-Record-ID: <urn:uuid:"),
            rid,
            F.lit(">" + crlf + "WARC-Date: "), F.col("warc_date"),
            F.lit(crlf + "WARC-Target-URI: "), F.col("url"),
            F.lit(crlf + "WARC-Payload-Digest: sha256:"), F.col("digest"),
            F.lit(crlf + "Content-Type: application/http;msgtype=response"
                  + crlf + "Content-Length: "),
            F.octet_length("block").cast("string"),
            F.lit(crlf + crlf), F.col("block"), F.lit(crlf + crlf),
        ).alias("record"),
    )
    cdx = fr.select(
        F.concat(
            F.lit("cdx-"),
            F.lpad((portable_hash64(F.col("url")) % 8).cast("string"),
                   5, "0"),
            F.lit(".warc"),
        ).alias("filename"),
        surt_key(F.col("url")).alias("surt"),
        "cdx_ts",
        "url",
        F.col("digest").alias("digest_sha256"),
        F.lit("text/html").alias("mime"),
        "status",
        F.octet_length("record").cast("long").alias("cdx_length"),
    )
    w = (
        Window.partitionBy("filename")
        .orderBy("surt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return cdx.select(
        "filename", "surt", "cdx_ts", "url", "digest_sha256", "mime",
        "status",
        F.coalesce(F.sum("cdx_length").over(w), F.lit(0)).cast("long")
        .alias("cdx_offset"),
        "cdx_length",
    )
