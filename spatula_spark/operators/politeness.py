"""Per-host politeness budgets, robots.txt rules, host-skew salting.

The reference's politeness is a single global token bucket —
``requests_per_minute=60`` handed to scrapelib
(``/root/reference/src/spatula/cli.py:33,79-85``) — adequate for one
thread, meaningless for 1000 executors. The engine generalizes it to a
**per-host per-wave budget** (north rule): within a wave, each host may
schedule at most ``budget`` fetches; the overflow is *deferred* — it
stays in the frontier with untouched lineage paths, so crawl ordering
is unchanged, only wave assignment shifts.

Both rules TAG the frontier instead of splitting it: the budget adds
``_deferred`` (split_by_host_budget) and the oversized robots path
``_allowed`` (robots_broadcast_join; small rule sets compile to one
expression). The engine folds the tags into one ``_fate`` per row, so
each wave branch (fetch, null-source, deferred or blocked) is a filter
over one frame rather than its own copy of the split.

Scale notes:
* budget selection = ``row_number() over (partition by host order by
  priority, path)`` — one shuffle on ``host``. A hot host (the classic
  crawl skew) would make one straggler task; we pre-split with a
  salted repartition on ``(host, pmod(xxhash64(url), salt))`` so the
  *sort* work spreads, and AQE skew-join handles the fetch join.
  The row_number window itself must see a host's rows together; with
  per-host budgets in the low thousands the windowed data per host is
  tiny after the wave cap — the salting matters for the fetch join and
  the transform stage, which carry payload bytes.
* robots rules are a small table, matched per RFC 9309 as deployed:
  ``*`` wildcards and ``$`` end anchors, longest-pattern precedence,
  allow beats disallow at equal length, path+query as the target.
  Small rule sets compile to one CASE expression evaluated inline in
  the frontier scan; oversized sets use a broadcast prefix join
  hybridized with a compiled expression for the (few) wildcard rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def split_by_host_budget(
    frontier: DataFrame, budget: int | None
) -> DataFrame:
    """Tag a wave's frontier with ``_deferred``: true on the rows over
    the per-host ``budget``, which stay in the frontier for a later
    wave. ``frontier`` needs a ``host`` column; null-source rows (null
    url, so null host) are never deferred. ``budget=None`` disables the
    limiter (nothing deferred).

    Plan shape (the scale-critical part): a naive ``row_number() over
    (partition by host)`` sorts the ENTIRE frontier every wave. Instead
    a per-host count aggregate (map-side combine => tiny) finds the
    hosts actually over budget; only THOSE hosts' rows go through the
    ranking window, everything else passes straight through a broadcast
    hash join (no sort, no extra shuffle). The hot set is bounded by
    ``frontier_size / budget`` rows — thousands, not billions — so the
    broadcast is safe at any frontier size with sane budgets. The
    result is one frame (cold rows ∪ ranked hot rows); the engine
    derives every wave branch from it by filters.
    """
    if budget is None:
        return frontier.withColumn("_deferred", F.lit(False))
    if budget < 1:
        # budget 0 would defer every row every wave => the crawl loop
        # never drains; None is the documented "disabled" spelling
        raise ValueError(
            "host budget must be >= 1 (use None to disable the limiter)"
        )

    hot = (frontier.filter(F.col("url").isNotNull()).groupBy("host")
           .agg(F.count("*").alias("_hn")).filter(F.col("_hn") > budget)
           .select("host", F.lit(True).alias("_hot")))

    # a null host (null-source row) never matches the equi-join: cold
    flagged = frontier.join(F.broadcast(hot), "host", "left")
    cold = flagged.filter(F.col("_hot").isNull()).select(
        *frontier.columns, F.lit(False).alias("_deferred"))

    w = Window.partitionBy("host").orderBy("priority", "path")
    ranked = flagged.filter(F.col("_hot")).select(
        *frontier.columns,
        (F.row_number().over(w) > budget).alias("_deferred"))
    return cold.unionByName(ranked)


ROBOTS_EXPR_MAX_RULES = 5000


def robots_pattern_is_wild(p: str) -> bool:
    """True when the rule needs RFC 9309 pattern matching (``*``
    anywhere, ``$`` end anchor) rather than a plain prefix test."""
    return "*" in p or p.endswith("$")


def robots_pattern_regex(p: str) -> str:
    """RFC 9309 rule pattern -> anchored regex. ``*`` matches any run
    (including empty), a trailing ``$`` anchors the end, everything
    else is literal. The output is dialect-portable: Java (Catalyst
    rlike) and RE2 (DuckDB regexp_matches) agree on ``^``, ``$``,
    ``.*`` and backslash-escaped punctuation."""
    import re as _re

    anchor = p.endswith("$")
    body = p[:-1] if anchor else p
    rx = "^" + ".*".join(_re.escape(seg) for seg in body.split("*"))
    return rx + "$" if anchor else rx


def _robots_match_cond(url_path: Column, pattern: str) -> Column:
    if robots_pattern_is_wild(pattern):
        return url_path.rlike(robots_pattern_regex(pattern))
    return url_path.startswith(pattern)


def robots_match_target() -> Column:
    """The string robots patterns match against: URI path plus query
    when present (RFC 9309 as deployed — Google's reference matcher
    includes the query, e.g. ``/*.php$`` does NOT block
    ``/filename.php?parameters``)."""
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    q = F.parse_url(F.col("url"), F.lit("QUERY"))
    return F.when(
        q.isNotNull(), F.concat(path, F.lit("?"), q)
    ).otherwise(path)


def robots_allow_expr(rules: list[tuple[str, str, bool]]) -> Column:
    """Compile robots rules into one Catalyst CASE expression.

    ``rules``: (host, pattern, allow). RFC 9309 precedence: the
    longest PATTERN (raw octets, wildcards counted as written) wins,
    allow beats disallow on ties — encoded by evaluation order, so the
    first matching arm decides. Patterns may use ``*`` / trailing
    ``$`` (compiled to an anchored rlike); plain prefixes stay
    startswith (codegen'd, no regex engine). A compiled expression
    beats a join+window: no shuffle, no per-row sort, and whole-stage
    codegen evaluates it inline during the frontier scan. Robots
    corpora are small even web-scale (rules live per *host*, not per
    URL); beyond ROBOTS_EXPR_MAX_RULES fall back to a broadcast join.
    """
    ordered = sorted(rules, key=lambda r: (-len(r[1]), not r[2]))
    url_path = robots_match_target()
    expr = F.lit(True)
    for host, pattern, allow in reversed(ordered):
        cond = (F.col("host") == host) & _robots_match_cond(
            url_path, pattern)
        expr = F.when(cond, F.lit(bool(allow))).otherwise(expr)
    return expr


def robots_wild_best_expr(
    rules: list[tuple[str, str, bool]], url_path: Column
) -> Column:
    """Best (longest, allow-wins) matching WILDCARD rule as a
    ``struct(l, a)`` column, null when none match — the wildcard half
    of the oversized-rule-set hybrid (see robots_broadcast_join)."""
    ordered = sorted(rules, key=lambda r: (-len(r[1]), not r[2]))
    expr = F.lit(None).cast("struct<l:int,a:boolean>")
    for host, pattern, allow in reversed(ordered):
        cond = (F.col("host") == host) & _robots_match_cond(
            url_path, pattern)
        expr = F.when(
            cond,
            F.struct(F.lit(len(pattern)).alias("l"),
                     F.lit(bool(allow)).alias("a")),
        ).otherwise(expr)
    return expr


def _robots_wild_cond() -> Column:
    return (
        F.instr(F.col("path_prefix"), "*") > 0
    ) | F.col("path_prefix").endswith("$")


def split_robots_rules(robots: DataFrame):
    """(prefix-only rules DF, collected wildcard rule list) for the
    oversized-rule-set hybrid. Wildcard rules must fit the compiled
    expression (they are hand-written per host; a corpus where they
    alone exceed ROBOTS_EXPR_MAX_RULES is pathological and refused
    rather than silently mis-matched)."""
    # toArrow runs ONE job; a limited collect() scans one partition
    # first, then the rest (two jobs)
    wild_rows = (
        robots.filter(_robots_wild_cond())
        .limit(ROBOTS_EXPR_MAX_RULES + 1)
        .toArrow().to_pylist()
    )
    if len(wild_rows) > ROBOTS_EXPR_MAX_RULES:
        raise ValueError(
            f"more than {ROBOTS_EXPR_MAX_RULES} wildcard robots rules; "
            "the join fallback compiles wildcard rules into an "
            "expression and cannot scale past that"
        )
    wild = [(r["host"], r["path_prefix"], bool(r["allow"]))
            for r in wild_rows]
    return robots.filter(~_robots_wild_cond()), wild


def robots_broadcast_join(
    frontier: DataFrame,
    robots: DataFrame,
    wild_rules: list[tuple[str, str, bool]] | None = None,
) -> DataFrame:
    """Oversized-rule-set path: ``frontier`` tagged with ``_allowed``
    by a broadcast join + longest-match
    aggregate over the PREFIX rules, combined with a compiled
    expression over the (few) WILDCARD rules. Used by the engine when
    the rule count exceeds ROBOTS_EXPR_MAX_RULES — the CASE expression
    would otherwise silently truncate to an arbitrary subset.

    RFC 9309 precedence across both halves: each yields its best match
    as ``struct(l=pattern length, a=allow)``; the struct max (length
    first, allow beats disallow on ties — boolean true > false) picks
    the winner, no-match defaults to allowed. ``robots`` must hold
    prefix-only rules when ``wild_rules`` is given (split_robots_rules
    does the split)."""
    fr = frontier.withColumn("_path", robots_match_target())
    joined = fr.join(
        F.broadcast(robots.withColumnRenamed("host", "r_host")),
        (F.col("host") == F.col("r_host"))
        & F.col("_path").startswith(F.col("path_prefix")),
        "left",
    )
    keep = [c for c in fr.columns]
    best = joined.groupBy(*keep).agg(
        F.max(
            F.when(
                F.col("path_prefix").isNotNull(),
                F.struct(
                    F.length("path_prefix").alias("l"),
                    F.col("allow").alias("a"),
                ),
            )
        ).alias("_best")
    )
    if wild_rules:
        best = best.withColumn(
            "_best",
            F.greatest(
                F.col("_best"),
                robots_wild_best_expr(wild_rules, F.col("_path")),
            ),
        )
    return best.withColumn(
        "_allowed", F.coalesce(F.col("_best")["a"], F.lit(True))
    ).drop("_best", "_path")


def salted_repartition(df: DataFrame, n: int, salt_buckets: int, url_col: str = "url") -> DataFrame:
    """Spread a hot host across ``salt_buckets`` partitions before the
    payload-heavy stages (north-rule skew mandate)."""
    return df.repartition(
        n, F.col("host"), F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    )


def trap_hosts(
    crawl: DataFrame,
    host_col: str = "host",
    depth_col: str = "depth",
    url_col: str = "url",
    fp_col: str = "content_fp",
    growth_threshold: float = 4.0,
    diversity_max: float = 0.25,
    min_depth: int = 2,
) -> DataFrame:
    """Spider-trap detection over a crawl log.

    A trap host (calendar pages, faceted search, session-id URL
    mints) shows two signatures at once: the distinct-URL count per
    depth grows geometrically (``growth_threshold``× wave over wave)
    while the *content* behind those URLs stays near-constant
    (distinct-fingerprint / distinct-URL ratio ≤ ``diversity_max``).
    Either alone misfires — a genuinely large site grows fast with
    diverse content; a mirror farm is repetitive but bounded — so a
    depth level is flagged only when both hold (and ``depth >=
    min_depth``, since depth-1 fan-out from a seed page is normal).
    A flagged host is blocked by adding a robots ``Disallow: /`` row
    for it (host, path_prefix "/", allow false); the reference has no
    counterpart (single-site scrapers can't fall into cross-host
    traps).

    Plan shape at 10^10 URLs: ONE shuffle — the (host, depth)
    aggregate with map-side partial distinct-count expansion — then a
    per-host window over ≤ max_depth rows per host (the aggregated
    table is |hosts|×|depths|, tiny next to the log). Returns the
    flagged (host, depth) rows with their evidence columns, ordered
    for deterministic downstream use.
    """
    per_depth = (
        crawl.groupBy(
            F.col(host_col).alias("host"), F.col(depth_col).alias("depth")
        )
        .agg(
            F.countDistinct(url_col).alias("n_urls"),
            F.countDistinct(fp_col).alias("n_fp"),
        )
    )
    w = Window.partitionBy("host").orderBy("depth")
    return (
        per_depth.withColumn("_prev", F.lag("n_urls").over(w))
        .withColumn(
            "growth", F.round(F.col("n_urls") / F.col("_prev"), 6)
        )
        .withColumn(
            "diversity", F.round(F.col("n_fp") / F.col("n_urls"), 6)
        )
        .filter(
            (F.col("depth") >= min_depth)
            & (F.col("growth") >= growth_threshold)
            & (F.col("diversity") <= diversity_max)
        )
        .select("host", "depth", "n_urls", "n_fp", "growth", "diversity")
    )
