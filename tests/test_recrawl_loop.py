"""Continuous-crawl loop closure: engine crawls -> fingerprint history
-> recrawl schedule targets exactly the changed pages.

The reference is one-shot (a scrape run ends); north-rule continuous
operation means the engine's own output must drive the next cycle.
This test runs the REAL engine twice over a page store whose second
version mutates a subset of payloads, builds the fetch history from
the two crawls' items, and asserts operators/recrawl.recrawl_priority
schedules the mutated URLs first.
"""

import hashlib
import json

from pyspark.sql import functions as F

from spatula_spark.operators.recrawl import recrawl_priority
from spatula_spark.plans.engine import CrawlConfig, CrawlEngine
from spatula_spark.plans.pagespec import PageRegistry, PageSpec
from spatula_spark.urls import canonicalize_url, url_hash

URLS = [f"http://loop.example.com/d/{i}" for i in range(6)]
CHANGED = set(URLS[:3])  # pages 0-2 mutate between crawl 1 and crawl 2


def _store(spark, version: int):
    rows = [
        (
            u, "loop.example.com", "detail", 200, "json",
            json.dumps(
                {"v": version if u in CHANGED else 1, "u": u}
            ).encode(),
            None, None, None, 0,
        )
        for u in URLS
    ]
    df = spark.createDataFrame(
        rows,
        "url string, host string, kind string, status int, "
        "payload_kind string, payload binary, links array<string>, "
        "next_url string, image_id string, flaky_rejects int",
    )
    return (
        df.withColumn("canon_url", canonicalize_url(F.col("url")))
        .withColumn("url_hash", url_hash(F.col("canon_url")))
    )


def _registry():
    reg = PageRegistry()
    reg.register(PageSpec(
        name="SnapPage",
        process_page=lambda ctx: {
            "url": ctx.url,
            "fp": hashlib.md5(ctx.payload).hexdigest(),
        },
    ))
    return reg


def test_recrawl_schedules_exactly_the_mutated_pages(spark):
    seeds = [{"page_cls": "SnapPage", "url": u} for u in URLS]
    snaps = []
    for t, version in ((1_000, 1), (2_000, 2)):
        eng = CrawlEngine(
            spark, _registry(), page_store=_store(spark, version),
            config=CrawlConfig(bloom_min_seen=None),
        )
        snaps += [
            {**item, "t": t} for item in eng.crawl(seeds).items()
        ]
    hist = spark.createDataFrame(snaps).select(
        F.col("url"),
        F.lit("loop.example.com").alias("host"),
        F.timestamp_seconds(F.col("t")).alias("fetch_ts"),
        F.col("fp").alias("content_fp"),
    )
    # schedule computed an hour after the second crawl (wall-clock now)
    sched = recrawl_priority(hist, k=len(URLS), now_ms=5_600_000).collect()
    by_url = {r["url"]: r for r in sched}
    assert len(by_url) == len(URLS)
    for u in URLS:
        assert by_url[u]["n_changes"] == (1 if u in CHANGED else 0)
    # the schedule's top slots are exactly the mutated pages
    top = {r["url"] for r in sched if r["rn"] <= len(CHANGED)}
    assert top == CHANGED
    changed_scores = {by_url[u]["score"] for u in CHANGED}
    static_scores = {by_url[u]["score"] for u in URLS if u not in CHANGED}
    assert min(changed_scores) > max(static_scores)


def test_sitemap_driven_crawl_through_engine(spark):
    """Frontier seeding end-to-end: a SitemapPage spec parses the real
    sitemaps.org documents out of the page store and fans out through
    the ENGINE — index -> two child sitemaps (one gzip-compressed) ->
    six detail pages — landing detail items in sitemap-tree DFS order.
    The reference's page-object fan-out (return Page instances) is the
    exact mechanism reused here; only the parser is new."""
    import gzip as _gz

    from spatula_spark.operators.sitemaps import parse_sitemap
    from spatula_spark.plans.pagespec import ChildPage

    host = "sm.example.com"
    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    idx_url = f"http://{host}/sitemap.xml"
    kids = [f"http://{host}/sitemap-a.xml", f"http://{host}/sitemap-b.xml.gz"]
    details = [f"http://{host}/d/{i}" for i in range(6)]

    def urlset(locs):
        return (
            f"<urlset{ns}>"
            + "".join(f"<url><loc>{u}</loc></url>" for u in locs)
            + "</urlset>"
        ).encode()

    index = (
        f"<sitemapindex{ns}>"
        + "".join(f"<sitemap><loc>{u}</loc></sitemap>" for u in kids)
        + "</sitemapindex>"
    ).encode()
    pages = [
        (idx_url, index),
        (kids[0], urlset(details[:3])),
        (kids[1], _gz.compress(urlset(details[3:]))),
    ] + [(d, json.dumps({"u": d}).encode()) for d in details]
    df = spark.createDataFrame(
        [(u, host, "page", 200, "xml", p, None, None, None, 0)
         for u, p in pages],
        "url string, host string, kind string, status int, "
        "payload_kind string, payload binary, links array<string>, "
        "next_url string, image_id string, flaky_rejects int",
    )
    store = df.withColumn(
        "canon_url", canonicalize_url(F.col("url"))
    ).withColumn("url_hash", url_hash(F.col("canon_url")))

    reg = PageRegistry()
    reg.register(PageSpec(
        name="SitemapPage",
        process_page=lambda ctx: [
            ChildPage(
                "SitemapPage" if e["kind"] == "sitemap" else "LeafPage",
                source=e["loc"],
            )
            for e in parse_sitemap(ctx.payload)
        ],
    ))
    reg.register(PageSpec(
        name="LeafPage", process_page=lambda ctx: {"u": ctx.url},
    ))
    eng = CrawlEngine(
        spark, reg, page_store=store, config=CrawlConfig(bloom_min_seen=None),
    )
    res = eng.crawl([{"page_cls": "SitemapPage", "url": idx_url}])
    assert [i["u"] for i in res.items()] == details
