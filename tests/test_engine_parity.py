"""Golden parity tests: the engine must reproduce the reference's exact
item sequences, counts, and skip/error/retry semantics.

Every test mirrors a named reference test
(/root/reference/tests/test_page_base.py and tests/examples.py); the
golden values are the reference's own assertions. Specs use per-row
hooks deliberately — these run through the Arrow transform path, the
same path user code takes.
"""

import pytest

from spatula_spark.operators.selectors import CSS
from spatula_spark.operators.parsers import element_text
from spatula_spark.plans.engine import CrawlConfig, CrawlEngine, CrawlError
from spatula_spark.plans.pagespec import (
    ChildPage,
    MissingSourceError,
    NullSource,
    PageRegistry,
    PageSpec,
    SkipItem,
)


def _registry():
    reg = PageRegistry()

    # FirstPage / SecondPage (reference tests/test_page_base.py:169-191)
    reg.register(PageSpec(
        name="SecondPage",
        source=NullSource(),
        process_page=lambda ctx: {**ctx.input, "second": "appended"},
    ))
    reg.register(PageSpec(
        name="FirstPage",
        source=NullSource(),
        process_page=lambda ctx: [
            ChildPage("SecondPage", {"first": i}) for i in (1, 2, 3)
        ],
    ))

    # ExampleListPage (tests/examples.py:5-13)
    reg.register(PageSpec(
        name="ExampleListPage",
        source=NullSource(),
        process_page=lambda ctx: [{"val": str(i)} for i in range(1, 6)],
    ))

    # ExamplePaginatedPage (tests/examples.py:36-48): NullSource page,
    # 3 items, paginates once to a URL page that yields 3 more
    reg.register(PageSpec(
        name="PaginatedPage",
        source=NullSource(),
        process_page=lambda ctx: [
            {"val": "a man"}, {"val": "a plan"}, {"val": "panama"}
        ],
        next_source=lambda ctx: (
            "http://pg.example.com/page2" if ctx.url is None else None
        ),
    ))

    # SingleReturnPaginatedPage (tests/test_page_base.py:225-239)
    reg.register(PageSpec(
        name="SinglePaginated",
        source=NullSource(),
        process_page=lambda ctx: {"dummy": "value"},
        next_source=lambda ctx: (
            "http://pg.example.com/page2" if ctx.url is None else None
        ),
    ))

    # ErrorThenPaginatedPage (tests/test_page_base.py:242-263)
    reg.register(PageSpec(
        name="ErrorThenPaginate",
        source="http://bad.example.com/err",
        handles_errors=True,
        process_page=lambda ctx: {"dummy": "value"},
        next_source=lambda ctx: (
            "http://ok.example.com/after-error"
            if ctx.url == "http://bad.example.com/err"
            else None
        ),
    ))

    # SkipOddPage (tests/test_page_base.py:266-284)
    def _skip_odd(item, ctx):
        if item % 2:
            raise SkipItem(f"{item} is odd!")
        return item

    reg.register(PageSpec(
        name="SkipOddList",
        source=NullSource(),
        items_fn=lambda ctx: [1, 2, 3, 4, 5],
        process_item=_skip_odd,
    ))

    # SkipOddDetail (tests/test_page_base.py:287-308)
    def _detail_skip(ctx):
        if ctx.input % 2:
            raise SkipItem(f"{ctx.input} is odd!")
        return ctx.input

    reg.register(PageSpec(
        name="SkipOddDetail", source=NullSource(), process_page=_detail_skip,
    ))
    reg.register(PageSpec(
        name="SkipOddDetailList",
        source=NullSource(),
        items_fn=lambda ctx: [1, 2, 3, 4, 5],
        process_item=lambda item, ctx: ChildPage("SkipOddDetail", item),
    ))

    # RetryPage (tests/test_page_base.py:109-147): flaky source rejects
    # the first 2 attempts; retries=2 -> success on 3rd attempt
    reg.register(PageSpec(
        name="RetryOk",
        source="http://r.example.com/flaky",
        retries=2,
        accept_response=lambda ctx: ctx.attempts >= ctx.flaky_rejects,
        process_page=lambda ctx: {"attempts": ctx.attempts},
    ))
    reg.register(PageSpec(
        name="RetryFail",
        source="http://r.example.com/flaky",
        retries=1,
        accept_response=lambda ctx: ctx.attempts >= ctx.flaky_rejects,
        process_page=lambda ctx: {"attempts": ctx.attempts},
    ))

    # dependencies (tests/test_page_base.py:54-67)
    reg.register(PageSpec(
        name="AwardsPage",
        source="http://dep.example.com/awards",
        process_page=lambda ctx: ctx.json["award"],
    ))
    reg.register(PageSpec(
        name="NeedsAwards",
        source=NullSource(),
        dependencies={"awards": "AwardsPage"},
        process_page=lambda ctx: {"who": ctx.input, "award": ctx.awards},
    ))

    # get_source_from_input (tests/test_page_base.py:70-77)
    reg.register(PageSpec(
        name="FromInput",
        source_from_input=lambda inp: inp["use_this_as_source"],
        process_page=lambda ctx: {"fetched": ctx.url},
    ))
    reg.register(PageSpec(name="NoSource", process_page=lambda ctx: {}))

    # CSV list page (tests/test_pages.py:68-74)
    reg.register(PageSpec(
        name="CsvList",
        source="http://csv.example.com/data",
        process_item=lambda row, ctx: row,
    ))

    # HTML list page w/ selector (tests/test_pages.py:77-103)
    reg.register(PageSpec(
        name="HtmlList",
        source="http://html.example.com/list",
        selector=CSS("li"),
        process_item=lambda el, ctx: element_text(el),
    ))
    return reg


@pytest.fixture(scope="module")
def engine(spark, tiny_store):
    return CrawlEngine(
        spark, _registry(), page_store=tiny_store,
        config=CrawlConfig(bloom_min_seen=None),
    )


def _run(engine, cls, input=None, **cfg):
    if cfg:
        import copy

        eng = CrawlEngine(
            engine.spark, engine.registry,
            config=CrawlConfig(**{**CrawlConfig(bloom_min_seen=None).__dict__, **cfg}),
        )
        eng.page_store = engine.page_store
        engine = eng
    return engine.crawl([{"page_cls": cls, "input": input}])


def test_do_scrape_simple_order(engine):
    # golden: tests/test_page_base.py:185-191
    res = _run(engine, "FirstPage")
    assert res.items() == [
        {"first": 1, "second": "appended"},
        {"first": 2, "second": "appended"},
        {"first": 3, "second": "appended"},
    ]


def test_list_page_order(engine):
    # golden: tests/test_cli.py:120-123 (vals 1..5 in order)
    res = _run(engine, "ExampleListPage")
    assert res.items() == [{"val": str(i)} for i in range(1, 6)]


def test_scout_projection(engine):
    # golden: tests/test_page_base.py:194-210
    out = engine.scout([{"page_cls": "FirstPage"}])
    assert out == [
        {"data": {"first": i}, "__next__": "SecondPage source=NullSource"}
        for i in (1, 2, 3)
    ]


def test_paginated_page_3_plus_3(engine):
    # golden: tests/test_page_base.py:213-222 (6 items, page2 after page1)
    res = _run(engine, "PaginatedPage")
    items = res.items()
    assert len(items) == 6
    assert items[:3] == items[3:]  # identical fake second page
    assert res.waves == 2


def test_paginated_single_value(engine):
    # golden: tests/test_page_base.py:225-239 (2 items)
    res = _run(engine, "SinglePaginated")
    assert res.items() == [{"dummy": "value"}, {"dummy": "value"}]


def test_error_then_paginate(engine):
    # golden: tests/test_page_base.py:242-263 — the 500 page contributes
    # 0 items but its pagination still runs -> exactly 1 item
    res = _run(engine, "ErrorThenPaginate")
    assert res.items() == [{"dummy": "value"}]
    assert int(res.metrics["handled_errors"].sum()) == 1


def test_skip_item_in_list(engine):
    # golden: tests/test_page_base.py:266-284 — [2, 4], 3 skips logged
    res = _run(engine, "SkipOddList")
    assert res.items() == [2, 4]
    assert int(res.metrics["skipped_items"].sum()) == 3


def test_skip_item_on_detail_page(engine):
    # golden: tests/test_page_base.py:287-308 — [2, 4], skipped detail
    # pages emit nothing
    res = _run(engine, "SkipOddDetailList")
    assert res.items() == [2, 4]
    assert int(res.metrics["skipped_pages"].sum()) == 3


def test_retry_success_after_flaky(engine):
    # golden: tests/test_page_base.py:134-138 — success on 3rd attempt
    res = _run(engine, "RetryOk")
    assert res.items() == [{"attempts": 2}]
    assert int(res.metrics["requeued"].sum()) == 2
    assert res.waves == 3  # one requeue wave per rejected attempt


def test_retry_exhausted_rejected(engine):
    # golden: tests/test_page_base.py:141-146 — RejectedResponse
    with pytest.raises(CrawlError, match="RejectedResponse"):
        _run(engine, "RetryFail")


def test_dependency_fetched_and_attached(engine):
    # golden: tests/test_page_base.py:54-67
    res = _run(engine, "NeedsAwards", input={"name": "x"})
    assert res.items() == [{"who": {"name": "x"}, "award": "gold"}]


def test_get_source_from_input(engine):
    # golden: tests/test_page_base.py:70-77
    res = _run(
        engine, "FromInput",
        input={"use_this_as_source": "http://in.example.com/from-input"},
    )
    assert res.items() == [{"fetched": "http://in.example.com/from-input"}]


def test_missing_source_error(engine):
    # golden: tests/test_page_base.py:80-83
    with pytest.raises(MissingSourceError):
        engine.seed_frontier([{"page_cls": "NoSource"}])


def test_csv_list_golden(engine):
    # golden: tests/test_pages.py:68-74
    res = _run(engine, "CsvList")
    assert res.items() == [
        {"a": "1", "b": "2", "c": "3"},
        {"a": "4", "b": "5", "c": "6"},
    ]


def test_html_selector_list_golden(engine):
    # golden: tests/test_pages.py:77-103
    res = _run(engine, "HtmlList")
    assert res.items() == ["one", "two", "three"]


def test_unhandled_error_fail_fast(engine, spark, tiny_store):
    reg = _registry()
    reg.register(PageSpec(
        name="Unhandled",
        source="http://bad.example.com/err",
        process_page=lambda ctx: {},
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    with pytest.raises(CrawlError, match="HTTP error"):
        eng.crawl([{"page_cls": "Unhandled"}])


def test_missing_url_is_404(engine, spark, tiny_store):
    reg = _registry()
    reg.register(PageSpec(
        name="Nowhere",
        source="http://nowhere.example.com/x",
        process_page=lambda ctx: {},
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    with pytest.raises(CrawlError, match="status=404"):
        eng.crawl([{"page_cls": "Nowhere"}])


def test_page_factories_force_parse_kind(engine, spark, tiny_store):
    """html_page parses HTML regardless of served kind (reference:
    the class decides, pages.py:327-344); factories mirror the
    reference's public class vocabulary."""
    from spatula_spark import html_list_page, json_page
    from spatula_spark.operators.selectors import CSS as _CSS
    from spatula_spark.operators.parsers import element_text

    reg = _registry()
    reg.register(html_list_page(
        "ForcedHtmlList",
        selector=_CSS("li"),
        process_item=lambda el, ctx: element_text(el),
        source="http://html.example.com/list",
    ))
    reg.register(json_page(
        "PlainJson",
        source="http://dep.example.com/awards",
        process_page=lambda ctx: ctx.json,
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    assert eng.crawl([{"page_cls": "ForcedHtmlList"}]).items() == [
        "one", "two", "three",
    ]
    assert eng.crawl([{"page_cls": "PlainJson"}]).items() == [
        {"award": "gold"},
    ]


def test_pdf_page_golden(spark, tiny_store):
    """PdfPage parity (reference pages.py:376-417): ctx.text is the
    extracted text; preserve_layout spaces large TJ kerning gaps."""
    from spatula_spark import pdf_page

    reg = PageRegistry()
    reg.register(pdf_page(
        "PdfDoc",
        source="http://pdf.example.com/doc",
        process_page=lambda ctx: {"text": ctx.text},
    ))
    reg.register(pdf_page(
        "PdfDocLayout",
        source="http://pdf.example.com/doc",
        preserve_layout=True,
        process_page=lambda ctx: {"text": ctx.text},
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    assert eng.crawl([{"page_cls": "PdfDoc"}]).items() == [
        {"text": "Hello World\nCol1Col2\n"}
    ]
    assert eng.crawl([{"page_cls": "PdfDocLayout"}]).items() == [
        {"text": "Hello World\nCol1 Col2\n"}
    ]


def test_excel_list_golden(spark, tiny_store):
    """ExcelListPage parity (reference pages.py:475-486): items are
    active-sheet rows as value lists."""
    from spatula_spark import excel_list_page

    reg = PageRegistry()
    reg.register(excel_list_page(
        "XlsxList", source="http://xlsx.example.com/data",
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    assert eng.crawl([{"page_cls": "XlsxList"}]).items() == [
        ["a", "b", "c"], [1, 2, 3], [4, 5, 6],
    ]


def test_per_input_dependency(spark, tiny_store):
    """Class-level dependency (reference pages.py:141-147): the dep is
    re-fetched per consumer input — dep result attached per page."""
    reg = PageRegistry()
    reg.register(PageSpec(
        name="AwardLookup",
        source_from_input=lambda inp: "http://dep.example.com/awards",
        process_page=lambda ctx: ctx.json["award"] + f"-{ctx.input['n']}",
    ))
    reg.register(PageSpec(
        name="Detail",
        source=NullSource(),
        per_input_dependencies={"award": "AwardLookup"},
        process_page=lambda ctx: {"n": ctx.input["n"], "award": ctx.award},
    ))
    reg.register(PageSpec(
        name="Root",
        source=NullSource(),
        process_page=lambda ctx: [
            ChildPage("Detail", {"n": i}) for i in (1, 2)
        ],
    ))
    # default config: dedup keys on page identity (cls, url, input), so
    # the two Detail shims sharing one dep URL must BOTH process
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    res = eng.crawl([{"page_cls": "Root"}])
    assert res.items() == [
        {"n": 1, "award": "gold-1"},
        {"n": 2, "award": "gold-2"},
    ]


def test_multi_per_input_dependencies(spark, tiny_store):
    """Two class-level deps chain shims; both values land in ctx.deps
    (reference pages.py:141-147 allows several class deps)."""
    reg = PageRegistry()
    reg.register(PageSpec(
        name="AwardLookup",
        source_from_input=lambda inp: "http://dep.example.com/awards",
        process_page=lambda ctx: ctx.json["award"] + f"-{ctx.input['n']}",
    ))
    reg.register(PageSpec(
        name="ShoutLookup",
        source_from_input=lambda inp: "http://dep.example.com/awards",
        process_page=lambda ctx: ctx.json["award"].upper(),
    ))
    reg.register(PageSpec(
        name="Detail2",
        source=NullSource(),
        per_input_dependencies={"award": "AwardLookup",
                                "shout": "ShoutLookup"},
        process_page=lambda ctx: {
            "n": ctx.input["n"], "award": ctx.award, "shout": ctx.shout,
        },
    ))
    reg.register(PageSpec(
        name="Root2",
        source=NullSource(),
        process_page=lambda ctx: [
            ChildPage("Detail2", {"n": i}) for i in (1, 2)
        ],
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    res = eng.crawl([{"page_cls": "Root2"}])
    assert res.items() == [
        {"n": 1, "award": "gold-1", "shout": "GOLD"},
        {"n": 2, "award": "gold-2", "shout": "GOLD"},
    ]


def test_dedup_is_page_identity_not_url(spark, tiny_store):
    """Two different page classes over the SAME URL both process (the
    reference's cache only skips HTTP, never processing); exact
    duplicate (cls, url, input) instances collapse to one."""
    reg = PageRegistry()
    reg.register(PageSpec(
        name="AwardA",
        source="http://dep.example.com/awards",
        process_page=lambda ctx: {"who": "a", "award": ctx.json["award"]},
    ))
    reg.register(PageSpec(
        name="AwardB",
        source="http://dep.example.com/awards",
        process_page=lambda ctx: {"who": "b", "award": ctx.json["award"]},
    ))
    reg.register(PageSpec(
        name="Fan",
        source=NullSource(),
        process_page=lambda ctx: [
            ChildPage("AwardA"), ChildPage("AwardB"),
            ChildPage("AwardA"),  # exact dup: collapses
        ],
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    res = eng.crawl([{"page_cls": "Fan"}])
    assert res.items() == [
        {"who": "a", "award": "gold"},
        {"who": "b", "award": "gold"},
    ]


def test_retries_zero_parity():
    """reference pages.py:168-171: (source.retries or DEFAULT) + 1 —
    retries=0 is falsy and falls back to the default (2 attempts)."""
    from spatula_spark.plans.pagespec import REJECTED_RESPONSE_RETRIES

    assert PageSpec(name="Z", retries=0).total_attempts() == \
        REJECTED_RESPONSE_RETRIES + 1
    assert PageSpec(name="Z", retries=3).total_attempts() == 4
    assert PageSpec(name="Z").total_attempts() == REJECTED_RESPONSE_RETRIES + 1


def test_zero_host_budget_rejected(spark, tiny_store):
    """budget=0 would defer every row forever (infinite loop); must be
    rejected up front. A disabled limiter (None) tags no row deferred."""
    from spatula_spark.operators.politeness import split_by_host_budget

    with pytest.raises(ValueError, match="host budget"):
        split_by_host_budget(tiny_store.limit(0), 0)
    tagged = split_by_host_budget(tiny_store, None)
    assert tagged.columns == tiny_store.columns + ["_deferred"]
    assert tagged.filter("_deferred").count() == 0


def test_python_host_split_matches_split_by_host_budget(spark):
    """The driver route's host-budget split in Python defers exactly the
    rows split_by_host_budget defers, path by path, on seeded frontiers
    with priority ties, null priorities, null-url rows, non-null urls
    whose host_of is null, a host exactly at the budget, and budget 1.
    Hosts come from the same Spark host_of column both sides read."""
    import random

    from pyspark.sql import functions as F

    from spatula_spark.operators.politeness import split_by_host_budget
    from spatula_spark.plans.engine import _host_budget_deferred
    from spatula_spark.urls import host_of

    schema = ("page_cls string, url string, input_json string, "
              "path string, priority int, attempts int, page_seq int, "
              "url_hash long, seen_key long")
    for budget in (1, 2, 3):
        rows = []
        for case in range(40):
            rng = random.Random(1000 * budget + case)
            n_hosts = rng.randint(1, 4)
            for j in range(rng.randint(0, 14)):
                u = rng.random()
                url = (None if u < 0.08 else f"relative/c{case}/{j}"
                       if u < 0.16 else
                       f"http://h{rng.randrange(n_hosts)}.c{case}.example"
                       f".com/p{j}")
                prio = None if rng.random() < 0.1 else rng.randint(0, 2)
                path = f"c{case:02d}/{rng.randrange(1 << 20):06x}/{j:02d}"
                rows.append(("P", url, None, path, prio, 0, 0, None, None))
        # one host exactly at the budget, one just over it
        for k, n in (("at", budget), ("over", budget + 1)):
            rows += [("P", f"http://{k}.example.com/{j}", None,
                      f"z{k}/{j:02d}", 0, 0, 0, None, None)
                     for j in range(n)]
        got = split_by_host_budget(
            spark.createDataFrame(rows, schema)
            .withColumn("host", host_of(F.col("url"))), budget,
        ).select("path", "host", "_deferred").collect()
        host = {r["path"]: r["host"] for r in got}
        want = {r["path"]: r["_deferred"] for r in got}
        assert len(want) == len(rows)
        deferred = _host_budget_deferred(
            rows, [host[r[3]] for r in rows], budget)
        assert dict(zip((r[3] for r in rows), deferred)) == want, budget
        assert any(want.values())
        assert not any(want[p] for p in want if p.startswith("zat/"))
        assert sum(want[p] for p in want if p.startswith("zover/")) == 1
        # the null-host rows exist and none is deferred
        nullhost = [r[3] for r in rows if host[r[3]] is None]
        assert any(r[1] for r in rows if r[3] in nullhost)
        assert not any(want[p] for p in nullhost)


def test_scout_escapes_json(spark, tiny_store):
    """A child URL containing a double quote must not break the scout
    projection's JSON."""
    reg = PageRegistry()
    reg.register(PageSpec(name="Leaf", source=NullSource(),
                          process_page=lambda ctx: {"x": 1}))
    reg.register(PageSpec(
        name="Evil",
        source=NullSource(),
        process_page=lambda ctx: [ChildPage(
            "Leaf", source='http://e.example.com/a"b\\c',
        )],
    ))
    eng = CrawlEngine(spark, reg, page_store=tiny_store,
                      config=CrawlConfig(bloom_min_seen=None))
    out = eng.scout([{"page_cls": "Evil"}])
    assert out == [{
        "data": None,
        "__next__": 'Leaf source=http://e.example.com/a"b\\c',
    }]


def test_parse_error_dead_letter(spark):
    """Unsupported document shapes dead-letter with a parse_error
    reason (reference delegates to lxml/pdftotext/openpyxl whose
    long-tail coverage we don't replicate); well-formed pages in the
    same crawl are unaffected — zero silent drops."""
    import json as _json

    from pyspark.sql import functions as F

    from spatula_spark import json_page, pdf_page
    from spatula_spark.urls import canonicalize_url, url_hash

    lzw_pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /LZWDecode /Length 8 >>\n"
        b"stream\n\x80\x0b\x60P\x22\x0c\x0c\x85\nendstream\nendobj\n"
    )
    base = "http://dl.example.com"
    rows = [
        (f"{base}/lzw", "dl.example.com", "detail", 200, "pdf",
         lzw_pdf, None, None, None, 0),
        (f"{base}/badjson", "dl.example.com", "detail", 200, "json",
         b"{not json", None, None, None, 0),
        (f"{base}/good", "dl.example.com", "detail", 200, "json",
         _json.dumps({"ok": 1}).encode(), None, None, None, 0),
    ]
    store = spark.createDataFrame(
        rows,
        "url string, host string, kind string, status int, "
        "payload_kind string, payload binary, links array<string>, "
        "next_url string, image_id string, flaky_rejects int",
    ).withColumn("canon_url", canonicalize_url(F.col("url"))).withColumn(
        "url_hash", url_hash(F.col("canon_url"))
    )
    reg = PageRegistry()
    reg.register(pdf_page("LzwDoc", source=f"{base}/lzw",
                          process_page=lambda ctx: {"text": ctx.text}))
    reg.register(json_page("BadJson", source=f"{base}/badjson",
                           process_page=lambda ctx: ctx.json))
    reg.register(json_page("GoodJson", source=f"{base}/good",
                           process_page=lambda ctx: ctx.json))
    eng = CrawlEngine(spark, reg, page_store=store,
                      config=CrawlConfig(bloom_min_seen=None, fail_fast=False))
    res = eng.crawl([{"page_cls": c}
                     for c in ("LzwDoc", "BadJson", "GoodJson")])
    assert res.items() == [{"ok": 1}]
    dead = [r["error"] for r in res.dead.select("error").collect()]
    assert len(dead) == 2
    assert any(e.startswith("parse_error: pdf: no text extracted")
               and "LZWDecode" in e for e in dead)
    assert any(e.startswith("parse_error: json:") for e in dead)

    # fail_fast (the default) surfaces the same reason loudly
    with pytest.raises(CrawlError, match="parse_error: pdf"):
        CrawlEngine(
            spark, reg, page_store=store,
            config=CrawlConfig(bloom_min_seen=None),
        ).crawl([{"page_cls": "LzwDoc"}])
