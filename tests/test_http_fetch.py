"""Real-network crawl: the engine against a local HTTP server.

The full reference flow over actual sockets — fetch (urllib batch UDF)
-> HtmlPage parse -> CSS extraction -> detail fan-out -> pagination ->
DFS-ordered items — mirroring the EmployeeList/EmployeeDetail tutorial
shape (/root/reference/docs/scraper-basics.md:149-209)."""

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from spatula_spark.operators.parsers import element_text
from spatula_spark.operators.selectors import CSS
from spatula_spark.plans.engine import CrawlConfig, CrawlEngine
from spatula_spark.plans.pagespec import URL, ChildPage, PageRegistry, PageSpec
from spatula_spark.sources.http_fetch import make_http_fetcher

EMPLOYEES = [
    {"id": i, "name": f"emp{i}", "title": f"title{i}"} for i in range(7)
]
PER_PAGE = 3


class _Site(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    hits = {}  # path -> count (fastmode cache assertions)

    def do_GET(self):
        _Site.hits[self.path] = _Site.hits.get(self.path, 0) + 1
        if self.path == "/echo-header":
            self._send(
                200,
                json.dumps({"x_custom": self.headers.get("X-Custom", ""),
                            "ua": self.headers.get("User-Agent", "")}),
                "application/json",
            )
        elif self.path.startswith("/list"):
            page = int(self.path.split("=")[-1]) if "=" in self.path else 0
            chunk = EMPLOYEES[page * PER_PAGE:(page + 1) * PER_PAGE]
            rows = "".join(
                f'<li class="emp"><a href="/detail/{e["id"]}">{e["name"]}</a></li>'
                for e in chunk
            )
            nxt = (
                f'<a id="next" href="/list?page={page + 1}">next</a>'
                if (page + 1) * PER_PAGE < len(EMPLOYEES)
                else ""
            )
            body = f"<html><body><ul>{rows}</ul>{nxt}</body></html>"
            self._send(200, body, "text/html")
        elif self.path.startswith("/detail/"):
            i = int(self.path.rsplit("/", 1)[1])
            self._send(200, json.dumps(EMPLOYEES[i]), "application/json")
        else:
            self._send(404, "nope", "text/plain")

    def _send(self, code, body, ctype):
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)


@pytest.fixture(scope="module")
def site():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Site)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _registry(base):
    reg = PageRegistry()

    def process_list(ctx):
        # real HtmlPage flow: parse, select, absolutized hrefs
        for a in CSS("li.emp a").match(ctx.root):
            yield ChildPage(
                "EmployeeDetail",
                input={"name": element_text(a)},
                source=a.get("href"),
            )

    def next_source(ctx):
        links = CSS("a[id=next]").match(ctx.root, min_items=0)
        return links[0].get("href") if links else None

    reg.register(PageSpec(
        name="EmployeeList",
        process_page=process_list,
        next_source=next_source,
    ))
    reg.register(PageSpec(
        name="EmployeeDetail",
        process_page=lambda ctx: {**ctx.input, **ctx.json},
    ))
    return reg


def test_real_http_crawl(spark, site):
    eng = CrawlEngine(
        spark,
        _registry(site),
        fetch_fn=make_http_fetcher(timeout=5.0),
        config=CrawlConfig(host_budget_per_wave=100),
    )
    res = eng.crawl([{"page_cls": "EmployeeList", "url": f"{site}/list"}])
    items = res.items()
    # 7 employees, list-page DFS order, input merged with detail JSON
    assert [i["id"] for i in items] == list(range(7))
    assert items[0] == {"name": "emp0", "id": 0, "title": "title0"}
    assert res.waves >= 3  # pagination chained across waves
    # every URL fetched exactly once (8 pages + 7 details... list pages
    # are 3; seen set = 3 list + 7 detail = 10)
    assert res.seen.count() == 10


def test_http_headers_and_user_agent(spark, site):
    """--header / --user-agent parity (reference scraper_params,
    cli.py:27-93): custom headers reach every request."""
    reg = PageRegistry()
    reg.register(PageSpec(name="Echo", process_page=lambda ctx: ctx.json))
    eng = CrawlEngine(
        spark, reg,
        fetch_fn=make_http_fetcher(
            user_agent="spatula-test 9.9", headers={"X-Custom": "yes"},
        ),
        config=CrawlConfig(bloom_min_seen=None),
    )
    res = eng.crawl([{"page_cls": "Echo", "url": f"{site}/echo-header"}])
    assert res.items() == [{"x_custom": "yes", "ua": "spatula-test 9.9"}]


def test_http_fastmode_cache(spark, site, tmp_path):
    """--fastmode parity (reference SQLiteCache, cli.py:91-93): the
    second crawl serves from the response cache — zero new hits."""
    cache = str(tmp_path / "rcache")
    reg = PageRegistry()
    reg.register(PageSpec(name="Echo", process_page=lambda ctx: ctx.json))

    def run():
        eng = CrawlEngine(
            spark, reg,
            fetch_fn=make_http_fetcher(
                user_agent="c", headers={"X-Custom": "c"}, cache_dir=cache,
            ),
            config=CrawlConfig(bloom_min_seen=None),
        )
        return eng.crawl([{"page_cls": "Echo", "url": f"{site}/echo-header"}])

    _Site.hits.pop("/echo-header", None)
    r1 = run()
    hits_after_first = _Site.hits.get("/echo-header", 0)
    assert hits_after_first >= 1
    r2 = run()
    assert _Site.hits.get("/echo-header", 0) == hits_after_first  # cached
    assert r1.items() == r2.items()


def test_http_404_dead_letter(spark, site):
    reg = _registry(site)
    reg.register(PageSpec(name="Nope", process_page=lambda ctx: {}))
    eng = CrawlEngine(
        spark, reg, fetch_fn=make_http_fetcher(),
        config=CrawlConfig(fail_fast=False),
    )
    res = eng.crawl([{"page_cls": "Nope", "url": f"{site}/missing"}])
    assert res.dead.count() == 1
    assert "status=404" in res.dead.collect()[0]["error"]


def test_http_dependency_and_refused_url_options(spark, site):
    """With fetch_fn and no page store, a dependency page is fetched
    through the fetcher; a URL option the frontier cannot carry is
    refused by name instead of fetched as a plain GET."""
    reg = PageRegistry()
    reg.register(PageSpec(name="Dep", source=f"{site}/detail/3",
                          process_page=lambda ctx: ctx.json["name"]))
    reg.register(PageSpec(name="Echo", dependencies={"who": "Dep"},
                          process_page=lambda ctx: dict(ctx.deps)))
    eng = CrawlEngine(spark, reg, fetch_fn=make_http_fetcher())
    seed = {"page_cls": "Echo", "url": f"{site}/detail/0"}
    assert eng.crawl([seed]).items() == [{"who": "emp3"}]
    for name, value in (("method", "POST"), ("data", {}), ("headers", {}),
                        ("verify", False), ("timeout", 1.0)):
        url = URL(seed["url"], **{name: value})
        with pytest.raises(ValueError, match=f"URL.{name}="):
            eng.crawl([{**seed, "url": url}])


def test_http_hook_rows_fetch_and_transform_in_one_pass(spark, site,
                                                        monkeypatch):
    """Hook-class rows of a real-HTTP wave are fetched and transformed
    by ONE mapInPandas — no Python stage feeds another — on cluster
    waves (driver_wave_max=0) and the driver route alike, and the crawl
    still yields every item and the 404 dead letter. No frontier here holds a
    null-url row, so no empty null-source leg is planned, with or
    without the robots rule (every wave takes the driver route either
    way): exactly one mapInPandas per wave."""
    from plan_nodes import plan_nodes

    plans = []
    real = CrawlEngine._transform

    def transform(eng, *a):
        out = real(eng, *a)
        udfs = [n for n in plan_nodes(out._jdf.queryExecution().executedPlan())
                if n.getClass().getSimpleName() == "MapInPandasExec"]
        plans.append([
            sum(m.getClass().getSimpleName() == "MapInPandasExec"
                for m in list(plan_nodes(n))[1:])
            for n in udfs])
        return out

    monkeypatch.setattr(CrawlEngine, "_transform", transform)
    reg = _registry(site)
    reg.register(PageSpec(name="Nope", process_page=lambda ctx: {}))
    host = site.split("/")[2].split(":")[0]
    rules = spark.createDataFrame(
        [(host, "/nothing", False)],
        "host string, path_prefix string, allow boolean")
    dflt = CrawlConfig.driver_wave_max
    for robots, cap in ((None, 0), (None, dflt), (rules, dflt)):
        plans.clear()
        res = CrawlEngine(
            spark, reg, fetch_fn=make_http_fetcher(), robots=robots,
            config=CrawlConfig(fail_fast=False, driver_wave_max=cap),
        ).crawl([{"page_cls": "EmployeeList", "url": f"{site}/list"},
                 {"page_cls": "Nope", "url": f"{site}/missing"}])
        assert [i["id"] for i in res.items()] == list(range(7))
        dead = res.dead.collect()
        assert len(dead) == 1 and "status=404" in dead[0]["error"]
        assert res.seen.count() == 11
        assert len(plans) == res.waves >= 3
        # no mapInPandas reads another one's output
        assert all(chained == [0] * len(chained) for chained in plans)
        assert [len(udfs) for udfs in plans] == [1] * res.waves, robots
        assert list(res.metrics["schedule_local"]) == [cap > 0] * res.waves


def test_fused_fetch_hands_transform_arrow_typed_batches(spark):
    """The fused body passes each fetched batch through Arrow in
    FETCHED_SCHEMA: object-dtype ints (what a fetcher's row tuples
    build) reach the transform as exact int64/int32 columns."""
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_schema

    from spatula_spark.plans.engine import _fetch_then_transform
    from spatula_spark.session import _struct
    from spatula_spark.sources.http_fetch import FETCHED_SCHEMA

    cols = [c.split()[0] for c in FETCHED_SCHEMA.split(", ")]
    big = (1 << 62) + 1  # not representable as float64
    row = ("P", "0", "http://x/", None, b"{}", None, None, 200, 0, 0,
           "json", None, True, 0, 0, big, -big)
    seen = []

    def fetch(batches):
        for _ in batches:
            yield pd.DataFrame([row], columns=cols, dtype=object)

    def transform(batches):
        for pdf in batches:
            seen.append(pdf)
            yield pdf

    body = _fetch_then_transform(
        fetch, transform, to_arrow_schema(_struct(FETCHED_SCHEMA)))
    list(body(iter([pd.DataFrame({"url": ["http://x/"]})])))
    pdf = seen[0]
    assert str(pdf["url_hash"].dtype) == "int64"
    assert str(pdf["status"].dtype) == "int32"
    assert int(pdf["url_hash"][0]) == big and int(pdf["seen_key"][0]) == -big
    assert pdf["payload"][0] == b"{}" and pdf["found"][0]
