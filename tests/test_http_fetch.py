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
from spatula_spark.plans.pagespec import ChildPage, PageRegistry, PageSpec
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
