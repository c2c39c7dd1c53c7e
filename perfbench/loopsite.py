"""Seeded loopback web site for the ``crawl_http_durable`` workload.

``Site`` is the generator and the closed form the crawl is checked
against; it is a pure function of its seed. Run as a script it serves
the site: one HTTP server per synthetic host, each listening on its
own ``127.0.0.k`` address, so host-keyed politeness sees distinct
hosts. Every host has paginated HTML list pages linking its detail
pages, whose bodies are JSON; every 101st detail (from a seeded first
one) answers 500, and one seeded robots rule disallows a detail prefix.
A detail's JSON carries the payload of the same detail page in a
``SynthWeb`` page store, loaded by the benchmark with ``POST /__pages``.

    python3 perfbench/loopsite.py --seed 7

prints one JSON line ``{"port": ..., "hosts": [...]}`` once every
server listens. ``GET /__stats`` on any host returns the request log
since the last ``GET /__reset`` and the seconds spent serving it;
``POST /__pages`` with a JSON list of ``[host, detail, payload]`` sets
the detail payloads.
"""

from __future__ import annotations

import argparse
import json
import random
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

WORDS = (
    "anchor basin cobalt dune ember flint grove heron inlet jasper kelp "
    "larch mica nettle opal pine quill reed slate thorn umber vale wren"
).split()


class Site:
    """Hosts alternate between two shapes: even hosts paginate (two list
    pages of ``per_page // 4`` links), odd hosts list ``per_page``
    details on one page, more than a wave's host budget. So a crawl
    paginates and defers, and still finishes in three waves."""

    def __init__(self, seed: int, n_hosts: int = 4, per_page: int = 200,
                 error_every: int = 101, port: int = 0):
        rng = random.Random(seed)
        self.n_hosts = n_hosts
        small = max(1, per_page // 4)
        self.per_page = [small if k % 2 == 0 else per_page
                         for k in range(n_hosts)]
        self.details = [2 * small if k % 2 == 0 else per_page
                        for k in range(n_hosts)]
        self.offsets = [sum(self.details[:k]) for k in range(n_hosts)]
        self.error_every = error_every
        self.port = port
        self.addrs = [f"127.0.0.{k + 2}" for k in range(n_hosts)]
        # the robots rule blocks exactly one detail of an odd host (no
        # detail id extends its prefix), and no 500 falls on it; every
        # seed fetches, blocks and dead-letters the same number of pages
        self.robots_host = rng.randrange(1, n_hosts, 2)
        blocked = rng.randrange(-(-per_page // 10), per_page)
        self.robots_prefix = f"/detail/{blocked}"
        total = sum(self.details)
        blocked_g = self.offsets[self.robots_host] + blocked
        n_errors = -(-total // error_every)
        self.error_offset = rng.choice(
            [e for e in range(min(total, error_every))
             if len(range(e, total, error_every)) == n_errors
             and (blocked_g - e) % error_every != 0])
        self.titles = [[" ".join(rng.choice(WORDS) for _ in range(3))
                        for _ in range(d)] for d in self.details]
        # (host, detail) -> the page store's JSON payload of that page
        self.payloads: dict[tuple[int, int], str] = {}

    # -------------------------------------------------------- the pages
    def pages(self, k: int) -> int:
        return -(-self.details[k] // self.per_page[k])

    def base(self, k: int) -> str:
        return f"http://{self.addrs[k]}:{self.port}"

    def is_error(self, k: int, j: int) -> bool:
        return (self.offsets[k] + j - self.error_offset) \
            % self.error_every == 0

    def is_blocked(self, k: int, j: int) -> bool:
        return k == self.robots_host and \
            f"/detail/{j}".startswith(self.robots_prefix)

    def list_html(self, k: int, p: int) -> str:
        lo = p * self.per_page[k]
        hi = min(lo + self.per_page[k], self.details[k])
        # the last page links the host's first detail once more, with
        # the same anchor: a duplicate the seen set must drop
        links = [*range(lo, hi), *([0] if p == self.pages(k) - 1 else [])]
        rows = "".join(
            f'<li class="d"><a href="/detail/{j}">{self.titles[k][j]}</a></li>'
            for j in links
        )
        nxt = (f'<a id="next" href="/list?page={p + 1}">next</a>'
               if p + 1 < self.pages(k) else "")
        return f"<html><body><ul>{rows}</ul>{nxt}</body></html>"

    def detail(self, k: int, j: int) -> dict:
        return {"id": j, "host": k,
                **json.loads(self.payloads.get((k, j), "{}"))}

    def respond(self, k: int, path: str) -> tuple[int, str, str]:
        if path.startswith("/list?page="):
            p = int(path.split("=", 1)[1])
            if 0 <= p < self.pages(k):
                return 200, "text/html", self.list_html(k, p)
        elif path.startswith("/detail/"):
            j = int(path.rsplit("/", 1)[1])
            if 0 <= j < self.details[k]:
                if self.is_error(k, j):
                    return 500, "text/plain", "server error"
                return 200, "application/json", json.dumps(self.detail(k, j))
        return 404, "text/plain", "not found"

    # ------------------------------------------------------ closed form
    def seeds(self) -> list[dict]:
        return [{"page_cls": "SiteList", "url": f"{self.base(k)}/list?page=0",
                 "seq": k} for k in range(self.n_hosts)]

    def robots_rows(self) -> list[tuple]:
        return [(self.addrs[self.robots_host], self.robots_prefix, False)]

    def expected_items(self) -> list[dict]:
        """Items in crawl path order: host by host, detail by detail."""
        return [
            {"anchor": self.titles[k][j], **self.detail(k, j)}
            for k in range(self.n_hosts) for j in range(self.details[k])
            if not self.is_error(k, j) and not self.is_blocked(k, j)
        ]

    def expected_fetched(self) -> set[str]:
        """Every URL the crawl requests: all list pages and every detail
        robots allows (the 500s are requested once and dead-lettered)."""
        out = set()
        for k in range(self.n_hosts):
            out |= {f"{self.base(k)}/list?page={p}"
                    for p in range(self.pages(k))}
            out |= {f"{self.base(k)}/detail/{j}" for j in range(self.details[k])
                    if not self.is_blocked(k, j)}
        return out

    def expected_errors(self) -> set[str]:
        return {f"{self.base(k)}/detail/{j}" for k in range(self.n_hosts)
                for j in range(self.details[k])
                if self.is_error(k, j) and not self.is_blocked(k, j)}

    def expected_blocked(self) -> set[str]:
        k = self.robots_host
        return {f"{self.base(k)}/detail/{j}" for j in range(self.details[k])
                if self.is_blocked(k, j)}


# ------------------------------------------------------------ serving
class _Log:
    def __init__(self):
        self.lock = threading.Lock()
        self.requests: list[str] = []
        self.busy = 0.0


def _handler(site: Site, k: int, log: _Log):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path in ("/__stats", "/__reset"):
                with log.lock:
                    body = json.dumps({"requests": log.requests,
                                       "busy_s": log.busy})
                    if self.path == "/__reset":
                        log.requests, log.busy = [], 0.0
                self._send(200, "application/json", body)
                return
            t0 = time.perf_counter()
            code, ctype, body = site.respond(k, self.path)
            self._send(code, ctype, body)
            with log.lock:
                log.requests.append(f"{site.base(k)}{self.path}")
                log.busy += time.perf_counter() - t0

        def do_POST(self):
            if self.path != "/__pages":
                self._send(404, "text/plain", "not found")
                return
            rows = json.loads(self.rfile.read(
                int(self.headers["Content-Length"])))
            site.payloads = {(h, d): p for h, d, p in rows}
            self._send(200, "application/json", "{}")

        def _send(self, code, ctype, body):
            data = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    return Handler


def serve(seed: int, n_hosts: int, per_page: int) -> None:
    for _ in range(20):
        site = Site(seed, n_hosts, per_page)
        log = _Log()
        servers = []
        try:
            first = ThreadingHTTPServer((site.addrs[0], 0),
                                        _handler(site, 0, log))
            site.port = first.server_address[1]
            servers.append(first)
            for k in range(1, n_hosts):
                servers.append(ThreadingHTTPServer(
                    (site.addrs[k], site.port), _handler(site, k, log)))
            break
        except OSError:  # the port is taken on another address: retry
            for s in servers:
                s.server_close()
    else:
        raise SystemExit("could not bind one port on every host address")
    for s in servers:
        threading.Thread(target=s.serve_forever, daemon=True).start()
    print(json.dumps({"port": site.port, "hosts": site.addrs}), flush=True)
    # serve until the benchmark closes our stdin or terminates us
    sys.stdin.read()
    for s in servers:
        s.shutdown()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--hosts", type=int, default=4)
    ap.add_argument("--per-page", type=int, default=200)
    a = ap.parse_args()
    serve(a.seed, a.hosts, a.per_page)
