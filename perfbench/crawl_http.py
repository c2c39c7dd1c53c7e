"""The ``crawl_http_durable`` workload.

Hook pages crawled over real loopback HTTP (``make_http_fetcher``
against ``loopsite.py``, a separate server process) with politeness
deferral, one robots rule, 500s, and a snapshot commit every wave. The
detail pages serve the payloads of a ``SynthWeb`` page store built in
set-up, and the resumed wave runs the Bloom prefilter.
One operation is three crawl legs on one checkpoint directory: a crawl
stopped after ``STOP_AT`` waves, a ``max_waves=0`` resume probe that
only rebuilds state from the last snapshot, and a resume to completion.
Small waves, so the driver-local wave path does most of the work. The
warm-up before the window is a first leg stopped after one wave.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

import eventlog
from harness import HERE, OpResult, median, pct
from spans import now_ms, write_worker_spans

from spatula_spark.operators.parsers import element_text
from spatula_spark.operators.selectors import CSS
from spatula_spark.plans.pagespec import ChildPage

DETAIL_LINKS = CSS("li.d a")
NEXT_LINK = CSS("a[id=next]")


# ------------------------------------------------------------ page hooks
def list_page(ctx):
    return [ChildPage("SiteDetail", input={"anchor": element_text(a)},
                      source=a.get("href"))
            for a in DETAIL_LINKS.match(ctx.root)]


def next_page(ctx):
    links = NEXT_LINK.match(ctx.root, min_items=0)
    return links[0].get("href") if links else None


def detail_page(ctx):
    return {**ctx.input, **ctx.json}


def timed_hook(span_dir, name, fn, ctx):
    """A hook wrapped for the traced run: its wall time, including the
    lazy ``ctx.root`` / ``ctx.json`` parse, goes to the span files."""
    start = now_ms()
    t0 = time.perf_counter()
    out = fn(ctx)
    write_worker_spans(span_dir, [{
        "name": "hook", "hook": name, "start": start,
        "us": (time.perf_counter() - t0) * 1e6,
    }])
    return out


def timed_fetcher(inner, span_dir):
    """Wrap a fetch body for the traced run: each batch's wall time,
    rows, payload bytes, transport errors and per-request latency (by
    timing ``urllib.request.urlopen`` while the task runs)."""

    def fetch(batches):
        real = urllib.request.urlopen
        req_ms: list[float] = []
        marks: list[float] = []

        def urlopen(*a, **k):
            t0 = time.perf_counter()
            try:
                return real(*a, **k)
            finally:
                req_ms.append((time.perf_counter() - t0) * 1e3)

        def mark(it):
            for pdf in it:
                marks.append(time.perf_counter())
                yield pdf

        urllib.request.urlopen = urlopen
        try:
            for out in inner(mark(batches)):
                write_worker_spans(span_dir, [{
                    "name": "fetch_batch", "start": now_ms(),
                    "s": time.perf_counter() - marks[-1],
                    "bytes": int(sum(len(p) for p in out["payload"]
                                     if p is not None)),
                    "transport_errors": int((out["status"] == 0).sum()),
                    "req_ms": req_ms[:],
                }])
                req_ms.clear()
                yield out
        finally:
            urllib.request.urlopen = real

    return fetch


def http_registry(span_dir: str | None):
    from spatula_spark.plans.pagespec import PageRegistry, PageSpec

    def hook(name, fn):
        return fn if span_dir is None else functools.partial(
            timed_hook, span_dir, name, fn)

    reg = PageRegistry()
    reg.register(PageSpec(name="SiteList", process_page=hook("list", list_page),
                          next_source=hook("next", next_page)))
    reg.register(PageSpec(name="SiteDetail",
                          process_page=hook("detail", detail_page)))
    return reg


class BloomTimer:
    """Times ``ShardedBloom.add_hashes_df`` (the Bloom rebuild on
    resume) on the driver while installed."""

    def __init__(self, tracer):
        from spatula_spark.operators.seen import ShardedBloom

        self.cls = ShardedBloom
        self.real = real = ShardedBloom.add_hashes_df

        def add_hashes_df(bloom, *a, **k):
            with tracer.span("bloom_add"):
                return real(bloom, *a, **k)

        ShardedBloom.add_hashes_df = add_hashes_df

    def close(self):
        self.cls.add_hashes_df = self.real


def url_hashes(spark, urls) -> set[int]:
    """The engine's seen key of each URL (canonicalize, then hash)."""
    from pyspark.sql import functions as F

    from spatula_spark.urls import canonicalize_url, url_hash

    df = spark.createDataFrame([(u,) for u in sorted(urls)], "url string")
    return {r[0] for r in df.select(
        url_hash(canonicalize_url(F.col("url")))).collect()}


def dir_bytes(path) -> tuple[int, int]:
    """Files and bytes under ``path``."""
    n, size = 0, 0
    for dp, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dp, f))
    return n, size


def within(spans: list[dict], outer: dict) -> list[dict]:
    return [s for s in spans if outer["start"] <= s["start"] <= outer["end"]]


def crawl_layers(log, tracer, sp: dict, extra: dict,
                 n_seeds: int) -> tuple[dict, dict]:
    """The layer rows both crawl workloads share, for the operation span
    ``sp``: the wave loop, Spark execution, wave materialize, snapshot
    commit and the seen set. ``extra`` is the operation's record: its
    waves, ``CrawlResult.metrics`` sums, seen-set size, and the spill
    and checkpoint directories (``ckpt`` None without checkpoints).
    Returns the rows and the Spark jobs of each leg."""
    legs = {s["leg"]: s for s in within(tracer.named("leg"), sp)}
    jobs = log.jobs_in(sp["start"], sp["end"])
    leg_jobs = {k: log.jobs_in(s["start"], s["end"]) for k, s in legs.items()}
    leg_ms = sum(s["end"] - s["start"] for s in legs.values())
    gap_ms = sum(s["end"] - s["start"]
                 - eventlog.busy_ms(leg_jobs[k], s["start"], s["end"])
                 for k, s in legs.items())
    mat = [j for j in jobs if log.writes_under(j, extra["spill"])]
    snap = ([j for j in jobs if log.writes_under(j, extra["ckpt"])]
            if extra["ckpt"] else [])
    cluster = {j.execution for j in mat
               if log.output_of(j).endswith("_emissions")}
    waves = extra["waves"]
    n_jobs = sum(len(v) for v in leg_jobs.values())
    bloom = within(tracer.named("bloom_add"), sp)
    c = extra["counts"]
    cand = n_seeds + c["children"] + c["next_pages"]
    row = {f"spark.{k}": v for k, v in
           eventlog.spark_totals(log, jobs).items() if k != "jobs"}
    row.update({
        "engine.waves": waves,
        "engine.jobs": n_jobs,
        "engine.jobs_per_wave": n_jobs / waves,
        "engine.driver_gap_s": gap_ms / 1e3,
        "engine.driver_gap_share": gap_ms / leg_ms,
        "engine.cluster_waves": len(cluster),
        "engine.driver_waves": waves - len(cluster),
        "materialize.jobs": len(mat),
        "materialize.s": sum(j.end_ms - j.submit_ms for j in mat) / 1e3,
        "materialize.mb": eventlog.spark_totals(log, mat)["output_mb"],
        "snapshot.jobs": len(snap),
        "snapshot.write_s": sum(j.end_ms - j.submit_ms for j in snap) / 1e3,
        "seen.size": extra["seen"],
        "seen.dedup_drop_ratio": (cand - c["fetched"] - c["blocked"]) / cand,
        "seen.bloom_calls": len(bloom),
        "seen.bloom_build_s": sum(s["end"] - s["start"] for s in bloom) / 1e3,
        "politeness.deferred": c["deferred"],
        "politeness.blocked": c["blocked"],
        "politeness.deferred_ratio":
            c["deferred"] / (c["fetched"] + c["deferred"]),
    })
    return row, leg_jobs


def metric_sums(res) -> dict[str, int]:
    return {k: int(res.metrics[k].sum()) for k in
            ("fetched", "children", "next_pages", "deferred", "blocked")}


class CrawlHttpDurable:
    name = "crawl_http_durable"
    HOSTS, PER_PAGE = 4, 200
    BUDGET = 160  # per host per wave, below an odd host's fan-out of 200
    STOP_AT = 2  # waves in the first leg (of three)
    # below the seen set at the stop: the resumed wave, on the cluster
    # path, runs the Bloom prefilter
    BLOOM_MIN_SEEN = 200

    def __init__(self, bench):
        from loopsite import Site

        self.bench = bench
        self.server = None
        self.site = Site(bench.seed, self.HOSTS, self.PER_PAGE)
        self.hashes: set[int] | None = None  # the closed form's seen set
        self.store_build_s: list[float] = []
        self.store_rows = 0
        self.n = 0
        bench.record["input"] = {
            "hosts": self.HOSTS, "details_per_host": self.site.details,
            "per_page": self.site.per_page,
            "host_budget_per_wave": self.BUDGET, "stop_at_wave": self.STOP_AT,
            "bloom_min_seen": self.BLOOM_MIN_SEEN,
            "error_offset": self.site.error_offset,
            "robots": self.site.robots_rows(),
        }

    # ------------------------------------------------------------ set-up
    def prepare(self) -> dict:
        """Start the site server (once per run, part of set-up)."""
        t0 = time.perf_counter()
        self.server = subprocess.Popen(
            [sys.executable, str(HERE / "loopsite.py"),
             "--seed", str(self.bench.seed), "--hosts", str(self.HOSTS),
             "--per-page", str(self.PER_PAGE)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.bench.rss.exclude.add(self.server.pid)
        line = self.server.stdout.readline()
        if not line:
            raise RuntimeError("loopback site server did not start")
        self.site.port = json.loads(line)["port"]
        return {"server_start_s": time.perf_counter() - t0}

    def generate(self) -> None:
        """The site, its robots table, and its detail payloads: a
        ``SynthWeb`` page store is built and collected (timed as the
        store build), and each detail of the site serves the payload of
        the same host's same detail in the store."""
        from loopsite import Site

        from spatula_spark.sources.synthweb import SynthWeb

        spark = self.bench.spark
        self.site = Site(self.bench.seed, self.HOSTS, self.PER_PAGE,
                         port=self.site.port)
        self.robots = spark.createDataFrame(
            self.site.robots_rows(),
            "host string, path_prefix string, allow boolean")
        web = SynthWeb(n_hosts=self.HOSTS, details_per_host=self.PER_PAGE,
                       details_per_list=self.PER_PAGE, skew=1,
                       with_flaky=False, with_errors=False)
        t0 = time.perf_counter()
        rows = web.page_store(spark).select("url", "kind", "payload").collect()
        self.store_build_s.append(time.perf_counter() - t0)
        self.store_rows = len(rows)
        pages = []
        for r in rows:
            if r["kind"] == "detail":
                host, _, j = r["url"].removeprefix("http://h").partition(
                    ".example.com/detail/")
                pages.append([int(host), int(j), bytes(r["payload"]).decode()])
        self.site.payloads = {(k, j): p for k, j, p in pages}
        req = urllib.request.Request(
            f"{self.site.base(0)}/__pages", data=json.dumps(pages).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=10) as r:
            r.read()

    def _control(self, path: str) -> dict:
        with urllib.request.urlopen(f"{self.site.base(0)}{path}",
                                    timeout=10) as r:
            return json.loads(r.read())

    def engine(self, **cfg):
        from spatula_spark.plans.engine import CrawlConfig, CrawlEngine
        from spatula_spark.sources.http_fetch import make_http_fetcher

        span_dir = self.bench.span_dir
        fetch = make_http_fetcher(timeout=10.0)
        if span_dir is not None:
            fetch = timed_fetcher(fetch, span_dir)
        return CrawlEngine(
            self.bench.spark, http_registry(span_dir), robots=self.robots,
            fetch_fn=fetch,
            config=CrawlConfig(host_budget_per_wave=self.BUDGET,
                               bloom_min_seen=self.BLOOM_MIN_SEEN,
                               fail_fast=False, checkpoint_every=1, **cfg))

    # -------------------------------------------------------- operation
    def warm_up(self) -> OpResult:
        """A first leg stopped after one wave: the driver-local wave
        loop, the hooks, the fetch body and the snapshot write run once
        before the window."""
        return self._run({"legA": 1})

    def op(self) -> OpResult:
        return self._run({"legA": self.STOP_AT, "probe": 0, "legB": None})

    def _run(self, legs: dict[str, int | None]) -> OpResult:
        """Run the legs (name -> ``max_waves``) on one checkpoint."""
        site, tr = self.site, self.bench.tracer
        if self.hashes is None:  # outside any timer
            self.hashes = url_hashes(self.bench.spark,
                                     site.expected_fetched())
        self.n += 1
        base = self.bench.work / "crawl" / str(self.n)
        ckpt, spill = str(base / "ckpt"), str(base / "spill")
        self._control("/__reset")
        parts, res = {}, {}
        with tr.span("op"):
            for leg, waves in legs.items():
                with tr.span("leg", leg=leg):
                    t0 = time.perf_counter()
                    eng = self.engine(max_waves=waves, checkpoint_dir=ckpt,
                                      spill_dir=f"{spill}/{leg}")
                    res[leg] = eng.crawl(site.seeds())
                    parts[leg] = time.perf_counter() - t0
        # ---- one check per leg, outside the timer
        stats = self._control("/__stats")
        reqs = stats["requests"]
        a = res["legA"]
        seen_a = a.seen.count()
        ok = [a.waves == legs["legA"] and 0 < seen_a < len(self.hashes)]
        extra = {"waves": a.waves, "counts": metric_sums(a), "seen": seen_a}
        if "legB" in res:
            p, b = res["probe"], res["legB"]
            dead = [r.asDict() for r in a.dead.unionByName(b.dead).collect()]
            errors = [r["error"].split("url=", 1)[-1] for r in dead
                      if r["emit_kind"] == "error"]
            blocked = [r["child_url"] for r in dead
                       if r["emit_kind"] == "blocked"]
            seen = {r[0] for r in b.seen.select("url_hash").collect()}
            ok.append(p.waves == 0 and p.seen.count() == seen_a)
            ok.append(b.items() == site.expected_items()
                      and sorted(errors) == sorted(site.expected_errors())
                      and sorted(blocked) == sorted(site.expected_blocked())
                      and len(dead) == len(errors) + len(blocked)
                      and seen == self.hashes
                      and sorted(reqs) == sorted(site.expected_fetched()))
            extra = {"waves": a.waves + b.waves, "counts": metric_sums(b),
                     "seen": len(seen)}
        n_files, snap_bytes = dir_bytes(ckpt)
        item_bytes = sum(dir_bytes(d)[1]
                         for d in Path(ckpt).glob("wave=*/items"))
        shutil.rmtree(base, ignore_errors=True)
        return OpResult(
            parts=parts, work=len(reqs), ops=len(legs),
            failed_ops=ok.count(False),
            extra={**extra, "spill": spill, "ckpt": ckpt,
                   "snapshot_files": n_files, "snapshot_bytes": snap_bytes,
                   "item_bytes": item_bytes,
                   "distinct_requests": len(set(reqs)),
                   "server_busy_s": stats["busy_s"],
                   "engine_caps": {
                       "broadcast_fetch_max": eng._bcast_fetch_max,
                       "driver_seen_max": eng._driver_seen_max,
                       "driver_store_keys_max": eng._driver_store_keys_max,
                   }},
        )

    # ------------------------------------------------------ layer table
    def layers(self, log, tracer, ops, worker) -> dict[str, float]:
        """Per-operation layer table, median over the traced window."""
        rows = []
        for sp, r in zip(tracer.named("op"), ops):
            row, leg_jobs = crawl_layers(log, tracer, sp, r.extra, self.HOSTS)
            w = within(worker, sp)
            fb = [s for s in w if s["name"] == "fetch_batch"]
            req = [x for s in fb for x in s["req_ms"]]
            hooks = [s["us"] for s in w if s["name"] == "hook"]
            probe = leg_jobs["probe"]
            row.update({
                "fetch.requests": len(req),
                "fetch.mb": sum(s["bytes"] for s in fb) / 1e6,
                "fetch.batch_s": sum(s["s"] for s in fb),
                "fetch.req_p50_ms": pct(req, 50),
                "fetch.req_p99_ms": pct(req, 99),
                "fetch.transport_errors":
                    sum(s["transport_errors"] for s in fb),
                "fetch.useful_ratio":
                    r.extra["distinct_requests"] / max(len(req), 1),
                "server.busy_s": r.extra["server_busy_s"],
                "hooks.calls": len(hooks),
                "hooks.s": sum(hooks) / 1e6,
                "hooks.p50_us": pct(hooks, 50),
                "hooks.p99_us": pct(hooks, 99),
                "snapshot.files": r.extra["snapshot_files"],
                "snapshot.mb": r.extra["snapshot_bytes"] / 1e6,
                "snapshot.write_amp":
                    r.extra["snapshot_bytes"] / r.extra["item_bytes"],
                "resume.s": r.parts["probe"],
                "resume.jobs": len(probe),
                "resume.executor_run_s":
                    eventlog.spark_totals(log, probe)["executor_run_s"],
            })
            rows.append(row)
        out = {k: median([row[k] for row in rows]) for k in rows[0]}
        out.update({"synthweb.store_build_s": median(self.store_build_s),
                    "synthweb.store_rows": self.store_rows})
        return out

    def close(self):
        if self.server is not None:
            self.server.stdin.close()
            try:
                self.server.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.server.kill()
                self.server.wait()
            self.server = None
