"""The ``crawl_wide`` workload.

A page-store crawl of a breadth-heavy ``SynthWeb`` (``sources.synthweb``)
with the native media registry, no checkpoint and no politeness limit.
The engine is pinned to its cluster-side path (``driver_wave_max=0``)
and the Bloom prefilter is on from the third wave
(``bloom_min_seen`` below the second wave's seen set), so every wave
pays cluster dedup, the broadcast fetch join and the parquet wave
materialize. One operation is one crawl of the whole site.

The site's shape is fixed, so every seed has the same waves and the
same work; the seed shuffles the order of the crawl's seed pages (one
per host), and with it the path order of everything the crawl emits.
"""

from __future__ import annotations

import random
import shutil
import time

from crawl_http import crawl_layers, metric_sums, url_hashes
from harness import OpResult, median

HOSTS, PER_HOST = 23, 500  # one list page per host ...
SKEW = 2  # ... but two on host 0: a third wave
BLOOM_MIN_SEEN = 1_000
WAVES = SKEW + 1


class CrawlWide:
    name = "crawl_wide"

    def __init__(self, bench):
        from spatula_spark.sources.synthweb import SynthWeb

        self.bench = bench
        self.web = SynthWeb(n_hosts=HOSTS, details_per_host=PER_HOST,
                            details_per_list=PER_HOST, skew=SKEW,
                            with_flaky=False, with_errors=False)
        order = list(range(HOSTS))
        random.Random(bench.seed).shuffle(order)
        seeds = self.web.seeds()
        self.seeds = [{**seeds[k], "seq": i} for i, k in enumerate(order)]
        self.store = None
        self.store_rows = 0
        self.build_s: list[float] = []
        self.hashes: set[int] | None = None  # the closed form's seen set
        self.n = 0
        bench.record["input"] = {
            "hosts": HOSTS, "details_per_host": PER_HOST,
            "details_per_list": PER_HOST, "skew": SKEW, "seed_order": order,
            "driver_wave_max": 0, "bloom_min_seen": BLOOM_MIN_SEEN,
        }

    def expected_urls(self) -> set[str]:
        """Every page the crawl fetches: all details and list pages."""
        from spatula_spark.sources.synthweb import (expected_detail_urls,
                                                    host_name)

        web = self.web
        lists = {f"http://{host_name(k)}/list?page={p}"
                 for k in range(web.n_hosts)
                 for p in range(-(-(web.offsets[k + 1] - web.offsets[k])
                                  // web.details_per_list))}
        return expected_detail_urls(web) | lists

    # ------------------------------------------------------------ set-up
    def prepare(self) -> dict:
        return {}

    def generate(self) -> None:
        """Build the page store (persisted, counted)."""
        if self.store is not None:
            self.store.unpersist(blocking=True)
        t0 = time.perf_counter()
        self.store = self.web.page_store(self.bench.spark).persist()
        self.store_rows = self.store.count()
        self.build_s.append(time.perf_counter() - t0)

    # -------------------------------------------------------- operation
    def op(self) -> OpResult:
        from spatula_spark.plans.engine import CrawlConfig, CrawlEngine
        from spatula_spark.plans.media_pipeline import media_registry

        spark, tr = self.bench.spark, self.bench.tracer
        if self.hashes is None:  # outside any timer
            self.hashes = url_hashes(spark, self.expected_urls())
        self.n += 1
        spill = self.bench.work / "wide" / str(self.n)
        with tr.span("op"), tr.span("leg", leg="crawl"):
            t0 = time.perf_counter()
            eng = CrawlEngine(
                spark, media_registry(), page_store=self.store,
                config=CrawlConfig(driver_wave_max=0,
                                   bloom_min_seen=BLOOM_MIN_SEEN,
                                   spill_dir=str(spill)))
            res = eng.crawl(self.seeds)
            wall = time.perf_counter() - t0
        # ---- the check, outside the timer
        counts = metric_sums(res)
        seen = {r[0] for r in res.seen.select("url_hash").collect()}
        ok = (res.waves == WAVES and counts["fetched"] == len(self.hashes)
              and res.dead.count() == 0 and seen == self.hashes)
        shutil.rmtree(spill, ignore_errors=True)
        return OpResult(
            parts={"crawl": wall}, work=counts["fetched"], ops=1,
            failed_ops=0 if ok else 1,
            extra={"waves": res.waves, "counts": counts, "seen": len(seen),
                   "spill": str(spill), "ckpt": None,
                   "engine_caps": {
                       "broadcast_fetch_max": eng._bcast_fetch_max,
                       "driver_seen_max": eng._driver_seen_max,
                       "driver_store_keys_max": eng._driver_store_keys_max,
                   }},
        )

    # ------------------------------------------------------ layer table
    def layers(self, log, tracer, ops, worker) -> dict[str, float]:
        rows = [crawl_layers(log, tracer, sp, r.extra, self.web.n_hosts)[0]
                for sp, r in zip(tracer.named("op"), ops)]
        out = {k: median([row[k] for row in rows]) for k in rows[0]}
        out.update({"synthweb.store_build_s": median(self.build_s),
                    "synthweb.store_rows": self.store_rows})
        return out

    def close(self):
        pass
