"""End-to-end flagship crawl: synthetic web -> media items -> pixel
verification, plus politeness/robots/seen-set behavior and
kill-and-resume from checkpoint (north-rule mandates)."""

import dataclasses
import json
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spatula_spark.plans import engine as engine_mod
from spatula_spark.plans import snapshots
from spatula_spark.plans.engine import CrawlConfig, CrawlEngine
from spatula_spark.plans.media_pipeline import (
    crawl_items_df,
    media_registry,
    verify_media,
)
from spatula_spark.sources.synthweb import (
    SynthWeb,
    caption_for,
    expected_detail_urls,
)

from plan_nodes import node_names, plan_nodes as _plan_nodes


@pytest.fixture(scope="module")
def web():
    return SynthWeb(n_hosts=3, details_per_host=30, details_per_list=10,
                    skew=2, with_errors=False, with_flaky=True)


@pytest.fixture(scope="module")
def store(spark, web):
    df = web.page_store(spark)
    df.persist().count()
    return df


def test_full_crawl_reaches_every_detail(spark, web, store):
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig())
    res = eng.crawl(web.seeds())
    got = {r["url"] for r in crawl_items_df(res.results).collect()}
    assert got == expected_detail_urls(web)
    # cross-host duplicate links were deduped: each URL exactly once
    items = crawl_items_df(res.results)
    assert items.count() == items.select("url").distinct().count()
    # seen set == every fetched URL (details + list pages)
    n_lists = int(store.filter("kind = 'list'").count())
    assert res.seen.count() == len(expected_detail_urls(web)) + n_lists


def test_media_invariants(spark, web, store):
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig())
    res = eng.crawl(web.seeds())
    items = crawl_items_df(res.results)
    ver = verify_media(items, web.media(spark))
    rows = ver.collect()
    assert len(rows) == web.n_media
    assert all(r["pixels_ok"] for r in rows)
    assert all(r["phash_ok"] for r in rows)
    assert all(r["psnr_db"] >= 40.0 for r in rows)
    for r in rows:
        idx = int(r["image_id"][4:])
        assert r["caption"] == caption_for(idx)  # exact-equality invariant


def test_politeness_budget_defers_not_drops(spark, web, store):
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig(host_budget_per_wave=7))
    res = eng.crawl(web.seeds())
    got = {r["url"] for r in crawl_items_df(res.results).collect()}
    assert got == expected_detail_urls(web)  # nothing lost, only deferred
    # the budget stretches the crawl over more waves
    unlimited = CrawlEngine(spark, media_registry(), page_store=store,
                            config=CrawlConfig()).crawl(web.seeds())
    assert res.waves > unlimited.waves


def test_crawl_real_jpeg_payloads(spark):
    """End-to-end with REAL JFIF entropy-coded payloads (lossy_codec=
    'jpeg'): the crawl decodes them via magic dispatch and every media
    invariant (PSNR>=40, exact phash-of-ingested) holds."""
    w = SynthWeb(n_hosts=2, details_per_host=12, details_per_list=6,
                 skew=1, with_errors=False, with_flaky=False,
                 lossy_codec="jpeg")
    st = w.page_store(spark)
    eng = CrawlEngine(spark, media_registry(), page_store=st,
                      config=CrawlConfig())
    res = eng.crawl(w.seeds())
    items = crawl_items_df(res.results)
    ver = verify_media(items, w.media(spark)).collect()
    assert len(ver) == w.n_media
    assert all(r["pixels_ok"] for r in ver)
    assert all(r["phash_ok"] for r in ver)
    jpeg_rows = [r for r in ver if r["fmt"] == "jpeg"]
    assert jpeg_rows and all(40.0 <= r["psnr_db"] < 99.0 for r in jpeg_rows)


def _holey_store_crawl(spark, web, store, bcast_max=None, **cfg):
    """Crawl a store missing every 7th detail page, with a detail class
    that does not handle errors: each missing page is a 404 dead
    letter (``fail_fast`` off so the crawl runs to the end). Returns
    the result and the engine; ``bcast_max`` pins its fetch cap."""
    holey = store.filter(
        (F.col("kind") != "detail")
        | (F.regexp_extract("url", r"/detail/(\d+)$", 1).cast("int") % 7
           != 0))
    reg = media_registry()
    reg.register(dataclasses.replace(reg["MediaDetailPage"],
                                     handles_errors=False))
    eng = CrawlEngine(spark, reg, page_store=holey,
                      config=CrawlConfig(fail_fast=False, **cfg))
    if bcast_max is not None:
        eng._bcast_fetch_max = bcast_max
    return eng.crawl(web.seeds()), eng


def test_missing_pages_parity_across_fetch_paths(spark, web, store):
    """Pages the store lacks become the same 404 dead letters on every
    fetch path: the cluster broadcast fetch (frontier anti-joined
    against the wave's found keys), the cluster shuffle join (fetch cap
    0), and the driver path's keyset split."""
    driver, _ = _holey_store_crawl(spark, web, store)
    dead = [r["error"] for r in driver.dead.collect()]
    assert dead and all("status=404" in e for e in dead)
    for label, bcast_max in (("broadcast", None), ("shuffle", 0)):
        res, eng = _holey_store_crawl(spark, web, store, bcast_max,
                                      driver_wave_max=0)
        _assert_same_crawl(res, driver, label)
        assert (eng._store_bykey is not None) == (bcast_max == 0), label


def test_missing_antijoin_builds_on_found_keys(spark, store):
    """The broadcast fetch's 404 anti-join builds on the wave's found
    keys (a store ⋈ frontier join), never on a bare scan of the
    store's keys: its broadcast stays wave-sized at any store size."""
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig())
    ex = eng._wave_exprs()
    seeds = [{"page_cls": "MediaDetailPage",
              "url": f"http://{host}.example.com/detail/{j}"}
             for host in ("h0", "nowhere") for j in range(10)]
    fetchable, _, _ = eng._schedule(
        eng.seed_frontier(seeds), len(seeds), ex)
    fetched = eng._fetch(fetchable, True, ex)
    assert sorted(r["status"] for r in fetched.collect()) == \
        [200] * 10 + [404] * 10
    anti = [n for n in _plan_nodes(
                fetched._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName() == "BroadcastHashJoinExec"
            and n.joinType().toString() == "LeftAnti"]
    assert len(anti) == 1
    assert anti[0].buildSide().toString() == "BuildRight"
    build = list(_plan_nodes(anti[0].right()))
    assert any(n.getClass().getSimpleName() == "BroadcastHashJoinExec"
               and n.joinType().toString() == "Inner" for n in build)


def test_budgeted_robots_crawl_keeps_seen_twin(spark, web, store,
                                               monkeypatch):
    """A host budget and robots rules do not decide the wave route: the
    budgeted, robots-filtered crawl keeps its driver seen twin on every
    wave, every wave takes the driver route, and the cluster dedup never
    runs."""
    def dedup(eng, *a):
        raise AssertionError("cluster dedup ran")

    monkeypatch.setattr(CrawlEngine, "_dedup", dedup)
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      robots=web.robots(spark),
                      config=CrawlConfig(host_budget_per_wave=7))
    twins = []
    update_seen = eng._update_seen

    def spy_update(landed, n_next):
        out = update_seen(landed, n_next)
        twins.append(eng._py_seen is not None)
        return out

    eng._update_seen = spy_update
    res = eng.crawl(web.seeds())
    assert res.metrics["deferred"].sum() > 0
    assert res.metrics["blocked"].sum() > 0
    assert twins == [True] * res.waves
    assert res.metrics["schedule_local"].all()


def test_checkpoint_every_below_one_rejected(spark, web, store):
    """checkpoint_every < 1 names no commit cadence: the engine refuses
    it at construction instead of committing every wave. With no
    snapshot store, a crawl warns before any Spark job that
    checkpoint_every / checkpoint_async commit nothing."""
    for k in (0, -2):
        with pytest.raises(ValueError, match="checkpoint_every"):
            CrawlEngine(spark, media_registry(), page_store=store,
                        config=CrawlConfig(checkpoint_every=k))
    sc = spark.sparkContext
    sc.setJobGroup("nostore", "snapshot knobs without a store")
    try:
        for name, value in (("checkpoint_every", 2),
                            ("checkpoint_async", True)):
            with pytest.warns(UserWarning, match=name):
                CrawlEngine(spark, media_registry(), page_store=store,
                            config=CrawlConfig(max_waves=0, **{name: value})
                            ).crawl(web.seeds())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("nostore")


def test_broadcast_fetch_cap_derives_from_memory_budget(spark):
    """The default broadcast-fetch cap follows the driver heap (10% at
    ~150 B/row) instead of a fixed row count that OOMs stock 1 GiB
    drivers."""
    from spatula_spark.session import _broadcast_rows_budget, _parse_jvm_mem

    assert _parse_jvm_mem("1g") == 1 << 30
    assert _parse_jvm_mem("4096m") == 4096 << 20
    assert _parse_jvm_mem("512k") == 512 << 10
    assert _parse_jvm_mem("12345") == 12345
    rows = _broadcast_rows_budget(spark)
    heap = _parse_jvm_mem(spark.conf.get("spark.driver.memory", "1g"))
    assert rows == max(10_000, int(heap * 0.10) // 150)
    # an engine with no explicit cap picks up the derived value
    eng = CrawlEngine(spark, media_registry(),
                      fetch_fn=lambda it: it, config=CrawlConfig())
    assert eng._bcast_fetch_max == rows


def test_virtual_fetcher_matches_store(spark):
    """The closed-form fetch_fn (synthweb.fetcher) must produce the
    same crawl as the materialized page-store join: identical item
    sets, per-item payload-derived values, and seen counts."""
    from spatula_spark.plans.media_pipeline import media_verify_registry

    # details_per_host >= 102 so the j%101 error and j%97 flaky rules
    # actually fire and their parity is exercised
    w = SynthWeb(n_hosts=3, details_per_host=110, details_per_list=60,
                 skew=1, with_errors=True, with_flaky=True)
    st = w.page_store_with_media(spark)
    eng_store = CrawlEngine(spark, media_verify_registry(), page_store=st,
                            config=CrawlConfig(bloom_min_seen=None))
    eng_virtual = CrawlEngine(spark, media_verify_registry(),
                              fetch_fn=w.fetcher(),
                              config=CrawlConfig(bloom_min_seen=None))
    r1 = eng_store.crawl(w.seeds())
    r2 = eng_virtual.crawl(w.seeds())
    i1 = r1.items()
    i2 = r2.items()
    assert i1 == i2
    assert all(it["pixels_ok"] for it in i1)
    assert r1.seen.count() == r2.seen.count()
    assert int(r1.metrics["handled_errors"].sum()) == \
        int(r2.metrics["handled_errors"].sum()) > 0


def test_fetch_fn_fetches_each_row_once(spark):
    """With ``fetch_fn`` and both native (list) and hook (detail)
    classes, every fetched page reaches the fetcher exactly once: each
    class leg fetches only its own rows, so no leg re-runs another's
    fetches (the network requests of a real fetcher)."""
    from spatula_spark.plans.media_pipeline import media_verify_registry

    w = SynthWeb(n_hosts=2, details_per_host=20, details_per_list=10,
                 skew=1, with_errors=False, with_flaky=False)
    inner = w.fetcher()
    fetched = spark.sparkContext.accumulator(0)

    def fetch(batches):
        def count(it):
            for pdf in it:
                fetched.add(len(pdf))
                yield pdf
        return inner(count(batches))

    res = CrawlEngine(spark, media_verify_registry(), fetch_fn=fetch,
                      config=CrawlConfig(bloom_min_seen=None,
                                         driver_wave_max=0)
                      ).crawl(w.seeds())
    assert len(res.items()) == 40
    assert fetched.value == res.seen.count() == 44


def test_robots_oversized_ruleset_uses_join(spark, web, store, monkeypatch):
    """Rule sets beyond the CASE-expression cap must NOT be silently
    truncated: the engine falls back to the broadcast-join path and
    still blocks (ADVICE r1)."""
    from spatula_spark.operators import politeness as pol
    from spatula_spark.plans.engine import CrawlEngine as CE

    monkeypatch.setattr(pol, "ROBOTS_EXPR_MAX_RULES", 2)
    # 3 real rules + the web's own -> over the (patched) cap
    import pyspark.sql.functions as F  # noqa: F401

    extra = spark.createDataFrame(
        [("h1.example.com", "/detail/13", False),
         ("h0.example.com", "/detail/7", False),
         ("nowhere.example.com", "/x", False),
         ("nowhere.example.com", "/y", False)],
        "host string, path_prefix string, allow boolean",
    )
    eng = CE(spark, media_registry(), page_store=store, robots=extra,
             config=CrawlConfig())
    res = eng.crawl(web.seeds())
    assert eng._robots_join and eng._robots_rules is None
    got = {r["url"] for r in crawl_items_df(res.results).collect()}
    blocked = {u for u in expected_detail_urls(web)
               if ("h1.example.com/detail/13" in u
                   or "h0.example.com/detail/7" in u)}
    assert blocked
    assert got == expected_detail_urls(web) - blocked
    assert int(res.metrics["blocked"].sum()) == len(blocked)
    # blocked rows land in the dead-letter stream, tagged
    assert res.dead.filter("emit_kind = 'blocked'").count() == len(blocked)


def test_robots_rfc9309_grammar(spark):
    """RFC 9309 matching as deployed (Google's reference matcher
    examples): ``*`` wildcards, ``$`` end anchor, longest-pattern
    precedence with allow-wins ties, query string included in the
    matched target. Both the compiled-CASE path and the oversized
    hybrid join path must agree with the spec on every row."""
    from spatula_spark.operators import politeness as P

    cases = [
        # (rules [(pattern, allow)], path[?query], expect_allowed)
        ([("/fish", False)], "/fish", False),
        ([("/fish", False)], "/fishheads/yummy.html", False),
        ([("/fish", False)], "/fish.php?id=anything", False),
        ([("/fish", False)], "/Fish.asp", True),
        ([("/fish", False)], "/catfish", True),
        ([("/fish", False)], "/?id=fish", True),
        ([("/fish*", False)], "/fish", False),
        ([("/fish*", False)], "/catfish", True),
        ([("/fish/", False)], "/fish", True),
        ([("/fish/", False)], "/fish/?id=anything", False),
        ([("/*.php", False)], "/index.php", False),
        ([("/*.php", False)], "/", True),
        ([("/*.php", False)], "/windows.PHP", True),
        ([("/*.php$", False)], "/filename.php", False),
        ([("/*.php$", False)], "/filename.php?parameters", True),
        ([("/*.php$", False)], "/filename.php/", True),
        ([("/fish*.php", False)], "/fishheads/catfish.php?parameters",
         False),
        ([("/fish*.php", False)], "/Fish.PHP", True),
        # precedence: longest pattern wins, allow beats disallow on ties
        ([("/p", True), ("/", False)], "/page", True),
        ([("/folder/", True), ("/folder", False)], "/folder/page", True),
        ([("/page", True), ("/*.htm", False)], "/page.htm", False),
        ([("/page", True), ("/*.ph", False)], "/page.php5", True),
        ([("/$", True), ("/", False)], "/", True),
        ([("/$", True), ("/", False)], "/page.htm", False),
        ([("/x", False)], "/y", True),  # no rule matches -> allowed
    ]
    rules = [(f"h{i}", pat, allow)
             for i, (rs, _, _) in enumerate(cases) for pat, allow in rs]
    frontier = spark.createDataFrame(
        [(f"http://h{i}{path}", f"h{i}", i)
         for i, (_, path, _) in enumerate(cases)],
        "url string, host string, case_id int",
    )

    compiled = frontier.withColumn(
        "_allowed", P.robots_allow_expr(rules)
    )
    got_case = {r["case_id"]: r["_allowed"] for r in compiled.collect()}

    robots_df = spark.createDataFrame(
        rules, "host string, path_prefix string, allow boolean"
    )
    prefix_df, wild = P.split_robots_rules(robots_df)
    assert wild and prefix_df.count() + len(wild) == len(rules)
    decided = P.robots_broadcast_join(frontier, prefix_df, wild)
    assert set(decided.columns) == set(frontier.columns) | {"_allowed"}
    got_join = {r["case_id"]: r["_allowed"] for r in decided.collect()}
    assert len(got_join) == len(cases)

    for i, (rs, path, want) in enumerate(cases):
        assert got_case[i] == want, (rs, path, "compiled")
        assert got_join[i] == want, (rs, path, "join")


def test_robots_blocks_prefix(spark, web, store):
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      robots=web.robots(spark), config=CrawlConfig())
    res = eng.crawl(web.seeds())
    got = {r["url"] for r in crawl_items_df(res.results).collect()}
    blocked = {u for u in expected_detail_urls(web)
               if "h1.example.com/detail/13" in u}
    assert blocked  # fixture actually exercises the rule
    assert got == expected_detail_urls(web) - blocked


def _mixed_registry():
    """Native list pages, hook detail pages, and a NullSource hook page
    ("Note") that every 7th detail emits as a child."""
    from spatula_spark.plans.pagespec import ChildPage, NullSource, PageSpec

    def detail(ctx):
        doc = ctx.json["doc"]
        out = [{"url": ctx.url, "doc": doc}]
        if doc % 7 == 0:
            out.append(ChildPage("Note", input={"doc": doc}))
        return out

    reg = media_registry()
    reg.register(PageSpec(name="MediaDetailPage", process_page=detail,
                          handles_errors=True))
    reg.register(PageSpec(name="Note", source=NullSource(),
                          process_page=lambda ctx: {"note": ctx.input}))
    return reg


@pytest.fixture(scope="module")
def sched_web():
    """One list page of 16 details per host: a host budget of 6 defers
    over three waves, and the web's robots rule blocks /detail/13."""
    return SynthWeb(n_hosts=3, details_per_host=16, details_per_list=16,
                    skew=1, with_errors=False, with_flaky=False)


@pytest.fixture(scope="module")
def sched_store(spark, sched_web):
    df = sched_web.page_store(spark)
    df.persist().count()
    return df


def _scheduled_crawl(spark, web, store, registry=None, **cfg):
    """A crawl whose waves defer (host budget 6) and robots-block."""
    return CrawlEngine(
        spark, registry or _mixed_registry(), page_store=store,
        robots=web.robots(spark),
        config=CrawlConfig(host_budget_per_wave=6, **cfg),
    ).crawl(web.seeds())


def test_schedule_paths_parity(spark, sched_web, sched_store, monkeypatch,
                               tmp_path):
    """A wave's tagged schedule collected on the driver route (default
    driver_wave_max), kept in the cluster plan (driver_wave_max=0), with
    the robots join fallback, and a crawl stopped after wave 2 then
    resumed from its snapshot all give the same crawl: ordered items,
    dead letters, seen set and per-wave metric counts, over deferred,
    robots-blocked, null-source, native and hook rows."""
    from spatula_spark.operators import politeness as pol

    counts = ["wave", *(c for c, _ in engine_mod._METRIC_KINDS)]

    def crawl_rows(res):
        return (res.items(),
                sorted((tuple(r) for r in res.dead.collect()), key=repr),
                sorted(tuple(r) for r in res.seen.collect()),
                res.metrics[counts].to_dict("records"))

    web, store = sched_web, sched_store
    landed = _scheduled_crawl(spark, web, store)
    m = landed.metrics
    assert m["deferred"].sum() > 0 and m["blocked"].sum() > 0
    assert m["schedule_local"].all()
    items = landed.items()
    assert any("note" in i for i in items)
    assert {i["url"] for i in items if "url" in i} == expected_detail_urls(
        web) - {u for u in expected_detail_urls(web)
                if "h1.example.com/detail/13" in u}
    want = crawl_rows(landed)
    cluster = _scheduled_crawl(spark, web, store, driver_wave_max=0)
    assert not cluster.metrics["schedule_local"].any()
    assert crawl_rows(cluster) == want
    ck = str(tmp_path / "cks")
    _scheduled_crawl(spark, web, store, checkpoint_dir=ck, max_waves=2)
    resumed = _scheduled_crawl(spark, web, store, checkpoint_dir=ck)
    assert resumed.metrics["schedule_local"].all()
    assert crawl_rows(resumed) == want
    monkeypatch.setattr(pol, "ROBOTS_EXPR_MAX_RULES", 0)
    joined = _scheduled_crawl(spark, web, store)
    assert joined.metrics["schedule_local"].all()
    assert crawl_rows(joined) == want


def test_landed_schedule_plan_shape(spark, sched_web, sched_store,
                                    monkeypatch):
    """A small budgeted, robots-filtered wave after the first plans from
    its schedule collected on the driver route: its executed plan has no
    ranking window and its frontier side is a LocalRelation."""
    plans = []
    real = CrawlEngine._transform

    def transform(eng, *a):
        out = real(eng, *a)
        plans.append(node_names(out))
        return out

    monkeypatch.setattr(CrawlEngine, "_transform", transform)
    res = _scheduled_crawl(spark, sched_web, sched_store, media_registry())
    assert res.metrics["deferred"].iloc[1] > 0
    assert len(plans) == res.waves
    for names in plans[1:]:
        assert "WindowExec" not in names
        assert "LocalTableScanExec" in names
    assert res.metrics["schedule_local"].all()


def test_driver_route_schedule_and_resume_start_no_job(
        spark, sched_web, sched_store, monkeypatch, tmp_path):
    """A budgeted, robots-filtered crawl on a parquet checkpoint,
    stopped at wave 2 and resumed: on every wave of both legs the
    driver-route schedule and dedup (_dedup_driver) and the twin refill
    (_refill_twin) start no Spark job. The schedule's projection is
    folded into a LocalRelation on the driver, the resumed frontier
    and seen keys are read with pyarrow, and the first resumed wave
    lands on the driver (no parquet ``_emissions`` spill). If a Spark
    upgrade stops folding the projection, this test says so."""
    import os

    sc = spark.sparkContext
    groups: dict[str, list[str]] = {"_dedup_driver": [], "_refill_twin": []}

    def grouped(name):
        real = getattr(CrawlEngine, name)

        def run(eng, *a):
            group = f"pin-{name}-{len(groups[name])}"
            groups[name].append(group)
            sc.setJobGroup(group, name)
            try:
                return real(eng, *a)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return run

    for name in groups:
        monkeypatch.setattr(CrawlEngine, name, grouped(name))
    ck, spill = tmp_path / "ck", tmp_path / "spill"
    legs = {}
    for leg, waves in (("a", 2), ("b", None)):
        eng = CrawlEngine(
            spark, media_registry(), page_store=sched_store,
            robots=sched_web.robots(spark),
            config=CrawlConfig(host_budget_per_wave=6, max_waves=waves,
                               checkpoint_dir=str(ck),
                               spill_dir=str(spill / leg)))
        legs[leg] = eng.crawl(sched_web.seeds())
    a, b = legs["a"], legs["b"]
    assert a.waves == 2 and b.waves >= 2
    m = pd.concat([a.metrics, b.metrics])
    assert m["schedule_local"].all()
    assert m["host_split"].any() and m["deferred"].sum() > 0
    assert m["blocked"].sum() > 0
    assert len(groups["_dedup_driver"]) == a.waves + b.waves
    assert len(groups["_refill_twin"]) == 2
    assert eng._py_seen  # the resumed leg refilled its twin
    # the first resumed wave landed on the driver
    assert not [d for d in os.listdir(spill / "b")
                if d.endswith("_emissions")]
    # read once every leg's jobs have been posted
    spark.range(1).collect()
    started = {g: sc.statusTracker().getJobIdsForGroup(g)
               for gs in groups.values() for g in gs}
    assert not any(started.values()), started


def test_dfs_order_matches_document_order(spark, web, store):
    """Within one list page, detail items must appear in link (document)
    order after the path sort — the reference's DFS guarantee."""
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig())
    res = eng.crawl(web.seeds())
    items = crawl_items_df(res.results.orderBy("path")).collect()
    per_host: dict[str, list[int]] = {}
    for r in items:
        host = r["url"].split("/")[2]
        per_host.setdefault(host, []).append(
            int(r["url"].rsplit("/", 1)[1])
        )
    for host, seq in per_host.items():
        own = [j for j in seq]
        # each host's own details arrive in strictly increasing order
        # except cross-host dups (j==0 handled by dedup: appears once)
        assert own == sorted(own), host


def test_driver_caps_derive_from_heap(spark, store):
    """The driver-python-structure caps scale with the provisioned
    driver heap (the round-4 'literals don't scale' amber): 5% of heap
    at the structure's bytes/key, never below the 10k floor."""
    from spatula_spark.session import _parse_jvm_mem

    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig())
    heap = _parse_jvm_mem(spark.conf.get("spark.driver.memory"))
    assert eng._driver_store_keys_max == max(10_000, int(heap * 0.05) // 80)
    assert eng._driver_seen_max == max(10_000, int(heap * 0.05) // 130)


def _strip_manifest_stats(spark, ck):
    """Rewrite every manifest without its ``files`` footer stats, as a
    snapshot committed before the stats existed."""
    import os

    for e in os.listdir(ck):
        m = os.path.join(ck, e, "MANIFEST.json")
        if os.path.exists(m):
            with open(m) as f:
                mf = json.load(f)
            del mf["files"]
            with open(m, "w") as f:
                json.dump(mf, f)


def _drop_frontier_hashes(spark, ck):
    """Rewrite the last snapshot's frontier without the url_hash /
    seen_key columns, as one written before hash-at-emission."""
    import os

    last = max(int(e.split("=")[1]) for e in os.listdir(ck)
               if e.startswith("wave="))
    d = os.path.join(ck, f"wave={last}", "frontier")
    rows = spark.read.parquet(d).drop("url_hash", "seen_key")
    rows.write.parquet(d + "_old")
    shutil.rmtree(d)
    os.rename(d + "_old", d)


def _assert_same_crawl(res, full, label=None):
    """``res`` equals the uncheckpointed crawl ``full``: items in path
    order, dead letters, the seen set and the metrics count columns."""
    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    assert res.items() == full.items(), label
    assert rows(res.dead) == rows(full.dead), label
    assert rows(res.seen) == rows(full.seen), label
    counts = ["wave", *(c for c, _ in engine_mod._METRIC_KINDS)]
    assert res.metrics[counts].equals(full.metrics[counts]), label


@pytest.mark.parametrize("cap", [{}, {"driver_wave_max": 0}],
                         ids=["arrow_write", "spark_write"])
def test_checkpoint_resume_identical(spark, web, store, tmp_path, cap):
    """Kill-and-resume equals the uncheckpointed crawl, from snapshots
    of driver-held waves (written with pyarrow) and of cluster waves
    (written by Spark), and from the same snapshots as older engines
    wrote them."""
    ck = str(tmp_path / "ck")
    full = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig()).crawl(web.seeds())
    # run 1: killed after 2 waves (simulated by max_waves)
    CrawlEngine(spark, media_registry(), page_store=store,
                config=CrawlConfig(checkpoint_dir=ck, max_waves=2, **cap)
                ).crawl(web.seeds())
    # the same snapshot as older engines wrote it: manifests without
    # footer row stats (resume counts the tables instead), and a
    # frontier without the emission hashes
    older = []
    for age in (_strip_manifest_stats, _drop_frontier_hashes):
        older.append(str(tmp_path / age.__name__))
        shutil.copytree(ck, older[-1])
        age(spark, older[-1])
    # run 2: resumes from the snapshot and finishes
    for d in [ck] + older:
        res = CrawlEngine(spark, media_registry(), page_store=store,
                          config=CrawlConfig(checkpoint_dir=d, **cap)
                          ).crawl(web.seeds())
        _assert_same_crawl(res, full, d)
    shutil.rmtree(ck, ignore_errors=True)


def test_checkpoint_window_mixing_held_and_cluster_waves(
        spark, web, store, tmp_path, monkeypatch):
    """A checkpoint_every=2 window whose first wave is above a small
    driver_wave_max and whose second is driver-held commits one union
    of Spark and Arrow views; a crawl resumed from it equals the
    uninterrupted crawl (items, dead letters, seen set, metrics)."""
    held = {}
    real = CrawlEngine._commit

    def commit(eng, wave, start_wave, landed, *a):
        held[wave] = landed.rows is not None
        return real(eng, wave, start_wave, landed, *a)

    monkeypatch.setattr(CrawlEngine, "_commit", commit)
    ck = str(tmp_path / "ckm")
    full = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig()).crawl(web.seeds())
    cfg = dict(checkpoint_dir=ck, checkpoint_every=2, driver_wave_max=96)
    CrawlEngine(spark, media_registry(), page_store=store,
                config=CrawlConfig(max_waves=4, **cfg)).crawl(web.seeds())
    # the stopped leg's last window, waves 2-3: 97 emissions, then 73
    assert (held[2], held[3]) == (False, True), held
    res = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig(**cfg)).crawl(web.seeds())
    _assert_same_crawl(res, full)


def test_held_wave_commit_starts_no_spark_job(spark, web, store, tmp_path,
                                              monkeypatch):
    """Committing a driver-held wave writes its views with pyarrow: no
    Spark job runs inside any commit, and every part file carries the
    session's parquet codec. A crawl that then runs no wave (the
    max_waves=0 resume probe) starts no Spark job either, robots table
    included."""
    from spatula_spark.session import scoped_conf

    sc = spark.sparkContext
    jobs = []
    real = snapshots.ParquetSnapshots.commit

    def commit(store_, wave, *a):
        sc.setJobGroup(f"commit-{wave}", "snapshot commit")
        try:
            return real(store_, wave, *a)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(
                f"commit-{wave}"))

    monkeypatch.setattr(snapshots.ParquetSnapshots, "commit", commit)
    ck = tmp_path / "ckj"
    robots = web.robots(spark)
    with scoped_conf(spark, {"spark.sql.parquet.compression.codec": "gzip"}):
        res = CrawlEngine(spark, media_registry(), page_store=store,
                          robots=robots,
                          config=CrawlConfig(checkpoint_dir=str(ck),
                                             max_waves=3)).crawl(web.seeds())
    assert res.waves == 3 and not jobs
    parts = sorted(ck.glob("wave=*/*/*.parquet"))
    assert {p.parent.name for p in parts} == {
        "frontier", "seen_delta", "items"}
    assert len(parts) == 9
    for p in parts:
        meta = pq.ParquetFile(p).metadata
        assert {meta.row_group(0).column(i).compression
                for i in range(meta.num_columns)} == {"GZIP"}, p
    sc.setJobGroup("probe", "resume probe")
    try:
        probe = CrawlEngine(spark, media_registry(), page_store=store,
                            robots=robots,
                            config=CrawlConfig(checkpoint_dir=str(ck),
                                               max_waves=0)
                            ).crawl(web.seeds())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert probe.waves == 0
    assert not sc.statusTracker().getJobIdsForGroup("probe")


def test_resume_volatile_seen_keeps_private_copy(
        spark, web, store, tmp_path, monkeypatch):
    """A store whose seen_volatile is true (Iceberg: later commits and
    resumes change the seen table a resume read) hands the engine a
    seen set it copies: with a parquet store marked volatile, the
    resumed crawl's ``res.seen`` still reads after the snapshot's seen
    dirs are deleted, and equals an uncheckpointed crawl's seen set."""
    import os

    ck = str(tmp_path / "ckv")
    full = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig()).crawl(web.seeds())
    CrawlEngine(spark, media_registry(), page_store=store,
                config=CrawlConfig(checkpoint_dir=ck, max_waves=2)
                ).crawl(web.seeds())

    def open_volatile(spark, cfg):
        st = snapshots.ParquetSnapshots(spark, cfg.checkpoint_dir)
        st.seen_volatile = True
        return st

    monkeypatch.setattr(engine_mod, "open_snapshots", open_volatile)
    res = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig(checkpoint_dir=ck)
                      ).crawl(web.seeds())
    seen_dirs = [os.path.join(ck, e, sub) for e in os.listdir(ck)
                 for sub in ("seen_base", "seen_delta")
                 if os.path.isdir(os.path.join(ck, e, sub))]
    assert seen_dirs
    for d in seen_dirs:
        shutil.rmtree(d)
    assert res.items() == full.items()
    assert (sorted(tuple(r) for r in res.seen.collect())
            == sorted(tuple(r) for r in full.seen.collect()))
    shutil.rmtree(ck, ignore_errors=True)


def test_lazy_bloom_parity_no_wasted_builds(
        spark, web, store, tmp_path, monkeypatch):
    """The Bloom filter is folded only when a wave probes it: a
    stop -> max_waves=0 probe -> resume crawl builds nothing in the
    probe or after a leg's last probing wave, the filter holds exactly
    the seen set at every probe, and the crawl equals the same crawl
    with the Bloom off (items in path order, dead letters, seen set,
    metrics counts)."""
    from spatula_spark.operators.seen import ShardedBloom

    events: list[tuple[str, str]] = []  # (leg, "add" | "probe")
    at_probe: list[tuple[int, int]] = []  # (filter count, seen count)
    current = ["?"]
    real_add = ShardedBloom.add_hashes_df
    real_dedup = CrawlEngine._dedup

    def add_hashes_df(bloom, *a, **k):
        events.append((current[0], "add"))
        return real_add(bloom, *a, **k)

    def dedup(eng, *a, **k):
        out = real_dedup(eng, *a, **k)
        if eng._wave_bloom_fpr is not None:
            events.append((current[0], "probe"))
            at_probe.append((eng._bloom.count, eng._seen_count))
        return out

    monkeypatch.setattr(ShardedBloom, "add_hashes_df", add_hashes_df)
    monkeypatch.setattr(CrawlEngine, "_dedup", dedup)
    monkeypatch.setattr(engine_mod, "_BLOOM_SHARD_CAPACITY", 1 << 14)

    # driver_wave_max=0 keeps every wave on the cluster route: a small
    # resumed crawl otherwise dedups against the refilled seen twin and
    # never probes the filter
    def run(use_bloom):
        ck = str(tmp_path / f"ckb{int(use_bloom)}")
        out = []
        for name, waves in (("A", 2), ("probe", 0), ("B", None)):
            current[0] = name
            out.append(CrawlEngine(
                spark, media_registry(), page_store=store,
                config=CrawlConfig(checkpoint_dir=ck, max_waves=waves,
                                   bloom_min_seen=1 if use_bloom else None,
                                   driver_wave_max=0),
            ).crawl(web.seeds()))
        return out

    exact = run(False)
    assert not events
    bloom = run(True)
    assert ("B", "probe") in events  # the resumed leg probes
    assert not [e for e in events if e[0] == "probe"]  # probe leg: none
    for name in ("A", "B"):
        kinds = [kind for who, kind in events if who == name]
        # every fold is followed by the probe it serves
        assert all(kinds[i + 1:i + 2] == ["probe"]
                   for i, k in enumerate(kinds) if k == "add"), kinds
    assert all(n_bloom == n_seen for n_bloom, n_seen in at_probe)
    for b, e in zip(bloom, exact):
        assert b.items() == e.items()
        assert (sorted(tuple(r) for r in b.dead.collect())
                == sorted(tuple(r) for r in e.dead.collect()))
        assert (sorted(tuple(r) for r in b.seen.collect())
                == sorted(tuple(r) for r in e.seen.collect()))
        counts = [c for c in e.metrics.columns if not c.startswith("bloom")]
        assert b.metrics[counts].equals(e.metrics[counts])
    probed = bloom[2].metrics[bloom[2].metrics["bloom_probed"]]
    assert len(probed) and probed["bloom_fpr"].between(0, 1e-3).all()
    assert not exact[2].metrics["bloom_probed"].any()


def test_checkpoint_every_k_async_resume_identical(
        spark, web, store, tmp_path):
    """checkpoint_every=K commits a durable snapshot every K waves —
    the commit-IO knob (round-4 late-session band collapse pointed at
    the per-wave snapshot write) — accumulating the item/seen deltas
    between commits, and checkpoint_async overlaps the write with the
    next wave's compute on one background thread. Kill-and-resume must
    replay at most K-1 waves and finish byte-identical to an
    uncheckpointed crawl, and the dir listing must show the cadence
    (commit waves + final flush only, not every wave)."""
    import os

    ck = str(tmp_path / "ckk")
    full = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig()).crawl(web.seeds())
    CrawlEngine(spark, media_registry(), page_store=store,
                config=CrawlConfig(checkpoint_dir=ck, max_waves=5,
                                   checkpoint_every=3,
                                   checkpoint_async=True)
                ).crawl(web.seeds())
    waves = sorted(int(e.split("=")[1]) for e in os.listdir(ck)
                   if e.startswith("wave="))
    # waves 0-4 ran; cadence commit at wave 2, tail flush at wave 4
    assert waves == [2, 4], waves
    res = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig(checkpoint_dir=ck,
                                         checkpoint_every=3,
                                         checkpoint_async=True)
                      ).crawl(web.seeds())
    _assert_same_crawl(res, full)
    shutil.rmtree(ck, ignore_errors=True)


def test_checkpoint_seen_compaction_bounds_resume_fanin(
        spark, web, store, tmp_path, monkeypatch):
    """Seen compaction (K = _COMPACT_EVERY, patched to 2) rewrites the
    accumulated seen set as one seen_base every K deltas (Iceberg
    manifest-rewrite analogue),
    so resume reads one base + <K deltas no matter how many waves ran —
    without it a long crawl's resume unions every wave's little delta
    dir since wave 0. Kill-and-resume must stay byte-identical."""
    import os

    ck = str(tmp_path / "ckc")
    monkeypatch.setattr(snapshots, "_COMPACT_EVERY", 2)
    full = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig()).crawl(web.seeds())
    CrawlEngine(spark, media_registry(), page_store=store,
                config=CrawlConfig(checkpoint_dir=ck, max_waves=2)
                ).crawl(web.seeds())
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig(checkpoint_dir=ck))
    res = eng.crawl(web.seeds())
    got = {r["url"] for r in crawl_items_df(res.results).collect()}
    want = {r["url"] for r in crawl_items_df(full.results).collect()}
    assert got == want
    assert res.seen.count() == full.seen.count()

    last = max(int(e.split("=")[1]) for e in os.listdir(ck)
               if e.startswith("wave="))
    base_wave, deltas = eng._store._seen_sources(upto=last)
    assert base_wave is not None  # compaction actually ran
    assert len(deltas) < 2  # bounded fan-in: fewer than K deltas live
    # the compacted view (base + post-base deltas) must equal the
    # union of every per-wave delta ever written
    live = [os.path.join(ck, f"wave={base_wave}", "seen_base")] + [
        os.path.join(ck, f"wave={w}", "seen_delta") for w in deltas]
    every_delta = [
        os.path.join(ck, e, "seen_delta") for e in os.listdir(ck)
        if e.startswith("wave=")
        and os.path.isdir(os.path.join(ck, e, "seen_delta"))
    ]
    a = {tuple(r) for r in spark.read.parquet(*live).collect()}
    b = {tuple(r) for r in spark.read.parquet(*every_delta).collect()}
    assert a == b
    # deltas are disjoint by construction (compaction relies on it)
    n_delta_rows = spark.read.parquet(*every_delta).count()
    assert n_delta_rows == len(b)
    # manifest file stats: the items' footer rows sum to the real item
    # count, and no part file is empty
    total_item_rows = 0
    for e in os.listdir(ck):
        if not e.startswith("wave="):
            continue
        with open(os.path.join(ck, e, "MANIFEST.json")) as f:
            mf = json.load(f)
        total_item_rows += sum(
            fi["rows"] for fi in mf["files"].get("items", ()))
        assert all(fi["bytes"] > 0 for grp in mf["files"].values()
                   for fi in grp)
    assert total_item_rows == full.results.count()
    # the finished crawl's snapshot reads back whole: an empty
    # frontier, the full seen set and every item
    done = eng._store.resume()
    assert (done.next_wave, done.n_frontier, done.n_seen) == (
        last + 1, 0, full.seen.count())
    assert done.items.count() == total_item_rows
    shutil.rmtree(ck, ignore_errors=True)


def test_resume_refuses_missing_seen_delta(tmp_path, spark, monkeypatch):
    """A committed parquet checkpoint that lost a seen_delta dir no
    seen_base covers is damaged: resume raises CrawlError naming that
    wave instead of rebuilding an incomplete seen set (the crawl would
    silently refetch), and leaves the checkpoint dir as it found it. A
    lost delta that a later seen_base covers resumes as before."""
    import os

    from spatula_spark import schemas
    from spatula_spark.session import arrow_table

    monkeypatch.setattr(snapshots, "_COMPACT_EVERY", 2)
    ck = str(tmp_path / "ckd")
    st = snapshots.ParquetSnapshots(spark, ck)
    # waves 0-2, one seen key and one item each; wave 1 compacts the
    # first two deltas into a seen_base, wave 2's delta is past it
    for w in range(3):
        st.commit(
            w, arrow_table([], schemas.FRONTIER_SCHEMA),
            arrow_table([(w, 10 + w)], snapshots.SEEN_SCHEMA),
            arrow_table([(f"/{w}", "P", "{}", w)], schemas.RESULT_SCHEMA),
            [{"wave": w}])
    assert os.path.isdir(os.path.join(ck, "wave=1", "seen_base"))

    def listing(d):
        return sorted((os.path.relpath(os.path.join(r, n), d),
                       os.path.getsize(os.path.join(r, n)))
                      for r, _, names in os.walk(d) for n in names)

    covered = str(tmp_path / "covered")
    shutil.copytree(ck, covered)
    shutil.rmtree(os.path.join(covered, "wave=0", "seen_delta"))
    res = snapshots.ParquetSnapshots(spark, covered).resume()
    assert (res.next_wave, res.n_seen) == (3, 3)

    damaged = str(tmp_path / "damaged")
    shutil.copytree(ck, damaged)
    shutil.rmtree(os.path.join(damaged, "wave=2", "seen_delta"))
    before = listing(damaged)
    with pytest.raises(snapshots.CrawlError, match="wave 2's seen delta"):
        snapshots.ParquetSnapshots(spark, damaged).resume()
    assert listing(damaged) == before


def test_scout_lists_only_first_level(spark, web, store):
    eng = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig())
    out = eng.scout(web.seeds()[:1])
    # scout follows pagination but not children: every child of every
    # list page in host 0's chain is reported, none fetched
    nexts = {d["__next__"] for d in out if d["__next__"]}
    assert all(n.startswith("MediaDetailPage source=http://") for n in nexts)
    # scout does not dedup (nothing is fetched — reference semantics):
    # every link of every list page is reported, including the one
    # cross-host duplicate per list page
    n_details = web.offsets[1] - web.offsets[0]
    n_lists = (n_details + web.details_per_list - 1) // web.details_per_list
    assert len(out) == n_details + n_lists


def test_driver_wave_fast_path_parity(spark, web, store):
    """The small-wave driver path (Python dedup + keyset fetch +
    LocalRelation materialization) must be invisible: identical item
    stream, DFS order, wave assignment, and seen set vs the cluster
    path (driver_wave_max=0 disables every driver-side shortcut)."""
    fast = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig()).crawl(web.seeds())
    slow = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig(driver_wave_max=0)
                       ).crawl(web.seeds())
    cols = ["path", "page_cls", "item_json", "wave"]
    got = [tuple(r) for r in
           fast.results.orderBy("path").select(*cols).collect()]
    want = [tuple(r) for r in
            slow.results.orderBy("path").select(*cols).collect()]
    assert got == want
    assert (sorted(tuple(r) for r in fast.seen.collect())
            == sorted(tuple(r) for r in slow.seen.collect()))


def test_driver_wave_fast_path_parity_doc_tree(spark, monkeypatch):
    """Deep-chain shape (13 binary-tree waves at sf0.001): the fast
    path handles every wave after the first two; results must match
    the cluster path row for row. The fast crawl never compacts its
    seen slices: its result's seen set stays a lazy union."""
    from spatula_spark.plans.doc_pipeline import crawl_doc_tree

    labels = []
    real = CrawlEngine._materialize
    monkeypatch.setattr(CrawlEngine, "_materialize", lambda eng, df, label,
                        *a: labels.append(label) or real(eng, df, label, *a))
    sf = "/root/testdata/sf0.001"
    fast = crawl_doc_tree(spark, sf)
    assert "seen_compact" not in labels
    slow = crawl_doc_tree(spark, sf, config=CrawlConfig(driver_wave_max=0))
    got = [tuple(r) for r in fast.orderBy("doc_id").collect()]
    want = [tuple(r) for r in slow.orderBy("doc_id").collect()]
    assert got == want
    # wave really is the BFS depth
    import math
    assert all(w == int(math.log2(d + 1)) for d, _, _, w in got)


def test_iceberg_backend_requires_catalog(spark, web, store):
    """Explicit iceberg_table_prefix without a configured catalog (this
    container ships no Iceberg runtime jar) fails loudly with guidance
    instead of silently degrading to the parquet analogue."""
    from spatula_spark.plans.engine import CrawlError
    from spatula_spark.plans.snapshots import iceberg_available

    assert not iceberg_available(spark)
    eng = CrawlEngine(
        spark, media_registry(), page_store=store,
        config=CrawlConfig(iceberg_table_prefix="ice.crawl.t"),
    )
    with pytest.raises(CrawlError, match="no Iceberg catalog"):
        eng.crawl(web.seeds())


def _view_rows(view):
    """A snapshot view's rows: an Arrow table's, or a DataFrame's."""
    if isinstance(view, pa.Table):
        return view.to_pylist()
    return [r.asDict() for r in view.collect()]


class _RecordingStore:
    """A snapshot store that records each commit (its wave, item rows,
    seen-delta size and metrics-row count) and how many ran to the end."""

    seen_volatile = False

    def __init__(self):
        self.commits: list[tuple] = []
        self.done = 0

    def commit(self, wave, frontier, seen_delta, items, metrics_rows):
        self.commits.append((
            wave, sorted((r["path"], r["wave"]) for r in _view_rows(items)),
            0 if seen_delta is None else len(_view_rows(seen_delta)),
            len(metrics_rows)))
        time.sleep(0.5)  # keeps an async commit in flight a while
        self.done += 1

    def resume(self):
        return None


@pytest.mark.parametrize("async_commit", [False, True])
def test_commit_cadence_through_store(
        spark, web, store, monkeypatch, async_commit):
    """The engine keeps the commit cadence for whichever store _begin
    opens, here a recording one: with checkpoint_every=2 a commit lands
    on every second wave, plus a tail commit when the crawl stops
    mid-window (a max_waves stop, or a drained frontier); each commit
    carries exactly its window's items and seen keys and every metrics
    row so far; the async mode commits the same sequence and has
    nothing in flight when crawl() returns."""
    opened: list[_RecordingStore] = []

    def open_recording(spark, cfg):
        opened.append(_RecordingStore())
        return opened[-1]

    monkeypatch.setattr(engine_mod, "open_snapshots", open_recording)
    for max_waves in (3, None):
        res = CrawlEngine(
            spark, media_registry(), page_store=store,
            config=CrawlConfig(checkpoint_every=2, max_waves=max_waves,
                               checkpoint_async=async_commit),
        ).crawl(web.seeds())
        rec, n = opened[-1], res.waves
        assert (n == 3) if max_waves else (n > 3)
        assert rec.done == len(rec.commits)
        windows = [(w - 1, w) for w in range(1, n, 2)]
        if n % 2:
            windows.append((n - 1, n - 1))  # the tail commit
        assert [c[0] for c in rec.commits] == [hi for _, hi in windows]
        items = [(r["path"], r["wave"]) for r in res.results.collect()]
        fetched = res.metrics["fetched"].tolist()
        for (lo, hi), (_, got, n_seen, n_rows) in zip(windows, rec.commits):
            assert got == sorted(i for i in items if lo <= i[1] <= hi)
            assert n_seen == sum(fetched[lo:hi + 1])
            assert n_rows == hi + 1


def _iceberg_ready():
    from spatula_spark.plans.snapshots import iceberg_available
    from spatula_spark.session import get_spark

    try:
        return iceberg_available(get_spark(cores=8, shuffle_partitions=8))
    except Exception:
        return False


@pytest.mark.skipif(
    not _iceberg_ready(),
    reason="no Iceberg catalog configured / runtime jar absent in this "
    "container (configure spark.sql.catalog.ice + iceberg-spark-runtime "
    "to exercise the catalog-native snapshot path)",
)
def test_iceberg_checkpoint_resume(spark, web, store):
    """Kill-and-resume contract on the REAL Iceberg backend — the twin
    of test_checkpoint_resume_identical, same assertions, catalog
    tables instead of the parquet-manifest analogue."""
    from spatula_spark.plans.snapshots import iceberg_catalogs

    prefix = f"{iceberg_catalogs(spark)[0]}.spatula_test.crawl"
    full = CrawlEngine(spark, media_registry(), page_store=store,
                       config=CrawlConfig()).crawl(web.seeds())
    CrawlEngine(spark, media_registry(), page_store=store,
                config=CrawlConfig(iceberg_table_prefix=prefix, max_waves=2)
                ).crawl(web.seeds())
    res = CrawlEngine(spark, media_registry(), page_store=store,
                      config=CrawlConfig(iceberg_table_prefix=prefix)
                      ).crawl(web.seeds())
    got = {r["url"] for r in crawl_items_df(res.results).collect()}
    want = {r["url"] for r in crawl_items_df(full.results).collect()}
    assert got == want
    assert res.seen.count() == full.seen.count()
