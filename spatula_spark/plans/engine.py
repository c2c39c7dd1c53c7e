"""The iterative frontier engine (wave driver).

This replaces the reference's recursive interpreter ``_to_items``
(``/root/reference/src/spatula/pages.py:206-244``): where the reference
keeps the frontier on the Python call stack and visits pages depth-first
one at a time, this engine keeps it in a DataFrame and processes one
**wave** (BFS generation) per iteration:

    seeds (_begin: fresh frontier, or resume from the latest snapshot)
      └─ wave k (crawl() runs one phase method after another):
           _schedule: ONE tagged frontier (_tag) — a politeness tag
             (hot-host-only ranking window) and robots (compiled CASE /
             broadcast-join fallback) fold into one _fate per row:
             deferred, null-source, blocked or fetch; deferred and
             blocked rows ride the emissions stream unfetched
           _dedup: URL-seen dedup (exact anti-join; Bloom probe at scale)
             keyed on page identity seen_key = (page_cls, url_hash,
             input), and in-wave first-wins dedup (min_by path per
             (url_hash, seen_key))
           _fetch_wave: broadcast-frontier probe of the page-store on
             xxhash64(canon url) (shuffle join above the heap-derived
             _bcast_fetch_max);
             not-in-store (404) rows anti-join the wave's found keys.
             The real-HTTP fetcher runs on host-salted rows; for hook
             classes it is fused with their transform (one Python pass)
           _transform: per-class transform, exactly one pass per row:
             * native specs -> pure Catalyst column exprs (JVM only)
             * hook specs   -> one Arrow mapInPandas dispatch (emits
               its own fetched markers — no shared batch cache)
           _land: ONE parquet snapshot per wave carries every emission
             kind (kind tallies via Observation); a small wave lands on
             the driver as one Arrow table instead. Either way a wave
             whose emission total is at most driver_wave_max is
             driver-held: its rows stay on the driver (a parquet-landed
             one is read back with pyarrow, no Spark job)
           _update_seen: seen ∪= fetched keys
           _next_frontier: a narrow filter over the landed emissions;
             then the wave's metrics row
           _commit: to the snapshot store every checkpoint_every waves;
             a driver-held wave's frontier, seen delta and items are
             Arrow tables built from its rows, which the store writes
             with pyarrow (no Spark job), other waves' are DataFrames

    Driver route, for every wave of at most driver_wave_max frontier
    rows while the driver twin of the seen set is alive: _dedup_driver
    runs the same schedule with no Spark job (hosts, hashes and the
    robots verdict from one projection Catalyst folds into a
    LocalRelation on the driver, the host-budget split and the fates
    in Python) and dedups in Python against the twin, and _fetch_local
    replaces _fetch_wave, so the wave plans from LocalRelations with no
    dedup shuffle. A resumed wave within the caps reads its frontier
    and the twin's seen keys from the snapshot with pyarrow.

Depth-first emission order is reconstructed, not executed: every row
carries a lexicographically sortable lineage ``path`` (schemas.py), and
``CrawlResult.ordered()`` = ``orderBy(path)`` equals the reference's
exact item sequence (golden tests mirror
``tests/test_page_base.py:185-191,213-239,242-308``).

Semantics matrix carried over from the reference:

* retry-until-accepted: rejected rows requeue with ``attempts+1`` into
  the next wave until ``retries+1`` attempts, then ``RejectedResponse``
  (pages.py:168-195) — requeues bypass the seen-set.
* handled fetch error => no items, **pagination still runs**
  (pages.py:210-215); unhandled => dead letter / fail-fast
  (pages.py:298-304 default re-raise).
* ``SkipItem`` in a detail page => page emits nothing and does **not**
  paginate (pages.py:218-222); ``SkipItem`` per list item => item
  dropped, siblings + pagination continue (pages.py:436-445).
* dependencies fetched once and shared (pages.py:133,141-155) — the
  dep result is computed driver-side once and closure-broadcast into
  the transform (the reference's ``_cached_dependencies``).
* scout mode projects each result to ``{data, __next__}`` without
  following children but following pagination (pages.py:19-30,225-244);
  projection is a native expression over the emissions.

Scale notes (the part that must survive 100 TB / 10^10 URLs):

* Per wave the only full-frontier shuffle is the slim dedup aggregate
  on (url_hash, seen_key); the seen check reuses that exchange, and
  the fetch broadcasts the frontier against the page store in place —
  payload bytes are NEVER shuffled (waves above _bcast_fetch_max
  fall back to a bucketed shuffle join). The 404 rows are the
  frontier anti-joined against a broadcast of the wave's own found
  keys, so every broadcast a wave builds is wave-sized, never
  store-sized.
* Politeness (one host_budget_per_wave for every host) ranks only
  the hosts a count-aggregate proves over budget; cold hosts bypass
  the sort via a broadcast hash join, and the wave's branches filter
  the one tagged frame. Hot hosts in the real-HTTP fetch path are
  salt-split on (host, xxhash64(url)); AQE skew-join handles residue.
* ONE parquet snapshot per wave (the Iceberg-commit pattern) cuts the
  iterative lineage; frontier/results/seen/dead are all narrow views
  over it.
* The seen-set check is an exact join on the dedup aggregate's keys,
  reusing its exchange. Above bloom_min_seen a broadcast Bloom filter
  flags each row "maybe seen" first, but every row still joins the
  seen set, so the output is the plain anti-join's (pruning the join
  input by the flag is open work).
* payload ``bytes`` columns exist only between the fetch and the
  one-pass transform; frontier/results/seen stay slim, and nothing
  payload-heavy is ever cached (the wave streams it).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import tempfile
import time as _time
import warnings
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from types import SimpleNamespace
from typing import Any, Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from ..session import (
    _broadcast_rows_budget,
    _driver_heap,
    _struct,
    arrow_table,
    as_df,
    local_df,
    scoped_conf,
)
from . import native as N
from ..operators import politeness as politeness_ops
from ..operators import seen as seen_ops
from ..operators.parsers import UnsupportedDocumentError
from ..sources.http_fetch import FETCHED_SCHEMA
from ..urls import canonicalize_url, host_of, url_hash
from .snapshots import (
    SEEN_SCHEMA,
    CrawlError,
    open_snapshots,
    read_parquet_dirs,
)
from .pagespec import (
    ChildPage,
    HandledError,  # noqa: F401  (public API re-export)
    MissingSourceError,
    NullSource,
    PageCtx,
    PageRegistry,
    PageSpec,
    SkipItem,
    URL,
    dump_input,
    load_input,
    obj_to_dict,
)

# Ceiling on payload rows per wave-coalesce partition. The wave
# snapshot's coalesce() collapses the fetch+decode+write stage to
# _wave_partitions tasks, so this — not the core count — is what bounds
# per-task Arrow/python/parquet memory on payload-bearing waves.
_WAVE_ROWS_PER_PART = 1 << 16

_EMISSION_OUT_SCHEMA = (
    "emit_kind string, src_cls string, path string, item_json string, "
    "child_cls string, child_url string, child_input_json string, "
    "priority int, page_seq int, attempts int, error string, "
    "url_hash long, seen_key long"
)

_EMISSION_COLS = [c.split()[0] for c in _EMISSION_OUT_SCHEMA.split(", ")]

# the fetched batch's column order: the fetch join's found_cols and
# missing_cols projections and the real-HTTP fetcher all produce it
_BATCH_SELECT = [c.split()[0] for c in FETCHED_SCHEMA.split(", ")]

_DEAD_KINDS = ("error", "reject")  # the kinds fail_fast raises on

# CrawlResult.metrics count column -> the emission kinds it counts
_METRIC_KINDS = (
    ("fetched", ("fetched",)), ("items", ("item",)),
    ("children", ("child",)), ("next_pages", ("next",)),
    ("requeued", ("requeue",)), ("skipped_items", ("skip_item",)),
    ("skipped_pages", ("skip_page",)),
    ("handled_errors", ("handled_error",)), ("dead", _DEAD_KINDS),
    ("blocked", ("blocked",)), ("deferred", ("deferred",)),
)
# every emission kind a wave lands: each is counted by one column
_KIND_NAMES = tuple(k for _, kinds in _METRIC_KINDS for k in kinds)

# a driver-route wave's robots-blocked and politeness-deferred rows:
# frontier rows with their fate, re-emitted unfetched (_unfetched)
_PARKED_SCHEMA = T.StructType(
    schemas.FRONTIER_SCHEMA.fields + [T.StructField("_fate", T.StringType())])

# Bloom prefilter shards at crawl start; ShardedBloom.regrow widens
# them 4x from the exact seen table whenever the filter fills up
_BLOOM_SHARDS = 16
_BLOOM_FPR = 1e-3
# fixed per-shard capacity (blob size is set once; OR-merge keeps it
# constant). 256k hashes/shard ≈ 460 KB/shard at fpr 1e-3; a
# 10^10-URL deployment raises shards+capacity (docs in seen.py).
_BLOOM_SHARD_CAPACITY = 1 << 18

# host-salt buckets ahead of the real-HTTP fetch: a hot host spreads
# over this many tasks (politeness.salted_repartition)
_SALT_BUCKETS = 8


@dataclass
class CrawlConfig:
    max_waves: int | None = None
    scout: bool = False  # see CrawlEngine.scout
    # politeness: one per-wave budget for every host; None disables
    # (the reference's global --rpm applied per host, cli.py:33)
    host_budget_per_wave: int | None = None
    # from this many seen URLs on, each cluster wave probes a broadcast
    # Bloom filter of the seen set ahead of the exact seen join (which
    # still sees every row; see _dedup); None never probes. The probe
    # prunes nothing, so its blob broadcast and Arrow UDF add cost at
    # every seen-set size
    bloom_min_seen: int | None = 100_000
    fail_fast: bool = True
    checkpoint_dir: str | None = None
    # real-Iceberg snapshot backend: "catalog.namespace.name" table
    # prefix; takes precedence over checkpoint_dir's parquet-manifest
    # analogue and needs a configured catalog (plans/snapshots.py). The
    # cadence knobs below apply to both backends. A crawl with either
    # store set resumes from its latest committed snapshot; with
    # neither, crawl() warns that checkpoint_every and
    # checkpoint_async commit nothing.
    iceberg_table_prefix: str | None = None
    # durable-snapshot cadence: commit the wave checkpoint every K
    # waves (1 = every wave, the round-4 behavior). Between durable
    # waves the engine keeps only its scratch-parquet lineage cuts
    # (session-local, already paid for) and ACCUMULATES the item/seen
    # deltas; the checkpoint wave writes their union since the last
    # durable wave, so the snapshot chain stays complete and resume
    # replays at most K-1 waves. This is the commit-IO knob the
    # round-4 late-session band collapse pointed at: on a shared/
    # degraded store, K>1 divides the per-wave snapshot-write exposure
    # by K at the price of K-1 waves of recovery recompute.
    checkpoint_every: int = 1
    # overlap the durable snapshot write with the next wave's compute:
    # the commit runs on ONE background thread. Sync and async commit
    # the same views (filters over the wave's landed emissions in
    # scratch parquet, or for a driver-held wave Arrow tables that the
    # store writes with pyarrow; immutable until crawl end), so only
    # the timing differs. One thread serializes the commits, so
    # manifest-last atomicity is untouched; the loop joins the
    # in-flight write before starting the next one and before crawl()
    # returns. Hides snapshot-commit latency behind the next wave's
    # politeness/dedup/fetch stages instead of serializing it.
    checkpoint_async: bool = False
    verbose: bool = False  # per-wave step timings to stderr
    # scratch dir of the wave materializations; default: a fresh
    # mkdtemp. Never removed by the engine: the CrawlResult DataFrames
    # scan it lazily, so it must outlive the crawl (the caller owns it)
    spill_dir: str | None = None
    # small-wave driver materialization: when the fan-out-aware size
    # estimate (max of this wave's frontier and the previous wave's
    # total emissions) is at or below this, the wave's slim emission
    # rows are collected as one Arrow table and re-planted as a
    # LocalRelation (``local_df``: Arrow batches handed to the JVM, so
    # no Python worker re-reads them) instead of the parquet
    # write+read — the BFS-tail analogue of AQE's
    # local-shuffle-read: deep chains (pagination tails, tree crawls)
    # stop paying the ~1s/wave spill round-trip, while big waves keep
    # the cluster path untouched. Emission rows are payload-free
    # (~200 B), so the cap bounds driver memory at a few MB. Wave 0
    # never takes this path (no fan-out history to estimate with — a
    # seed wave of list pages can explode 1000x). The same cap bounds
    # the frontier of a driver-route wave (schedule and dedup on the
    # driver, see _dedup_driver). 0 disables both.
    driver_wave_max: int = 20_000


@dataclass
class CrawlResult:
    results: DataFrame
    dead: DataFrame
    seen: DataFrame
    metrics: pd.DataFrame
    waves: int

    def ordered(self) -> DataFrame:
        """Results in the reference's exact DFS emission order."""
        return self.results.orderBy("path")

    def items(self) -> list[Any]:
        """Driver-side ordered item values (test/parity helper)."""
        return [json.loads(r["item_json"]) for r in self.ordered().collect()]


@dataclass
class _Landed:
    """One wave's emissions after the land phase."""

    emissions: DataFrame  # scratch-parquet scan, or a LocalRelation
    rows: list[dict] | None  # the emission rows, if driver-held
    counts: dict[str, int]  # emission kind -> rows
    requeues: bool  # the next frontier can hold attempts > 0 rows
    null_urls: bool  # the next frontier can hold null-url rows


def _metrics_row(wave: int, counts: dict[str, int],
                 bloom_fpr: float | None, schedule_local: bool,
                 host_split: bool) -> dict:
    """The wave's CrawlResult.metrics row: the _METRIC_KINDS counts,
    whether the wave's dedup probed the Bloom prefilter with its
    estimated FPR at that probe (else None), whether the wave took
    the driver route (see _dedup_driver), and whether it ran the
    politeness split (see CrawlEngine._split)."""
    return {
        "wave": wave,
        **{col: sum(counts[k] for k in kinds) for col, kinds in _METRIC_KINDS},
        "bloom_probed": bloom_fpr is not None,
        "bloom_fpr": bloom_fpr,
        "schedule_local": schedule_local,
        "host_split": host_split,
    }


def _resumed_total(metrics_rows: list[dict]) -> int | None:
    """The emission total of a resumed snapshot's last wave, from its
    metrics row (every emission kind is counted by exactly one
    _METRIC_KINDS column), or None when there is no such row or it
    lacks a column."""
    try:
        return sum(metrics_rows[-1][col] for col, _ in _METRIC_KINDS)
    except (IndexError, KeyError):
        return None


def _host_budget_deferred(rows: list[tuple], hosts: list,
                          budget: int) -> list[bool]:
    """``split_by_host_budget``'s ``_deferred`` over driver rows
    (FRONTIER_SCHEMA-ordered tuples; ``hosts`` their ``host_of``): a
    host with more than ``budget`` non-null-url rows ranks its rows by
    (priority, path), ascending with nulls first as Spark orders them,
    and defers the ranks above the budget. A null host is never
    deferred."""
    # FRONTIER_SCHEMA tuple slots: 1=url 3=path 4=priority
    counts = Counter(h for r, h in zip(rows, hosts)
                     if h is not None and r[1] is not None)
    hot: dict[str, list[int]] = {}
    for i, h in enumerate(hosts):
        if counts.get(h, 0) > budget:
            hot.setdefault(h, []).append(i)
    deferred = [False] * len(rows)
    for idx in hot.values():
        idx.sort(key=lambda i: (rows[i][4] is not None, rows[i][4] or 0,
                                rows[i][3]))
        for i in idx[budget:]:
            deferred[i] = True
    return deferred


def _payloadless_cols(status: int, found: bool, hash_cols: list) -> list:
    """Fetched-row projection (_BATCH_SELECT order) of a frontier row
    that carries no payload: a 404 or a NullSource page."""
    return [
        "page_cls", "path", "url", "input_json",
        F.lit(None).cast("binary").alias("payload"),
        F.lit(None).cast("array<string>").alias("links"),
        F.lit(None).cast("string").alias("next_url"),
        F.lit(status).alias("status"), "attempts", "page_seq",
        F.lit(None).cast("string").alias("payload_kind"),
        F.lit(None).cast("string").alias("image_id"),
        F.lit(found).alias("found"), "priority",
        F.lit(0).alias("flaky_rejects"),
    ] + hash_cols


def _hex_path(parent: str, slot: str, idx: int) -> str:
    return f"{parent}{slot}{idx:08x}"


# URL fields the frontier has no column for, with their defaults: a
# source that sets one is refused, not fetched as a plain GET (retries
# is honored, through PageSpec.total_attempts)
_URL_UNCARRIED = {"method": "GET", "data": None, "headers": None,
                  "verify": True, "timeout": None}


def _source_url(src) -> str | None:
    """The url a page source (str, URL or NullSource) fetches, None for
    a NullSource. Raises ValueError naming the field when a URL sets an
    option in _URL_UNCARRIED."""
    if isinstance(src, NullSource):
        return None
    if isinstance(src, URL):
        for name, default in _URL_UNCARRIED.items():
            if getattr(src, name) != default:
                raise ValueError(
                    f"URL.{name}={getattr(src, name)!r} is not supported "
                    f"(sources are fetched as plain GETs): {src.url}")
        return src.url
    return str(src)


def _resolve_child_source(spec: PageSpec, child: ChildPage) -> str | None:
    """The child's url (None for a NullSource) with the reference's
    precedence: ctor arg > class attr > get_source_from_input
    (pages.py:157-166)."""
    src = child.source
    if src is None:
        src = spec.source
    if src is None and spec.source_from_input is not None:
        src = spec.source_from_input(child.input)
    if src is None:
        raise MissingSourceError(
            f"{spec.name} has no source or source_from_input"
        )
    return _source_url(src)


class _SkippedType:
    """Pickle-stable sentinel: cloudpickle captures nested-closure
    globals by value, so a bare ``object()`` sentinel would compare by
    identity against a different copy on the worker. ``__reduce__``
    pins deserialization to the singleton."""

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __reduce__(self):
        return (_SkippedType, ())


_SKIPPED = _SkippedType()


def _run_process(spec: PageSpec, ctx: PageCtx) -> list[Any]:
    """Run the page's processing hook, normalizing the reference's
    result-kind dispatch (scalar | Page | generator, pages.py:225-241)
    to a flat list."""
    if (
        spec.items_fn is not None
        or spec.selector is not None
        or spec.process_item is not None
    ):
        # ListPage semantics (pages.py:425-445)
        if spec.items_fn is not None:
            items = list(spec.items_fn(ctx))
        elif ctx.payload_kind == "csv":
            items = ctx.csv_rows
        elif ctx.payload_kind == "json":
            items = ctx.json if isinstance(ctx.json, list) else [ctx.json]
        elif ctx.payload_kind == "excel":
            from ..operators.parsers import parse_excel

            items = parse_excel(ctx.payload)
        elif spec.selector is not None:
            items = spec.selector.match(ctx.root)
        else:
            items = []
        out = []
        for item in items:
            if spec.process_item is None:
                out.append(item)
                continue
            try:
                out.append(spec.process_item(item, ctx))
            except SkipItem:
                out.append(_SKIPPED)
        return out
    if spec.process_page is None:
        return []
    result = spec.process_page(ctx)
    if result is None:
        return []
    if isinstance(result, (list, tuple)) or hasattr(result, "__next__"):
        return list(result)
    return [result]


def _make_transform(
    specs: dict[str, PageSpec], dep_values: dict[str, dict[str, Any]]
) -> Callable:
    """Build the mapInPandas body for hook-based specs: one dispatch
    over page_cls, single pass, emissions out. User hooks run here,
    Arrow-batched (same per-row semantics as the reference's hooks,
    amortized transfer)."""

    def _process_one(spec: PageSpec, row) -> list[tuple]:
        rows: list[tuple] = []
        parent_path = row.path
        attempts = int(row.attempts)
        if row.url is not None and attempts == 0:
            # fetched marker (seen-set source) emitted HERE so hook-class
            # rows are consumed in a single pass — no shared batch cache
            rows.append((
                "fetched", row.page_cls, parent_path, None, None, None,
                None, int(row.priority), int(row.page_seq), 0, None,
                int(row.url_hash), int(row.seen_key),
            ))
        payload = bytes(row.payload) if row.payload is not None else None
        links = list(row.links) if row.links is not None else None
        inp = load_input(row.input_json)
        extra_deps = {}
        if isinstance(inp, dict):
            # per-input dependency results ride reserved input keys
            # (PageRegistry._rewrite_per_input_deps); lift into deps
            pfx = PageRegistry.DEP_INPUT_PREFIX
            for k in [k for k in inp if k.startswith(pfx)]:
                extra_deps[k[len(pfx):]] = inp.pop(k)
        ctx = PageCtx(
            input=inp,
            url=row.url,
            status=int(row.status),
            payload=payload,
            links=links,
            next_url=row.next_url,
            attempts=attempts,
            page_seq=int(row.page_seq),
            payload_kind=spec.page_kind or row.payload_kind,
            image_id=row.image_id,
            flaky_rejects=int(row.flaky_rejects or 0),
            deps={**dep_values.get(spec.name, {}), **extra_deps},
            pdf_preserve_layout=spec.preserve_layout,
        )

        def paginate() -> None:
            if spec.next_source is None:
                return
            nxt = spec.next_source(ctx)
            if nxt is None:
                return
            url = _source_url(nxt)
            rows.append((
                "next", row.page_cls,
                _hex_path(parent_path, schemas.SLOT_PAGINATION,
                          int(row.page_seq) + 1),
                None, spec.name, url, row.input_json,
                int(row.priority), int(row.page_seq) + 1, 0, None,
            ))

        # ---- fetch-outcome gates (reference _fetch_data, pages.py:135-195)
        fetch_failed = (not row.found) or int(row.status) >= 400
        if row.url is not None and fetch_failed:
            if spec.handles_errors:
                # HandledError: nothing to emit, but pagination still
                # runs (pages.py:210-215)
                paginate()
                rows.append(("handled_error", row.page_cls, parent_path,
                             None, None, None, None, int(row.priority),
                             int(row.page_seq), 0,
                             f"status={row.status} found={row.found}"))
            else:
                rows.append(("error", row.page_cls, parent_path, None, None,
                             None, None, int(row.priority),
                             int(row.page_seq), 0,
                             f"HTTP error status={row.status} url={row.url}"))
            return rows

        if spec.accept_response is not None and row.url is not None:
            if not spec.accept_response(ctx):
                if attempts + 1 < spec.total_attempts():
                    rows.append(("requeue", row.page_cls, parent_path, None,
                                 spec.name, row.url, row.input_json,
                                 int(row.priority), int(row.page_seq),
                                 attempts + 1, None))
                else:
                    rows.append(("reject", row.page_cls, parent_path, None,
                                 None, None, None, int(row.priority),
                                 int(row.page_seq), attempts,
                                 f"RejectedResponse after "
                                 f"{spec.total_attempts()} attempts: {row.url}"))
                return rows

        # ---- process (reference process_page / ListPage loop)
        try:
            results = _run_process(spec, ctx)
        except UnsupportedDocumentError as e:
            # document shape the parser stack can't decode (LZW PDF,
            # unknown encoding, non-zip xlsx, malformed XML/JSON):
            # dead-letter with the reason instead of a silent empty
            # parse or an opaque task failure — user-code exceptions
            # still propagate (fail-fast semantics unchanged)
            rows.append(("error", row.page_cls, parent_path, None, None,
                         None, None, int(row.priority), int(row.page_seq),
                         0, f"parse_error: {e}"))
            return rows
        except SkipItem as e:
            # detail-page skip: nothing emitted, NO pagination
            # (pages.py:218-222)
            rows.append(("skip_page", row.page_cls, parent_path, None, None,
                         None, None, int(row.priority), int(row.page_seq),
                         0, str(e)))
            return rows

        idx = 0
        for res in results:
            if isinstance(res, _SkippedType):
                rows.append(("skip_item", row.page_cls, parent_path, None,
                             None, None, None, int(row.priority),
                             int(row.page_seq), 0, "SkipItem"))
                continue
            if isinstance(res, ChildPage):
                child_spec = specs[res.page_cls]
                child_url = _resolve_child_source(child_spec, res)
                pr = (
                    res.priority if res.priority is not None
                    else int(row.priority)
                )
                rows.append((
                    "child", row.page_cls,
                    _hex_path(parent_path, schemas.SLOT_CHILD, idx),
                    None, res.page_cls, child_url,
                    dump_input(res.input), pr, 0, 0, None,
                ))
            else:
                rows.append((
                    "item", row.page_cls,
                    _hex_path(parent_path, schemas.SLOT_CHILD, idx),
                    json.dumps(obj_to_dict(res), sort_keys=True),
                    None, None, None, int(row.priority),
                    int(row.page_seq), 0, None,
                ))
            idx += 1

        paginate()
        return rows

    def transform(batches):
        for pdf in batches:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                out.extend(
                    t if len(t) == len(_EMISSION_COLS) else t + (None, None)
                    for t in _process_one(specs[row.page_cls], row)
                )
            res = pd.DataFrame(out, columns=_EMISSION_COLS)
            # the hash columns mix int64 with None: a plain DataFrame
            # coerces them to float64, silently rounding away the low
            # bits of any |hash| > 2^53 (~99% of xxhash64 values) and
            # breaking the cross-wave seen-set exactly-once guarantee
            # for hook classes. Rebuild them as exact nullable Int64.
            res["url_hash"] = pd.array(
                [t[11] for t in out], dtype="Int64")
            res["seen_key"] = pd.array(
                [t[12] for t in out], dtype="Int64")
            yield res

    return transform


def _fetch_then_transform(fetch_fn: Callable, transform: Callable,
                          fetched_schema: pa.Schema) -> Callable:
    """The mapInPandas body of real-HTTP hook-class rows: fetch and
    transform in ONE Python pass instead of two chained UDF stages.
    Each fetched batch is passed through Arrow in ``fetched_schema``
    first, so the transform sees the values a separate fetch stage
    would hand it over the JVM: int64 hashes, int32 statuses, no float
    or null conjured by pandas dtype inference."""

    def as_arrow_batch(batches):
        for pdf in batches:
            yield pa.Table.from_pandas(
                pdf, schema=fetched_schema, preserve_index=False
            ).to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)

    def fetch_transform(batches):
        return transform(as_arrow_batch(fetch_fn(batches)))

    return fetch_transform


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        registry: PageRegistry,
        page_store: DataFrame | None = None,
        robots: DataFrame | None = None,
        config: CrawlConfig | None = None,
        fetch_fn=None,
    ):
        # fetch_fn: optional mapInPandas body replacing the page-store
        # join with real network fetches (sources/http_fetch.py) —
        # identical output schema, identical downstream wave
        self.fetch_fn = fetch_fn
        self.spark = spark
        self.registry = registry
        self.robots = robots
        # the robots rules, compiled by _load_robots once a wave is
        # about to run
        self._robots_loaded = False
        self._robots_rules = None
        self._robots_join = False
        self._robots_prefix_df = None
        self._robots_wild = None
        self.config = config or CrawlConfig()
        if self.config.checkpoint_every < 1:
            raise ValueError(
                f"checkpoint_every must be >= 1, got "
                f"{self.config.checkpoint_every}")
        self._nparts = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
        if page_store is not None:
            # projection kept in its source partitioning: the default
            # (broadcast-frontier) fetch never shuffles the store. The
            # url_hash-bucketed copy for the big-wave shuffle join is
            # built lazily on first use (the Iceberg deployment buckets
            # the table on url_hash instead). Both are cached for one
            # crawl() only (see crawl).
            self.page_store = page_store.select(
                "url_hash", "status", "payload_kind", "payload",
                "links", "next_url", "image_id", "flaky_rejects",
                F.col("canon_url").alias("store_url"),
            )
        else:
            self.page_store = None
        self._store_bykey = None
        # fetch-join strategy: a cluster wave of at most this many rows
        # broadcasts the slim frontier against the page store IN PLACE
        # (the payload-heavy store never shuffles); bigger waves take
        # the shuffle join against a url_hash-partitioned store copy.
        # The cap is a MEMORY BUDGET, 10% of the heap at ~150 B/row: a
        # fixed 4M-row cap OOM'd at Spark's stock 1 GiB driver, the
        # budget gives ~700k rows at 1 GiB and ~17M at 24 GiB.
        heap = _driver_heap(spark)
        self._bcast_fetch_max = _broadcast_rows_budget(spark, heap=heap)
        # driver-python-structure caps, derived from the provisioned
        # driver heap (the literals-don't-scale amber from round 4) so a
        # larger deployment widens the driver route instead of inheriting
        # a laptop literal: a python set key costs ~80 B (ints) to
        # ~130 B (with overhead), and 5% of heap is a safe residency
        # budget beside py4j + result buffers.
        # Driver-side store keyset (driver-route 404 detection): at or
        # below this many store rows the url_hash set is collected ONCE
        # and small-wave found/missing splits happen in Python (~650k
        # keys at Spark's stock 1 GiB, ~16M at 24 GiB); bigger stores
        # keep the in-plan anti-join.
        self._driver_store_keys_max = _broadcast_rows_budget(
            spark, 0.05, 80, heap)
        # Driver-resident seen-set twin: beyond this the twin is dropped
        # and cluster dedup owns the rest of the crawl. Deep chains add
        # O(1) keys/wave and never approach it; breadth-heavy crawls
        # lose the twin early via driver_wave_max anyway.
        self._driver_seen_max = _broadcast_rows_budget(
            spark, 0.05, 130, heap)
        # lazily-built wave-invariant Column cache (see _wave_exprs —
        # rebuilding expression trees every wave is driver-bound)
        self._dedup_agg = None

    def _load_robots(self) -> None:
        """Compile the robots rules ONCE per engine, on the first wave
        (a crawl that runs none, such as a resume probe, reads nothing):
        a small rule set into a Catalyst CASE expression
        (politeness.robots_allow_expr), since collecting the rules per
        wave would cost one job each."""
        if self._robots_loaded or self.robots is None:
            return
        self._robots_loaded = True
        # toArrow: ONE job; a limited collect() is two (it scans one
        # partition first, then the rest)
        rows = self.robots.limit(
            politeness_ops.ROBOTS_EXPR_MAX_RULES + 1
        ).toArrow().to_pylist()
        if len(rows) > politeness_ops.ROBOTS_EXPR_MAX_RULES:
            # oversized rule set: the CASE expression would silently
            # truncate to an arbitrary subset; use the broadcast-join
            # longest-match path per wave instead. Wildcard rules are
            # split out ONCE here (they ride a compiled expression on
            # top of the prefix join — collecting them per wave would
            # cost a job each).
            self._robots_join = True
            self._robots_prefix_df, self._robots_wild = (
                politeness_ops.split_robots_rules(self.robots)
            )
        else:
            self._robots_rules = [
                (r["host"], r["path_prefix"], bool(r["allow"]))
                for r in rows
            ]

    def _store_by_key(self) -> DataFrame:
        if self._store_bykey is None:
            self._store_bykey = self.page_store.repartition(
                self._nparts, "url_hash"
            ).persist()
        return self._store_bykey

    # ---------------------------------------------------------------- seeds
    def seed_frontier(self, seeds: list[dict]) -> DataFrame:
        """Build wave-0 frontier from seed dicts
        (page_cls, url?, input?, priority?). Source resolution follows
        the reference precedence (pages.py:157-166)."""
        # a LocalRelation: scanning it starts no Python worker
        return local_df(
            self.spark, self._seed_rows(seeds), schemas.FRONTIER_SCHEMA)

    def _seed_rows(self, seeds: list[dict]) -> list[tuple]:
        """The wave-0 frontier as FRONTIER_SCHEMA tuples, one per seed."""
        rows = []
        for i, s in enumerate(seeds):
            spec = self.registry[s["page_cls"]]
            url = s.get("url")
            if url is None:
                url = _resolve_child_source(
                    spec, ChildPage(page_cls=spec.name, input=s.get("input")))
            else:
                url = _source_url(url)
            rows.append(
                (
                    s["page_cls"],
                    url,
                    dump_input(s.get("input")),
                    schemas.root_path(s.get("seq", i)),
                    int(s.get("priority", 0)),
                    0,
                    0,
                    None,
                    None,
                )
            )
        return rows

    # ------------------------------------------------------------ materialize
    def _materialize(
        self, df: DataFrame, label: str, obs_exprs: list | None = None
    ):
        """Cut lineage + compute once at a wave boundary (SURVEY §4:
        the iterative-loop pitfall): a parquet write to the scratch dir
        and a schema-pinned re-read, a reliable cut (measured: flat
        ~1.3s/wave, where localCheckpoint's cost grew exponentially
        with the wave count on Spark 4.1). An Iceberg deployment makes
        this the snapshot commit.

        ``obs_exprs``: optional aggregate expressions piggybacked on the
        materialization job via ``Observation`` — row counts and
        emission-kind tallies come for free instead of costing an extra
        job each per wave. Returns (the re-read DataFrame, the observed
        values or None, the written dir)."""
        obs = None
        if obs_exprs:
            obs = Observation()
            df = df.observe(obs, *obs_exprs)
        self._spill_n += 1
        path = os.path.join(self._spill, f"{self._spill_n:05d}_{label}")
        df.write.mode("overwrite").parquet(path)
        # schema pinned: an inferring read runs a footer job per call
        out = self.spark.read.schema(df.schema).parquet(path)
        return out, (obs.get if obs is not None else None), path

    # ------------------------------------------------------------ seen union
    def _seen_union(self) -> DataFrame:
        """The accumulated seen set as ONE DataFrame, compacting slices
        lazily: deep crawls that dedup driver-side never pay the
        compaction materialization; the first wave that actually needs
        the cluster-side table (dedup anti-join, bloom backfill/regrow)
        triggers it."""
        if len(self._seen_slices) > 8:
            u, _, _ = self._materialize(
                _union_tree(self._seen_slices).coalesce(self._nparts),
                "seen_compact",
            )
            self._seen_slices = [u]
        if not self._seen_slices:
            return local_df(self.spark, [], SEEN_SCHEMA)
        return _union_tree(self._seen_slices)

    # ---------------------------------------------------------------- crawl
    def crawl(self, seeds: list[dict]) -> CrawlResult:
        """Run waves until the frontier drains or ``max_waves`` stops
        the crawl; each wave runs the phase methods in the order the
        module docstring lists them.

        The page-store projection is cached for the crawl, and so is
        its url_hash-partitioned copy once a shuffle fetch builds it.
        Every wave lands its emissions, so no result reads the store:
        both caches are released when the crawl returns or raises."""
        self._store_bykey = None
        if self.page_store is not None:
            self.page_store.persist()
        try:
            return self._crawl(seeds)
        finally:
            for df in (self.page_store, self._store_bykey):
                if df is not None:
                    df.unpersist()

    def _crawl(self, seeds: list[dict]) -> CrawlResult:
        cfg = self.config
        (frontier, frontier_rows, n_frontier, start_wave, results,
         metrics_rows, null_urls) = self._begin(seeds)
        ex = None  # built once a wave is about to run
        dead: list[DataFrame] = []
        # frontier_rows: the wave's frontier as FRONTIER_SCHEMA tuples
        # when the driver holds it (the seeds, a driver-held wave's
        # output, a resumed frontier read with pyarrow), else None.
        # prev_total: the previous wave's emission total (None: unknown)
        prev_total = _resumed_total(metrics_rows)
        # seed lists hold attempts=0 rows only; a resumed frontier may
        # carry in-flight requeues
        requeues = start_wave > 0
        wave = start_wave
        while True:
            t = [_time.time()]
            if n_frontier is None:
                # stat-less resume / Iceberg: one count (also sizes the
                # fetch strategy — broadcast vs shuffle join)
                n_frontier = frontier.count()
            if n_frontier == 0:
                break
            self._tick(wave, "count", t)
            if cfg.max_waves is not None and wave >= cfg.max_waves + start_wave:
                break
            if ex is None:
                # per-crawl set-up a crawl that runs no wave never pays
                ex = self._wave_exprs()
                self._refill_twin()
                if frontier_rows is None:
                    frontier_rows = self._resumed_rows(n_frontier)
            # size the wave by its likely OUTPUT, not its input: the
            # previous wave's emission total is the fan-out-aware
            # estimator (a wave of list pages explodes ~fan-out×)
            est = max(n_frontier, prev_total or 0)
            self._wave_bloom_fpr = None  # set by a probing _dedup
            # the driver route: schedule and dedup over driver rows
            driver = (self._py_seen is not None
                      and n_frontier <= cfg.driver_wave_max)
            split = self._split(n_frontier)
            if driver:
                rows, null_rows, unfetched = self._dedup_driver(
                    frontier, frontier_rows, n_frontier, ex)
                fetched, hooked, nullsrc = self._fetch_local(
                    rows, null_rows, ex)
            else:
                fetchable, nullsrc, unfetched = self._schedule(
                    frontier, n_frontier, ex, null_urls)
                fetched, hooked = self._fetch_wave(
                    self._dedup(fetchable, self._seen_union(), requeues),
                    n_frontier <= self._bcast_fetch_max, ex)
            if (fetched is None and hooked is None and nullsrc is None
                    and not unfetched):
                # every candidate was already seen: a no-op wave —
                # skip the Spark job entirely
                landed = _Landed(
                    local_df(self.spark, [], _EMISSION_OUT_SCHEMA), [],
                    dict.fromkeys(_KIND_NAMES, 0), False, False)
            else:
                emissions = self._transform(
                    fetched, hooked, nullsrc, unfetched, ex)
                landed = self._land(emissions, ex, est, prev_total, driver)
            prev_total = sum(landed.counts.values())
            requeues, null_urls = landed.requeues, landed.null_urls
            n_frontier = sum(landed.counts[k] for k in ex.followed)
            self._tick(wave, "emissions ckpt", t)
            row = _metrics_row(wave, landed.counts, self._wave_bloom_fpr,
                               driver, split)
            items = (_scout_projection if cfg.scout else _item_projection)(
                landed.emissions, wave)
            results.append(items)
            dead.append(self._dead_letters(landed.emissions, wave, row["dead"]))
            new_seen = self._update_seen(landed, n_frontier)
            self._tick(wave, "seen update", t)
            frontier, frontier_rows = self._next_frontier(landed, ex)
            self._tick(wave, "frontier derive", t)
            metrics_rows.append(row)
            self._commit(wave, start_wave, landed, frontier, frontier_rows,
                         new_seen, items, metrics_rows)
            self._tick(wave, "commit", t)
            wave += 1
        return self._finish(wave, start_wave, results, dead, metrics_rows)

    # ------------------------------------------------------------ wave phases
    def _begin(self, seeds: list[dict]):
        """Reset the per-crawl state, and resume from the latest
        committed snapshot when there is one. Returns (frontier, its
        rows as FRONTIER_SCHEMA tuples when the driver holds them (the
        seeds; a resumed frontier is read by _resumed_rows once a wave
        runs), its row count or None when unknown, start wave, resumed
        results, resumed metrics rows, whether the frontier can hold a
        null-url row)."""
        cfg = self.config
        self._store = open_snapshots(self.spark, cfg)
        if self._store is None and (cfg.checkpoint_every != 1
                                    or cfg.checkpoint_async):
            warnings.warn(
                "checkpoint_every/checkpoint_async have no effect "
                "without checkpoint_dir or iceberg_table_prefix: "
                "this crawl commits no snapshot", stacklevel=3)
        self._spill_n = 0
        self._spill = cfg.spill_dir or tempfile.mkdtemp(prefix="spatula_spill_")
        os.makedirs(self._spill, exist_ok=True)
        self._seen_slices: list[DataFrame] = []
        # seen slices not yet folded into the Bloom filter: the fold
        # runs only when a wave is about to probe it (see _dedup)
        self._bloom_pending: list[DataFrame] = []
        # the every-K window's snapshot views: DataFrames, or Arrow
        # tables of driver-held waves (see _commit)
        self._ckpt_items: list[DataFrame | pa.Table] = []
        self._ckpt_seen: list[DataFrame | pa.Table] = []
        self._ckpt_frontier = None
        self._ckpt_future = None
        self._ckpt_pool = (
            ThreadPoolExecutor(max_workers=1, thread_name_prefix="ckpt")
            if cfg.checkpoint_async and self._store is not None else None)
        self._seen_count = 0
        # driver-resident twin of the seen set (exact (url_hash,
        # seen_key) pairs) — alive while every wave's new keys were
        # small enough to land on the driver; enables the zero-shuffle
        # small-wave dedup (the driver route). Killed (None) the moment
        # a wave's key count exceeds driver_wave_max; cluster dedup
        # takes over seamlessly. A resumed seen set refills it once a
        # wave is about to run (_refill_twin).
        self._py_seen: set[tuple[int, int]] | None = (
            set() if cfg.driver_wave_max else None)
        self._bloom = (
            seen_ops.ShardedBloom(
                _BLOOM_SHARDS, _BLOOM_SHARD_CAPACITY, _BLOOM_FPR)
            if cfg.bloom_min_seen is not None else None
        )
        resumed = self._store and self._store.resume()
        # the resumed snapshot's files, read with pyarrow once a wave
        # runs (_refill_twin, _resumed_rows); None for a seen set that
        # can vanish mid-crawl, or a store that names no files
        self._resumed_files = None
        if resumed is None:
            rows = self._seed_rows(seeds)
            return (local_df(self.spark, rows, schemas.FRONTIER_SCHEMA),
                    rows, len(rows), 0, [], [],
                    any(r[1] is None for r in rows))
        if resumed.frontier_dir is not None and not self._store.seen_volatile:
            self._resumed_files = resumed
        rseen = resumed.seen
        self._seen_count = (rseen.count() if resumed.n_seen is None
                            else resumed.n_seen)
        if self._seen_count:
            if self._store.seen_volatile:
                # the snapshot's seen files can vanish mid-crawl: keep a
                # private copy. Otherwise the slice reads them in place.
                rseen, _, _ = self._materialize(rseen, "seen_resume")
            self._seen_slices.append(rseen)
            self._bloom_pending.append(rseen)
        # a resumed frontier's null urls are unknown
        return (resumed.frontier, None, resumed.n_frontier,
                resumed.next_wave, [resumed.items], resumed.metrics_rows,
                True)

    def _refill_twin(self) -> None:
        """Load a resumed seen set into the twin when it has at most
        _driver_seen_max keys, else drop the twin: read with pyarrow
        from the snapshot's seen files when _begin kept them (no Spark
        job), else one collect."""
        if self._py_seen is None or not self._seen_count:
            return
        self._py_seen = None
        if self._seen_count <= self._driver_seen_max:
            files = self._resumed_files
            seen = (self._seen_union().toArrow() if files is None
                    else read_parquet_dirs(files.seen_dirs, SEEN_SCHEMA))
            self._py_seen = set(zip(seen["url_hash"].to_pylist(),
                                    seen["seen_key"].to_pylist()))

    def _resumed_rows(self, n_frontier: int) -> list[tuple] | None:
        """The resumed frontier as FRONTIER_SCHEMA tuples, read with
        pyarrow from the snapshot (no Spark job, schema-pinned: a
        frontier written before hash-at-emission reads null hashes)
        when _begin kept its files and the wave takes the driver route;
        else None."""
        files = self._resumed_files
        if (files is None or self._py_seen is None
                or n_frontier > self.config.driver_wave_max):
            return None
        table = read_parquet_dirs([files.frontier_dir],
                                  schemas.FRONTIER_SCHEMA)
        return list(zip(*(c.to_pylist() for c in table.columns)))

    def _wave_exprs(self) -> SimpleNamespace:
        """The wave-invariant expression cache, built ONCE per crawl.

        pyspark Column objects are DataFrame-independent expression
        trees, but BUILDING them costs real driver time (one py4j
        round-trip per operator; a single class's emission array
        measured ~0.2 s to construct). Rebuilding them every wave made
        deep-chain crawls driver-bound: the event log showed ~1 s of
        job-free driver gap per wave against ~0.3 s of actual cluster
        work. Everything that does not depend on the wave number is
        built here and passed to the phases."""
        self._load_robots()
        specs = self.registry.specs()
        native_cls = [
            n for n, s in specs.items() if s.native_emit_array is not None
        ]
        hook_cls = [n for n in specs if n not in native_cls]
        # fetched marker (seen-set source) ++ per-class native arrays;
        # exactly ONE consumer per batch row
        marker_expr = F.when(
            F.col("url").isNotNull() & (F.col("attempts") == 0),
            N.one(N.emission("fetched", url_hash=F.col("url_hash"),
                             seen_key=F.col("seen_key"),
                             attempts=F.col("attempts"))),
        ).otherwise(N.empty_emissions())
        cls_arr = None
        for name in native_cls:
            arr = self._class_emission_array(specs[name])
            cond = F.col("page_cls") == name
            cls_arr = (
                F.when(cond, arr) if cls_arr is None
                else cls_arr.when(cond, arr)
            )
        per_row_expr = marker_expr
        if cls_arr is not None:
            per_row_expr = F.concat(
                marker_expr, F.coalesce(cls_arr, N.empty_emissions())
            )

        # frontier-bound emission kinds: scout mode reports children
        # without following them
        followed = ["next", "requeue", "deferred"] + (
            [] if self.config.scout else ["child"]
        )
        # hash-at-emission: frontier-bound emissions carry their child's
        # page-identity hashes out of the SAME projection that built
        # them (CSE shares the canonicalize subtree), so the next wave's
        # dedup needs no recompute — and a driver-materialized wave can
        # dedup in pure Python with zero Spark stages. Hook-class
        # (Arrow) emissions leave them null; the cluster path coalesces
        # a recompute in.
        fr_kind_cond = (
            F.col("emit_kind").isin(*followed)
            & F.col("child_url").isNotNull()
            # invalid URLs keep a null hash: parse_url THROWS on them,
            # and the legacy failure point is the next wave's fetchable
            # prep (scout mode never follows children, so a malformed
            # child link must not fail the scout wave)
            & F.try_parse_url(
                F.trim(F.col("child_url")), F.lit("HOST")).isNotNull()
        )
        child_uh = url_hash(canonicalize_url(F.col("child_url")))
        emit_hash_cols = [
            c for c in _EMISSION_COLS if c not in ("url_hash", "seen_key")
        ] + [
            F.when(
                fr_kind_cond, F.coalesce(F.col("url_hash"), child_uh)
            ).otherwise(F.col("url_hash")).alias("url_hash"),
            F.when(
                fr_kind_cond,
                F.coalesce(
                    F.col("seen_key"),
                    F.xxhash64(
                        F.col("child_cls"),
                        F.coalesce(F.col("url_hash"), child_uh),
                        F.coalesce(F.col("child_input_json"), F.lit("\x00")),
                    ),
                ),
            ).otherwise(F.col("seen_key")).alias("seen_key"),
        ]
        transform = _make_transform(specs, self._resolve_dependencies())
        fate = F.col("_fate")
        return SimpleNamespace(
            hook_cls=hook_cls,
            native_cls=native_cls,
            transform=transform,
            fetch_transform=self.fetch_fn and _fetch_then_transform(
                self.fetch_fn, transform,
                to_arrow_schema(_struct(FETCHED_SCHEMA))),
            per_row=per_row_expr,
            host=host_of(F.col("url")),
            canon=canonicalize_url(F.col("url")),
            uhash=url_hash(F.col("canon_url")),
            # page identity = (class, canonical URL, input): the
            # reference processes every Page instance — its response
            # cache only skips the HTTP call, not processing — so the
            # seen set / first-wins dedup must NOT collapse distinct
            # (cls, input) pairs sharing one URL.
            seen_key=F.xxhash64(
                F.col("page_cls"), F.col("url_hash"),
                F.coalesce(F.col("input_json"), F.lit("\x00")),
            ),
            robots_allowed=(
                politeness_ops.robots_allow_expr(self._robots_rules)
                if self._robots_rules else None
            ),
            # fetched-row projections of the fetch join: store hits,
            # and not-in-store (404) rows
            found_cols=[
                "page_cls", "path", "url", "input_json", "payload",
                "links", "next_url",
                F.coalesce(F.col("status"), F.lit(404)).alias("status"),
                "attempts", "page_seq", "payload_kind", "image_id",
                F.col("store_url").isNotNull().alias("found"),
                "priority",
                # synthetic flakiness: how many leading attempts the
                # "server" degrades — consumed by accept hooks
                F.coalesce(F.col("flaky_rejects"), F.lit(0))
                .alias("flaky_rejects"),
                "url_hash", "seen_key",
            ],
            missing_cols=_payloadless_cols(
                404, False, ["url_hash", "seen_key"]),
            nullsrc_cols=_payloadless_cols(200, True, [
                F.lit(None).cast("long").alias("url_hash"),
                F.lit(None).cast("long").alias("seen_key"),
            ]),
            # a frontier row re-emitted unfetched: its fate is the
            # emission kind (robots-blocked, or politeness-deferred)
            unfetched_cols=[
                fate.alias("emit_kind"),
                F.col("page_cls").alias("src_cls"), "path",
                F.lit(None).cast("string").alias("item_json"),
                F.when(fate == "deferred", F.col("page_cls"))
                .alias("child_cls"),
                F.col("url").alias("child_url"),
                F.col("input_json").alias("child_input_json"),
                "priority", "page_seq", "attempts",
                F.when(fate == "blocked", F.lit("robots.txt disallow"))
                .alias("error"),
            ],
            obs_aggs=[
                F.count(F.when(F.col("emit_kind") == k, 1)).alias(k)
                for k in _KIND_NAMES
            ] + [F.count(F.when(
                (F.col("emit_kind") == "deferred") & (F.col("attempts") > 0),
                1,
            )).alias("_deferred_requeues"), F.count(F.when(
                F.col("emit_kind").isin(followed)
                & F.col("child_url").isNull(),
                1,
            )).alias("_null_urls")],
            followed=followed,
            frontier_cols=[
                F.col("child_cls").alias("page_cls"),
                F.col("child_url").alias("url"),
                F.col("child_input_json").alias("input_json"),
                F.col("path"),
                F.col("priority"),
                F.col("attempts"),
                F.col("page_seq"),
                F.col("url_hash"),
                F.col("seen_key"),
            ],
            emit_hash_cols=emit_hash_cols,
        )

    def _tick(self, wave: int, label: str, t: list) -> None:
        """``verbose``: print the seconds since the wave's previous tick
        (``t[0]``) to stderr, with an absolute epoch stamp so two
        concurrent legs' step streams align on one wall clock."""
        if self.config.verbose:
            now = _time.time()
            print(f"  [wave {wave}] {label}: {now - t[0]:.2f}s"
                  f" @{now:.2f}",
                  file=sys.stderr, flush=True)
            t[0] = now

    def _split(self, n_frontier: int) -> bool:
        """Whether the wave takes the politeness split (F5): not when the
        WHOLE wave fits inside the host budget, which makes the limiter
        a provable no-op."""
        budget = self.config.host_budget_per_wave
        return budget is not None and n_frontier > budget

    def _tag(self, frontier: DataFrame, n_frontier: int, ex,
             null_urls: bool = True):
        """ONE tagged frontier, each row's ``_fate`` decided in this
        precedence — politeness-deferred, then null-source, then
        robots-blocked, else fetch (so null-source rows are never
        deferred or blocked, and deferred rows skip the robots check) —
        with the fetch key columns of the fetch rows. The null-source
        arm exists only when ``null_urls`` says the frontier can hold a
        null-url row (True when unknown). Returns (the tagged frame, the
        fates its rows can have). The cluster route's schedule; the
        driver route decides the same fates in Python
        (_schedule_rows)."""
        tagged = frontier.withColumn("host", ex.host)
        # (condition, fate) arms in precedence order; the first that
        # holds decides, and a row no arm claims is fetched
        arms = [(F.col("url").isNull(), "nullsrc")] if null_urls else []
        if self._split(n_frontier):
            # politeness budget: overflow deferred, paths untouched
            tagged = politeness_ops.split_by_host_budget(
                tagged, self.config.host_budget_per_wave)
            arms.insert(0, (F.col("_deferred"), "deferred"))
        # robots (F6): precompiled CASE expression when the rule set is
        # small; broadcast-join longest-prefix path when it isn't (never
        # a silent truncation). Blocked rows become 'blocked' emissions
        # so the count rides the wave Observation for free.
        if ex.robots_allowed is not None:
            arms.append((~ex.robots_allowed, "blocked"))
        elif self._robots_join:
            tagged = politeness_ops.robots_broadcast_join(
                tagged, self._robots_prefix_df, self._robots_wild)
            arms.append((~F.col("_allowed"), "blocked"))
        fate = None
        for cond, kind in arms:
            fate = (F.when(cond, kind) if fate is None
                    else fate.when(cond, kind))
        fate = F.lit("fetch") if fate is None else fate.otherwise("fetch")
        is_fetch = F.col("_fate") == "fetch"
        return tagged.withColumn(
            "_fate", fate
        ).drop("_deferred", "_allowed").withColumn(
            "canon_url", F.when(is_fetch, ex.canon)
        ).withColumn(
            # hash-at-emission already computed these for native-class
            # children; recompute where null
            "url_hash",
            F.when(is_fetch, F.coalesce(F.col("url_hash"), ex.uhash)),
        ).withColumn(
            "seen_key",
            F.when(is_fetch, F.coalesce(F.col("seen_key"), ex.seen_key)),
        ), {"fetch"} | {kind for _, kind in arms}

    def _schedule(self, frontier: DataFrame, n_frontier: int, ex,
                  null_urls: bool = True):
        """Schedule phase of a cluster wave: every branch is a filter
        over _tag's one frame, and a branch whose fate no row can have
        is not planned. Returns (fetchable rows, null-source rows or
        None, the unfetched emission parts)."""
        tagged, fates = self._tag(frontier, n_frontier, ex, null_urls)
        nullsrc = (tagged.filter(F.col("_fate") == "nullsrc")
                   if "nullsrc" in fates else None)
        return (tagged.filter(F.col("_fate") == "fetch").drop("_fate"),
                nullsrc, _unfetched(tagged, fates, ex))

    def _dedup_driver(self, frontier: DataFrame, rows: list[tuple] | None,
                      n_frontier: int, ex):
        """Schedule and dedup phases of a driver-route wave, in the
        cluster order: the schedule is _schedule_rows' when a politeness
        split or robots rules apply or a row lacks its hashes, else the
        driver-held rows as they are; then first-wins (min path) and the
        seen check against the twin in Python, which requeues bypass as
        in _dedup. Driver-held rows take no Spark job. Returns (rows to
        fetch, null-source rows) as FRONTIER_SCHEMA tuples, and the
        unfetched emission parts."""
        unfetched = []
        # FRONTIER_SCHEMA tuple slots: 1=url 3=path 5=attempts
        # 7=url_hash 8=seen_key
        if (rows is None or self._split(n_frontier)
                or ex.robots_allowed is not None or self._robots_join
                or any(r[1] is not None and (r[7] is None or r[8] is None)
                       for r in rows)):
            rows, unfetched = self._schedule_rows(
                frontier, rows, n_frontier, ex)
        best: dict[tuple[int, int], tuple] = {}
        requeued, null_rows = [], []
        for r in rows:
            if r[1] is None:
                null_rows.append(r)
            elif r[5]:
                requeued.append(r)
            elif (k := (r[7], r[8])) not in self._py_seen and (
                    k not in best or r[3] < best[k][3]):
                best[k] = r  # first-wins = min path
        return [*best.values(), *requeued], null_rows, unfetched

    def _schedule_rows(self, frontier: DataFrame, rows: list[tuple] | None,
                       n_frontier: int, ex):
        """_tag's schedule decided on the driver. One projection gives
        each row its host, the fetch hashes _tag coalesces in, and its
        robots verdict (the same ``ex`` Columns). Over driver-held rows
        it runs on a LocalRelation (``createDataFrame`` of an Arrow
        table, not ``local_df``, whose coalesce(1) stops the fold):
        Catalyst's ConvertToLocalRelation evaluates it on the driver, so
        the collect starts no Spark job. Rows the driver does not hold
        are projected from ``frontier``, and an oversized robots rule
        set takes its broadcast join: one job either way. Fates then
        follow _tag's precedence in Python: politeness-deferred
        (_host_budget_deferred, split_by_host_budget's rule), then
        null-source, then robots-blocked, else fetch. Returns (the fetch
        and null-source rows as FRONTIER_SCHEMA tuples, only fetch rows
        keeping their hashes, and the unfetched emission parts)."""
        src = frontier if rows is None else self.spark.createDataFrame(
            arrow_table(rows, schemas.FRONTIER_SCHEMA),
            schemas.FRONTIER_SCHEMA)
        sched = src.withColumns({"host": ex.host, "canon_url": ex.canon}) \
            .withColumn("url_hash", F.coalesce(F.col("url_hash"), ex.uhash)) \
            .withColumn("seen_key", F.coalesce(F.col("seen_key"),
                                               ex.seen_key))
        allowed = F.lit(True)
        if ex.robots_allowed is not None:
            allowed = ex.robots_allowed
        elif self._robots_join:
            sched = politeness_ops.robots_broadcast_join(
                sched, self._robots_prefix_df, self._robots_wild)
            allowed = F.col("_allowed")
        # projected tuple slots: 0-8 FRONTIER_SCHEMA, 9=host, 10=allowed
        got = sched.select(*schemas.FRONTIER_SCHEMA.names, "host",
                           allowed).collect()
        deferred = (
            _host_budget_deferred(got, [r[9] for r in got],
                                  self.config.host_budget_per_wave)
            if self._split(n_frontier) else [False] * len(got))
        kept, parked = [], []
        for r, d in zip(got, deferred):
            if d or (r[1] is not None and not r[10]):
                parked.append((*r[:7], None, None,
                               "deferred" if d else "blocked"))
            else:
                kept.append(r[:9] if r[1] is not None
                            else (*r[:7], None, None))
        return kept, [local_df(self.spark, parked, _PARKED_SCHEMA)
                      .select(*ex.unfetched_cols)] if parked else []

    def _transform(self, fetched: DataFrame | None,
                   hooked: DataFrame | None, nullsrc: DataFrame | None,
                   unfetched: list[DataFrame], ex) -> DataFrame:
        """Transform phase: the wave's emission rows, not yet
        materialized — the fetched batch (plus null-source rows)
        through its per-class transform, and the unfetched parts.

        Exactly ONE consumer per batch row — native-class rows go
        through the single native projection (marker ++ class arrays,
        exploded once), hook-class rows through the Arrow transform
        which emits its own markers. ``hooked``: the hook-class
        emissions the fused real-HTTP fetch already produced (see
        _fetch_wave); ``fetched`` then holds native-class rows only, and
        only null-source rows of a hook class still take the transform
        here. A leg with no class, or no input, is not built. No shared
        batch cache: payload-heavy rows stream straight through their
        one pass (a per-wave payload cache is 10s of GB at 10^6-row
        waves and was the old OOM ceiling). Robots-blocked and
        politeness-deferred rows ride the same stream: ONE
        materialization per wave carries everything, their counts land
        in the wave's tallies, and the next frontier is a narrow filter
        over the landed rows (measured: a second write+read per wave was
        the per-wave fixed-cost floor)."""
        if nullsrc is not None:
            nullsrc = nullsrc.select(*ex.nullsrc_cols)
        parts = [] if hooked is None else [hooked]
        batch = [df for df in (fetched, nullsrc) if df is not None]
        if batch and ex.native_cls:
            parts.append(
                _union_tree(batch).select(*_BATCH_SELECT)
                .filter(F.col("page_cls").isin(ex.native_cls))
                .select(F.explode(ex.per_row).alias("e")).select("e.*"))
        if hooked is not None:
            # the fused fetch already transformed the fetched hook rows
            batch = [nullsrc] if nullsrc is not None else []
        if batch and ex.hook_cls:
            parts.append(
                _union_tree(batch).select(*_BATCH_SELECT)
                .filter(F.col("page_cls").isin(ex.hook_cls))
                .mapInPandas(ex.transform, _EMISSION_OUT_SCHEMA))
        return _union_tree(parts + unfetched, allow_missing=True)

    def _land(self, emissions: DataFrame, ex, est: int,
              prev_total: int | None, local_frontier: bool) -> _Landed:
        """Materialize phase: compute the wave's emissions once; every
        later read of the wave scans what this lands.

        A small wave (size estimate ``est`` at or below
        driver_wave_max) lands on the driver as one Arrow table — kind
        counts tallied in Python, no Observation, no spill round-trip —
        and is re-planted as a one-partition LocalRelation. Wave 0
        never does (no fan-out history to estimate with: a seed wave
        of list pages can explode 1000x). Hash-at-emission
        (``emit_hash_cols``) applies ONLY here: the hashes serve solely
        the next wave's driver-side dedup. Other waves write scratch
        parquet, with the kind tallies riding the write as an
        Observation; when those prove the wave small after all (wave 0,
        a resumed leg's first wave), its rows are read back with
        pyarrow — no Spark job, and driver_wave_max bounds the memory —
        so every wave within the cap is driver-held (``rows`` set)."""
        cfg = self.config
        if not (cfg.driver_wave_max and prev_total is not None
                and est <= cfg.driver_wave_max):
            # bound partition count: a union's partitioning is the SUM
            # of its children's — left unchecked the per-wave union
            # fan-in compounds geometrically across waves (7×(P+8) per
            # wave). coalesce is narrow (no shuffle).
            out, m, path = self._materialize(
                emissions.coalesce(self._wave_partitions(est, prev_total)),
                "emissions", ex.obs_aggs,
            )
            counts = {k: int(m[k]) for k in _KIND_NAMES}
            rows = None
            total = sum(counts.values())
            if cfg.driver_wave_max and total <= cfg.driver_wave_max:
                rows = pq.read_table(path, schema=to_arrow_schema(
                    _struct(_EMISSION_OUT_SCHEMA))).to_pylist()
            return _Landed(
                out, rows, counts,
                bool(m["requeue"] or m["_deferred_requeues"]),
                bool(m["_null_urls"]))
        # a driver-local frontier's plan has zero shuffle stages, so
        # AQE re-planning is pure overhead (~8% of a 13-wave tree crawl)
        aqe_off = {"spark.sql.adaptive.enabled": "false"}
        with scoped_conf(self.spark, aqe_off if local_frontier else {}):
            table = emissions.select(*ex.emit_hash_cols).toArrow()
        rows = table.to_pylist()
        counts = dict.fromkeys(_KIND_NAMES, 0) | Counter(
            r["emit_kind"] for r in rows)
        requeues = counts["requeue"] > 0 or any(
            r["emit_kind"] == "deferred" and (r["attempts"] or 0) > 0
            for r in rows)
        null_urls = any(r["emit_kind"] in ex.followed
                        and r["child_url"] is None for r in rows)
        # ONE partition: plain createDataFrame parallelizes to
        # defaultParallelism slices, and per-wave unions then compound
        # task counts geometrically (measured 161 → 417 tasks/stage by
        # wave 12 of a tree crawl)
        return _Landed(local_df(self.spark, table, _EMISSION_OUT_SCHEMA),
                       rows, counts, requeues, null_urls)

    def _wave_partitions(self, est: int, prev_total: int | None) -> int:
        """Coalesce width of a parquet-landed wave. Tiny waves at full
        fan-out pay per-task/per-file overhead for nothing (measured 2x
        on deep chains); big waves keep full width. Sized by ``est``,
        the wave's likely OUTPUT: sizing by input once collapsed a
        1994-seed wave's 2M-child explode+write into 8 tasks — a
        core-count-independent serial floor. Wave 0 (no history) keeps
        full width."""
        if not prev_total:
            return self._nparts
        # cap at 2x the session width: big waves keep extra partitions
        # so per-row cost variance (image decode) amortizes instead of
        # straggling the stage tail. The payload-row ceiling is the
        # scale guard: the wave coalesce collapses the whole
        # fetch+decode+write stage to this width, so a 2x-cores cap
        # alone puts est/(2N) payload rows in ONE task — 250k rows/task
        # at N=4 on a 2M-row wave, and multi-GB tasks on a 10^10-row
        # frontier regardless of cluster width. Partition count must
        # track DATA size once waves outgrow the session width: ~64k
        # payload rows per task keeps Arrow batches, python worker
        # residency, and parquet writer buffers flat at any frontier
        # size.
        return max(
            min(8, self._nparts),
            min(self._nparts * 2, est // 5000 + 1),
            min(est // _WAVE_ROWS_PER_PART + 1, 16384),
        )

    def _dead_letters(self, emissions: DataFrame, wave: int,
                      n_dead: int) -> DataFrame:
        """The wave's dead-letter rows (errors, rejects, robots-blocked);
        raises CrawlError on an error or reject under ``fail_fast``."""
        dead = emissions.filter(
            F.col("emit_kind").isin(*_DEAD_KINDS, "blocked"))
        if self.config.fail_fast and n_dead:
            samples = dead.filter(
                F.col("emit_kind").isin(*_DEAD_KINDS)
            ).select("error").take(3)
            raise CrawlError(f"wave {wave}: {[s['error'] for s in samples]}")
        return dead

    def _update_seen(self, landed: _Landed,
                     n_next: int) -> DataFrame | None:
        """Seen phase: seen ∪= this wave's first-attempt hashes, which
        are already unique (in-wave first-wins + the seen anti-join
        guarantee it; errored fetches are consumed too, matching the
        reference where an attempted URL is never re-fetched). No
        global distinct — that would reshuffle the whole seen set every
        wave. Returns the wave's new seen rows, or None when it fetched
        nothing."""
        n_new = landed.counts["fetched"]
        if not n_new:
            return None
        # APPEND-ONLY with zero extra writes: the wave's new hashes
        # already live in the landed emissions (the 'fetched' marker
        # rows); the seen "table" is the union of those per-wave slices
        # — parquet column pruning + the emit_kind predicate keep each
        # scan to one slim column. (An Iceberg deployment appends to a
        # real table instead; rewriting the accumulated set per wave
        # would be O(total)/wave — impossible at 10^10.)
        new_seen = landed.emissions.filter(
            F.col("emit_kind") == "fetched"
        ).select("url_hash", "seen_key")
        self._seen_slices.append(new_seen)
        self._bloom_pending.append(new_seen)
        self._seen_count += n_new
        # Python seen-set twin: fed from the driver-landed rows (free);
        # a cluster wave keeps it alive with one tiny pruned collect
        # ONLY when the next wave is small enough to use it — otherwise
        # the twin dies and cluster dedup owns the rest of the crawl.
        cap = self.config.driver_wave_max
        if self._py_seen is not None:
            if landed.rows is not None:
                self._py_seen.update(
                    (r["url_hash"], r["seen_key"])
                    for r in landed.rows if r["emit_kind"] == "fetched"
                )
            elif n_new <= cap and n_next <= cap:
                self._py_seen.update(
                    (r["url_hash"], r["seen_key"])
                    for r in new_seen.collect()
                )
            else:
                self._py_seen = None
            if (
                self._py_seen is not None
                and len(self._py_seen) > self._driver_seen_max
            ):
                self._py_seen = None  # driver-memory cap
        return new_seen

    def _next_frontier(self, landed: _Landed, ex):
        """Next-frontier phase: a narrow filter over the ALREADY landed
        emissions — no second write+read. Lineage stays bounded: every
        wave's frontier derives from exactly one landed scan (deferred
        rows were folded into the emissions). Returns (frontier, the
        same rows as FRONTIER_SCHEMA tuples for the next wave's
        driver-side dedup and the snapshot when the wave is
        driver-held, else None)."""
        frontier = landed.emissions.filter(
            F.col("emit_kind").isin(ex.followed)
        ).select(*ex.frontier_cols)
        if landed.rows is None:
            return frontier, None
        return frontier, [
            (r["child_cls"], r["child_url"], r["child_input_json"],
             r["path"], int(r["priority"] or 0), int(r["attempts"] or 0),
             int(r["page_seq"] or 0), r["url_hash"], r["seen_key"])
            for r in landed.rows if r["emit_kind"] in ex.followed
        ]

    def _commit(self, wave: int, start_wave: int, landed: _Landed,
                frontier: DataFrame, frontier_rows: list[tuple] | None,
                new_seen: DataFrame | None, items: DataFrame,
                metrics_rows: list[dict]) -> None:
        """Commit phase: accumulate the wave's item and seen deltas and,
        every ``checkpoint_every`` waves, commit their union since the
        last commit to the snapshot store (plans/snapshots.py).

        A driver-held wave's views are Arrow tables built from the rows
        the driver holds: the frontier tuples, the fetched (url_hash,
        seen_key) pairs, and the item rows ``_item_projection`` selects
        (scout items keep their Catalyst projection), so its snapshot
        write starts no Spark job. Other waves' views are the
        DataFrames over the landed emissions."""
        if self._store is None:
            return
        rows = landed.rows
        if rows is not None:
            frontier = arrow_table(frontier_rows, schemas.FRONTIER_SCHEMA)
            if new_seen is not None:
                new_seen = arrow_table(
                    [(r["url_hash"], r["seen_key"]) for r in rows
                     if r["emit_kind"] == "fetched"], SEEN_SCHEMA)
            if not self.config.scout:
                items = arrow_table(
                    [(r["path"], r["src_cls"], r["item_json"], wave)
                     for r in rows if r["emit_kind"] == "item"],
                    schemas.RESULT_SCHEMA)
        self._ckpt_frontier = frontier
        self._ckpt_items.append(items)
        if new_seen is not None:
            self._ckpt_seen.append(new_seen)
        if (wave + 1 - start_wave) % self.config.checkpoint_every == 0:
            self._commit_window(wave, metrics_rows)

    def _finish(self, wave: int, start_wave: int, results: list[DataFrame],
                dead: list[DataFrame],
                metrics_rows: list[dict]) -> CrawlResult:
        """Flush the last every-K window's deltas, wait for the commit
        in flight, and assemble the CrawlResult."""
        spark = self.spark
        if self._ckpt_items:
            # flush deltas from the tail waves of an every-K window
            # (with the final — possibly empty — frontier, so a resume
            # from this snapshot sees the finished crawl)
            self._commit_window(wave - 1, metrics_rows)
        self._join_checkpoint()
        if self._ckpt_pool is not None:
            self._ckpt_pool.shutdown()
        return CrawlResult(
            results=_union_tree(
                [local_df(spark, [], schemas.RESULT_SCHEMA)] + results),
            dead=_union_tree(
                [local_df(spark, [], _EMISSION_OUT_SCHEMA)] + dead,
                allow_missing=True,
            ),
            # lazy, as results and dead are: compacting the slices
            # (_seen_union) here would cost a job nobody may read
            seen=_union_tree(
                self._seen_slices or [local_df(spark, [], SEEN_SCHEMA)]),
            metrics=pd.DataFrame(metrics_rows),
            waves=wave - start_wave,
        )

    # ------------------------------------------------------------- internals
    def _class_emission_array(self, spec: PageSpec):
        """Per-row emission array for a native spec: error/accept gates
        (reference _fetch_data semantics) folded into one CASE — pure
        Catalyst, evaluated inline during the batch projection."""
        failed = F.col("url").isNotNull() & (
            ~F.col("found") | (F.col("status") >= 400)
        )
        if spec.handles_errors:
            # HandledError: no items, pagination still runs
            # (pages.py:210-215)
            err = F.concat(
                N.one(N.emission(
                    "handled_error",
                    error=F.format_string("status=%s", F.col("status")),
                )),
                N.paginate_if_next(),
            )
        else:
            err = N.one(N.emission(
                "error",
                error=F.format_string(
                    "HTTP error status=%s url=%s",
                    F.col("status"), F.col("url"),
                ),
            ))
        ok = spec.native_emit_array()
        if spec.accept_expr is not None:
            total = spec.total_attempts()
            # retry loop (pages.py:168-195): requeue w/ attempts+1 until
            # exhausted, then RejectedResponse
            rej = F.when(
                F.col("attempts") + 1 < F.lit(total),
                N.one(N.emission(
                    "requeue",
                    child_cls=F.col("page_cls"),
                    child_url=F.col("url"),
                    child_input_json=F.col("input_json"),
                    attempts=F.col("attempts") + 1,
                )),
            ).otherwise(
                N.one(N.emission(
                    "reject",
                    attempts=F.col("attempts"),
                    error=F.format_string(
                        "RejectedResponse after %s attempts: %s",
                        F.lit(str(total)), F.col("url"),
                    ),
                ))
            )
            return (
                F.when(failed, err)
                .when(~F.expr(spec.accept_expr), rej)
                .otherwise(ok)
            )
        return F.when(failed, err).otherwise(ok)

    def _dedup(self, fetchable: DataFrame, seen: DataFrame,
               requeues: bool) -> DataFrame:
        """Seen-set + in-wave dedup (F4 + E5-at-frontier, first-wins).

        Keyed on ``seen_key`` = (page_cls, url_hash, input) — page
        *identity*, not URL: the reference processes every Page
        instance (its scrapelib cache only skips the HTTP call), so
        distinct classes/inputs over one URL all process; only true
        duplicate instances collapse.

        Plan shape: ONE slim-row shuffle — the (url_hash, seen_key)
        hash aggregate — which the seen check's equi-join on the same
        keys reuses. The fetch join downstream broadcasts the frontier
        (see _fetch), so nothing payload-heavy ever shuffles.

        Requeued rows (attempts>0) bypass the seen filter — their URL
        is legitimately being re-fetched (retry loop pages.py:168-195).
        The requeue split (whose union would break the partitioning
        reuse) only happens in waves that can actually contain
        requeues (``requeues``, from the previous wave's emission
        counts).

        From ``bloom_min_seen`` seen keys on, a Bloom probe flags each
        row "maybe seen" ahead of the exact check. It prunes nothing:
        every row, flagged or not, still left-joins the seen set, so
        the output and the join input are the plain anti-join's and
        the probe only adds its filter build and an Arrow UDF.
        """
        cfg = self.config
        first_time = fetchable
        if requeues:
            first_time = fetchable.filter(F.col("attempts") == 0)

        # first-wins by lineage path: min_by under a plain hash
        # aggregate (map-side combine; no sort). Grouping carries BOTH
        # keys so the seen check's equi-join on (url_hash, seen_key)
        # reuses this exchange exactly.
        if self._dedup_agg is None:
            rest = [
                c for c in first_time.columns
                if c not in ("url_hash", "seen_key")
            ]
            self._dedup_agg = F.min_by(
                F.struct(*rest), F.col("path")
            ).alias("_r")
        first_time = (
            first_time.groupBy("url_hash", "seen_key")
            .agg(self._dedup_agg)
            .select("url_hash", "seen_key", "_r.*")
        )

        if self._seen_count > 0:
            anti_keys = ["url_hash", "seen_key"]
            if (self._bloom is not None
                    and self._seen_count >= cfg.bloom_min_seen):
                if self._bloom_pending:
                    # lazy fold: every seen slice since the last probe
                    # (the resumed set, each wave's new keys) reaches
                    # the filter in ONE job, only now that a wave
                    # probes it — builds no wave reads are never paid
                    self._bloom.add_hashes_df(
                        _union_tree(self._bloom_pending), key_col="seen_key")
                    self._bloom_pending = []
                    while self._bloom.needs_regrow():
                        # FPR would degrade geometrically: re-shard 4x
                        # wider from the exact seen table (O(N) total)
                        self._bloom.regrow(seen, key_col="seen_key")
                self._wave_bloom_fpr = self._bloom.estimated_fpr()
                maybe_seen = self._bloom.membership_udf(self.spark)
                flagged = first_time.withColumn(
                    "_maybe", maybe_seen(F.col("seen_key"))
                )
                # left join + filter instead of split/anti/union: same
                # rows survive ("definitely unseen" kept outright,
                # "maybe" kept only without an exact match), but the
                # left side's url_hash partitioning flows through to the
                # fetch join — a union of the two slivers would discard it
                marked = flagged.join(
                    seen.select(*anti_keys).withColumn("_seen", F.lit(True)),
                    anti_keys, "left",
                )
                first_time = marked.filter(
                    (~F.col("_maybe")) | F.col("_seen").isNull()
                ).drop("_maybe", "_seen")
            else:
                first_time = first_time.join(seen, anti_keys, "left_anti")
        if requeues:
            first_time = first_time.unionByName(
                fetchable.filter(F.col("attempts") > 0))
        return first_time

    @functools.cached_property
    def _store_keyset(self) -> set[int] | None:
        """One-time driver copy of the store's url_hash set, or None
        when the store is too big for the driver
        (``_driver_store_keys_max``; one store count decides)."""
        if (
            self.page_store is None
            or self.page_store.count() > self._driver_store_keys_max
        ):
            return None
        return {r[0] for r in self.page_store.select("url_hash").collect()}

    def _fetch_local(self, rows: list[tuple], null_rows: list[tuple], ex):
        """Fetch phase of a driver-route wave, over the rows
        _dedup_driver kept (FRONTIER_SCHEMA tuples). With a driver-sized
        store keyset the found/missing split happens in Python, so the
        wave's plan has NO anti-join leg — one broadcast build plus the
        store probe; the missing rows take the cluster path's 404
        projection (``missing_cols``) over a LocalRelation. Falls back
        to `_fetch_wave` (real-HTTP fetcher, or a store too big for a
        driver keyset). Returns (fetched rows, fused hook emissions,
        the null-source rows), each a DataFrame or None."""
        spark = self.spark
        nullsrc = (local_df(spark, null_rows, schemas.FRONTIER_SCHEMA)
                   if null_rows else None)
        if not rows:
            return None, None, nullsrc
        keyset = None if self.fetch_fn is not None else self._store_keyset
        if keyset is None:
            fetchable = local_df(
                spark, rows, schemas.FRONTIER_SCHEMA
            ).withColumn("host", host_of(F.col("url")))
            # a driver-local frontier always broadcasts: the build is
            # free (LocalRelation — no upstream recompute, the cost that
            # makes the broadcast path lose on tiny CLUSTER waves) and
            # the whole wave collapses to one AQE round with zero
            # shuffle stages
            return (*self._fetch_wave(fetchable, True, ex), nullsrc)
        found = [r for r in rows if r[7] in keyset]
        missing = [r for r in rows if r[7] not in keyset]
        parts = []
        if found:
            fr = local_df(spark, found, schemas.FRONTIER_SCHEMA)
            parts.append(
                self.page_store.join(F.broadcast(fr), "url_hash", "inner")
                .select(*ex.found_cols)
            )
        if missing:
            parts.append(local_df(spark, missing, schemas.FRONTIER_SCHEMA)
                         .select(*ex.missing_cols))
        return _union_tree(parts), None, nullsrc

    def _fetch_wave(self, fetchable: DataFrame, broadcast: bool,
                    ex) -> tuple[DataFrame | None, DataFrame | None]:
        """Fetch phase: (the fetched batch for _transform, the hook-class
        emissions of the fused real-HTTP fetch), each None when the wave
        has no such rows. The page store is fetched by _fetch. With
        ``fetch_fn`` the rows are host-salted once; hook-class rows then
        run fetch and transform in ONE mapInPandas (a second chained
        Python UDF stage measured ~0.25 s a wave at local[4], even over
        empty partitions), and native-class rows are fetched for the
        Catalyst transform."""
        if self.fetch_fn is None:
            return self._fetch(fetchable, broadcast, ex), None
        # here host-salting genuinely matters: fetch work is per-host
        # network time, and a hot host would pile onto one task
        # (north-rule skew mandate)
        salted = politeness_ops.salted_repartition(
            fetchable, self._nparts, _SALT_BUCKETS)
        fetched = hooked = None
        if ex.native_cls:
            fetched = salted.filter(
                F.col("page_cls").isin(ex.native_cls)
            ).mapInPandas(self.fetch_fn, FETCHED_SCHEMA)
        if ex.hook_cls:
            hooked = salted.filter(
                F.col("page_cls").isin(ex.hook_cls)
            ).mapInPandas(ex.fetch_transform, _EMISSION_OUT_SCHEMA)
        return fetched, hooked

    def _fetch(self, fetchable: DataFrame, broadcast: bool, ex) -> DataFrame:
        """Page-store fetch: an equi-join against the synthetic page
        store (reference ``URL.get_response`` sources.py:42-52 becomes a
        join), in FETCHED_SCHEMA — the real-HTTP fetcher's output
        schema. ``broadcast``: the frontier is small enough to broadcast
        against the store in place (a driver-local wave, or one within
        _bcast_fetch_max). A frontier row the store lacks comes out
        as a payloadless 404: the broadcast path anti-joins the frontier
        against the wave's found keys, the shuffle path reads the left
        join's null side."""
        if self.page_store is None:
            raise CrawlError("no page_store configured")
        # NOTE on skew: the equi-join key is xxhash64(canon url) —
        # uniform by construction, so no salting is needed HERE. The
        # salted repartition (politeness.salted_repartition) belongs in
        # front of the real-HTTP fetch variant, where work is grouped
        # per host and a hot host would pile onto one task.
        if broadcast:
            # default path: broadcast the SLIM frontier, probe the
            # payload-heavy store in place — no store shuffle ever, no
            # frontier shuffle at the join, and the transform/decode
            # stage inherits the store's partitioning. This is the
            # storage-side semi-join pushdown an Iceberg deployment
            # gets from bucket pruning.
            found = self.page_store.join(
                F.broadcast(fetchable), "url_hash", "inner"
            ).select(*ex.found_cols)
            # not-in-store rows (404 path): anti-join against the
            # wave's FOUND keys, not the store's. That build side is
            # bounded by the wave at any store size (the frontier
            # broadcast is reused inside it), so no wave broadcasts or
            # copies anything O(|store|).
            missing = fetchable.join(
                F.broadcast(found.select("url_hash")),
                "url_hash", "left_anti",
            ).select(*ex.missing_cols)
            return found.unionByName(missing)
        # big-wave fallback: classic shuffle join against the
        # url_hash-bucketed store copy — the frontier side reshuffles,
        # the store side reuses its bucketing
        joined = fetchable.join(self._store_by_key(), "url_hash", "left")
        return joined.select(*ex.found_cols)

    def _resolve_dependencies(self) -> dict[str, dict[str, Any]]:
        """Instance dependencies: fetch + process each dep page ONCE on
        the driver, share the value with every consumer (the reference's
        ``_cached_dependencies``, pages.py:133,141-155). Values are
        closure-captured into the transform => shipped once per task
        like a broadcast."""
        cache: dict[str, Any] = {}
        out: dict[str, dict[str, Any]] = {}
        for name, spec in self.registry.specs().items():
            if not spec.dependencies:
                continue
            vals: dict[str, Any] = {}
            for attr, dep_cls in spec.dependencies.items():
                if dep_cls not in cache:
                    cache[dep_cls] = self._run_dep(self.registry[dep_cls])
                vals[attr] = cache[dep_cls]
            out[name] = vals
        return out

    def _run_dep(self, spec: PageSpec) -> Any:
        """Fetch and process one dependency page on the driver: through
        ``fetch_fn`` as a one-row batch, else from the page store."""
        if spec.process_page is None:
            raise CrawlError(f"dependency {spec.name} needs process_page")
        url = _resolve_child_source(spec, ChildPage(page_cls=spec.name))
        page = {}
        if url is not None and self.fetch_fn is not None:
            batch = pd.DataFrame(
                [(spec.name, url, None, schemas.root_path(0), 0, 0, 0, 0, 0)],
                columns=schemas.FRONTIER_SCHEMA.names)
            page = next(iter(self.fetch_fn(iter([batch])))).iloc[0].to_dict()
        elif url is not None:
            hit = self.page_store.filter(
                F.col("url_hash") == url_hash(canonicalize_url(F.lit(url)))
            ).take(1)
            page = hit[0].asDict() if hit else {}
        payload, links = page.get("payload"), page.get("links")
        return spec.process_page(PageCtx(
            input=None, url=url, status=int(page.get("status", 200)),
            payload=None if payload is None else bytes(payload),
            links=None if links is None else list(links),
            next_url=page.get("next_url"), attempts=0, page_seq=0,
            payload_kind=page.get("payload_kind"),
            image_id=page.get("image_id"),
        ))

    # ----------------------------------------------------------- checkpoint
    def _commit_window(self, wave, metrics_rows):
        """Commit the accumulated item/seen deltas (every-K window) and
        the latest frontier as the wave-``wave`` snapshot — inline, or
        on the single checkpoint thread when ``checkpoint_async``. The
        inputs are filters over the waves' already-landed emissions
        (immutable until crawl end) or Arrow tables nothing mutates, so
        the background write races nothing; one worker thread
        serializes commits so the manifest-last atomicity argument is
        unchanged."""
        items = _window_view(self.spark, self._ckpt_items,
                             schemas.RESULT_SCHEMA)
        seen = (_window_view(self.spark, self._ckpt_seen, SEEN_SCHEMA)
                if self._ckpt_seen else None)
        self._ckpt_items, self._ckpt_seen = [], []
        args = (wave, self._ckpt_frontier, seen, items, list(metrics_rows))
        if self._ckpt_pool is None:
            self._store.commit(*args)
            return
        self._join_checkpoint()
        self._ckpt_future = self._ckpt_pool.submit(self._store.commit, *args)

    def _join_checkpoint(self):
        """Wait for (and surface errors from) the in-flight async
        snapshot commit, if any."""
        if self._ckpt_future is not None:
            f, self._ckpt_future = self._ckpt_future, None
            f.result()

    # ----------------------------------------------------------------- scout
    def scout(self, seeds: list[dict]) -> list[dict]:
        """Reference ``spatula scout`` (cli.py:444-468 +
        ``_to_scout_result`` pages.py:19-30): each result projected to
        {data, __next__}; children not followed, pagination followed.
        The projection is a native expression over emissions — items
        wrap their own payload, child rows their would-be input."""
        saved = self.config
        self.config = replace(saved, scout=True)
        try:
            return self.crawl(seeds).items()
        finally:
            self.config = saved


def _union_tree(dfs: list, allow_missing: bool = False):
    """Union a list of DataFrames as a balanced tree. A left-deep fold
    hands Catalyst a plan whose analysis cost grows quadratically with
    leg count — at a 1000-wave crawl the one-shot final union becomes a
    driver stall; the balanced shape is O(N log N) with identical
    row-level semantics (union is associative; order of rows is not
    part of the contract — consumers sort by ``path``)."""
    assert dfs
    while len(dfs) > 1:
        dfs = [
            dfs[i].unionByName(dfs[i + 1], allowMissingColumns=allow_missing)
            if i + 1 < len(dfs) else dfs[i]
            for i in range(0, len(dfs), 2)
        ]
    return dfs[0]


def _unfetched(tagged: DataFrame, fates: set, ex) -> list[DataFrame]:
    """A tagged frontier's robots-blocked and politeness-deferred rows
    re-emitted unfetched, or no part when no row can have either fate."""
    if not fates & {"blocked", "deferred"}:
        return []
    return [tagged.filter(F.col("_fate").isin("blocked", "deferred"))
            .select(*ex.unfetched_cols)]


def _window_view(spark: SparkSession, parts: list, schema):
    """One snapshot view over an every-K window's per-wave views: one
    Arrow table when every wave was driver-held, else a union with the
    Arrow parts planted as LocalRelations."""
    if all(isinstance(p, pa.Table) for p in parts):
        return pa.concat_tables(parts)
    return _union_tree([as_df(spark, p, schema) for p in parts])


def _json_string_literal(col) -> "F.Column":
    """Render a string column as a JSON string literal, escaping
    backslash, double quote, and control chars (raw concatenation would
    produce malformed JSON for a URL/class containing a quote)."""
    escaped = F.regexp_replace(col, r"\\", r"\\\\")
    escaped = F.regexp_replace(escaped, '"', '\\\\"')
    for ch, rep in (("\n", "\\\\n"), ("\r", "\\\\r"), ("\t", "\\\\t")):
        escaped = F.regexp_replace(escaped, ch, rep)
    return F.concat(F.lit('"'), escaped, F.lit('"'))


def _item_projection(emissions: DataFrame, wave: int) -> DataFrame:
    """The wave's result rows (RESULT_SCHEMA): its items."""
    return emissions.filter(F.col("emit_kind") == "item").select(
        F.col("path"),
        F.col("src_cls").alias("page_cls"),
        F.col("item_json"),
        F.lit(wave).alias("wave"),
    )


def _scout_projection(emissions: DataFrame, wave: int) -> DataFrame:
    """Native scout projection (reference ``_to_scout_result``
    pages.py:19-30): items -> {data, __next__: null}; would-be children
    -> {data: input, __next__: "Cls source=URL|NullSource"}."""
    items = emissions.filter(F.col("emit_kind") == "item").select(
        "path",
        F.col("src_cls").alias("page_cls"),
        F.concat(
            F.lit('{"data": '),
            F.coalesce(F.col("item_json"), F.lit("null")),
            F.lit(', "__next__": null}'),
        ).alias("item_json"),
        F.lit(wave).alias("wave"),
    )
    next_str = F.concat(
        F.col("child_cls"),
        F.lit(" source="),
        F.coalesce(F.col("child_url"), F.lit("NullSource")),
    )
    children = emissions.filter(F.col("emit_kind") == "child").select(
        "path",
        F.col("src_cls").alias("page_cls"),
        F.concat(
            F.lit('{"data": '),
            F.coalesce(F.col("child_input_json"), F.lit("null")),
            F.lit(', "__next__": '),
            _json_string_literal(next_str),
            F.lit("}"),
        ).alias("item_json"),
        F.lit(wave).alias("wave"),
    )
    return items.unionByName(children)
