"""Declarative page specifications — the reference's class hierarchy as data.

In the reference, crawl semantics live in a subclass tree
(``Page`` -> ``HtmlPage`` / ``JsonPage`` / ``ListPage`` ... ,
``/root/reference/src/spatula/pages.py:78-486``) whose instances ARE
the execution state. Here a page class is a **registration**: a
:class:`PageSpec` carrying the same hooks the reference exposes —

==========================  =============================================
reference hook              PageSpec field
==========================  =============================================
``source`` class attr       ``source``            (pages.py:131)
``get_source_from_input``   ``source_from_input`` (pages.py:282-288)
``accept_response``         ``accept_response``   (pages.py:306-307)
``process_error_response``  ``handles_errors``    (pages.py:298-304)
``process_page``            ``process_page``      (pages.py:309-316)
``selector`` + ``process_item``  ListPage loop    (pages.py:436-459)
``get_next_source``         ``next_source``       (pages.py:318-324)
``dependencies``            ``dependencies``      (pages.py:133,141-155)
``source.retries``          ``retries``           (pages.py:168-171)
==========================  =============================================

so user semantics become data the engine dispatches on, and classes
never cross the driver/executor boundary — only (cls-name, hooks) pairs
pickled once per job. Hooks run inside Arrow batch UDFs; fully
vectorized specs can instead provide ``process_batch`` (a pandas
DataFrame -> emissions transform) and skip per-row Python entirely.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

from ..operators import parsers

# reference config.py:3 (env-overridable there; a plain default here;
# the reference's retry wait has no counterpart: the engine retries in
# the next wave, not by sleeping)
REJECTED_RESPONSE_RETRIES = 1


class SkipItem(Exception):
    """Skip the current item / detail page (reference ``pages.py:33-57``)."""


class MissingSourceError(Exception):
    """No source and no source_from_input (reference ``pages.py:60-62``)."""


class HandledError(Exception):
    """Fetch error consumed by the page's error hook (``pages.py:65-67``)."""


class RejectedResponse(Exception):
    """accept_response kept rejecting until retries ran out
    (reference ``pages.py:70-75``)."""


@dataclass(frozen=True)
class URL:
    """Fetch descriptor (reference ``sources.py:10-41``). Only ``url``
    reaches the frontier and ``retries`` sets the page's accept-retry
    budget; the engine refuses a non-default method, data, headers,
    verify or timeout (a ValueError naming the field), since the
    fetch would silently be a plain GET."""

    url: str
    method: str = "GET"
    data: dict | None = None
    headers: dict | None = None
    verify: bool = True
    timeout: float | None = None
    retries: int | None = None


class NullSource:
    """Page that needs no fetch (reference ``sources.py:58-72``)."""

    def __repr__(self) -> str:  # matches reference __str__ for scout parity
        return "NullSource"


@dataclass
class ChildPage:
    """Hook return value enqueuing a subpage — the Spark stand-in for
    the reference's "return a Page instance" fan-out (pages.py:225-238).
    """

    page_cls: str
    input: Any = None
    source: str | URL | None = None
    priority: int | None = None


@dataclass
class PageCtx:
    """Per-page view handed to hooks — mirrors the attribute surface a
    reference ``Page`` instance sees in ``process_page`` (self.input,
    self.root, self.response ...). Parsing is lazy so hooks that never
    touch ``root`` pay nothing."""

    input: Any
    url: str | None
    status: int
    payload: bytes | None
    links: list[str] | None
    next_url: str | None
    attempts: int
    page_seq: int
    payload_kind: str | None
    image_id: str | None
    # synthetic-store flakiness: how many leading attempts the "server"
    # degrades (drives accept_response retry fixtures, pages.py:168-195)
    flaky_rejects: int = 0
    deps: dict[str, Any] = field(default_factory=dict)
    pdf_preserve_layout: bool = False
    _root: Any = None
    _json: Any = None
    _csv: Any = None
    _text: Any = None

    def __getattr__(self, name: str) -> Any:  # dependency attribute access
        deps = object.__getattribute__(self, "deps")
        if name in deps:
            return deps[name]
        raise AttributeError(name)

    @property
    def root(self):
        """Parsed element tree (HtmlPage/XmlPage ``self.root``).
        Malformed XML re-raises as UnsupportedDocumentError so the
        engine dead-letters the page with a parse_error reason."""
        if self._root is None and self.payload is not None:
            if self.payload_kind == "xml":
                import xml.etree.ElementTree as _ET

                try:
                    self._root = parsers.parse_xml(self.payload)
                except _ET.ParseError as e:
                    raise parsers.UnsupportedDocumentError(
                        f"xml: {e}"
                    ) from None
            else:
                self._root = parsers.parse_html(self.payload, base_url=self.url)
        return self._root

    @property
    def json(self):
        if self._json is None and self.payload is not None:
            import json as _json

            try:
                self._json = parsers.parse_json(self.payload)
            except _json.JSONDecodeError as e:
                raise parsers.UnsupportedDocumentError(
                    f"json: {e}"
                ) from None
        return self._json

    @property
    def csv_rows(self):
        if self._csv is None and self.payload is not None:
            self._csv = parsers.parse_csv(self.payload)
        return self._csv

    @property
    def text(self):
        """Extracted text — the reference ``PdfPage.text``
        (pages.py:376-417) for pdf pages; the decoded payload
        otherwise."""
        if self._text is None and self.payload is not None:
            if self.payload_kind == "pdf":
                self._text = parsers.parse_pdf(
                    self.payload, self.pdf_preserve_layout
                )
            else:
                self._text = self.payload.decode("utf-8", "replace")
        return self._text


@dataclass
class PageSpec:
    name: str
    # default source (reference class attr, pages.py:131); resolution
    # precedence ctor-arg > class attr > source_from_input (pages.py:157-166)
    source: str | URL | NullSource | None = None
    source_from_input: Callable[[Any], str | URL | None] | None = None
    # page hooks ----------------------------------------------------------
    process_page: Callable[[PageCtx], Any] | None = None
    # ListPage sugar: selector over ctx.root + per-item hook
    # (reference ListPage.process_page pages.py:425-434 + loop :436-445)
    selector: Any = None
    process_item: Callable[[Any, PageCtx], Any] | None = None
    # custom item enumeration (reference: a hand-written process_page
    # that feeds _process_or_skip_loop, tests/test_page_base.py:266-284)
    items_fn: Callable[[PageCtx], list] | None = None
    # THE scale path: a pure-Catalyst transform. A zero-arg callable
    # returning an array<emission struct> Column built from the batch
    # row's columns (see plans/native.py builders). The engine folds
    # every native class into ONE CASE-dispatched projection + explode;
    # no Python executes for this page class at all.
    native_emit_array: Callable[[], Any] | None = None
    # native accept predicate: SQL boolean expr over batch columns
    # (e.g. "attempts >= flaky_rejects"); evaluated engine-side,
    # rejected rows requeue per the reference retry loop
    accept_expr: str | None = None
    next_source: Callable[[PageCtx], str | URL | None] | None = None
    accept_response: Callable[[PageCtx], bool] | None = None
    handles_errors: bool = False
    retries: int | None = None
    dependencies: dict[str, str] = field(default_factory=dict)
    # per-input ("class") dependencies: the reference re-instantiates a
    # dep CLASS with each consumer page's input and never caches it
    # (pages.py:141-147 ``dep = dep(self.input)``). Registered through
    # PageRegistry.register as a dataflow rewrite: an intermediate shim
    # page fetches the dep first, then enqueues the consumer with the
    # dep result riding in a reserved input key -> ctx.deps.
    per_input_dependencies: dict[str, str] = field(default_factory=dict)
    input_type: Any = None
    example_input: Any = None
    # force the parse kind regardless of the store/content-type value —
    # the reference encodes this in the class (HtmlPage parses HTML no
    # matter what the server said, pages.py:327-344)
    page_kind: str | None = None
    # PdfPage.preserve_layout (pages.py:382-388, the pdftotext -layout
    # flag); consumed by ctx.text for pdf pages
    preserve_layout: bool = False

    def total_attempts(self) -> int:
        # reference: (source.retries or REJECTED_RESPONSE_RETRIES) + 1
        # (pages.py:168-171) — note the *falsy* check: an explicit
        # retries=0 falls back to the default there too, so we mirror
        # that (parity over intuition)
        r = self.retries
        if not r and isinstance(self.source, URL):
            r = self.source.retries
        if not r:
            r = REJECTED_RESPONSE_RETRIES
        return r + 1


class PageRegistry:
    """Name -> PageSpec dispatch table (the Spark replacement for the
    reference's "import the class by dotted path", ``cli.py:127-131``,
    and module scanning for seeds, ``cli.py:143-154``)."""

    def __init__(self) -> None:
        self._specs: dict[str, PageSpec] = {}

    DEP_INPUT_PREFIX = "__dep__"

    def register(self, spec: PageSpec) -> PageSpec:
        if spec.per_input_dependencies:
            spec = self._rewrite_per_input_deps(spec)
        self._specs[spec.name] = spec
        return spec

    def _rewrite_per_input_deps(self, spec: PageSpec) -> PageSpec:
        """Per-input dep as a page chain: consumer C with dep (key, D)
        becomes shim C -> fetches D's source for this input, runs D's
        process_page, enqueues the real C with the result stashed in
        ``__dep__<key>`` (the engine lifts those into ctx.deps). The
        reference's behavior — dep fetched per page, no cache — falls
        out of normal frontier mechanics."""
        import dataclasses

        inner = dataclasses.replace(
            spec, name=f"{spec.name}__resolved", per_input_dependencies={}
        )
        self._specs[inner.name] = inner
        items = list(spec.per_input_dependencies.items())

        def make_shim(
            dep_attr: str, dep_cls: str, next_cls: str, shim_name: str
        ) -> PageSpec:
            def shim_process(ctx, _attr=dep_attr, _dep=dep_cls, _nxt=next_cls):
                dep_spec = self[_dep]
                result = dep_spec.process_page(ctx)
                inp = dict(ctx.input or {})
                # deps resolved by earlier shims in the chain arrived in
                # ctx.deps (the engine lifts __dep__ keys out of input);
                # re-stash them so they survive to the next hop
                for k, v in ctx.deps.items():
                    inp[PageRegistry.DEP_INPUT_PREFIX + k] = v
                inp[PageRegistry.DEP_INPUT_PREFIX + _attr] = result
                return ChildPage(_nxt, inp)

            dep_spec = self[dep_cls]
            return PageSpec(
                name=shim_name,
                source=dep_spec.source,
                source_from_input=dep_spec.source_from_input,
                page_kind=dep_spec.page_kind,
                handles_errors=dep_spec.handles_errors,
                retries=dep_spec.retries,
                process_page=shim_process,
            )

        # N deps become a chain of N shims (reference allows several
        # class deps, pages.py:141-147): the first shim keeps the public
        # name; each fetches one dep, stashes its result, and enqueues
        # the next hop; the last hop is the real (inner) page.
        next_name = inner.name
        first = None
        for i in reversed(range(len(items))):
            attr, dep_cls = items[i]
            shim_name = spec.name if i == 0 else f"{spec.name}__dep{i}"
            shim = make_shim(attr, dep_cls, next_name, shim_name)
            if i > 0:
                self._specs[shim_name] = shim
            next_name = shim_name
            first = shim
        return first

    def __getitem__(self, name: str) -> PageSpec:
        return self._specs[name]

    def __contains__(self, name: str) -> bool:
        return name in self._specs

    def names(self) -> list[str]:
        return sorted(self._specs)

    def specs(self) -> dict[str, PageSpec]:
        return dict(self._specs)


def dump_input(value: Any) -> str | None:
    """Record -> JSON for the frontier ``input_json`` column. Plain
    dicts pass through; dataclass/attrs/pydantic-style objects are
    normalized like the reference's ``_obj_to_dict``
    (``utils.py:45-55``)."""
    if value is None:
        return None
    return json.dumps(obj_to_dict(value), sort_keys=True)


def obj_to_dict(obj: Any) -> Any:
    """Reference ``_obj_to_dict`` (``utils.py:45-55``): dict passthrough,
    dataclass/attrs/pydantic -> dict, else TypeError."""
    import dataclasses

    if obj is None or isinstance(obj, (dict, str, int, float, bool, list)):
        return obj
    if dataclasses.is_dataclass(obj):
        return dataclasses.asdict(obj)
    if hasattr(obj, "model_dump"):  # pydantic v2
        return obj.model_dump()
    if hasattr(obj, "dict") and callable(getattr(obj, "dict")):  # pydantic v1
        return obj.dict()
    if hasattr(obj, "__attrs_attrs__"):  # attrs
        return {a.name: getattr(obj, a.name) for a in obj.__attrs_attrs__}
    raise TypeError(f"invalid type: {obj!r}")


def load_input(input_json: str | None) -> Any:
    return json.loads(input_json) if input_json else None
