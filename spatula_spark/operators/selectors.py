"""Extraction selectors with cardinality constraints.

Reimplements the reference's Selector family
(``/root/reference/src/spatula/selectors.py``):

* ``Selector.match`` — run the query, enforce ``min_items`` /
  ``max_items`` / ``num_items`` else ``SelectorError``
  (``selectors.py:32-73``)
* ``Selector.match_one`` — exactly-one scalar (``selectors.py:75-81``)
* ``XPath`` (``selectors.py:88-112``), ``CSS``
  (``selectors.py:151-175``), ``SimilarLink`` — regex over ``<a href>``
  with first-occurrence-wins dedup (``selectors.py:115-148``).

Differences by design, not omission:

* These run **inside Arrow batch UDFs** over payload columns — the
  engine never calls a selector per Spark row. For structured payloads
  the engine prefers native Catalyst exprs (``get_json_object``,
  ``from_json``, ``filter(links, x -> x rlike pat)``,
  order-preserving ``array_distinct``) over any of this; this module
  is the HTML/XML escape hatch.
* The element tree is stdlib ``xml.etree`` (no lxml/cssselect in
  container): ``XPath`` runs on the from-scratch XPath 1.0 subset
  engine (``xpath_engine.py`` — per-step predicates, positions,
  axes, mid-path ``//``) and ``CSS`` is a compiled-grammar engine
  covering the selectors real scrapers use: compound simple
  selectors (tag ``.class`` ``#id``
  ``[attr]`` with ``= ^= $= *= ~= |=`` operators), the ``>`` ``+``
  ``~`` and descendant combinators, ``:first-child`` ``:last-child``
  ``:nth-child(an+b|odd|even)``, and comma-separated selector lists
  (results in document order, deduped).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from abc import ABC, abstractmethod
from collections.abc import Iterator

from ..utils import display_element
from .xpath_engine import xpath_compile, xpath_eval


class SelectorError(ValueError):
    """Raised when a cardinality constraint is not met
    (reference ``selectors.py:8-13``)."""


class Selector(ABC):
    def __init__(
        self,
        *,
        min_items: int | None = 1,
        max_items: int | None = None,
        num_items: int | None = None,
    ):
        self.min_items = min_items
        self.max_items = max_items
        self.num_items = num_items

    def match(
        self,
        element: ET.Element,
        *,
        min_items: int | None = None,
        max_items: int | None = None,
        num_items: int | None = None,
    ) -> list[ET.Element]:
        items = list(self.get_items(element))
        num_items = self.num_items if num_items is None else num_items
        max_items = self.max_items if max_items is None else max_items
        min_items = self.min_items if min_items is None else min_items

        where = (
            display_element(element)
            if isinstance(element, ET.Element) else str(element)
        )
        if num_items is not None and len(items) != num_items:
            raise SelectorError(
                f"{self} on {where} got {len(items)} results, "
                f"expected {num_items}"
            )
        if min_items is not None and len(items) < min_items:
            raise SelectorError(
                f"{self} on {where} got {len(items)} results, "
                f"expected at least {min_items}"
            )
        if max_items is not None and len(items) > max_items:
            raise SelectorError(
                f"{self} on {where} got {len(items)} results, "
                f"expected at most {max_items}"
            )
        return items

    def match_one(self, element: ET.Element) -> ET.Element:
        return self.match(element, num_items=1)[0]

    @abstractmethod
    def get_items(self, element: ET.Element) -> Iterator[ET.Element]: ...


class XPath(Selector):
    """XPath selector (reference ``selectors.py:88-112``, where lxml
    supplies full XPath 1.0).

    Backed by the from-scratch engine in
    :mod:`spatula_spark.operators.xpath_engine`: predicates on ANY
    location step (positional ``[2]`` / ``[last()]`` /
    ``[position()>=k]``, attribute and path tests, ``and`` / ``or`` /
    ``not()``, ``contains`` / ``starts-with`` / ``ends-with`` /
    ``normalize-space`` / ``count``), mid-path ``//``, named axes
    (``parent``/``..``, ``ancestor``, ``descendant``, ``self``,
    ``following-sibling``, ``preceding-sibling``, ``attribute``),
    union paths, and trailing ``/text()`` / ``/@attr`` steps that
    yield strings exactly as lxml does. Results are in document
    order, deduplicated. The expression is parsed once at
    construction (fail-fast) and cached for the Arrow batch loop."""

    def __init__(self, xpath: str, **kw):
        super().__init__(**kw)
        self.xpath = xpath
        xpath_compile(xpath)  # surface syntax errors at build time

    def get_items(self, element: ET.Element):
        yield from xpath_eval(self.xpath, element)

    def __str__(self) -> str:
        return f"XPath({self.xpath})"


# one simple-selector component: tag | #id | .class | [attr op val] |
# :pseudo(args)
_CSS_COMPONENT = re.compile(
    r"(?P<tag>[a-zA-Z][\w-]*|\*)"
    r"|#(?P<id>[\w-]+)"
    r"|\.(?P<cls>[\w-]+)"
    r"|\[(?P<attr>[^\]]+)\]"
    # one level of paren nesting: :not(:nth-last-child(2)) etc.
    r"|:(?P<pseudo>[\w-]+)(?:\((?P<args>(?:[^()]|\([^()]*\))*)\))?"
)
_CSS_ATTR = re.compile(
    r"([\w-]+)\s*(?:([~^$*|]?=)\s*(.*?)(\s+[iIsS])?)?$"
)
_CSS_TOKENS = re.compile(
    r"(?P<compound>(?:[a-zA-Z][\w-]*|\*|#[\w-]+|\.[\w-]+|\[[^\]]*\]"
    r"|:[\w-]+(?:\((?:[^()]|\([^()]*\))*\))?)+)"
    r"|\s*(?P<comb>[>+~,])\s*"
    r"|(?P<ws>\s+)"
)


def _parse_nth(args: str):
    """'an+b' | 'odd' | 'even' | 'b' -> (a, b)."""
    s = args.strip().lower().replace(" ", "")
    if s == "odd":
        return 2, 1
    if s == "even":
        return 2, 0
    m = re.fullmatch(r"([+-]?\d*)n([+-]\d+)?", s)
    if m:
        a_str = m.group(1)
        a = int(a_str) if a_str not in ("", "+", "-") else (-1 if a_str == "-" else 1)
        return a, int(m.group(2) or 0)
    return 0, int(s)


class CSS(Selector):
    """Compiled CSS selector engine (the reference gets cssselect for
    free, ``selectors.py:151-175``; unavailable here). Grammar:

    * compound simple selectors: ``tag``, ``*``, ``.class`` (several),
      ``#id``, ``[attr]``, ``[attr=v]``, ``[attr^=v]``, ``[attr$=v]``,
      ``[attr*=v]``, ``[attr~=v]``, ``[attr|=v]``, each with the CSS4
      case-sensitivity flags ``[attr=v i]`` / ``[attr=v s]``
    * pseudo-classes ``:first-child``, ``:last-child``,
      ``:nth-child(an+b | odd | even | k)``, ``:nth-last-child(...)``,
      ``:only-child``, ``:empty``, ``:not(compound)``, ``:root``,
      ``:first-of-type``, ``:last-of-type``, ``:nth-of-type(...)``,
      ``:nth-last-of-type(...)``
    * combinators: descendant (space), child ``>``, adjacent sibling
      ``+``, general sibling ``~``
    * selector lists: ``a, b`` — union, document order, deduped

    The scope element itself CAN match (lxml cssselect evaluates with
    a ``descendant-or-self::`` prefix); structural pseudo-classes use
    a parent map built per ``get_items`` call (ElementTree has no
    parent pointers).
    """

    def __init__(self, css_selector: str, **kw):
        super().__init__(**kw)
        self.css_selector = css_selector
        self._groups = self._parse(css_selector)

    # ------------------------------------------------------------ parsing
    @classmethod
    def _parse(cls, sel: str):
        """-> list of groups; group = list of (combinator, preds)."""
        groups: list[list] = [[]]
        pending_comb = " "
        pos = 0
        sel = sel.strip()
        while pos < len(sel):
            m = _CSS_TOKENS.match(sel, pos)
            if not m:
                raise ValueError(f"unsupported CSS selector: {sel!r} @ {pos}")
            pos = m.end()
            if m.group("compound"):
                groups[-1].append(
                    (pending_comb, cls._compile_compound(m.group("compound")))
                )
                pending_comb = " "
            elif m.group("comb"):
                c = m.group("comb")
                if c == ",":
                    if not groups[-1]:
                        raise ValueError(f"empty selector in list: {sel!r}")
                    groups.append([])
                    pending_comb = " "
                else:
                    pending_comb = c
            # bare whitespace: descendant combinator (already default)
        if not groups[-1]:
            raise ValueError(f"unsupported CSS selector: {sel!r}")
        return groups

    @classmethod
    def _compile_compound(cls, part: str):
        """One compound simple selector -> predicate(el, ctx) where ctx
        provides (parent, index, n_siblings)."""
        tag = want_id = None
        classes: set[str] = set()
        attrs: list[tuple[str, str | None, str | None]] = []
        pseudos: list[tuple[str, tuple]] = []
        pos = 0
        while pos < len(part):
            m = _CSS_COMPONENT.match(part, pos)
            if not m:
                raise ValueError(f"unsupported CSS selector part: {part!r}")
            pos = m.end()
            if m.group("tag"):
                tag = m.group("tag")
            elif m.group("id"):
                want_id = m.group("id")
            elif m.group("cls"):
                classes.add(m.group("cls"))
            elif m.group("attr") is not None:
                am = _CSS_ATTR.fullmatch(m.group("attr").strip())
                if not am:
                    raise ValueError(f"bad attribute selector: {part!r}")
                name, op, val, flag = am.groups()
                # CSS4 case-sensitivity flag: [attr=v i] folds case,
                # [attr=v s] forces the (default) sensitive compare
                ci = bool(flag) and flag.strip().lower() == "i"
                if val is not None:
                    val = val.strip().strip("'\"")
                    if ci:
                        val = val.lower()
                attrs.append((name, op, val, ci))
            else:
                name = m.group("pseudo")
                if name == "nth-child":
                    pseudos.append(("nth", _parse_nth(m.group("args") or "")))
                elif name == "nth-last-child":
                    pseudos.append(
                        ("nth_last", _parse_nth(m.group("args") or ""))
                    )
                elif name == "nth-last-of-type":
                    pseudos.append(
                        ("nth_last_type", _parse_nth(m.group("args") or ""))
                    )
                elif name == "root":
                    pseudos.append(("root", ()))
                elif name == "first-child":
                    pseudos.append(("nth", (0, 1)))
                elif name == "last-child":
                    pseudos.append(("last", ()))
                elif name == "only-child":
                    pseudos.append(("only", ()))
                elif name == "empty":
                    pseudos.append(("empty", ()))
                elif name == "not":
                    # CSS3 :not(simple compound) — no combinators inside
                    pseudos.append(
                        ("not", cls._compile_compound(
                            (m.group("args") or "").strip()
                        ))
                    )
                elif name == "nth-of-type":
                    pseudos.append(
                        ("nth_type", _parse_nth(m.group("args") or ""))
                    )
                elif name == "first-of-type":
                    pseudos.append(("nth_type", (0, 1)))
                elif name == "last-of-type":
                    pseudos.append(("last_type", ()))
                else:
                    raise ValueError(f"unsupported pseudo-class: :{name}")

        def pred(el: ET.Element, parent, idx: int, nsib: int) -> bool:
            if tag and tag != "*" and el.tag != tag:
                return False
            if want_id and el.get("id") != want_id:
                return False
            if classes and not classes <= set((el.get("class") or "").split()):
                return False
            for name, op, val, ci in attrs:
                v = el.get(name)
                if v is None:
                    return False
                if op is None:
                    continue
                if ci:
                    v = v.lower()
                if op == "=" and v != val:
                    return False
                if op == "^=" and not v.startswith(val):
                    return False
                if op == "$=" and not v.endswith(val):
                    return False
                if op == "*=" and val not in v:
                    return False
                if op == "~=" and val not in v.split():
                    return False
                if op == "|=" and not (v == val or v.startswith(val + "-")):
                    return False
            def _nth_ok(a: int, b: int, i: int) -> bool:
                # 1-based index must equal a*k+b for some k>=0
                if a == 0:
                    return i == b
                k, rem = divmod(i - b, a)
                return rem == 0 and k >= 0

            for kind, arg in pseudos:
                if kind == "last":
                    if idx != nsib:
                        return False
                elif kind == "nth_last":
                    if not _nth_ok(arg[0], arg[1], nsib - idx + 1):
                        return False
                elif kind == "root":
                    # the element with no parent in the scope tree —
                    # the scope root itself (cssselect's not(parent::*))
                    if parent is not None:
                        return False
                elif kind == "only":
                    if not (idx == 1 and nsib == 1):
                        return False
                elif kind == "empty":
                    if len(el) or (el.text or ""):
                        return False
                elif kind == "not":
                    if arg(el, parent, idx, nsib):
                        return False
                elif kind in ("nth_type", "last_type", "nth_last_type"):
                    if parent is None:
                        return False
                    typed = [c for c in parent if c.tag == el.tag]
                    ti = next(
                        i + 1 for i, c in enumerate(typed) if c is el
                    )
                    if kind == "last_type":
                        if ti != len(typed):
                            return False
                    elif kind == "nth_last_type":
                        if not _nth_ok(arg[0], arg[1], len(typed) - ti + 1):
                            return False
                    elif not _nth_ok(arg[0], arg[1], ti):
                        return False
                else:
                    if not _nth_ok(arg[0], arg[1], idx):
                        return False
            return True

        return pred

    # ----------------------------------------------------------- matching
    def get_items(self, element: ET.Element) -> Iterator[ET.Element]:
        # structural maps (ElementTree has no parent pointers)
        parent: dict[int, ET.Element] = {}
        kids: dict[int, list[ET.Element]] = {id(element): list(element)}
        order: dict[int, int] = {id(element): 0}
        n = 1
        for el in element.iter():
            if el is not element:
                order[id(el)] = n
                n += 1
            ch = list(el)
            kids[id(el)] = ch
            for c in ch:
                parent[id(c)] = el

        def ctx(el: ET.Element):
            p = parent.get(id(el))
            if p is None:
                return None, 1, 1
            sibs = kids[id(p)]
            return p, sibs.index(el) + 1, len(sibs)

        def run_pred(p, el):
            par, idx, nsib = ctx(el)
            return p(el, par, idx, nsib)

        results: set[int] = set()
        keep: dict[int, ET.Element] = {}
        for group in self._groups:
            current: list[ET.Element] | None = None  # None = scope root
            for comb, p in group:
                if current is None:
                    # first step: descendant-OR-SELF — lxml cssselect
                    # translates with a descendant-or-self:: prefix, so
                    # the scope element itself can match (reference
                    # parity; pinned by the CSS-vs-XPath property test)
                    current = [
                        el for el in element.iter() if run_pred(p, el)
                    ]
                    continue
                nxt: list[ET.Element] = []
                seen: set[int] = set()

                def add(el):
                    if id(el) not in seen and run_pred(p, el):
                        seen.add(id(el))
                        nxt.append(el)

                for base in current:
                    if comb == " ":
                        for el in base.iter():
                            if el is not base:
                                add(el)
                    elif comb == ">":
                        for el in kids[id(base)]:
                            add(el)
                    else:
                        par = parent.get(id(base))
                        if par is None:
                            continue
                        sibs = kids[id(par)]
                        i = sibs.index(base)
                        if comb == "+":
                            if i + 1 < len(sibs):
                                add(sibs[i + 1])
                        else:  # '~'
                            for el in sibs[i + 1:]:
                                add(el)
                current = nxt
            for el in current or []:
                if id(el) not in results:
                    results.add(id(el))
                    keep[id(el)] = el
        # document order across the whole selector list
        yield from sorted(keep.values(), key=lambda e: order.get(id(e), 0))

    def __str__(self) -> str:
        return f"CSS({self.css_selector})"


class SimilarLink(Selector):
    """All ``<a>`` elements whose href matches a regex, deduped on first
    occurrence with document order preserved — exact semantics of the
    reference (``selectors.py:136-144``; golden
    ``tests/test_selectors.py:99-101``).

    Engine fast path: when links are already a native ``array<string>``
    column the same semantics are ``array_distinct(filter(links,
    x -> x rlike pattern))`` — both order-preserving/first-wins — with
    no Python at all.
    """

    def __init__(self, pattern: str, **kw):
        super().__init__(**kw)
        self.pattern = re.compile(pattern)

    def get_items(self, element: ET.Element) -> Iterator[ET.Element]:
        seen: set[str] = set()
        for el in element.iter("a"):
            href = el.get("href")
            if href and href not in seen and self.pattern.match(href):
                seen.add(href)
                yield el

    def __str__(self) -> str:
        return f"SimilarLink({self.pattern.pattern})"
