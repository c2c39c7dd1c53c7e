"""Element display (reference ``utils.py:17-27`` ``_display_element``)
and the single-page debug runner (reference ``spatula test``,
``cli.py:283-370``)."""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Any


def display_element(el: ET.Element) -> str:
    """Reference ``utils._display_element`` (utils.py:17-27): id wins
    over class over the full attribute list; line number comes from
    the parse-time sidecar (parsers.source_line — the stdlib stand-in
    for lxml's ``.sourceline``); elements that weren't built by
    parse_html (e.g. raw XML) omit the line suffix."""
    s = f"<{el.tag} "
    if id_str := el.get("id"):
        s += f"id='{id_str}'"
    elif class_str := el.get("class"):
        s += f"class='{class_str}'"
    else:
        s += " ".join(f"{k}='{v}'" for k, v in el.attrib.items())
    s = s.strip() + ">"
    from .operators.parsers import source_line

    line = source_line(el)
    return f"{s} @ line {line}" if line is not None else s


def synthesize_input(
    spec,
    data_pairs: list[str] | None = None,
    interactive: bool = False,
    prompt_fn=None,
    echo=print,
) -> Any:
    """Reference ``_get_fake_input`` (cli.py:221-257): build the page
    input for ``spatula test`` from ``-d key=value`` pairs, falling
    back per field to an interactive prompt (``--interactive``) or a
    ``~field`` placeholder; ``example_input`` wins when present
    (overridden key-by-key by the pairs)."""
    fake_input: dict[str, Any] = {}
    for item in data_pairs or []:
        k, _, v = item.partition("=")
        fake_input[k] = v

    if spec.example_input is not None:
        example = spec.example_input
        for k, v in fake_input.items():
            if isinstance(example, dict):
                example[k] = v
            else:
                setattr(example, k, v)
        return example

    input_type = spec.input_type
    if input_type is not None:
        import dataclasses

        echo(f"{spec.name} expects input ({input_type.__name__}): ")
        if dataclasses.is_dataclass(input_type):
            fields = [f.name for f in dataclasses.fields(input_type)]
        elif hasattr(input_type, "__attrs_attrs__"):
            fields = [a.name for a in input_type.__attrs_attrs__]
        else:
            fields = []
        for name in fields:
            if name in fake_input:
                echo(f"  {name}: {fake_input[name]}")
            elif interactive:
                fake_input[name] = (prompt_fn or input)(f"  {name}: ")
            else:
                fake_input[name] = f"~{name}"
                echo(f"  {name}: ~{name}")
        return input_type(**fake_input)
    return fake_input


def debug_run(
    engine,
    page_cls: str,
    input: Any = None,
    url: str | None = None,
    follow_pagination: bool = True,
    max_waves: int | None = None,
) -> list[dict]:
    """The ``spatula test`` loop (cli.py:283-370): run ONE page class
    with a synthesized/overridden input and source, never following
    children ("would continue with <Page>" semantics), optionally
    following pagination; returns the scout-style projections with
    continuous numbering across pages (tests/test_cli.py:146-157)."""
    import dataclasses

    if input is None:
        input = engine.registry[page_cls].example_input
    # pagination rides the 'next' emission kind; --no-pagination is a
    # one-wave run (cli.py:359-370 prints a notice and stops)
    if not follow_pagination:
        max_waves = 1
    saved = engine.config
    if max_waves is not None:
        engine.config = dataclasses.replace(saved, max_waves=max_waves)
    try:
        return engine.scout(
            [{"page_cls": page_cls, "input": input, "url": url}])
    finally:
        engine.config = saved
