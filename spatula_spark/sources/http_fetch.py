"""Real-HTTP fetch stage (the reference's ``URL.get_response`` /
scrapelib layer, ``/root/reference/src/spatula/sources.py:42-52``).

The engine's default fetch is the page-store join (synthetic web);
this module is the drop-in network variant: an Arrow-batched
``mapInPandas`` body that issues GET requests with stdlib urllib —
the fetcher-wide headers, timeout, TLS verification, transport
retries and response cache of the reference's scrapelib setup
(``cli.py:27-93``) — and emits the same batch schema the join
produces, so the rest of the wave is identical. Per-source ``URL``
options (method, data, headers, verify, timeout) are not carried on
the frontier; the engine refuses a source that sets them. For
hook-class pages the engine runs this body and the page transform in
one ``mapInPandas`` (each fetched batch converted through Arrow in
``FETCHED_SCHEMA`` in between), so a fetcher's output columns are
matched by name and type either way.

Batching notes (the politeness contract): rows arrive already
budget-limited per host by the wave's politeness window; the
salted repartition (politeness.salted_repartition) spreads a hot
host's budget across tasks so no single task serializes a host.

Tested against a local http.server in tests/test_http_fetch.py — the
full reference flow (fetch -> HtmlPage parse -> CSS extraction ->
detail fan-out -> pagination) over real sockets.
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request
from collections.abc import Iterator

import pandas as pd

FETCHED_SCHEMA = (
    "page_cls string, path string, url string, input_json string, "
    "payload binary, links array<string>, next_url string, status int, "
    "attempts int, page_seq int, payload_kind string, image_id string, "
    "found boolean, priority int, flaky_rejects int, url_hash long, "
    "seen_key long"
)

# response bytes kept per fetched page; a longer body is truncated
_MAX_BYTES = 16 * 1024 * 1024


def _kind_of(ctype: str) -> str:
    """Content-Type -> payload_kind (the reference relies on the page
    class to force the kind; this is the server-said default)."""
    if "json" in ctype:
        return "json"
    if "xml" in ctype:
        return "xml"
    if "csv" in ctype:
        return "csv"
    if "pdf" in ctype:
        return "pdf"
    if "spreadsheet" in ctype or "ms-excel" in ctype:
        return "excel"
    if "image" in ctype or "octet" in ctype:
        return "bin"
    return "html"


def make_http_fetcher(
    timeout: float = 5.0,
    user_agent: str = "spatula_spark",
    headers: dict | None = None,
    verify: bool = True,
    retries: int = 0,
    retry_wait: float = 0.0,
    cache_dir: str | None = None,
):
    """Build the mapInPandas body, which GETs each row's url.

    The knobs mirror the reference's scrapelib configuration
    (cli.py:27-93): ``headers`` added to every request, ``verify=False``
    skips TLS cert checks, ``retries``/``retry_wait`` retry transport
    errors (the reference's retry_attempts — distinct from the page
    accept-retry loop), and ``cache_dir`` is the ``--fastmode``
    response cache: per-URL files keyed by a url hash, readable from
    every executor on a shared filesystem."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import os
        import ssl

        ssl_ctx = None
        if not verify:
            ssl_ctx = ssl.create_default_context()
            ssl_ctx.check_hostname = False
            ssl_ctx.verify_mode = ssl.CERT_NONE
        if cache_dir:
            os.makedirs(cache_dir, exist_ok=True)

        def cache_path(url: str) -> str:
            h = hashlib.md5(url.encode()).hexdigest()
            return os.path.join(cache_dir, h)

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if cache_dir:
                    cp = cache_path(row.url)
                    if os.path.exists(cp):
                        with open(cp, "rb") as f:
                            header_line, _, cached = f.read().partition(b"\n")
                        status_s, _, ctype = header_line.decode().partition(" ")
                        out.append((
                            row.page_cls, row.path, row.url, row.input_json,
                            cached, None, None, int(status_s),
                            int(row.attempts), int(row.page_seq),
                            _kind_of(ctype), None, True, int(row.priority),
                            0, int(row.url_hash), int(row.seen_key),
                        ))
                        continue
                req = urllib.request.Request(
                    row.url,
                    headers={"User-Agent": user_agent, **(headers or {})},
                )
                status, payload = 0, None
                ctype = ""
                for attempt in range(retries + 1):
                    try:
                        with urllib.request.urlopen(
                            req, timeout=timeout, context=ssl_ctx
                        ) as resp:
                            status = resp.status
                            payload = resp.read(_MAX_BYTES)
                            ctype = resp.headers.get("Content-Type", "")
                        break
                    except urllib.error.HTTPError as e:
                        status = e.code
                        try:
                            payload = e.read(_MAX_BYTES)
                        except Exception:
                            payload = None
                        break  # an HTTP status is a response, not an error
                    except Exception:
                        status = 0  # transport error -> retry, else not found
                        if attempt < retries and retry_wait:
                            time.sleep(retry_wait)
                if cache_dir and status != 0:
                    # write-through response cache (--fastmode)
                    with open(cache_path(row.url), "wb") as f:
                        f.write(f"{status} {ctype}\n".encode())
                        f.write(payload or b"")
                out.append((
                    row.page_cls, row.path, row.url, row.input_json,
                    payload, None, None, status,
                    int(row.attempts), int(row.page_seq), _kind_of(ctype),
                    None, status != 0, int(row.priority),
                    0, int(row.url_hash), int(row.seen_key),
                ))
            yield pd.DataFrame(out, columns=[
                "page_cls", "path", "url", "input_json", "payload",
                "links", "next_url", "status", "attempts", "page_seq",
                "payload_kind", "image_id", "found", "priority",
                "flaky_rejects", "url_hash", "seen_key",
            ])

    return fetch
