"""WARC/1.1 page-store source + sink (ISO 28500 / IIPC warc-specs).

The reference has no archive layer — it fetches live via scrapelib and
holds responses in memory (``/root/reference/src/spatula/pages.py``).
At 100-TB crawl scale the page store IS a WARC corpus (the Common
Crawl layout: ~1 GB ``.warc.gz`` shards, each record its own gzip
member so a CDX ``(file, offset, length)`` triple seeks straight to a
record without touching the rest of the shard). This module gives the
engine that layer with no third-party deps:

* :func:`write_warc` — distributed sink: ``mapInPandas`` writes one
  ``.warc.gz`` shard per partition (one deterministic gzip member per
  record, ``mtime=0``) and RETURNS the CDX-shaped manifest as a
  DataFrame — filename / compressed offset / length / digest per
  record — so indexing is a by-product of the write, not a second
  pass over 100 TB.
* :func:`read_warc` — distributed source: ``binaryFile`` scan →
  streaming per-member ``zlib`` decompress → typed rows with the
  payload digest re-verified (``digest_ok``). One shard per task;
  shards are written ~partition-sized so this matches Spark's
  binaryFile non-splittable unit.
* :func:`_record_bytes` — the ONE serialization of a record. The
  Catalyst column expression the ``warc_cdx`` battery query uses for
  record lengths spells the same layout, and tests/test_warc.py pins
  the two byte for byte (through a text twin of this function), so
  the SQL oracle's arithmetic matches the real on-disk layout.

Digest note: WARC-Payload-Digest uses a labelled algorithm; we emit
``sha256:<hex>`` (not the conventional sha1) because both Spark
(``sha2``) and DuckDB (``sha256``) compute it natively, keeping the
CDX query fully oracle-verifiable.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import zlib
from http.client import responses as _http_reasons

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("payload_sha256", T.StringType()),
    ]
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("digest_ok", T.BooleanType()),
    ]
)


def http_reason(status: int) -> str:
    """Reason phrase for the synthetic HTTP/1.1 status line."""
    return _http_reasons.get(status, "Status")


def record_uuid(url: str, warc_date: str) -> str:
    """Deterministic WARC-Record-ID (md5-derived uuid layout) — the
    same lineage-determinism choice as sinks.to_json_files: re-crawls
    produce identical archives. Mirrored hex-for-hex by the warc_cdx
    oracle (md5 is native in both Spark and DuckDB)."""
    h = hashlib.md5((url + warc_date).encode("utf-8")).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _record_bytes(
    url: str,
    warc_date: str,
    status: int,
    content_type: str,
    payload: bytes,
) -> bytes:
    """Serialize one response record (binary payload variant)."""
    block = (
        f"HTTP/1.1 {status} {http_reason(status)}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("utf-8") + payload
    digest = hashlib.sha256(payload).hexdigest()
    headers = (
        "WARC/1.1\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{record_uuid(url, warc_date)}>\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Payload-Digest: sha256:{digest}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    ).encode("utf-8")
    return headers + block + b"\r\n\r\n"


def write_warc(
    df: DataFrame, out_dir: str, prefix: str = "part"
) -> DataFrame:
    """Distributed WARC sink.

    ``df`` needs columns ``url`` (string), ``warc_date`` (string,
    ``YYYY-MM-DDTHH:MM:SSZ``), ``status`` (int), ``content_type``
    (string), ``payload`` (binary). Each input partition becomes one
    ``{prefix}-{pid:05d}.warc.gz`` shard under ``out_dir`` — size the
    partitioning upstream (``repartition(n)`` /
    ``repartitionByRange("url")``) to hit the ~1 GB shard convention.

    Returns the manifest DataFrame (one row per record: filename,
    url, COMPRESSED member offset + length, payload sha256) — the raw
    material for :func:`spatula_spark.entry_queries` ``warc_cdx``-style
    index builds. The write happens when the manifest is materialized;
    materialize it EXACTLY ONCE (``.cache()`` or write it to parquet)
    — the same one-materialization contract as the crawl engine's
    wave snapshots.
    """
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    cols = ["url", "warc_date", "status", "content_type", "payload"]

    def _write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = f"{prefix}-{pid:05d}.warc.gz"
        fpath = os.path.join(out_dir, fname)
        rows: list[tuple] = []
        offset = 0
        fh = None
        try:
            for pdf in batches:
                if fh is None and len(pdf):
                    fh = open(fpath, "wb")
                for r in pdf.itertuples(index=False):
                    payload = bytes(r.payload)
                    rec = _record_bytes(
                        r.url, r.warc_date, int(r.status),
                        r.content_type, payload,
                    )
                    member = gzip.compress(rec, mtime=0)
                    fh.write(member)
                    rows.append(
                        (
                            fname,
                            r.url,
                            offset,
                            len(member),
                            hashlib.sha256(payload).hexdigest(),
                        )
                    )
                    offset += len(member)
        finally:
            if fh is not None:
                fh.close()
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in MANIFEST_SCHEMA])

    return df.select(cols).mapInPandas(_write, schema=MANIFEST_SCHEMA)


def _parse_record(raw: bytes, fname: str, offset: int, length: int):
    head, _, rest = raw.partition(b"\r\n\r\n")
    lines = head.decode("utf-8", "replace").split("\r\n")
    hdrs = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        hdrs[k.strip().lower()] = v.strip()
    block = rest[: int(hdrs.get("content-length", len(rest)))]
    status = 0
    content_type = ""
    payload = b""
    if hdrs.get("content-type", "").startswith("application/http"):
        bhead, _, payload = block.partition(b"\r\n\r\n")
        blines = bhead.decode("utf-8", "replace").split("\r\n")
        parts = blines[0].split(" ", 2)
        status = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0
        for ln in blines[1:]:
            k, _, v = ln.partition(":")
            if k.strip().lower() == "content-type":
                content_type = v.strip()
    else:
        payload = block
    want = hdrs.get("warc-payload-digest", "")
    digest_ok = (
        want == f"sha256:{hashlib.sha256(payload).hexdigest()}"
        if want.startswith("sha256:")
        else False
    )
    rid = hdrs.get("warc-record-id", "").strip("<>")
    return (
        fname,
        offset,
        length,
        hdrs.get("warc-type", ""),
        rid,
        hdrs.get("warc-date", ""),
        hdrs.get("warc-target-uri", ""),
        status,
        content_type,
        payload,
        digest_ok,
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC source: ``binaryFile`` scan (one shard per
    task — shards are non-splittable gzip, written partition-sized by
    :func:`write_warc`) → per-member streaming decompress → typed
    rows. ``digest_ok`` re-verifies WARC-Payload-Digest so corrupt
    members surface as data, not exceptions (the dead-letter
    philosophy of operators/parsers.py)."""
    import pandas as pd

    bf = spark.read.format("binaryFile").load(path)

    def _read(batches):
        for pdf in batches:
            out = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                fname = os.path.basename(str(path_))
                data = bytes(content)
                offset = 0
                while offset < len(data):
                    d = zlib.decompressobj(wbits=31)
                    raw = d.decompress(data[offset:])
                    raw += d.flush()
                    consumed = len(data) - offset - len(d.unused_data)
                    if consumed <= 0:  # trailing garbage: stop, don't spin
                        break
                    out.append(_parse_record(raw, fname, offset, consumed))
                    offset += consumed
            if out:
                yield pd.DataFrame(
                    out, columns=[f.name for f in RECORD_SCHEMA]
                )

    return bf.select("path", "content").mapInPandas(
        _read, schema=RECORD_SCHEMA
    )


_MIME_BY_KIND = {
    "html": "text/html",
    "json": "application/json",
    "csv": "text/csv",
    "xml": "application/xml",
    "img/png": "image/png",
    "img/jpeg": "image/jpeg",
    "bin": "application/octet-stream",
}


def archive_page_store(
    store: DataFrame,
    out_dir: str,
    warc_date: str = "2026-01-01T00:00:00Z",
    shards: int | None = None,
    prefix: str = "store",
) -> DataFrame:
    """Archive a page store (``SynthWeb.page_store``'s columns) as WARC —
    the crawl-to-archive hop: what the engine fetched this run becomes
    next run's seekable page store. Maps payload_kind → MIME, skips
    payload-less rows (pure-error rows have nothing to archive), and
    range-partitions by canonical URL so each shard covers a
    contiguous URL range (the CDX locality the warc_cdx sort gives at
    index time). ``warc_date`` is an explicit snapshot label, not
    wall-clock — determinism rule of the whole engine. Returns the
    write_warc manifest."""
    from pyspark.sql import functions as F

    src = store.filter(F.col("payload").isNotNull()).select(
        "url",
        F.lit(warc_date).alias("warc_date"),
        "status",
        F.coalesce(
            *[
                F.when(F.col("payload_kind") == k, F.lit(m))
                for k, m in _MIME_BY_KIND.items()
            ],
            F.lit("application/octet-stream"),
        ).alias("content_type"),
        "payload",
    )
    if shards is not None:
        src = src.repartitionByRange(shards, "url")
    return write_warc(src, out_dir, prefix=prefix)
