"""WARC source/sink (sources/warc.py) + SURT key + CDX length pinning.

The reference has no archive layer (pages live only in memory,
/root/reference/src/spatula/pages.py); these tests pin the engine's
100-TB page-store extension: the on-disk WARC/1.1 layout, the
manifest's compressed member offsets, the digest re-verification on
read, and the byte-for-byte agreement between the writer's
serialization and the Catalyst length arithmetic the ``warc_cdx``
battery query (and its DuckDB oracle) uses.
"""

import gzip
import hashlib

import pytest
from pyspark.sql import functions as F

from spatula_spark.sources.warc import (
    _parse_record,
    _record_bytes,
    http_reason,
    read_warc,
    record_uuid,
    write_warc,
)
from spatula_spark.urls import surt_key

ROWS = [
    # url, warc_date, status, content_type, payload
    ("http://a.example.com/1", "2026-08-19T00:00:01Z", 200,
     "text/html", "hello world".encode()),
    # unicode payload: octet lengths must be byte counts, not chars
    ("http://a.example.com/2", "2026-08-19T00:00:02Z", 200,
     "text/html", "héllo — wörld".encode()),
    # payload containing the record separator sequence itself
    ("http://b.example.com/3", "2026-08-19T00:00:03Z", 404,
     "text/plain", b"x\r\n\r\nWARC/1.1\r\ny"),
    # empty payload
    ("http://b.example.com/4", "2026-08-19T00:00:04Z", 204,
     "text/plain", b""),
    # binary payload with NULs and high bytes
    ("http://c.example.com/5", "2026-08-19T00:00:05Z", 200,
     "image/png", bytes(range(256))),
]


@pytest.fixture(scope="module")
def warc_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("warc"))
    df = spark.createDataFrame(
        ROWS, "url string, warc_date string, status int, "
              "content_type string, payload binary",
    ).repartition(2, "url")
    manifest = write_warc(df, out, prefix="t").cache()
    manifest.count()  # materialize exactly once (side-effecting write)
    return out, manifest


def test_roundtrip_exact(spark, warc_dir):
    out, _ = warc_dir
    got = {
        r["url"]: r
        for r in read_warc(spark, out + "/*.warc.gz").collect()
    }
    assert set(got) == {u for u, *_ in ROWS}
    for url, date, status, ct, payload in ROWS:
        r = got[url]
        assert r["warc_date"] == date
        assert r["status"] == status
        assert r["content_type"] == ct
        assert bytes(r["payload"]) == payload
        assert r["warc_type"] == "response"
        assert r["digest_ok"] is True


def test_manifest_offsets_are_gzip_member_boundaries(warc_dir):
    out, manifest = warc_dir
    rows = manifest.collect()
    assert len(rows) == len(ROWS)
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["filename"], []).append(r)
    import os

    for fname, recs in by_file.items():
        data = open(os.path.join(out, fname), "rb").read()
        # members tile the file exactly
        assert sum(r["length"] for r in recs) == len(data)
        for r in recs:
            member = data[r["offset"]: r["offset"] + r["length"]]
            raw = gzip.decompress(member)
            assert raw.startswith(b"WARC/1.1\r\n")
            assert f"WARC-Target-URI: {r['url']}".encode() in raw
            payload = dict((u, p) for u, _, _, _, p in ROWS)[r["url"]]
            assert r["payload_sha256"] == hashlib.sha256(payload).hexdigest()


def test_corrupt_member_surfaces_as_digest_false(spark, tmp_path):
    df = spark.createDataFrame(
        [ROWS[0]], "url string, warc_date string, status int, "
                   "content_type string, payload binary",
    ).coalesce(1)
    out = str(tmp_path / "w")
    write_warc(df, out, prefix="c").count()
    import os

    fpath = os.path.join(out, os.listdir(out)[0])
    rec = gzip.decompress(open(fpath, "rb").read())
    # flip one payload byte past the block header, re-gzip
    bad = bytearray(rec)
    bad[-5] ^= 0xFF
    open(fpath, "wb").write(gzip.compress(bytes(bad), mtime=0))
    rows = read_warc(spark, out + "/*.warc.gz").collect()
    assert len(rows) == 1 and rows[0]["digest_ok"] is False


def _warc_record_str(url, warc_date, status, content_type, payload_text):
    """The full WARC record as text, the layout _record_bytes encodes:
    the twin the warc_cdx query's Catalyst/DuckDB concat is pinned to
    character for character."""
    payload_len = len(payload_text.encode("utf-8"))
    block = (
        f"HTTP/1.1 {status} {http_reason(status)}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {payload_len}\r\n\r\n" + payload_text
    )
    digest = hashlib.sha256(payload_text.encode("utf-8")).hexdigest()
    return (
        "WARC/1.1\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{record_uuid(url, warc_date)}>\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Payload-Digest: sha256:{digest}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(block.encode('utf-8'))}\r\n\r\n"
        + block + "\r\n\r\n"
    )


def test_record_str_matches_record_bytes():
    for url, date, status, ct, payload in ROWS:
        try:
            text = payload.decode("utf-8")
        except UnicodeDecodeError:
            continue  # text twin only defined for utf-8 payloads
        assert _warc_record_str(url, date, status, ct, text).encode(
            "utf-8"
        ) == _record_bytes(url, date, status, ct, payload)


def test_cdx_length_pins_writer_serialization(spark):
    """The warc_cdx query's cdx_length column (pure Catalyst concat +
    octet_length) equals len() of the writer's actual record bytes for
    the same synthesized fields — the oracle's offsets describe the
    real on-disk layout."""
    from spatula_spark.entry_queries import QUERIES

    cdx = (
        QUERIES["warc_cdx"](spark, "/root/testdata/sf0.001")
        .orderBy("url")
        .limit(20)
        .collect()
    )
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    assert cdx
    for r in cdx:
        doc_id = int(r["url"].rsplit("?", 1)[0].rsplit("/", 1)[1])
        s = doc_id % 86400
        date = (
            f"2026-08-19T{s // 3600:02d}:{s % 3600 // 60:02d}:"
            f"{s % 60:02d}Z"
        )
        status = 404 if doc_id % 10 == 0 else 200
        rec = _record_bytes(
            r["url"], date, status, "text/html",
            docs[doc_id].encode("utf-8"),
        )
        assert r["cdx_length"] == len(rec)
        assert r["digest_sha256"] == hashlib.sha256(
            docs[doc_id].encode("utf-8")
        ).hexdigest()


def test_surt_key_golden(spark):
    df = spark.createDataFrame(
        [("HTTP://WWW.Example.COM:80/a/b?b=2&a=1#f",),
         ("https://Sub.Host.org:8443//x//y/",)], "url string",
    )
    got = [r[0] for r in df.select(surt_key(F.col("url"))).collect()]
    assert got == [
        "com,example)/a/b?a=1&b=2",
        "org,host,sub:8443)/x/y",
    ]


def test_archive_page_store_roundtrip(spark, tmp_path):
    """Crawl-to-archive hop: the synthetic web's page store written as
    WARC and read back — payload bytes and MIME mapping intact, every
    digest re-verified."""
    from spatula_spark.sources.synthweb import SynthWeb
    from spatula_spark.sources.warc import archive_page_store, read_warc

    web = SynthWeb(n_hosts=2, details_per_host=6, details_per_list=3,
                   skew=2, with_errors=False, with_flaky=False)
    store = web.page_store(spark).cache()
    n_payload = store.filter(F.col("payload").isNotNull()).count()
    out = str(tmp_path / "arch")
    manifest = archive_page_store(store, out, shards=2).cache()
    assert manifest.count() == n_payload
    back = read_warc(spark, out + "/*.warc.gz").cache()
    assert back.count() == n_payload
    assert back.filter(~F.col("digest_ok")).count() == 0
    orig = {r["url"]: r for r in store.collect() if r["payload"] is not None}
    for r in back.collect():
        o = orig[r["url"]]
        assert bytes(r["payload"]) == bytes(o["payload"])
        assert r["status"] == o["status"]
        if o["payload_kind"] == "html":
            assert r["content_type"] == "text/html"
        if o["payload_kind"] == "img/png":
            assert r["content_type"] == "image/png"


def test_cli_scrape_warc_dir(spark, tmp_path):
    """spatula_spark scrape --warc-dir archives exactly the pages the
    crawl fetched, readable back with digests verified."""
    import os

    from spatula_spark.__main__ import main
    from spatula_spark.sources.warc import read_warc
    from tests.test_cli import _store

    store = _store(spark, tmp_path)
    out = str(tmp_path / "items")
    wdir = str(tmp_path / "archive")
    rc = main([
        "scrape", "tests.cli_fixture", "FruitList",
        "--store", store, "--url", "http://f.example.com/list",
        "-o", out, "--cores", "8", "--warc-dir", wdir,
    ])
    assert rc == 0
    recs = read_warc(spark, wdir + "/*.warc.gz").collect()
    urls = {r["url"] for r in recs}
    # the list page + both detail pages were fetched
    assert "http://f.example.com/list" in urls
    assert any("/d/apple" in u for u in urls)
    assert any("/d/kiwi" in u for u in urls)
    assert all(r["digest_ok"] for r in recs)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=120, deadline=None)
@given(
    path=st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126,
                               exclude_characters="\r\n"),
        min_size=0, max_size=40,
    ),
    status=st.sampled_from([200, 204, 301, 404, 500, 999]),
    ct=st.sampled_from(
        ["text/html", "application/json", "image/png",
         "application/octet-stream"]
    ),
    payload=st.binary(min_size=0, max_size=400),
    sec=st.integers(0, 86399),
)
def test_record_parse_inverse_property(path, status, ct, payload, sec):
    """Pure-Python serializer/parser inverse on arbitrary payloads —
    including ones embedding CRLF runs, record separators, and
    WARC-header-looking bytes."""
    url = f"http://h.example.com/{path}"
    date = f"2026-08-19T{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}Z"
    rec = _record_bytes(url, date, status, ct, payload)
    parsed = _parse_record(rec, "f.warc.gz", 0, len(rec))
    (fname, off, ln, wtype, rid, wdate, purl, pstatus, pct,
     ppayload, digest_ok) = parsed
    assert (wtype, wdate, purl, pstatus, pct) == (
        "response", date, url, status, ct
    )
    assert bytes(ppayload) == payload
    assert digest_ok is True
    assert rid.startswith("urn:uuid:")
