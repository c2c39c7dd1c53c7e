"""Deterministic synthetic web: page-store + media + seeds + robots.

The reference fetches the live web through scrapelib
(``/root/reference/src/spatula/sources.py:42-52``); in this sandbox the
"web" is a generated page-store table so the fetch operator is an
equi-join (SURVEY.md §7.2). Everything is a **pure function of the row
index** — no RNG, no wall-clock — so any scale regenerates
bit-identically and any prefix of the 10^10-URL design point is
addressable (FIXTURES.md §6).

Graph shape (exercises every engine operator):

* ``H`` hosts ``h{k}.example.com``; host 0 is **hot** (``skew``× more
  pages) to exercise salted repartitioning.
* per host: a paginated chain of list pages
  ``/list?page={p}`` (pagination via ``next_url``), each linking
  ``details_per_list`` detail pages ``/detail/{j}`` as HTML anchors.
* every list page also cross-links detail 0 of the next host —
  guaranteed duplicate URLs across hosts => real seen-set work.
* detail pages carry a JSON payload ``{doc, image_id, caption}`` and an
  ``image_id`` FK into the media table (BASELINE.json input_hint).
* every 97th detail is flaky (rejects first 2 attempts — retry path),
  every 101st returns HTTP 500 (error-handling path), and robots
  disallows ``/detail/13`` paths on host 1 (robots path).

Page-store **generation is itself Spark-native**: URLs, link arrays and
HTML payloads are built from ``sequence``/``transform``/``concat``
column expressions over ``spark.range`` — the only Python in the whole
generator is the PNG encoder inside the media ``mapInPandas`` (and that
is the designated binary-payload stage).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.images import (
    average_phash,
    lossy_encode,
    png_encode,
    synth_pixels,
)
from ..urls import canonicalize_url, url_hash

_WORDS = (
    "amber basalt cedar delta ember fjord garnet harbor iris juniper "
    "krill lumen maple nadir onyx prism quartz rune sable tundra"
).split()


def caption_for(g: int) -> str:
    """Deterministic caption for media row ``g`` (exact-equality invariant)."""
    w = [_WORDS[(g * 7 + i * 13) % len(_WORDS)] for i in range(4)]
    return f"image {g}: {' '.join(w)}"


def host_name(k: int) -> str:
    return f"h{k}.example.com"


def _host_offsets(n_hosts: int, details_per_host: int, skew: int) -> list[int]:
    """Cumulative global offsets; host 0 holds ``skew``× the base count."""
    counts = [details_per_host * (skew if k == 0 else 1) for k in range(n_hosts)]
    offsets = [0]
    for c in counts:
        offsets.append(offsets[-1] + c)
    return offsets


class SynthWeb:
    def __init__(
        self,
        n_hosts: int = 4,
        details_per_host: int = 25,
        details_per_list: int = 5,
        skew: int = 4,
        with_flaky: bool = True,
        with_errors: bool = True,
        img_scale: int = 1,
        lossy_codec: str = "fast",
    ):
        self.n_hosts = n_hosts
        self.details_per_host = details_per_host
        self.details_per_list = details_per_list
        self.skew = skew
        self.with_flaky = with_flaky
        self.with_errors = with_errors
        # "jpeg" = real baseline JFIF entropy coding (parity path);
        # "fast" = closed-form stand-in (bench path). The crawl decodes
        # either via magic-byte dispatch.
        self.lossy_codec = lossy_codec
        # multiplies synthetic image dimensions (pixels x scale^2):
        # img_scale=1 keeps thumbnails (fast unit tests); the scaling
        # benchmark uses 2+ so per-URL decode cost matches real
        # crawled-image weight
        self.img_scale = img_scale
        self.offsets = _host_offsets(n_hosts, details_per_host, skew)
        self.n_media = self.offsets[-1]

    # ------------------------------------------------------------ media
    def media(self, spark: SparkSession) -> DataFrame:
        """The input_hint table: (image_id, bytes, w, h, fmt, caption,
        phash). Even rows PNG (lossless), odd rows the lossy codec
        (real JFIF or the fast stand-in — see functions/images.py)."""
        scale = self.img_scale
        codec = self.lossy_codec

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for g in pdf["id"].tolist():
                    g = int(g)
                    w = (16 + (g * 5) % 49) * scale
                    h = (16 + (g * 7) % 49) * scale
                    px = synth_pixels(g, w, h)
                    if g % 2 == 0:
                        fmt, data = "png", png_encode(px)
                        ph = average_phash(px)
                    else:
                        fmt, data = "jpeg", lossy_encode(px, codec)
                        # phash of the *stored* (lossy) pixels, like a real
                        # pipeline hashing what it ingested
                        from ..functions.images import decode_image

                        ph = average_phash(decode_image(data, "jpeg"))
                    rows.append(
                        (f"img-{g:08d}", data, w, h, fmt, caption_for(g), ph)
                    )
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "bytes", "w", "h", "fmt", "caption",
                             "phash"],
                )

        # widen BEFORE generation: repartitioning the slim id range is
        # free, repartitioning the generated payloads would shuffle
        # gigabytes; 2x-cores partitions amortize decode-cost variance
        # downstream (the broadcast-fetch transform inherits this width)
        ids = spark.range(self.n_media).repartition(
            spark.sparkContext.defaultParallelism * 2
        )
        return ids.mapInPandas(
            gen,
            schema="image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long",
        )

    # ---------------------------------------------------- virtual fetcher
    def fetcher(self):
        """The synthetic web as a *virtual* fetch stage: a mapInPandas
        body (engine ``fetch_fn``, same contract as the real-HTTP
        fetcher) that derives every page — list links/pagination,
        detail image bytes, 500/flaky rules — from the URL alone.
        Nothing is materialized, cached, or shuffled: payload bytes
        exist only inside the wave that fetches them, exactly like a
        network fetch. This is the memory-flat way to run the
        full-pipeline benchmark at 10^7+ URLs (a cached page store of
        that size costs tens of GB; the web itself is closed-form)."""
        import re

        offsets = self.offsets
        per = self.details_per_list
        n_hosts = self.n_hosts
        scale = self.img_scale
        codec = self.lossy_codec
        with_errors, with_flaky = self.with_errors, self.with_flaky
        pat = re.compile(
            r"http://h(\d+)\.example\.com/(?:detail/(\d+)|list\?page=(\d+))$"
        )

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    m = pat.match(row.url or "")
                    k = int(m.group(1)) if m else -1
                    payload = links = next_url = image_id = kind = None
                    status, flaky, found = 404, 0, False
                    if m and 0 <= k < n_hosts:
                        cnt = offsets[k + 1] - offsets[k]
                        if m.group(2) is not None:  # detail page
                            j = int(m.group(2))
                            if j < cnt:
                                found = True
                                g = offsets[k] + j
                                status = (
                                    500 if with_errors and j % 101 == 100
                                    else 200
                                )
                                flaky = 2 if with_flaky and j % 97 == 96 else 0
                                w = (16 + (g * 5) % 49) * scale
                                h = (16 + (g * 7) % 49) * scale
                                px = synth_pixels(g, w, h)
                                if g % 2 == 0:
                                    payload, kind = png_encode(px), "img/png"
                                else:
                                    payload, kind = (
                                        lossy_encode(px, codec), "img/jpeg",
                                    )
                                image_id = f"img-{g:08d}"
                        else:  # list page
                            p = int(m.group(3))
                            lo = p * per
                            if lo < cnt:
                                found, status, kind = True, 200, "html"
                                base = f"http://{host_name(k)}"
                                links = [
                                    f"{base}/detail/{j}"
                                    for j in range(lo, min(lo + per, cnt))
                                ] + [
                                    f"http://{host_name((k + 1) % n_hosts)}"
                                    "/detail/0"
                                ]
                                if lo + per < cnt:
                                    next_url = f"{base}/list?page={p + 1}"
                    out.append((
                        row.page_cls, row.path, row.url, row.input_json,
                        payload, links, next_url, status,
                        int(row.attempts), int(row.page_seq), kind, image_id,
                        found, int(row.priority), flaky,
                        int(row.url_hash), int(row.seen_key),
                    ))
                yield pd.DataFrame(out, columns=[
                    "page_cls", "path", "url", "input_json", "payload",
                    "links", "next_url", "status", "attempts", "page_seq",
                    "payload_kind", "image_id", "found", "priority",
                    "flaky_rejects", "url_hash", "seen_key",
                ])

        return fetch

    # -------------------------------------------------------- page store
    def page_store(self, spark: SparkSession) -> DataFrame:
        """Detail + list pages as one DataFrame, one row per fetchable
        URL: url, host, kind, status, payload_kind, payload, links,
        next_url, image_id, flaky_rejects, canon_url, url_hash (the
        columns ``CrawlEngine`` projects from its ``page_store``)."""
        details = self._detail_pages(spark)
        lists = self._list_pages(spark)
        store = details.unionByName(lists)
        return (
            store.withColumn("canon_url", canonicalize_url(F.col("url")))
            .withColumn("url_hash", url_hash(F.col("canon_url")))
        )

    def page_store_with_media(
        self, spark: SparkSession, media: DataFrame | None = None
    ) -> DataFrame:
        """Page store whose detail payloads ARE the encoded image bytes
        (payload_kind 'img/<fmt>') — the full-pipeline variant where the
        crawl decodes + verifies as it ingests (north-star shape).

        When ``media`` is given the payloads come from that table via
        an image_id join. Default (None): payloads are generated INLINE
        per detail row — each image is a pure function of the row id,
        so nothing payload-heavy is ever joined, cached twice, or
        shuffled (at 10^7+ rows the join variant shuffles tens of GB
        of bytes and needs the media table resident as well)."""
        details = self._detail_pages(spark).drop("payload", "payload_kind")
        if media is not None:
            details = details.join(
                media.select(
                    "image_id", F.col("bytes").alias("payload"),
                    F.col("fmt").alias("_fmt"),
                ),
                "image_id",
                "left",
            ).withColumn(
                "payload_kind", F.concat(F.lit("img/"), F.col("_fmt"))
            ).drop("_fmt")
        else:
            scale = self.img_scale
            codec = self.lossy_codec

            def add_img(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    payloads, kinds = [], []
                    for iid in pdf["image_id"].tolist():
                        g = int(iid[4:])
                        w = (16 + (g * 5) % 49) * scale
                        h = (16 + (g * 7) % 49) * scale
                        px = synth_pixels(g, w, h)
                        if g % 2 == 0:
                            data, fmt = png_encode(px), "png"
                        else:
                            data, fmt = lossy_encode(px, codec), "jpeg"
                        payloads.append(data)
                        kinds.append("img/" + fmt)
                    yield pdf.assign(payload=payloads, payload_kind=kinds)

            slim_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in details.schema.fields
            )
            details = details.repartition(
                spark.sparkContext.defaultParallelism * 2
            ).mapInPandas(
                add_img,
                schema=slim_ddl + ", payload binary, payload_kind string",
            )
        details = details.select(
            "url", "host", "kind", "status", "payload_kind", "payload",
            "links", "next_url", "image_id", "flaky_rejects",
        )
        lists = self._list_pages(spark)
        store = details.unionByName(lists)
        return (
            store.withColumn("canon_url", canonicalize_url(F.col("url")))
            .withColumn("url_hash", url_hash(F.col("canon_url")))
        )

    def _host_col(self, k: F.Column) -> F.Column:
        return F.concat(F.lit("h"), k.cast("string"), F.lit(".example.com"))

    def _detail_pages(self, spark: SparkSession) -> DataFrame:
        # one row per (host k, local detail j); global id g = offset_k + j
        hosts = spark.createDataFrame(
            [(k, self.offsets[k], self.offsets[k + 1] - self.offsets[k])
             for k in range(self.n_hosts)],
            "k int, off long, cnt long",
        )
        d = hosts.select(
            "k", "off", F.explode(F.sequence(F.lit(0), F.col("cnt") - 1)).alias("j")
        ).withColumn("g", F.col("off") + F.col("j"))
        host = self._host_col(F.col("k"))
        url = F.concat(F.lit("http://"), host, F.lit("/detail/"),
                       F.col("j").cast("string"))
        image_id = F.concat(F.lit("img-"), F.lpad(F.col("g").cast("string"), 8, "0"))
        payload = F.to_json(
            F.struct(
                F.col("g").alias("doc"),
                image_id.alias("image_id"),
                F.lit(None).cast("string").alias("caption"),
            )
        )
        status = (
            F.when((F.col("j") % 101 == 100) & F.lit(self.with_errors), 500)
            .otherwise(200)
        )
        flaky = (
            F.when((F.col("j") % 97 == 96) & F.lit(self.with_flaky), 2)
            .otherwise(0)
        )
        return d.select(
            url.alias("url"),
            host.alias("host"),
            F.lit("detail").alias("kind"),
            status.cast("int").alias("status"),
            F.lit("json").alias("payload_kind"),
            payload.cast("binary").alias("payload"),
            F.lit(None).cast("array<string>").alias("links"),
            F.lit(None).cast("string").alias("next_url"),
            image_id.alias("image_id"),
            flaky.cast("int").alias("flaky_rejects"),
        )

    def _list_pages(self, spark: SparkSession) -> DataFrame:
        per = self.details_per_list
        hosts = spark.createDataFrame(
            [(k, self.offsets[k + 1] - self.offsets[k]) for k in range(self.n_hosts)],
            "k int, cnt long",
        )
        pages = hosts.select(
            "k", "cnt",
            F.explode(
                F.sequence(F.lit(0), ((F.col("cnt") - 1) / per).cast("long"))
            ).alias("p"),
        )
        host = self._host_col(F.col("k"))
        base = F.concat(F.lit("http://"), host)
        lo = F.col("p") * per
        hi = F.least(lo + per - 1, F.col("cnt") - 1)
        own_links = F.transform(
            F.sequence(lo, hi),
            lambda j: F.concat(base, F.lit("/detail/"), j.cast("string")),
        )
        # cross-host duplicate link (seen-set exercise): detail 0 of next host
        cross = F.concat(
            F.lit("http://"),
            self._host_col((F.col("k") + 1) % self.n_hosts),
            F.lit("/detail/0"),
        )
        links = F.concat(own_links, F.array(cross))
        # HTML payload built natively: anchors joined into a body
        anchors = F.aggregate(
            links,
            F.lit(""),
            lambda acc, u: F.concat(
                acc, F.lit('<li><a class="d" href="'), u, F.lit('">x</a></li>')
            ),
        )
        payload = F.concat(
            F.lit("<html><body><ul>"), anchors, F.lit("</ul></body></html>")
        )
        has_next = (F.col("p") + 1) * per < F.col("cnt")
        next_url = F.when(
            has_next,
            F.concat(base, F.lit("/list?page="), (F.col("p") + 1).cast("string")),
        )
        url = F.concat(base, F.lit("/list?page="), F.col("p").cast("string"))
        return pages.select(
            url.alias("url"),
            host.alias("host"),
            F.lit("list").alias("kind"),
            F.lit(200).alias("status"),
            F.lit("html").alias("payload_kind"),
            payload.cast("binary").alias("payload"),
            links.alias("links"),
            next_url.cast("string").alias("next_url"),
            F.lit(None).cast("string").alias("image_id"),
            F.lit(0).alias("flaky_rejects"),
        )

    # ------------------------------------------------------------- seeds
    def seeds(self) -> list[dict]:
        """One seed per host root list page (multi-seed union,
        reference ``cli.py:143-154,424``)."""
        return [
            {
                "page_cls": "MediaListPage",
                "url": f"http://{host_name(k)}/list?page=0",
                "priority": 0,
                "seq": k,
            }
            for k in range(self.n_hosts)
        ]

    def robots(self, spark: SparkSession) -> DataFrame:
        """Disallow /detail/13* on host 1 (north-rule robots mandate)."""
        rows = [(host_name(1), "/detail/13", False)] if self.n_hosts > 1 else []
        return spark.createDataFrame(
            rows, "host string, path_prefix string, allow boolean"
        )


def expected_detail_urls(web: SynthWeb) -> set[str]:
    """Closed-form reachable detail URL set (test oracle)."""
    out = set()
    for k in range(web.n_hosts):
        cnt = web.offsets[k + 1] - web.offsets[k]
        for j in range(cnt):
            out.add(f"http://{host_name(k)}/detail/{j}")
    return out
