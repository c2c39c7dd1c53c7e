"""Flagship driver-data crawl: a binary-tree web derived from the
documents table.

The driver's testdata has no web graph, so one is derived **in
closed form** from ``documents.parquet``: doc ``i`` lives at
``http://h{i%7}.docs.example.com/doc/{i}`` and links to docs
``2i+1`` / ``2i+2`` (a binary heap rooted at doc 0 spanning every
row). The crawl from seed 0 must therefore reach every document, with
``wave == floor(log2(doc_id+1))`` — all of which a DuckDB recursive
CTE can verify exactly (the correctness oracle for the *engine loop
itself*, not just its parts).

The page spec is fully native (pure Catalyst emissions), same as the
media pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..urls import canonicalize_url, url_hash
from . import native as N
from .engine import CrawlConfig, CrawlEngine
from .pagespec import PageRegistry, PageSpec


def doc_url(doc_id) -> F.Column:
    return F.concat(
        F.lit("http://h"),
        (doc_id % 7).cast("string"),
        F.lit(".docs.example.com/doc/"),
        doc_id.cast("string"),
    )


def doc_page_store(docs: DataFrame) -> DataFrame:
    """documents -> page-store rows (pure column exprs)."""
    n = docs.count()
    d = F.col("doc_id")
    children = F.filter(
        F.array(d * 2 + 1, d * 2 + 2), lambda c: c < F.lit(n)
    )
    links = F.transform(children, lambda c: doc_url(c))
    payload = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    url = doc_url(d)
    return docs.select(
        url.alias("url"),
        F.concat(F.lit("h"), (d % 7).cast("string"),
                 F.lit(".docs.example.com")).alias("host"),
        F.lit("detail").alias("kind"),
        F.lit(200).alias("status"),
        F.lit("json").alias("payload_kind"),
        payload.cast("binary").alias("payload"),
        links.alias("links"),
        F.lit(None).cast("string").alias("next_url"),
        F.lit(None).cast("string").alias("image_id"),
        F.lit(0).alias("flaky_rejects"),
    ).withColumn("canon_url", canonicalize_url(F.col("url"))).withColumn(
        "url_hash", url_hash(F.col("canon_url"))
    )


def _doc_arr():
    # item in slot 0, children in slots 1.. (document order)
    return F.concat(
        N.one(N.item_emission(F.col("payload").cast("string"), slot=0)),
        N.children_from_links("DocTreePage", slot_offset=1),
    )


def doc_registry() -> PageRegistry:
    reg = PageRegistry()
    reg.register(PageSpec(name="DocTreePage", native_emit_array=_doc_arr))
    return reg


def crawl_doc_tree(
    spark: SparkSession, sf_dir: str, config: CrawlConfig | None = None
) -> DataFrame:
    """Crawl the derived binary-tree web from seed doc 0; returns
    (doc_id, lang, n_chars, wave) — wave is the BFS depth and must
    equal floor(log2(doc_id+1)) (oracle-verified)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eng = CrawlEngine(spark, doc_registry(),
                      page_store=doc_page_store(docs), config=config)
    res = eng.crawl(
        [{"page_cls": "DocTreePage",
          "url": "http://h0.docs.example.com/doc/0"}]
    )
    return res.results.select(
        F.get_json_object("item_json", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("item_json", "$.lang").alias("lang"),
        F.get_json_object("item_json", "$.n_chars").cast("long").alias("n_chars"),
        F.col("wave").cast("int").alias("wave"),
    )
