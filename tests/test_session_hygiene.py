"""Operators leave the session as they found it: a long-lived session
that runs streaming drains, near-dup operators and a page-store crawl
over and over keeps no cache, temp view, conf change or temp dir of
theirs once their results are gone."""

import gc
import os
import tempfile
import time

from spatula_spark import entry_queries as eq
from spatula_spark.functions import dedup as dd

SF = "/root/testdata/sf0.001"
STREAM_LEAVES = ("stream_window_counts", "stream_sliding_counts",
                 "stream_sessionize", "stream_dedup_keys",
                 "stream_phash_dedup")


def _fresh_inputs(root):
    """A new directory whose tables link the sf0.001 files: every
    round reads new paths, so no plan (and no cache keyed on one) is
    shared with an earlier round."""
    os.makedirs(root)
    for table in ("events", "documents"):
        os.symlink(f"{SF}/{table}.parquet",
                   os.path.join(root, f"{table}.parquet"))
    return root


def _round(spark, sf_dir):
    for leaf in STREAM_LEAVES:
        assert eq.QUERIES[leaf](spark, sf_dir).count() > 0, leaf
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base, delta = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    for out in (dd.minhash_dedup_pairs(docs, max_bucket=50),
                dd.incremental_near_dups(base, delta),
                dd.simhash_near_dups(docs)):
        out.count()
    assert eq.QUERIES["crawl_doc_tree"](spark, sf_dir).count() > 0


def _stream_dirs():
    return {d for d in os.listdir(tempfile.gettempdir())
            if d.startswith("spatula_stream_")}


def _persistent_rdds(spark, floor=None):
    """Persistent RDD count after a Python and a JVM GC. The context
    cleaner unpersists a collected checkpoint on its own thread, so
    the count is polled until it reaches ``floor`` (or 10 s pass)."""
    deadline = time.time() + 10
    while True:
        gc.collect()
        spark._jvm.System.gc()
        n = spark.sparkContext._jsc.getPersistentRDDs().size()
        if floor is None or n <= floor or time.time() > deadline:
            return n
        time.sleep(0.5)


def test_operators_leave_the_session_as_they_found_it(spark, tmp_path):
    views = sorted(t.name for t in spark.catalog.listTables()
                   if t.isTemporary)
    conf = dict(spark.conf.getAll)
    stream_dirs = _stream_dirs()

    _round(spark, _fresh_inputs(str(tmp_path / "r1")))
    after_one = _persistent_rdds(spark)
    _round(spark, _fresh_inputs(str(tmp_path / "r2")))
    assert _persistent_rdds(spark, after_one) <= after_one

    assert sorted(t.name for t in spark.catalog.listTables()
                  if t.isTemporary) == views
    assert dict(spark.conf.getAll) == conf
    assert _stream_dirs() <= stream_dirs
