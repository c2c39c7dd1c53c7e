"""Streaming URL-seen: the frontier dedup as a continuous query.

The batch engine dedups its frontier with a seen-set anti-join
(operators/seen.py). The streaming spelling of the same semantic is
``dropDuplicatesWithinWatermark``: first occurrence of a key passes,
repeats are dropped, and — the part that matters at 10^10 keys — the
dedup state is EVICTED once the watermark passes a key's event time,
so state is bounded by the watermark horizon x key arrival rate
instead of growing forever (plain streaming ``dropDuplicates`` never
evicts). A key recurring after its state expired is re-emitted: that
is the documented trade (eviction is lazy — end-of-batch — so tests
pin it with a three-batch drain), and
it mirrors the sharded-Bloom seen-set's compaction story on the batch
side.

For local verification the finite parquet file drains in one
micro-batch, where within-watermark dedup equals global distinct —
giving the exact DuckDB oracle in ``entry_queries``.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf
from .windows import EVENTS_SCHEMA


def _as_stream_dir(path: str) -> str:
    if path.endswith(".parquet") and not os.path.isdir(path):
        d = tempfile.mkdtemp(prefix="spatula_stream_")
        os.symlink(os.path.abspath(path), os.path.join(d, "events.parquet"))
        return d
    return path


def _state_partitions(spark: SparkSession, path: str) -> int:
    """State-store partition count derived from INPUT SIZE, capped at
    session parallelism (guide-§2 scale-adaptive partitioning): every
    state partition pays a fixed per-microbatch cost (delta file +
    maintenance snapshot per store instance), so a small keyed stream
    across ``shuffle.partitions`` stores is pure overhead (measured
    1.64s -> 0.91s on the sf0.1 dedup drain at 32 -> 8), while a
    high-throughput stream keeps full width. ~32 MB of source per
    state partition, floor 8. A source of unknown size keeps the full
    width: os.walk sees nothing under an s3:// or hdfs:// path."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        total = 0
        for dp, _dirs, files in os.walk(path, followlinks=True):
            for f in files:
                total += os.path.getsize(os.path.join(dp, f))
    except OSError:
        return n
    if total == 0:
        return n
    return max(min(n, total // (32 << 20) + 1), min(8, n))


def stream_distinct_keys(
    spark: SparkSession,
    events_path: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """First-occurrence key emission with watermark-bounded state.

    Projects to the key columns after the dedup so the output is
    independent of which physical row arrived first (the retained
    row's other columns are arrival-order-dependent; the key set is
    not)."""
    name = "dedup_" + uuid.uuid4().hex[:12]
    src = _as_stream_dir(events_path)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (
        reader.parquet(src)
        .withWatermark("ts", watermark)
        .select(*keys, "ts")
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )
    # the query snapshots shuffle.partitions at start() as its state
    # partition count; derive it from input size, restore the session
    # conf immediately after
    with scoped_conf(spark, {
        "spark.sql.shuffle.partitions": _state_partitions(spark, src)
    }):
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def stream_distinct_derived(
    spark: SparkSession,
    events_path: str,
    derive,
    out_cols: tuple[str, ...],
    watermark: str = "30 minutes",
) -> DataFrame:
    """First-occurrence emission of DERIVED keys — the streaming image
    -ingest dedup: each arriving record maps to a fingerprint (here a
    closed-form perceptual hash; in production the decoder's pHash)
    and only the first sighting of each fingerprint survives,
    watermark-evicted exactly like :func:`stream_distinct_keys`. The
    crawl meaning: a continuously-arriving image firehose is pruned to
    novel images before any expensive embed/caption stage, with state
    bounded by the watermark horizon rather than the corpus.

    ``derive`` maps the raw stream DataFrame (EVENTS_SCHEMA + ts) to
    a DataFrame with ``out_cols`` + ``ts``; dedup is on ``out_cols``.
    """
    name = "fpdedup_" + uuid.uuid4().hex[:12]
    src = _as_stream_dir(events_path)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src)
        .withWatermark("ts", watermark)
    )
    deduped = derive(stream).dropDuplicatesWithinWatermark(list(out_cols))
    # input-sized state partitioning (see _state_partitions)
    with scoped_conf(spark, {
        "spark.sql.shuffle.partitions": _state_partitions(spark, src)
    }):
        q = (
            deduped.select(*out_cols)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.table(name)
