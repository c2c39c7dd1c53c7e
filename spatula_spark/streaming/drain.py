"""The one way a streaming operator here runs its query: a finite
events source drained synchronously into a LocalRelation. The memory
sink's temp view (every emitted row, held on the driver) is dropped
and the source's temp dir removed before the drain returns, so the
session is left as it was found.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import local_df, scoped_conf

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


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


def drain_events(
    spark: SparkSession,
    events_path: str,
    build: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run ``build`` (the events stream -> the streaming result) as a
    memory-sink query over ``events_path``, drain it, and return its
    rows as a LocalRelation. A single parquet file is symlinked into a
    temp dir (the file source reads directories). A query takes its
    state partition count from ``shuffle.partitions`` at start, so it
    starts under :func:`_state_partitions` (the session width, so a
    no-op, wherever that is 8 or less)."""
    tmp = None
    name = "spatula_drain_" + uuid.uuid4().hex[:12]
    try:
        if (events_path.endswith(".parquet")
                and not os.path.isdir(events_path)):
            tmp = tempfile.mkdtemp(prefix="spatula_stream_")
            os.symlink(os.path.abspath(events_path),
                       os.path.join(tmp, "events.parquet"))
        src = tmp or events_path
        reader = spark.readStream.schema(EVENTS_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger)
        writer = (
            build(reader.parquet(src)).writeStream.format("memory")
            .queryName(name).outputMode(output_mode)
        )
        with scoped_conf(spark, {"spark.sql.shuffle.partitions":
                                 _state_partitions(spark, src)}):
            q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        sink = spark.table(name)
        return local_df(spark, sink.toArrow(), sink.schema)
    finally:
        spark.catalog.dropTempView(name)
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
