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

from pyspark.sql import DataFrame, SparkSession

# the state-width rule is imported from here by its tests
from .drain import _state_partitions, drain_events  # noqa: F401


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
    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", watermark)
            .select(*keys, "ts")
            .dropDuplicatesWithinWatermark(list(keys))
            .select(*keys)
        )

    return drain_events(spark, events_path, build,
                        max_files_per_trigger=max_files_per_trigger)


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
    return drain_events(
        spark, events_path,
        lambda stream: derive(stream.withWatermark("ts", watermark))
        .dropDuplicatesWithinWatermark(list(out_cols))
        .select(*out_cols),
    )
