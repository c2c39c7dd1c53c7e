"""Streaming dedup (streaming/dedup.py): single-batch distinct
equivalence and the watermark state-eviction trade."""

import datetime as dt
import os
from types import SimpleNamespace

from spatula_spark.streaming.dedup import _state_partitions, stream_distinct_keys


def _write_events(spark, path, rows):
    spark.createDataFrame(
        [(i, ts, uid, et, 1.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def T(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_single_batch_equals_distinct(spark, tmp_path):
    p = str(tmp_path / "ev")
    _write_events(
        spark,
        p,
        [
            (T(0, 0), 1, "click"),
            (T(0, 1), 1, "click"),  # dup, dropped
            (T(0, 2), 2, "click"),
            (T(0, 3), 1, "view"),
        ],
    )
    out = sorted(
        (r["user_id"], r["event_type"])
        for r in stream_distinct_keys(spark, p).collect()
    )
    assert out == [(1, "click"), (1, "view"), (2, "click")]


def test_state_evicted_after_watermark(spark, tmp_path):
    """A key recurring after its dedup state expired is re-emitted —
    the bounded-state trade. Three micro-batches, because eviction is
    lazy: batch 1 advances the watermark past (1, click)'s expiry
    (00:00 + 30min), batch 2's end-of-batch cleanup drops the state,
    batch 3's recurrence then passes as a first occurrence."""
    import shutil
    import time

    d = str(tmp_path / "ev2")
    os.makedirs(d)
    batches = [
        [(T(0, 0), 1, "click"), (T(2, 0), 9, "other")],  # watermark -> 01:30
        [(T(2, 5), 8, "noise")],  # dup window closed; state evicted at end
        [(T(2, 10), 1, "click")],  # recurs after eviction -> re-emitted
    ]
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    i = 0
    for b, rows in enumerate(batches):
        sub = os.path.join(d, f"b{b}.parquet")
        _write_events(spark, sub, rows)
        for f in sorted(os.listdir(sub)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"{i:03d}.parquet")
                shutil.copy(os.path.join(sub, f), dst)
                # file source orders batches by mtime: make it explicit
                os.utime(dst, (time.time() - 100 + i, time.time() - 100 + i))
                i += 1
    rows = stream_distinct_keys(
        spark, flat, max_files_per_trigger=1
    ).collect()
    clicks = [r for r in rows if r["user_id"] == 1]
    assert len(clicks) == 2  # once per side of the eviction
    assert len([r for r in rows if r["user_id"] == 9]) == 1


def test_state_partitions_unknown_size_keeps_session_width(tmp_path):
    """A source os.walk cannot size (an s3:// or hdfs:// path, or an
    empty dir) keeps the session width instead of shrinking to the
    8-partition floor; a small local source still takes the floor."""
    conf = {"spark.sql.shuffle.partitions": "32"}
    spark = SimpleNamespace(
        conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d)))
    assert _state_partitions(spark, "s3://bucket/events/") == 32
    assert _state_partitions(spark, "hdfs://nn:8020/events") == 32
    assert _state_partitions(spark, str(tmp_path)) == 32
    (tmp_path / "part-0.parquet").write_bytes(b"x" * 1024)
    assert _state_partitions(spark, str(tmp_path)) == 8
