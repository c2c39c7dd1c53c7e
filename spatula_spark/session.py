"""SparkSession factory tuned for the crawl engine.

Local-mode testing runs on ``local[N]`` but every conf here is chosen
for multi-executor scale: AQE for runtime re-planning (skew joins on
hot hosts), shuffle partitions matched to parallelism, Arrow for the
pandas-UDF hot path, UTC timezone pinned so the DuckDB oracle compares
timestamps bit-for-bit.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(
    app_name: str = "spatula_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int (→ ``local[n]``), ``"*"``, or None
    (→ ``$SPARK_GRAFT_CPUS`` or all cores). ``shuffle_partitions``
    defaults to the core count — the single most important local-mode
    knob (200 default over-parallelizes small data and starves big).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = n if cores in ("*",) else int(cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd over snappy for every parquet write (wave scratch,
        # snapshots, sinks): smaller bytes win on any IO-constrained
        # store and shrink 100-TB footprints; interleaved same-window
        # A/B on the sync crawl (scratch/codec_ab.py): snappy 28.4 /
        # 29.3 s vs zstd 26.68 / 26.68 s — ~8% faster AND the
        # leg-to-leg spread collapses. Override via env for CPU-bound
        # deployments where snappy's cheaper encode wins.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        # r6: PySpark 4's per-API-call call-site capture does a Python
        # stack inspection plus TWO extra py4j round trips per
        # DataFrame-API call (pyspark.errors.utils._with_origin) purely
        # to enrich error messages. The crawl engine builds hundreds of
        # Column/DataFrame ops per wave on the driver — cProfile showed
        # ~1s of a 13-wave doc-tree crawl in _capture_call_site alone.
        # Scale-independent driver-overhead removal; tracebacks still
        # carry the Python stack. Re-enable via env for debugging.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(
    spark: SparkSession, conf: Mapping[str, object]
) -> Iterator[None]:
    """Set session conf keys for the body of a ``with`` block, then put
    each back as it was, also when the body raises: a set key gets its
    value back, an unset key is unset again (``get(key, default)``
    would report ``default`` as if set, and writing it back pins it).

    Session conf is global to the SparkSession, not to the thread: a
    query planned on another thread meanwhile (the crawl engine's async
    snapshot commit) sees the scoped values. So only keys that shape a
    plan without changing its rows (partition counts, AQE) belong here,
    and each caller stays only for a measured cost:

    - the driver-route ``_land`` in ``plans/engine.py`` (AQE off): with
      AQE on, the salted repartition becomes a query stage of its own,
      one more job per driver land;
    - the vocabulary collect in ``functions/text.py::_bpe_train`` (AQE
      off): with AQE on, the aggregate's map stage is one more job;
    - the ``_bpe_train_spark`` loop (AQE off, loop-sized shuffle
      width): AQE's re-planning was ~25% of the 10-round wall;
    - ``streaming/drain.py::drain_events``: a query takes its state
      partition count from ``shuffle.partitions`` at start, so the
      start runs under the input-sized count (a no-op where it equals
      the session width).

    The drain does not start its query in a ``spark.newSession()``
    (own SQL conf, same SparkContext). A child session drains
    correctly and leaves the parent's conf alone, but it does not
    inherit conf set on the parent at runtime (a parent
    ``spark.sql.session.timeZone`` set after start reads ``UTC`` in the
    child, which would shift window starts), and each child drain left
    two more ``StreamingQueryListenerBus`` on the context's listener
    bus after a Python and a JVM GC, against one for a same-session
    drain, keeping the child session reachable."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_MEM_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_jvm_mem(s: str) -> int:
    """'24g' / '4096m' / raw bytes -> bytes (JVM -Xmx spelling)."""
    s = s.strip().lower().removesuffix("b")
    if s and s[-1] in _MEM_SUFFIX:
        return int(float(s[:-1]) * _MEM_SUFFIX[s[-1]])
    return int(s)


def _driver_heap(spark: SparkSession) -> int:
    """The tighter of the driver and executor heaps (a broadcast also
    lands on every executor); Spark's stock 1 GiB when neither is set.
    Unset keys read as None: a raising lookup (a local master has no
    executor memory) costs a py4j exception conversion per call."""
    mems = [_parse_jvm_mem(v) for v in (
        spark.conf.get(k, None)
        for k in ("spark.driver.memory", "spark.executor.memory")) if v]
    return min(mems) if mems else 1 << 30


def _broadcast_rows_budget(
    spark: SparkSession, frac: float = 0.10, row_bytes: int = 150,
    heap: int | None = None,
) -> int:
    """Rows a broadcast or a driver-resident structure may hold:
    ``frac`` of the heap (``_driver_heap`` unless given) at
    ~``row_bytes``/row, at least 10,000. The defaults size a slim
    frontier broadcast (url + path + input_json + hash-relation
    overhead)."""
    heap = heap if heap is not None else _driver_heap(spark)
    return max(10_000, int(heap * frac) // row_bytes)


_struct = functools.cache(T.StructType.fromDDL)  # DDL -> StructType


def local_df(
    spark: SparkSession, data: list[tuple] | pa.Table,
    schema: T.StructType | str,
) -> DataFrame:
    """One-partition DataFrame over driver-resident rows (tuples in
    ``schema`` order, or an Arrow table). The rows travel to the JVM as
    Arrow batches and are planted there as a LocalRelation (below
    spark.sql.execution.arrow.localRelationThreshold), so scanning the
    result never starts a Python worker — an RDD of Python rows
    (``parallelize``) pays one on every scan. The ``coalesce(1)`` on
    top stops Catalyst's ConvertToLocalRelation: a projection over the
    result runs as a Spark job, where one over a bare
    ``createDataFrame`` of the Arrow table is evaluated on the driver
    and its ``collect()`` starts no job."""
    schema = _struct(schema) if isinstance(schema, str) else schema
    if not isinstance(data, pa.Table):
        data = arrow_table(data, schema)
    return spark.createDataFrame(data, schema=schema).coalesce(1)


def as_df(spark: SparkSession, data: DataFrame | pa.Table,
          schema: T.StructType | str) -> DataFrame:
    """``data`` as a DataFrame: an Arrow table planted by ``local_df``
    in ``schema``, a DataFrame as it is."""
    if isinstance(data, pa.Table):
        return local_df(spark, data, schema)
    return data


def arrow_table(rows: list[tuple], schema: T.StructType | str) -> pa.Table:
    """Driver-resident rows (tuples in ``schema`` order) as an Arrow
    table of ``schema``'s Arrow types."""
    schema = _struct(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
