"""Crawl-state snapshots: the one module that knows the snapshot format.

The crawl engine commits wave state and resumes from it through one
two-method contract, which both stores here implement:

* ``commit(wave, frontier, seen_delta, items, metrics_rows)``: the full
  frontier after wave ``wave``, the seen keys and result rows new since
  the previous commit (``seen_delta`` None when none), and every
  metrics row so far. The engine keeps the cadence for either store
  (every ``checkpoint_every`` waves, optionally on one background
  thread, plus a tail commit when the crawl stops mid-window). Each
  view is a DataFrame, or an Arrow table in the view's schema
  (``FRONTIER_SCHEMA``, ``SEEN_SCHEMA``, ``RESULT_SCHEMA``) when the
  engine already holds the window's rows on the driver.
* ``resume() -> Resumed | None``: the latest committed snapshot, or
  None when there is none.

Both commit manifest-last: readers take the latest manifested wave, so
a kill mid-commit leaves the previous snapshot whole. ``seen_volatile``
says whether the seen files a resume read can vanish mid-crawl.

``ParquetSnapshots`` (``checkpoint_dir``) is a parquet-manifest
ANALOGUE of Iceberg snapshots for deployments without the Iceberg
runtime jar: one ``wave=N`` dir per commit holding ``frontier``,
``seen_delta`` (append-only), ``items``, every ``_COMPACT_EVERY``
deltas a ``seen_base`` (the whole seen set, so resume reads one base
and fewer than ``_COMPACT_EVERY`` deltas), and ``MANIFEST.json``
(written last). Superseded seen dirs stay on disk. A DataFrame
view is written by Spark; an Arrow view by ``pyarrow`` on the calling
thread, as one part file in the session's
``spark.sql.parquet.compression.codec`` with every column optional (as
Spark writes them), so a small wave's commit starts no Spark job.
Its ``Resumed`` names the frontier and seen dirs, which the engine
reads with ``read_parquet_dirs`` (pyarrow, no Spark job) when the
resumed wave is small enough for the driver.

``IcebergSnapshots`` (``iceberg_table_prefix``) is the catalog-native
store for deployments that have one (`spark-submit --packages
org.apache.iceberg:iceberg-spark-runtime-...` plus a
``spark.sql.catalog.<name>`` configuration): four real tables, the
manifest table's row as commit marker. Resume drops the rows a killed
commit appended past the latest manifested wave with a row-level
``DELETE ... WHERE wave > N``. Its append-only seen table has no delta
fan-in to compact. Arrow views are planted as LocalRelations
(``local_df``) and appended like any other. Its e2e test
(tests/test_crawl_media.py::test_iceberg_checkpoint_resume) is
skip-marked without a catalog, so that Arrow path is unexercised here.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from ..session import _struct, as_df

SEEN_SCHEMA = "url_hash long, seen_key long"

# parquet seen compaction: every K committed seen deltas, the commit
# rewrites the accumulated seen set as one seen_base under its wave, so
# resume reads ONE base + at most K-1 deltas instead of every wave's
# delta since the crawl began — a 1000-wave crawl at 10^10-URL scale
# would otherwise fan in 1000 small parquet dirs. LSM-style tradeoff:
# one O(|seen|) rewrite per K waves against resume fan-in.
_COMPACT_EVERY = 16

# spark.sql.parquet.compression.codec -> the pyarrow codec that writes
# the same parquet compression; a codec pyarrow cannot write (lzo)
# leaves the Arrow view to a Spark write
_ARROW_CODECS = {
    "none": "none", "uncompressed": "none", "snappy": "snappy",
    "gzip": "gzip", "brotli": "brotli", "lz4": "lz4", "lz4_raw": "lz4",
    "zstd": "zstd",
}

_ICEBERG_CATALOG_CLASSES = (
    "org.apache.iceberg.spark.SparkCatalog",
    "org.apache.iceberg.spark.SparkSessionCatalog",
)


class CrawlError(Exception):
    pass


@dataclass
class Resumed:
    """A committed snapshot, read back for the crawl to continue."""

    frontier: DataFrame
    seen: DataFrame
    items: DataFrame  # every committed result row
    metrics_rows: list[dict]
    next_wave: int
    # row counts known without a job, else None (the engine counts)
    n_frontier: int | None
    n_seen: int | None
    # the parquet dirs frontier and seen scan, for a driver read with
    # read_parquet_dirs; None when the store keeps no such files
    frontier_dir: str | None = None
    seen_dirs: list[str] | None = None


def open_snapshots(spark: SparkSession, cfg):
    """The store a crawl with CrawlConfig ``cfg`` commits to and resumes
    from: Iceberg tables when ``iceberg_table_prefix`` is set, else
    parquet under ``checkpoint_dir``, else None (no snapshots)."""
    if cfg.iceberg_table_prefix:
        if not iceberg_available(spark):
            raise CrawlError(
                "iceberg_table_prefix is set but no Iceberg catalog "
                "is configured/loadable on this session (need "
                "spark.sql.catalog.<name>=org.apache.iceberg.spark."
                "SparkCatalog and the iceberg-spark-runtime jar); "
                "use checkpoint_dir for the parquet-manifest analogue"
            )
        return IcebergSnapshots(spark, cfg.iceberg_table_prefix)
    if cfg.checkpoint_dir:
        return ParquetSnapshots(spark, cfg.checkpoint_dir)
    return None


class ParquetSnapshots:
    """Wave-granular snapshots as ``wave=N`` parquet dirs under ``base``
    (layout in the module docstring)."""

    # no commit deletes a seen dir a resume read
    seen_volatile = False

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base

    def _path(self, wave: int, *sub: str) -> str:
        return os.path.join(self.base, f"wave={wave}", *sub)

    def commit(self, wave, frontier, seen_delta, items, metrics_rows):
        """Full frontier + the seen and results deltas + metrics +
        manifest. Atomicity is emulated by writing the manifest last."""
        d = self._path(wave)
        if os.path.exists(d):
            shutil.rmtree(d)
        self._write(frontier, os.path.join(d, "frontier"),
                    schemas.FRONTIER_SCHEMA)
        if seen_delta is not None:
            self._write(seen_delta, os.path.join(d, "seen_delta"),
                        SEEN_SCHEMA)
        self._write(items, os.path.join(d, "items"), schemas.RESULT_SCHEMA)
        has_base = self._compact_seen(wave, seen_delta)
        # Iceberg-manifest file stats: per-file bytes + row counts read
        # from the parquet footers (no data scan) — resumability and
        # skew diagnostics ride the snapshot itself
        stats = {
            sub: _parquet_dir_stats(os.path.join(d, sub))
            for sub in ("frontier", "seen_delta", "seen_base", "items")
            if os.path.isdir(os.path.join(d, sub))
        }
        with open(os.path.join(d, "MANIFEST.json"), "w") as f:
            json.dump({"wave": wave, "complete": True,
                       "has_delta": seen_delta is not None,
                       "seen_base": has_base, "files": stats,
                       "metrics": metrics_rows}, f)

    def _write(self, view, path: str, schema) -> None:
        """One snapshot view as a parquet dir: a DataFrame by a Spark
        write, an Arrow table by ``pq.write_table`` in the session codec
        (no Spark job)."""
        codec = _ARROW_CODECS.get(self.spark.conf.get(
            "spark.sql.parquet.compression.codec", "snappy").lower())
        if codec is None or isinstance(view, DataFrame):
            as_df(self.spark, view, schema).write.mode(
                "overwrite").parquet(path)
            return
        os.makedirs(path)
        optional = pa.schema([f.with_nullable(True) for f in view.schema])
        pq.write_table(view.cast(optional),
                       os.path.join(path, "part-00000.parquet"),
                       compression=codec)

    def _compact_seen(self, wave, seen_delta) -> bool:
        """Compact the seen set into ``wave=N/seen_base`` when
        ``_COMPACT_EVERY`` deltas have accumulated since the last base
        (Iceberg manifest-rewrite analogue). Runs BEFORE this wave's
        manifest, so a kill mid-compaction leaves the previous snapshot
        chain fully intact. Per-wave deltas are disjoint by
        construction (each holds only keys NEW that wave), so the base
        is a plain union — no distinct shuffle."""
        base_wave, delta_waves = self._seen_sources(upto=wave - 1)
        pending = len(delta_waves) + (1 if seen_delta is not None else 0)
        if pending < _COMPACT_EVERY:
            return False
        parts = ([self._path(base_wave, "seen_base")]
                 if base_wave is not None else [])
        parts += [self._path(w, "seen_delta") for w in delta_waves]
        if seen_delta is not None:
            parts.append(self._path(wave, "seen_delta"))
        # one reader over all source dirs: a single scan+write job
        self.spark.read.schema(SEEN_SCHEMA).parquet(*parts) \
            .write.mode("overwrite").parquet(self._path(wave, "seen_base"))
        return True

    def _seen_sources(self, upto):
        """(latest committed base wave <= upto or None, delta waves to
        union after it). The seen set as of wave ``upto`` is
        seen_base(base_wave) ∪ deltas of waves in (base_wave, upto] —
        bounded fan-in regardless of crawl length."""
        base_wave = None
        deltas = []
        # ascending: the latest base wins
        for w in self._committed_waves(upto):
            if os.path.isdir(self._path(w, "seen_base")):
                base_wave = w
            if os.path.isdir(self._path(w, "seen_delta")):
                deltas.append(w)
        return base_wave, [
            w for w in deltas if base_wave is None or w > base_wave
        ]

    def resume(self) -> Resumed | None:
        waves = self._committed_waves(None)
        if not waves:
            return None
        last = max(waves)
        manifest = self._manifest(last)
        # every read pins the schema the engine wrote: no footer
        # inference job, and a frontier written before hash-at-emission
        # reads its missing url_hash / seen_key columns as null
        read = self.spark.read.schema
        frontier = read(schemas.FRONTIER_SCHEMA).parquet(
            self._path(last, "frontier"))
        base_wave, delta_waves = self._seen_sources(upto=last)
        for w in waves:
            # a wave whose manifest says it HAD a delta, whose dir is
            # gone and that no seen_base covers: the snapshot is
            # damaged. Fail loudly, never rebuild an incomplete seen
            # set (it would silently refetch)
            if (base_wave is not None and w <= base_wave) or w in delta_waves:
                continue
            if self._manifest(w).get("has_delta"):
                raise CrawlError(
                    f"wave {w}'s seen delta is missing from {self.base} "
                    f"and no seen_base covers it; cannot resume as of "
                    f"wave {last}"
                )
        parts = ([(base_wave, "seen_base")]
                 if base_wave is not None else [])
        parts += [(w, "seen_delta") for w in delta_waves]
        seen = read(SEEN_SCHEMA).parquet(
            *[self._path(w, sub) for w, sub in parts])
        # row counts from the manifests' footer stats (no job); None
        # when an older manifest lacks them, and the caller counts
        counts = [_manifest_rows(self._manifest(w), sub) for w, sub in parts]
        n_seen = None if None in counts else sum(counts)
        # one multi-path scan: the wave number rides IN the data (the
        # items carry their wave column), so a 1000-wave resume costs
        # one scan node, not 1000 union legs
        items = read(schemas.RESULT_SCHEMA).parquet(
            *[self._path(w, "items") for w in waves])
        return Resumed(frontier, seen, items, list(manifest["metrics"]),
                       last + 1, _manifest_rows(manifest, "frontier"),
                       n_seen, self._path(last, "frontier"),
                       [self._path(w, sub) for w, sub in parts])

    def _waves(self) -> list[int]:
        """Every wave with a snapshot dir, committed or not."""
        if not os.path.isdir(self.base):
            return []
        return [int(e.split("=")[1]) for e in os.listdir(self.base)
                if e.startswith("wave=")]

    def _committed_waves(self, upto: int | None) -> list[int]:
        """Ascending waves with a committed snapshot (its MANIFEST.json),
        at or before ``upto`` when given."""
        return sorted(w for w in self._waves() if (upto is None or w <= upto)
                      and os.path.exists(self._path(w, "MANIFEST.json")))

    def _manifest(self, wave: int) -> dict:
        with open(self._path(wave, "MANIFEST.json")) as f:
            return json.load(f)


def read_parquet_dirs(dirs: list[str], schema) -> pa.Table:
    """Snapshot parquet dirs read on the driver with pyarrow (no Spark
    job) in ``schema``, pinned as the Spark reads pin it: a column a
    file lacks reads as null."""
    if isinstance(schema, str):
        schema = _struct(schema)
    arrow = pa.schema([f.with_nullable(True)
                       for f in to_arrow_schema(schema)])
    return pa.concat_tables([pq.read_table(d, schema=arrow) for d in dirs])


def _manifest_rows(manifest: dict, sub: str) -> int | None:
    """Rows of snapshot subdir ``sub`` from the manifest's footer
    stats, or None when the manifest predates them."""
    files = manifest.get("files", {}).get(sub)
    if files is None or any(fi.get("rows") is None for fi in files):
        return None
    return sum(fi["rows"] for fi in files)


def _parquet_dir_stats(d: str) -> list[dict]:
    """Per-file (relative path, bytes, rows) for every parquet part in
    a snapshot dir — rows come from the footer metadata, no data scan.
    The Iceberg-manifest analogue: size/row skew across part files is
    visible from the manifest alone."""
    out = []
    for root, _, names in os.walk(d):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            p = os.path.join(root, n)
            try:
                rows = pq.ParquetFile(p).metadata.num_rows
            except Exception:
                rows = None
            out.append({"path": os.path.relpath(p, d),
                        "bytes": os.path.getsize(p), "rows": rows})
    return out


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of Iceberg catalogs configured on this session (empty when
    the runtime jar or the configuration is absent)."""
    out = []
    for k, v in spark.sparkContext.getConf().getAll():
        if (
            k.startswith("spark.sql.catalog.")
            and k.count(".") == 3
            and v in _ICEBERG_CATALOG_CLASSES
        ):
            out.append(k.rsplit(".", 1)[1])
    if not out:
        return []
    try:  # the configuration may name a class the classpath lacks
        spark.sparkContext._jvm.java.lang.Class.forName(
            _ICEBERG_CATALOG_CLASSES[0]
        )
    except Exception:
        return []
    return sorted(out)


def iceberg_available(spark: SparkSession) -> bool:
    return bool(iceberg_catalogs(spark))


class IcebergSnapshots:
    """Wave-granular crawl snapshots as four catalog tables under
    ``prefix`` (``<catalog>.<namespace>.<name>``):

    ``<prefix>_frontier``  wave-partitioned full frontier per commit
    ``<prefix>_seen``      append-only (url_hash, seen_key, wave)
    ``<prefix>_items``     append-only results, by their own wave column
    ``<prefix>_manifest``  1 row per committed wave (written LAST)
    """

    # resume's seen rows are a filter over a table that later commits
    # and resumes change
    seen_volatile = True

    def __init__(self, spark: SparkSession, prefix: str):
        if prefix.count(".") != 2:
            raise ValueError(
                "iceberg_table_prefix must be catalog.namespace.name, "
                f"got {prefix!r}"
            )
        self.spark = spark
        self.prefix = prefix
        self.catalog, self.namespace = prefix.split(".")[:2]
        self._ensured = False

    def _t(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    def _ensure_tables(self, frontier: DataFrame, items: DataFrame) -> None:
        if self._ensured:
            return
        self.spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )
        for name, df in (
            ("frontier", frontier.withColumn("wave", F.lit(0))),
            ("items", items),
        ):
            df.limit(0).writeTo(self._t(name)).partitionedBy(
                F.col("wave")
            ).using("iceberg").createOrReplace()
        self.spark.sql(
            f"CREATE OR REPLACE TABLE {self._t('seen')} "
            "(url_hash BIGINT, seen_key BIGINT, wave INT) USING iceberg "
            "PARTITIONED BY (wave)"
        )
        self.spark.sql(
            f"CREATE OR REPLACE TABLE {self._t('manifest')} "
            "(wave INT, metrics_json STRING) USING iceberg"
        )
        self._ensured = True

    # ------------------------------------------------------------ commit
    def commit(self, wave, frontier, seen_delta, items, metrics_rows):
        frontier = as_df(self.spark, frontier, schemas.FRONTIER_SCHEMA)
        seen_delta = as_df(self.spark, seen_delta, SEEN_SCHEMA)
        items = as_df(self.spark, items, schemas.RESULT_SCHEMA)
        self._ensure_tables(frontier, items)
        w = F.lit(wave).cast("int")
        if seen_delta is not None:
            seen_delta.select(
                "url_hash", "seen_key", w.alias("wave")
            ).writeTo(self._t("seen")).append()
        # items keep the wave that emitted them: every one is at or
        # before this commit's wave, and after the previous commit's
        items.writeTo(self._t("items")).append()
        frontier.withColumn("wave", w).writeTo(self._t("frontier")).append()
        # manifest row LAST = the atomic commit marker (readers take
        # max(manifest.wave); everything above is invisible until here)
        self.spark.createDataFrame(
            [(wave, json.dumps(metrics_rows))], "wave int, metrics_json string"
        ).writeTo(self._t("manifest")).append()

    # ------------------------------------------------------------ resume
    def resume(self) -> Resumed | None:
        """The row counts are None: the engine counts the tables."""
        if not self.spark.catalog.tableExists(self._t("manifest")):
            return None
        row = (self.spark.table(self._t("manifest"))
               .orderBy(F.col("wave").desc()).limit(1).collect())
        if not row:
            return None
        last = int(row[0]["wave"])
        # drops rows a killed commit appended after ``last``
        self._rollback_past(last)
        # the tables hold the snapshot chain: later commits append
        self._ensured = True
        frontier = (
            self.spark.table(self._t("frontier"))
            .filter(F.col("wave") == last).drop("wave")
        )
        seen = (
            self.spark.table(self._t("seen"))
            .filter(F.col("wave") <= last).select("url_hash", "seen_key")
        )
        items = (
            self.spark.table(self._t("items"))
            .filter(F.col("wave") <= last)
        )
        return Resumed(frontier, seen, items,
                       list(json.loads(row[0]["metrics_json"])), last + 1,
                       None, None)

    def _rollback_past(self, wave: int) -> None:
        """Delete every row newer than ``wave``, the latest committed
        one: rows a killed commit appended before its manifest row.
        The replayed waves append them again. Row-level DELETE is the
        Iceberg way; it commits a new snapshot per table, so a crash
        mid-way re-runs idempotently on the next resume."""
        for name in ("manifest", "frontier", "seen", "items"):
            self.spark.sql(
                f"DELETE FROM {self._t(name)} WHERE wave > {wave}"
            )
