"""The ``curate_corpus`` workload: curation leaves of
``spatula_spark.entry_queries`` drained to a ``noop`` sink over a seeded
synthetic copy of the tables they read, each checked against its DuckDB
``oracle_sql()`` on the same files.

The copy has the sf0.01 schemas and row counts (documents 500, orders
15,000). The seed draws the rows, their order, and where each table is
cut into its four parquet files.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import ROOT, OpResult, median

import eventlog

# leaf -> the table whose rows it curates (the work unit)
LEAVES = {
    "dedup_lsh_capped": "documents",
    "dedup_incremental": "documents",
    "ngram_containment": "documents",
    "doc_repetition_filters": "documents",
    "text_profile": "documents",
    "bpe_train_merges": "documents",
    "url_canonicalize": "orders",
}
ROWS = {"documents": 500, "orders": 15_000}
FILES = 4  # parquet files per table
VOCAB = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.04:
            # a near-copy of an earlier document: dedup has real pairs
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{int(k)}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _orders(rng: np.random.Generator, n: int) -> pd.DataFrame:
    days = rng.integers(0, 2404, n).astype("timedelta64[D]")
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 1500, n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n), 2),
        "o_orderdate": (np.datetime64("1995-01-01", "us")
                        + days.astype("timedelta64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n),
    })


def generate_tables(seed: int, out_dir) -> None:
    """Write every table as ``<name>.parquet/part-*.parquet`` with a
    seeded row order and file split, and the documents once more as one
    file: the BPE oracle's independent twin reads
    ``single/documents.parquet``.

    Each table is split into ``FILES`` files at seeded cut points within
    10% of an even split. A file is one scan partition, so a fixed file
    count keeps the task count, and with it the work, the same for
    every seed."""
    rng = np.random.default_rng(seed)
    makers = {"documents": _documents, "orders": _orders}
    for name, make in makers.items():
        df = make(rng, ROWS[name])
        df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
        d = out_dir / f"{name}.parquet"
        d.mkdir(parents=True, exist_ok=True)
        for p in d.glob("*.parquet"):
            p.unlink()
        step = len(df) // FILES
        cuts = [i * step + int(rng.integers(-step // 10, step // 10 + 1))
                for i in range(1, FILES)]
        for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, len(df)])):
            pq.write_table(
                pa.Table.from_pandas(df.iloc[lo:hi], preserve_index=False),
                d / f"part-{i:02d}.parquet")
        if name == "documents":
            (out_dir / "single").mkdir(exist_ok=True)
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           out_dir / "single" / "documents.parquet")


class CurateCorpus:
    name = "curate_corpus"

    def __init__(self, bench):
        self.bench = bench
        self.data = bench.work / "tables"
        self.verdict: dict[str, bool] | None = None
        bench.record["input"] = {"rows": ROWS, "leaves": list(LEAVES)}

    def prepare(self) -> dict:
        return {}

    def generate(self) -> None:
        generate_tables(self.bench.seed, self.data)

    def warm_up(self) -> OpResult:
        """The warm-up pass collects every leaf (timed, as warm-up) and
        checks its rows against the leaf's DuckDB oracle (untimed): row
        count, column names and the order-insensitive value hash of
        ``scripts/check_oracles.py``."""
        import duckdb

        from spatula_spark import entry_queries as eq

        check_oracles = load_check_oracles()
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(self.data / "single")
        con = duckdb.connect()
        for t in ROWS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet/*.parquet')")
        parts, self.verdict = {}, {}
        for leaf in LEAVES:
            t0 = time.perf_counter()
            sdf = eq.QUERIES[leaf](self.bench.spark, str(self.data))
            srows = [tuple(r) for r in sdf.collect()]
            parts[leaf] = time.perf_counter() - t0
            oracle = eq.ORACLES[leaf]
            res = con.sql(oracle() if callable(oracle) else oracle)
            drows = res.fetchall()
            self.verdict[leaf] = (
                len(srows) == len(drows)
                and sorted(c.lower() for c in sdf.columns)
                == sorted(c.lower() for c in res.columns)
                and check_oracles.value_hash(srows, list(sdf.columns))
                == check_oracles.value_hash(drows, list(res.columns)))
        con.close()
        return self._result(parts)

    def op(self) -> OpResult:
        from spatula_spark import entry_queries as eq

        spark, tr = self.bench.spark, self.bench.tracer
        parts = {}
        with tr.span("op"):
            for leaf in LEAVES:
                with tr.span("leaf", leaf=leaf):
                    t0 = time.perf_counter()
                    eq.QUERIES[leaf](spark, str(self.data)).write.format(
                        "noop").mode("overwrite").save()
                    parts[leaf] = time.perf_counter() - t0
        return self._result(parts)

    def _result(self, parts: dict[str, float]) -> OpResult:
        bad = [k for k, ok in self.verdict.items() if not ok]
        return OpResult(
            parts=parts, work=sum(ROWS[t] for t in LEAVES.values()),
            ops=len(LEAVES), failed_ops=len(bad),
            extra={"failed_leaves": bad},
        )

    def layers(self, log, tracer, ops, worker) -> dict:
        per: dict[str, list[dict]] = {}
        for s in tracer.named("leaf"):
            jobs = log.jobs_in(s["start"], s["end"])
            tot = eventlog.spark_totals(log, jobs)
            wall = s["end"] - s["start"]
            per.setdefault(s["leaf"], []).append({
                "s": wall / 1e3,
                "jobs": len(jobs),
                "executor_run_s": tot["executor_run_s"],
                "shuffle_mb": tot["shuffle_write_mb"],
                "driver_gap_s":
                    (wall - eventlog.busy_ms(jobs, s["start"], s["end"]))
                    / 1e3,
            })
        out = {f"curate.{leaf}.{k}": median([r[k] for r in rows])
               for leaf, rows in per.items() for k in rows[0]}
        rows = []
        for sp in tracer.named("op"):
            jobs = log.jobs_in(sp["start"], sp["end"])
            rows.append({f"spark.{k}": v for k, v in
                         eventlog.spark_totals(log, jobs).items()
                         if k != "jobs"})
        out.update({k: median([r[k] for r in rows]) for k in rows[0]})
        return out

    def close(self):
        pass


def load_check_oracles():
    """Import ``scripts/check_oracles.py`` for its value hash. Its
    module body puts a fixed repository path first on ``sys.path`` and
    imports ``__spark_entry__``; the contract module is imported from
    this checkout first and ``sys.path`` is restored afterwards."""
    import importlib.util
    import sys

    import __spark_entry__  # noqa: F401

    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracles", ROOT / "scripts" / "check_oracles.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod
