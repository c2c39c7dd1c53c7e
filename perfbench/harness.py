"""Shared machinery for the perfbench workloads.

* ``Bench`` owns one benchmark run: the working directory, the pinned
  Spark session, the process-tree RSS sampler and the result record.
* ``closed_loop`` is the timed window: one client (this process) runs
  an operation, checks it outside the timer, and starts the next one
  until the window's seconds of operation time are spent.

Everything a run writes stays under ``perfbench/_work`` of the
checkout it runs in (Spark local dirs, the JVM temp dir, generated
inputs, spill and snapshot dirs, event logs, span files, results).
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))
    return float(s[k])


# ------------------------------------------------------------------ RSS
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the Python workers are forks
    of one daemon) count once across the processes sharing them."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory(root: int, exclude: set[int]) -> dict[int, int]:
    """PSS bytes of ``root`` and each descendant, minus ``exclude`` and
    their subtrees."""
    kids = _children_map()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            out[pid] = _pss_bytes(pid)
        except OSError:  # the process ended meanwhile
            pass
        todo.extend(kids.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak summed memory (PSS) of this process and its descendants (the
    Python driver, the Spark JVM and its Python workers), sampled from
    /proc. Processes in ``exclude`` (the loopback site server) are
    skipped with their subtrees. ``at_peak`` keeps the per-process
    breakdown of the peak sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak = 0
        self.at_peak: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            mem = tree_memory(me, self.exclude)
            total = sum(mem.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted(
                    ((_comm(p), b // 2**20) for p, b in mem.items()),
                    key=lambda x: -x[1])
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


# ------------------------------------------------------------ the window
@dataclass
class OpResult:
    """One closed-loop operation: its timed parts (seconds), the work it
    completed, how many operations (crawl legs or curation leaves) it
    stands for and how many of those failed their output check."""

    parts: dict[str, float]
    work: float
    ops: int
    failed_ops: int
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return sum(self.parts.values())

    @property
    def ok(self) -> bool:
        return self.failed_ops == 0


def closed_loop(op, seconds: float, log) -> list[OpResult]:
    """Run ``op()`` back to back until ``seconds`` of timed operation
    work are spent (at least one). Check time is outside the timer."""
    out: list[OpResult] = []
    spent = 0.0
    while not out or spent < seconds:
        r = op()
        out.append(r)
        spent += r.wall
        log(f"op {len(out)}: wall {r.wall:.3f}s ok={r.ok} "
            + " ".join(f"{k}={v:.3f}" for k, v in r.parts.items()))
    return out


# ------------------------------------------------------------- the run
class Bench:
    """One benchmark run: its work directory, pinned session, memory
    sampler and result record."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = WORK / f"{workload}-{seed}-{os.getpid()}"
        if self.work.exists():
            shutil.rmtree(self.work)
        for sub in ("tmp", "spark-local", "spans", "eventlog"):
            (self.work / sub).mkdir(parents=True)
        self.rss = RssSampler()
        self.record: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(trace)}
        self.spark = None
        self.tracer = None
        self.span_dir: str | None = None
        # Python workers import the package and the benchmark's hooks
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT), str(HERE)]
            + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
               if p])
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.workload}] {msg}", file=sys.stderr,
              flush=True)

    def conf(self, event_log: bool) -> dict[str, str]:
        n = nproc()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.shuffle.partitions": str(n),
            "spark.sql.parquet.compression.codec": "zstd",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work / 'eventlog'}",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_spark(self, event_log: bool) -> float:
        """Start the pinned session and run a first job; returns the
        seconds taken."""
        from spatula_spark.session import get_spark

        t0 = time.perf_counter()
        conf = self.conf(event_log)
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", cores=nproc(),
            shuffle_partitions=nproc(), extra_conf=conf,
        )
        self.spark.range(1).count()
        dt = time.perf_counter() - t0
        import pyspark

        self.record["settings"] = {
            "master": f"local[{nproc()}]",
            "nproc": nproc(),
            **{k: v for k, v in conf.items()
               if not k.startswith(("spark.local", "spark.sql.warehouse",
                                    "spark.driver.extraJava",
                                    "spark.eventLog.dir"))},
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
        }
        return dt

    def event_log_file(self) -> Path:
        """The session's event log (complete once the session stopped)."""
        files = list((self.work / "eventlog").iterdir())
        if len(files) != 1:
            raise RuntimeError(f"expected one Spark event log, found {files}")
        return files[0]

    def host_control(self) -> dict:
        """Same-window host control: the repo's CPU-kernel and parquet-IO
        probes, run by import in a child process (they fork pools, which
        a process holding the JVM gateway's threads should not do)."""
        code = (
            "import json, sys; sys.path[:0] = sys.argv[1:3]\n"
            "import spatula_spark.functions.images\n"
            "import hw_kernel_bench, hw_io_bench\n"
            "rate, bad = hw_kernel_bench.run(4, 48)\n"
            "io = hw_io_bench.run(4, 4, base=sys.argv[3])\n"
            "print(json.dumps({'kernel_items_per_s': round(rate, 1),"
            " 'kernel_bad': bad, **io}))\n"
        )
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "-c", code, str(ROOT), str(ROOT / "scripts"),
             str(self.work / "tmp")],
            capture_output=True, text=True, timeout=120, cwd=str(ROOT),
        )
        if p.returncode != 0:
            raise RuntimeError(f"host control failed: {p.stderr[-800:]}")
        out = json.loads(p.stdout.strip().splitlines()[-1])
        out["seconds"] = round(time.perf_counter() - t0, 3)
        return out

    def finish(self, ops: list[OpResult], metrics: dict, units: dict) -> dict:
        attempted = sum(r.ops for r in ops)
        failed = sum(r.failed_ops for r in ops)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(v), "unit": units[k]}
                for k, v in metrics.items()
            } if failed == 0 else {},
        }
        self.record["ops"] = [
            {"parts": r.parts, "ok": r.ok, "work": r.work, **r.extra}
            for r in ops
        ]
        self.record["result"] = result
        path = self.result_path(self.trace)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.record, indent=1, default=str))
        return result

    def result_path(self, trace: bool) -> Path:
        """The run record of this workload and seed, traced or not."""
        return (WORK / "results"
                / f"{self.workload}-seed{self.seed}-trace{int(trace)}.json")

    def close(self) -> None:
        """Stop the session, end the JVM and wait for every process
        this run started (the JVM's Python workers end with it)."""
        self.rss.stop()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        me = os.getpid()
        while _children_map().get(me) and time.time() < deadline:
            time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)
