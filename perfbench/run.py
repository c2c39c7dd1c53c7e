"""perfbench: one benchmark for the crawl engine and the curation battery.

    python3 perfbench/run.py --workload crawl_http_durable --seed 1 --seconds 5 --trace 0

Workloads: ``crawl_http_durable`` and ``curate_corpus``, the ones
BENCHMARK.json lists, and ``crawl_wide``, run by hand (see
perfbench/README.md). Each run starts a pinned ``local[nproc]``
session, generates its inputs from ``--seed``, warms up, then runs the
workload's operation back to back for ``--seconds`` of operation time,
checking every output outside the timer. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run
writes the Spark event log and records the benchmark's spans around its
calls into the program during the window.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["crawl_http_durable", "curate_corpus", "crawl_wide"]


def run(bench, wl, spec: dict) -> dict:
    """Set up (session, inputs three times, one warm-up operation), then
    the timed window. A traced run keeps the Spark event log on from
    the start and records spans in the window."""
    from crawl_http import BloomTimer
    from harness import closed_loop, median
    from spans import Tracer

    # the host control's worker pools are children too: sample after it
    bench.record["host_control"] = bench.host_control()
    bench.rss.start()
    prep = wl.prepare()
    bench.tracer = Tracer(enabled=False)
    session_s = bench.start_spark(event_log=bench.trace)
    gens = []
    for _ in range(3):
        t0 = time.perf_counter()
        wl.generate()
        gens.append(time.perf_counter() - t0)
    warm = getattr(wl, "warm_up", wl.op)()
    bench.log(f"setup: session {session_s:.2f}s inputs "
              f"{[round(g, 2) for g in gens]} warm-up {warm.wall:.2f}s")
    setup_s = (prep.get("server_start_s", 0.0) + session_s + median(gens)
               + warm.wall)
    bench.record["setup"] = {**prep, "session_s": session_s,
                             "inputs_s": gens, "warmup_s": warm.wall,
                             "setup_s": setup_s}
    bench.record["engine_caps"] = warm.extra.get("engine_caps")
    if bench.trace:
        bench.tracer = Tracer(enabled=True)
        bench.span_dir = str(bench.work / "spans")
    bloom = BloomTimer(bench.tracer) if bench.trace else None
    try:
        ops = closed_loop(wl.op, bench.seconds, bench.log)
    finally:
        if bloom is not None:
            bloom.close()
    all_ops = [warm, *ops]
    wall_s = median([r.wall for r in ops if r.ok])
    if not bench.trace:
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "peak_rss_mb": bench.rss.peak / 1e6,
        }
        rows = spec["end_to_end"]
    else:
        import eventlog
        from spans import load_worker_spans

        bench.spark.stop()  # finalizes the event log
        bench.spark = None
        log = eventlog.load(bench.event_log_file())
        worker = load_worker_spans(bench.span_dir)
        metrics = wl.layers(log, bench.tracer, ops, worker)
        attempted = sum(r.ops for r in all_ops)
        metrics.update({
            "session.start_s": session_s,
            "session.warmup_s": warm.wall,
            "session.inputs_s": median(gens),
            "failed_ratio":
                sum(r.failed_ops for r in all_ops) / max(attempted, 1),
            "trace.wall_s": wall_s,
        })
        # tracing overhead: this wall minus the untraced run's wall of
        # the same workload and seed, when that run's record is here
        untraced = bench.result_path(trace=False)
        if untraced.is_file():
            base = json.loads(untraced.read_text())["result"]["metrics"]
            if "wall_s" in base:
                bench.record["trace_overhead_s"] = (
                    wall_s - base["wall_s"]["value"])
        rows = spec["per_layer"]
    units = {m["name"]: m["unit"] for m in rows}
    bench.record["all_metrics"] = metrics
    bench.record["memory_at_peak_mb"] = bench.rss.at_peak
    # every metric of the table, 0 where this workload has no such layer
    metrics = {k: float(metrics.get(k, 0.0)) for k in units}
    return bench.finish(all_ops, metrics, units)


def main(argv=None) -> int:
    spec_path = ROOT / "BENCHMARK.json"
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "spatula_spark").is_dir() or not spec_path.is_file():
        print("perfbench: run from a checkout of the repository "
              "(spatula_spark/ and BENCHMARK.json not found)",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    sys.path[:0] = [str(ROOT), str(HERE)]

    from crawl_http import CrawlHttpDurable
    from crawl_wide import CrawlWide
    from curate_workload import CurateCorpus
    from harness import Bench

    workloads = {w.name: w for w in (CrawlHttpDurable, CrawlWide,
                                     CurateCorpus)}
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    wl = workloads[args.workload](bench)
    try:
        result = run(bench, wl, spec)
    finally:
        wl.close()
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
