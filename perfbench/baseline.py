"""Run the benchmark on consecutive seeds and summarise the runs.

    python3 perfbench/baseline.py --first-seed 1 --seeds 10 --out results.json
    python3 perfbench/baseline.py --workloads crawl_wide --seeds 5

Each run is ``perfbench/run.py`` with BENCHMARK.json's ``run_seconds``,
one after another. For every workload and end-to-end metric it prints
the median, and the spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound. ``--traced`` adds one traced run per
workload (on the first seed), whose per-layer table goes to ``--out``
with the tracing overhead: the traced run's wall minus the untraced
run's ``wall_s`` on the same seed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return {"seed": seed, "run_s": time.perf_counter() - t0,
            **json.loads(lines[-1])}


def summarise(runs: list[dict], spec: dict) -> dict:
    out = {"runs": len(runs),
           "all_correct": all(r["correct"] for r in runs),
           "run_s_median": statistics.median(r["run_s"] for r in runs)}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs
                if r["correct"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = {"median": med, "spread": (q3 - q1) / med,
                          "bound": m["bound"], "unit": m["unit"],
                          "values": vals}
    return out


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=names,
                    choices=WORKLOADS)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    report = {}
    for w in args.workloads:
        runs = [run_once(w, s, spec["run_seconds"], 0) for s in seeds]
        report[w] = summarise(runs, spec)
        print(f"{w}: {len(runs)} runs, all correct: "
              f"{report[w]['all_correct']}, median run "
              f"{report[w]['run_s_median']:.1f} s")
        for m in spec["end_to_end"]:
            s = report[w][m["name"]]
            print(f"  {m['name']:12s} median {s['median']:10.3f} "
                  f"{m['unit']:5s} spread {s['spread']:.3f} "
                  f"(bound {m['bound']})")
        if args.traced:
            traced = run_once(w, args.first_seed, spec["run_seconds"], 1)
            report[w]["per_layer"] = {k: v["value"] for k, v
                                      in traced["metrics"].items()}
            record = json.loads(
                (HERE / "_work" / "results"
                 / f"{w}-seed{args.first_seed}-trace1.json").read_text())
            report[w]["trace_overhead_s"] = record.get("trace_overhead_s")
            print(f"  traced wall {report[w]['per_layer']['trace.wall_s']:.3f}"
                  f" s, tracing overhead {report[w]['trace_overhead_s']} s")
    if args.out:
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
