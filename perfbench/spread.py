"""Run one workload over several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) as a share of the median — the figure a
metric's bound in BENCHMARK.json has to cover.

    python3 perfbench/spread.py --workload pair-scoring --seeds 1-5 [--trace 0]

Run from the repository root. Wall time per run is reported as well, since
every run of every workload has to fit the benchmark's total time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", help="also write the per-metric summary as JSON here")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    secs = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    walls, steals = [], []
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(secs), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        walls.append(time.time() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            print(f"seed {seed}: exit {p.returncode}, no result\n{p.stderr[-2000:]}")
            return 1
        rpath = os.path.join(os.path.dirname(HERE), ".perfbench_work", "results",
                             f"{args.workload}-s{seed}-t{args.trace}.json")
        with open(rpath) as f:
            steal = json.load(f)["report"].get("steal_share", float("nan"))
        steals.append(steal)
        print(f"seed {seed}: exit {p.returncode} wall {walls[-1]:.1f}s steal {steal:.2f} "
              f"correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    summary = {}
    for k, vs in values.items():
        if len(vs) >= 2:
            s = spread(vs)
            b = bounds.get(k)
            flag = "" if b is None else (" OK" if s < b / 3 else (" within bound" if s < b else " OVER BOUND"))
            print(f"{k:32s} median {statistics.median(vs):.6g} spread {s:.4f}"
                  + (f" bound {b}" if b is not None else "") + flag)
            summary[k] = {"median": statistics.median(vs), "spread": s, "values": vs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seeds": args.seeds, "trace": args.trace,
                       "seconds": secs, "wall_s": walls, "steal_share": steals,
                       "metrics": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
