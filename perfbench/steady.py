"""Steadiness command: run one workload N times and report each metric's spread.

    python3 perfbench/steady.py --workload etl --runs 10 [--first-seed 1]
        [--seconds 6] [--traced 3] [--json OUT.json]

Each run is `run.py` with its own seed (first-seed, first-seed+1, ...).
For every end-to-end metric it prints the median, the quartiles as
`statistics.quantiles(values, n=4)` gives them, and the relative spread
(q3 - q1) / median; the bounds in BENCHMARK.json are set from this output.
It also prints the share of failed operations and the wall time per run.
With `--traced N` it makes N traced runs as well and reports the tracing
overhead: the traced runs' median pass time minus the untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def one_run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"run failed (seed {seed}):\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    runs = []
    for i in range(args.runs):
        r = one_run(args.workload, args.first_seed + i, args.seconds, 0)
        runs.append(r)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"run {i + 1} seed {args.first_seed + i} wall {r['wall_s']:.1f}s "
              f"attempted {r['attempted']} failed {r['failed']} {vals}", flush=True)
    traced = [one_run(args.workload, args.first_seed + i, args.seconds, 1)
              for i in range(args.traced)]

    print(f"\n{args.workload}: {len(runs)} runs, seeds {args.first_seed}.."
          f"{args.first_seed + len(runs) - 1}")
    print(f"{'metric':14s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s}")
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med, q1, q3, rel = stats.spread(values)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": rel,
                         "unit": runs[0]["metrics"][name]["unit"], "values": values}
        print(f"{name:14s} {med:10.4f} {q1:10.4f} {q3:10.4f} {rel:8.3f}")
    shares = sorted({r["failed"] / r["attempted"] for r in runs})
    print(f"failed share per run: {shares}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s, "
          f"max {max(r['wall_s'] for r in runs):.1f}s")
    if traced:
        tp = statistics.median(r["metrics"]["trace.pass_s"]["value"] for r in traced)
        up = summary["pass_s"]["median"]
        print(f"tracing overhead: traced pass_s {tp:.4f} - untraced {up:.4f} = "
              f"{tp - up:+.4f} s ({(tp - up) / up:+.1%})")
        summary["trace_overhead"] = {"traced_pass_s": tp, "untraced_pass_s": up}
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "summary": summary,
                       "runs": runs, "traced": traced}, fh, indent=1)


if __name__ == "__main__":
    main()
