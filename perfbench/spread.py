#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload extract --runs 10

Runs the benchmark once per seed (1..runs) and prints, for each
end-to-end metric, the median, the quartile distance
(statistics.quantiles, n=4) as a share of the median, and that share
against the metric's bound in BENCHMARK.json. A benchmark is steady when
every share, setup_s included, is below a third of its bound.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(1, a.runs + 1):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        r = json.loads(last)
        for k in values:
            values[k].append(r["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    worst = 0.0
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / statistics.median(v)
        of_bound = share / m["bound"]
        worst = max(worst, of_bound)
        print(f"{m['name']:>14}: median {statistics.median(v):.6g} {m['unit']}, "
              f"IQR/median {share:.4f} = {of_bound:.2f} of bound {m['bound']}")
    print(f"worst spread: {worst:.2f} of its bound ({'steady' if worst < 1 / 3 else 'NOT steady'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
