#!/usr/bin/env python3
"""Runs a workload once per seed and reports each end-to-end metric's
median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload event_scan --runs 10

The spread is (Q3 - Q1) / median, with the quartiles of Python's
statistics.quantiles(values, n=4). A metric is steady when its spread is
below a third of its bound (set-up time is reported but not held to it).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def run(workload, seed, seconds):
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"seed {seed}: {result['failed']} operations failed")
    diag = json.loads(lines[-2].removeprefix("diagnostics "))
    return {k: m["value"] for k, m in result["metrics"].items()}, diag


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    seeds = range(args.first_seed, args.first_seed + args.runs)
    values, diags = {}, []
    for s in seeds:
        metrics, diag = run(args.workload, s, SPEC["run_seconds"])
        diags.append(diag)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
        print(f"seed {s}: " + ", ".join(f"{k}={v[-1]:.4g}"
                                        for k, v in values.items()),
              flush=True)
    print(f"{'metric':20s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'spread':>8s} {'bound':>6s}")
    summary = {}
    for m in SPEC["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        steady = m["name"] == "setup_s" or spread < m["bound"] / 3
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                              "spread": spread, "bound": m["bound"],
                              "values": xs}
        print(f"{m['name']:20s} {med:10.4g} {q1:10.4g} {q3:10.4g} "
              f"{spread:8.3f} {m['bound']:6.2f}"
              f"{'' if steady else '  NOT STEADY'}")
    out = BENCH / ".work" / f"steadiness-{args.workload}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({"workload": args.workload,
                               "seeds": list(seeds), "metrics": summary,
                               "diagnostics": diags}, indent=1) + "\n")


if __name__ == "__main__":
    main()
