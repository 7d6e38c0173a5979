#!/usr/bin/env python3
"""Determinism self-test for the benchmark's counters.

    python3 perfbench/tests/test_determinism.py

Traced runs must repeat these counters exactly: scheduler.jobs, stages and
tasks, shuffle.records, io.input_rows and operators.out_rows.

- event_scan: every traced run of a query gives the same counters, across
  passes, across two runs of one seed, and across a second seed (the seed
  only reorders the queries).
- stream_upsert: two runs of one seed give the same counters trigger by
  trigger, over the triggers both runs traced.

Takes about five traced runs, a few minutes in all.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
SECONDS = json.loads((BENCH.parent / "BENCHMARK.json").read_text())["run_seconds"]


def traced_ops(workload, seed):
    """Runs one traced run and returns its per-operation counters."""
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(SECONDS), "--trace", "1"],
                       capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-2000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    trace = BENCH / ".work" / "traces" / f"{workload}-seed{seed}.json"
    ops = json.loads(trace.read_text())["ops"]
    assert ops, "no traced operations"
    return ops


def counters(op):
    return tuple(sorted((k, v) for k, v in op.items()
                        if k not in ("op", "name")))


def by_query(ops):
    """{query: counters}, asserting every traced run of a query agrees."""
    seen = {}
    for op in ops:
        c = counters(op)
        assert seen.setdefault(op["name"], c) == c, \
            f"{op['name']}: {seen[op['name']]} != {c}"
    return seen


def test_batch_counters_repeat():
    first = by_query(traced_ops("event_scan", 1))
    again = by_query(traced_ops("event_scan", 1))
    other = by_query(traced_ops("event_scan", 2))
    assert first == again, diff(first, again)
    assert first == other, diff(first, other)


def test_stream_counters_repeat():
    a = {op["name"]: counters(op) for op in traced_ops("stream_upsert", 1)}
    b = {op["name"]: counters(op) for op in traced_ops("stream_upsert", 1)}
    common = sorted(set(a) & set(b))
    assert common, "no trigger traced in both runs"
    assert all(a[k] == b[k] for k in common), diff(a, b)


def diff(a, b):
    return {k: (a.get(k), b.get(k)) for k in set(a) | set(b)
            if a.get(k) != b.get(k)}


if __name__ == "__main__":
    for t in (test_batch_counters_repeat, test_stream_counters_repeat):
        t()
        print(f"ok {t.__name__}", flush=True)
