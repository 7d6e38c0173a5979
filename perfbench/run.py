#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload event_scan --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark program from source when either is
missing or stale, runs perfbench.Main in one JVM, checks every operation's
output, prints each metric by name with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
WORK = BENCH / ".work"
# each workload's tables: copies of the project's test data at one scale
DATA = {"event_scan": BENCH / "data" / "sf0.1",
        "llm_curate": BENCH / "data" / "sf0.01",
        "stream_upsert": BENCH / "data" / "sf0.1"}
WORKLOADS = tuple(DATA)
HEAP = "3g"
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect "
    "java.base/java.io java.base/java.net java.base/java.nio java.base/java.util "
    "java.base/java.util.concurrent java.base/java.util.concurrent.atomic "
    "java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action "
    "java.base/sun.util.calendar").split()]

# the engine's G1 settings (build.sbt), at a fixed heap
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             "-XX:G1HeapRegionSize=4m", "-XX:MinHeapFreeRatio=0",
             "-XX:MaxHeapFreeRatio=100", "-XX:MetaspaceSize=512m",
             "-Dspark.sql.session.timeZone=UTC"]

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [REPO / "src" / "main", BENCH / "src", REPO / "project",
             BENCH / "project"]
    files = [REPO / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()
                  and p.suffix in (".scala", ".java", ".sbt", ".properties")
                  and "target" not in p.parts]
    return files


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def classpath():
    """Compiles the engine and perfbench.Main if any source is newer than
    the last build, and returns the runtime classpath."""
    stamp = WORK / "classpath.txt"
    if stamp.exists():
        built = stamp.stat().st_mtime
        if all(p.stat().st_mtime < built for p in sources()):
            return stamp.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed", 1)
    stamp.write_text(lines[-1].strip() + "\n")
    return lines[-1].strip()


def run_benchmark(args, cp, run_dir):
    out = run_dir / "report.json"
    cmd = ["java", *ADD_OPENS, *JVM_FLAGS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores()), "--data", str(DATA[args.workload]),
           "--work", str(run_dir), "--out", str(out)]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    log = run_dir / "benchmark.log"
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=f, stderr=f,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        rc = None
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail("timed out" if rc is None else f"perfbench.Main exited {rc}", 1)
    return json.loads(out.read_text())


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def code_id():
    """The commit when the checkout is a git repository, else a digest of
    the sources."""
    if (REPO / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    import hashlib
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return "src-sha256:" + h.hexdigest()[:16]


# ---- output check: the engine's results against its DuckDB oracle -----

def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return v
    if hasattr(v, "timestamp"):
        import pandas as pd
        return pd.Timestamp(v).value
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(canon(x) for x in v)
    return v


def same(x, y):
    if x == y:
        return True
    return (isinstance(x, float) and isinstance(y, float)
            and math.isnan(x) and math.isnan(y))


def compare(spark_df, duck_df):
    """Exact comparison: column names sorted, rows sorted, values equal
    (NaN equals NaN). Returns a problem description or None."""
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return f"columns {sc} != {dc}"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} != {len(duck_df)}"
    rows = lambda df: sorted((tuple(canon(v) for v in r)
                              for r in df[sc].itertuples(index=False)), key=repr)
    bad = sum(1 for a, b in zip(rows(spark_df), rows(duck_df))
              if not (len(a) == len(b) and all(map(same, a, b))))
    return f"{bad} rows differ" if bad else None


def check_outputs(run_dir, data, queries):
    """Returns {query: problem} for every query whose output differs from
    its oracle over the tables in `data`."""
    import duckdb
    import pandas as pd
    oracle = json.loads((run_dir / "check" / "oracle_sql.json").read_text())
    problems = {}
    for q in queries:
        out = run_dir / "check" / q
        parts = sorted(out.glob("*.parquet")) if out.is_dir() else []
        if not parts:
            problems[q] = "no output"
            continue
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in sorted(data.glob("*.parquet")):
                con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM "
                            f"read_parquet('{t}')")
            expected = con.sql(oracle[q]).df()
        except Exception as e:
            problems[q] = f"oracle failed: {str(e)[:200]}"
            continue
        finally:
            con.close()
        got = pd.concat([pd.read_parquet(p) for p in parts])
        problem = compare(got, expected)
        if problem:
            problems[q] = problem
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so the JVM this run started is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (REPO / "build.sbt").is_file() or \
            not (REPO / "src/main/scala/graft/SparkEntry.scala").is_file():
        fail(f"no engine sources next to {BENCH.name}/ (build.sbt, src/)")

    cp = classpath()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    t0, steal0 = time.time(), steal_s()
    try:
        rep = run_benchmark(args, cp, run_dir)
        attempted = rep["attempted"]
        if args.workload == "stream_upsert":
            failed = rep["failed"]
            check = rep["check"]
        else:
            counts = rep["op_counts"]
            problems = check_outputs(run_dir, DATA[args.workload],
                                     sorted(counts))
            for q in rep["exec_failed"]:
                problems.setdefault(q, "failed to run")
            failed = sum(counts.get(q, 1) for q in problems)
            check = {"queries": len(counts), "mismatched": problems}
        if args.trace:
            trace = run_dir / "trace.json"
            keep = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
            keep.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(trace, keep)
    finally:
        if (run_dir / "benchmark.log").exists():
            shutil.copyfile(run_dir / "benchmark.log", WORK / "last-run.log")
        shutil.rmtree(run_dir, ignore_errors=True)

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = rep["per_layer"] if args.trace else rep["end_to_end"]
    if sorted(values) != sorted(m["name"] for m in wanted):
        fail("reported metrics differ from BENCHMARK.json", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    diag = dict(rep["diagnostics"], check=check, code=code_id(),
                nproc=cores(), heap=HEAP, wall_s=round(time.time() - t0, 3),
                steal_s=round(steal_s() - steal0, 2),
                failed_frac=failed / attempted if attempted else 0.0)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']} {m['unit']}")
    print(f"  {'failed_frac':34s} {diag['failed_frac']:.6g} ratio "
          f"({failed}/{attempted})")
    print("diagnostics " + json.dumps(diag))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
