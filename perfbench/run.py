#!/usr/bin/env python3
"""graft's benchmark: migrate and query_mix.

Usage (from the repository root):
  python3 perfbench/run.py --workload <migrate|query_mix>
                           --seed <n> --seconds <s> --trace <0|1>

Builds graft with the benchmark (build.py), runs one workload in a fresh
JVM over the tables in perfbench/data/ and prints, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. Untraced runs report the end-to-end metrics of
BENCHMARK.json, traced runs the per-layer ones and also write the trace
artifact to perfbench/.work/traces/. Exit status is 0 only when every op
passed its output check. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
sys.path.insert(0, str(BENCH))

WORKLOADS = ("migrate", "query_mix")
# Copies of the project's testdata (sf0.001: all ten tables, read by
# query_mix; sf0.1: lineitem, read by migrate).
DATA = BENCH / "data"
EXPECTED = BENCH / "expected" / "query_mix_sf0.001.json"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 170
# local[1]: one task thread. The inputs are single-file tables that scan
# as one task anyway, and the other cores are left to the JIT compiler
# (still compiling Spark's planner a minute into a run), the garbage
# collector and the driver. With local[2] or local[4] on a shared 4-core
# machine, runs of the same code spread more and query_mix ran slower.
CPUS = 1


def eprint(*a):
    print(*a, file=sys.stderr, flush=True)


def driver_heap():
    """Half the machine's memory in whole GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{max(2, min(8, g))}g"


def norm(rows_df):
    """The oracle comparison's normal form: columns sorted by name, every
    value stringified, row order kept (results are ordered)."""
    df = rows_df[sorted(rows_df.columns)]
    return [tuple(str(v) for v in row) for row in df.itertuples(index=False)]


def fingerprint(con, sql):
    df = con.sql(sql).df()
    rows = norm(df)
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def check_fingerprints(results_dir, warm_errors):
    """Compare every warm-pass result with the committed expected values.
    Returns the list of mismatching queries."""
    import duckdb
    expected = json.loads(EXPECTED.read_text())["queries"]
    con = duckdb.connect()
    bad = []
    for q, want in sorted(expected.items()):
        if q in warm_errors:
            bad.append(f"{q}: {warm_errors[q]}")
            continue
        try:
            n, fp = fingerprint(con, f"SELECT * FROM read_parquet('{results_dir}/{q}/*.parquet')")
        except Exception as e:  # missing or unreadable result
            bad.append(f"{q}: {e}")
            continue
        if (n, fp) != (want["rows"], want["fingerprint"]):
            bad.append(f"{q}: {n} rows fp {fp[:12]}, expected {want['rows']} rows fp {want['fingerprint'][:12]}")
    return bad


def median_of(ops, kind):
    xs = [o["s"] for o in ops if o["kind"] == kind and o["error"] is None]
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res):
    """The BENCHMARK.json end-to-end metrics of one untraced run."""
    ops = res["ops"]
    if workload == "migrate":
        a, b = median_of(ops, "month"), median_of(ops, "flag")
    else:
        # One pass: the sum of the per-query medians; and their geometric mean.
        per_q = [median_of(ops, k) for k in sorted({o["kind"] for o in ops})]
        per_q = [x for x in per_q if x > 0]
        a = sum(per_q)
        b = math.exp(statistics.fmean(math.log(x) for x in per_q)) if per_q else 0.0
    return {"setup_s": statistics.median(res["setup_s"]), "op_a_s": a, "op_b_s": b}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", action="store_true",
                    help="add one op per iteration that must fail (self-test)")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        eprint(f"perfbench: graft sources not found under {ROOT}/src; run from a full checkout")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    import build
    classes = build.build()
    t_start = time.monotonic()  # the first run's build is not held to the run limit

    run = WORK / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    for d in ("tmp", "scratch"):
        (run / d).mkdir()
    out = run / "result.json"
    jars = build.spark_jars()
    cmd = (["java", "-XX:-UsePerfData"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{driver_heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run / 'tmp'}", f"-Dgraft.scratch.dir={run / 'scratch'}",
            f"-Dderby.system.home={run}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(DATA), "--expected", str(EXPECTED),
            "--work", str(run), "--out", str(out), "--cpus", str(CPUS),
            "--inject-fail", "1" if a.inject_fail else "0"])
    log = run / "jvm.log"
    try:
        with open(log, "w") as fh:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run,
                                timeout=max(10, JVM_TIMEOUT_S - (time.monotonic() - t_start))).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 or not out.exists():
        eprint(log.read_text()[-6000:])
        eprint(f"perfbench: JVM failed ({rc}); log kept at {log}")
        return 1
    res = json.loads(out.read_text())
    eprint(f"perfbench: jvm wall {time.monotonic() - t_start:.1f} s, set-up {res['setup_s']}, "
           f"timed {sum(o['s'] for o in res['ops']):.1f} s")

    ops = res["ops"]
    attempted, failed = len(ops), sum(o["error"] is not None for o in ops)
    if a.workload == "query_mix":
        bad = check_fingerprints(res["results_dir"], res["warm_errors"])
        attempted += 1
        failed += bool(bad)
        for b in bad:
            eprint(f"perfbench: fingerprint mismatch {b}")

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        if set(res["per_layer"]) != set(names):
            eprint("perfbench: per-layer metrics differ from BENCHMARK.json: "
                   f"{sorted(set(res['per_layer']) ^ set(names))}")
            return 1
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": res["per_layer"][n], "unit": units[n]} for n in names}
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        artifact = traces / f"{a.workload}-seed{a.seed}.json"
        artifact.write_text(json.dumps(res, indent=1))
        eprint(f"perfbench: trace artifact {artifact}")
    else:
        for kind in sorted({o["kind"] for o in ops}):
            xs = [o["s"] for o in ops if o["kind"] == kind and o["error"] is None]
            if xs:
                eprint(f"perfbench: {kind}: n={len(xs)} median {statistics.median(xs):.4f} s "
                       f"[{' '.join(f'{x:.3f}' for x in xs)}]")
        values = end_to_end(a.workload, res)
        values["ok_share"] = (attempted - failed) / attempted if attempted else 0.0
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
