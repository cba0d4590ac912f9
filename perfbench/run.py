#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload ingest_bulk|query_sweep \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
one benchmark JVM (`local[nproc]`, one client, closed loop) with all of its
data in a temp dir under .bench_build that is removed at exit, checks every
output, and prints a report line and, last, one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Exits
non-zero when an output check fails. perfbench/DESIGN.md explains the
workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORKLOADS = ("ingest_bulk", "query_sweep")
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
# DuckDB oracle fingerprints, keyed by the oracle SQL and its inputs
ORACLES = os.path.join(HERE, "fixture", "oracles.json")
# the whole run, build excluded, must end well inside three minutes
JVM_TIMEOUT_S = 170
# a host-probe reading that moved by more than this share within one run
# marks the window as contended
PROBE_DRIFT = 0.25

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, jars, args, tmp, out, scale):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", scale, "--tmp", tmp, "--out", out,
            "--fixture", FIXTURE,
            "--cores", str(nproc())]
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=tmp, start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if args.verbose:
        sys.stderr.write(open(log_path, errors="replace").read())
    result = os.path.join(tmp, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        tail = open(log_path, errors="replace").read()[-3000:]
        fail(f"benchmark JVM exited {proc.returncode}:\n{tail}")
    return json.load(open(result))


def fingerprint(df):
    """(rows, sha256) of a result frame, order-free: columns sorted by name,
    values as strings, rows sorted — the oracle compare's normal form."""
    cols = sorted(df.columns)
    rows = df[cols].astype(str).sort_values(by=cols).itertuples(index=False)
    h = hashlib.sha256("\x1f".join(cols).encode())
    n = 0
    for r in rows:
        h.update(("\x1e" + "\x1f".join(r)).encode())
        n += 1
    return n, h.hexdigest()


def check_sweep(out_dir, refresh):
    """Compare each swept query's output (dumped by the warm pass) with its
    SparkEntry.oracleSql run through DuckDB over the fixture and the dumped
    engine event tail. Run fresh, the oracles take 75-95 s on 4 cores, two
    dedup self-joins most of it — more than a run's share of the time
    budget — so the oracle side comes from ORACLES: fingerprints of earlier
    DuckDB runs, each keyed by the sha256 of its SQL and of every input
    (fixture file bytes, the event tail's content). An oracle whose key
    does not match, or every oracle under --refresh-oracles, runs afresh;
    refreshing stores them when all match. Returns (checked, failures)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    inputs = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(FIXTURE, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        inputs.update(name.encode() + open(p, "rb").read())
    events = con.sql("SELECT * FROM read_parquet("
                     f"'{os.path.join(out_dir, 'engine_events')}/*.parquet')").df()
    inputs.update(repr(fingerprint(events)).encode())
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    stored = {} if refresh or not os.path.exists(ORACLES) else json.load(open(ORACLES))
    fresh, fails = {}, []
    for name, sql in sorted(oracles.items()):
        key = hashlib.sha256(sql.encode() + inputs.digest()).hexdigest()
        try:
            got = fingerprint(con.sql("SELECT * FROM read_parquet("
                                      f"'{os.path.join(out_dir, name)}/*.parquet')").df())
            known = stored.get(name, {})
            if known.get("key") == key:
                want = (known["rows"], known["fingerprint"])
            else:
                want = fingerprint(con.sql(sql.replace("__OUTDIR__", out_dir)).df())
                if not refresh:
                    print(f"perfbench: oracle of {name} ran afresh (SQL or "
                          "inputs changed); --refresh-oracles stores it",
                          file=sys.stderr)
            fresh[name] = {"key": key, "rows": want[0], "fingerprint": want[1]}
            if got != want:
                fails.append(f"{name}: {got[0]} rows, oracle has {want[0]}"
                             + ("; contents differ" if got[0] == want[0] else ""))
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{name}: {str(e).splitlines()[0][:200]}")
    if refresh and not fails:
        with open(ORACLES, "w") as f:
            json.dump(fresh, f, indent=1, sort_keys=True)
            f.write("\n")
    return len(oracles), fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's scale")
    ap.add_argument("--refresh-oracles", action="store_true",
                    help="query_sweep: run every oracle through DuckDB and, "
                         "if all match, store their fingerprints")
    ap.add_argument("--verbose", action="store_true",
                    help="echo the benchmark JVM's log to stderr")
    ap.add_argument("--out", default=os.path.join(build.BUILD, "traces"),
                    help="where a traced run writes its spans")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    if not os.path.isdir(FIXTURE):
        fail(f"fixture {FIXTURE} missing")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        fail(str(e))

    os.makedirs(build.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=build.BUILD)
    try:
        res = run_jvm(classes, jars, args, tmp, os.path.abspath(args.out),
                      args.scale)
        attempted, failures = res["attempted"], list(res["failures"])
        failed = res["failed"]
        if args.workload == "query_sweep":
            t0 = time.time()
            checked, ofails = check_sweep(os.path.join(tmp, "out"),
                                          args.refresh_oracles)
            if args.verbose:
                print(f"perfbench: {checked} oracles checked in "
                      f"{time.time() - t0:.1f} s", file=sys.stderr)
            attempted += checked
            failed += len(ofails)
            failures += ofails
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    before, after = res["probe_s"]
    contended = max(before, after) > (1 + PROBE_DRIFT) * min(before, after)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": res["samples"], "error_rate": failed / max(1, attempted),
        "host_probe_s": [round(before, 4), round(after, 4)],
        "host_contended": contended,
        "figures": res["report"],
    }
    print("report " + json.dumps(report))
    for f in failures[:20]:
        print(f"FAILED {f}")

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        got = res["layer"]
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        got = res["metrics"]
    # a layer this workload does not exercise did no work in it: 0
    metrics = {n: {"value": got.get(n) if got.get(n) is not None else 0.0,
                   "unit": units[n]} for n in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
