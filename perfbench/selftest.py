#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale:

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced at
--scale tiny, and checks that
  - the last output line is the result object, with every metric of
    BENCHMARK.json and no other, each with its unit, and all checks passed;
  - every span has a parent (one root per traced phase) and a self time no
    larger than its wall;
  - a run leaves nothing behind: no temp dir, and no file of the repository
    outside .bench_build added or changed;
  - run.py fails fast, without a result line, in a directory holding only
    BENCHMARK.json and the benchmark's files.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def tree():
    """(path, size, mtime) of every file outside .git and .bench_build."""
    out = set()
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not (d == ROOT and x in (".git", ".bench_build"))]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            out.add((os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns))
    return out


def expect(ok, msg):
    if not ok:
        print(f"selftest FAILED: {msg}")
        sys.exit(1)


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def check_spans(path):
    spans = json.load(open(path))
    ids = {s["id"] for s in spans}
    roots = [s for s in spans if s["parent"] == -1]
    expect(len(roots) == 1, f"{path}: {len(roots)} root spans, expected 1")
    for s in spans:
        expect(s["parent"] == -1 or s["parent"] in ids,
               f"{path}: span {s['id']} ({s['name']}) has no parent")
        expect(0 <= s["self_us"] <= s["wall_us"],
               f"{path}: span {s['id']} ({s['name']}) self {s['self_us']} > wall {s['wall_us']}")
    return len(spans)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    before = tree()
    traces = tempfile.mkdtemp(prefix="selftest-", dir=BUILD if os.path.isdir(BUILD) else None)
    try:
        for w in (x["name"] for x in spec["workloads"]):
            for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
                r = run(["--workload", w, "--seed", "7", "--seconds", "1",
                         "--trace", str(trace), "--scale", "tiny", "--out", traces])
                what = f"{w} --trace {trace}"
                expect(r.returncode == 0, f"{what} exited {r.returncode}:\n"
                       f"{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
                res = json.loads(r.stdout.strip().splitlines()[-1])
                expect(set(res) == RESULT_KEYS, f"{what}: result keys {sorted(res)}")
                expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                       f"{what}: checks failed:\n{r.stdout[-2000:]}")
                names = {m["name"] for m in listed}
                expect(set(res["metrics"]) == names,
                       f"{what}: printed {sorted(set(res['metrics']) ^ names)} "
                       "differ from BENCHMARK.json")
                for n, m in res["metrics"].items():
                    expect(m["unit"] == units[n] and isinstance(m["value"], (int, float)),
                           f"{what}: metric {n} is {m}")
                if trace:
                    n = check_spans(os.path.join(traces, f"spans-{w}-7.json"))
                    print(f"selftest: {what}: {n} spans ok")
                print(f"selftest: {what}: ok ({res['attempted']} ops)")
        leftovers = [d for d in os.listdir(BUILD) if d.startswith("run-")]
        expect(not leftovers, f"temp dirs left behind: {leftovers}")

        bare = tempfile.mkdtemp(prefix="selftest-bare-", dir=BUILD)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
        r = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=bare)
        shutil.rmtree(bare)
        expect(r.returncode != 0 and '"correct"' not in r.stdout,
               "run.py without the engine's sources did not fail fast")
        print("selftest: bare checkout fails fast: ok")
    finally:
        shutil.rmtree(traces, ignore_errors=True)
    changed = sorted({p for p, _, _ in tree() ^ before})
    expect(not changed, f"files outside .bench_build changed: {changed}")
    print("selftest: nothing written outside .bench_build: ok")
    print("selftest: PASS")


if __name__ == "__main__":
    main()
