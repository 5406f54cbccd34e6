#!/usr/bin/env python3
"""Fast self-test of the benchmark on tiny generated inputs.

    python3 perfbench/selftest.py [--skip-bare]

Runs every workload twice at a tiny input scale for four seconds: once
untraced (every output must check out and every end-to-end metric must be
printed) and once traced with one deliberately falsified result (exactly
that request must count as failed, every per-layer metric must be printed
and the trace file must hold parented spans). It also checks the
fingerprint mirror and the generator's determinism, and that the
benchmark refuses to run without the library sources. Exits non-zero on
the first failure.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

SCALE = {"wordcount_topn": 0.02, "dedup_lsh": 0.1, "interactive_mix": 0.02}


def fail(msg):
    print(f"[selftest] FAIL: {msg}")
    sys.exit(1)


def spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, corrupt=-1, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "4",
           "--trace", str(trace), "--scale", str(SCALE[workload]),
           "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    return p


def last_json(p):
    if p.returncode != 0:
        fail(f"exit {p.returncode}: {p.stdout[-2000:]}{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_fingerprint():
    import datetime
    rows = [(1, 2.5, "a\tb", None, datetime.datetime(2024, 1, 1, 0, 0, 1))]
    want = "1\td:4004000000000000\ta\\tb\t\\N\tt:1704067201000000"
    got = "\t".join(check.cell(c) for c in rows[0])
    if got != want:
        fail(f"canonical cells {got!r} != {want!r}")


def test_generator():
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        for corpus in ("zipf", "dedup", "mix"):
            ra = gen.generate(a, corpus, 9, 0.01)
            rb = gen.generate(b, corpus, 9, 0.01)
            if ra["stats"] != rb["stats"]:
                fail(f"{corpus}: stats differ for the same seed")
            for f in sorted(os.listdir(a)):
                if open(os.path.join(a, f), "rb").read() != \
                        open(os.path.join(b, f), "rb").read():
                    fail(f"{corpus}: {f} differs for the same seed")
        if gen.generate(a, "dedup", 9, 0.1)["stats"]["planted_pairs"] < 1:
            fail("dedup corpus has no planted pairs")


def test_workload(name, bench):
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    if name == "interactive_mix":  # not gated; adds per-query medians
        layers |= {f"mix.p50_s.{q}" for q in
                   json.load(open(os.path.join(BENCH, "workloads.json")))
                   ["workloads"][name]["queries"]}
    out = last_json(run(name, 0))
    if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
        fail(f"{name}: untraced run not correct: {out}")
    if set(out["metrics"]) != e2e:
        fail(f"{name}: end-to-end metrics {sorted(out['metrics'])}")
    p = run(name, 1, corrupt=1)
    out = last_json(p)
    if out["correct"] or out["failed"] != 1:
        fail(f"{name}: falsified result not counted exactly once: "
             f"failed={out['failed']}")
    if set(out["metrics"]) != layers:
        missing = layers ^ set(out["metrics"])
        fail(f"{name}: per-layer metrics differ: {sorted(missing)}")
    trace = os.path.join(BENCH, ".work", "traces", f"{name}-s3.json")
    spans = json.load(open(trace))
    ids = {s["id"] for s in spans}
    names = {s["name"] for s in spans}
    if not {"request", "queries", "planner", "caching.release"} <= names:
        fail(f"{name}: trace lacks layer spans: {sorted(names)[:12]}")
    if not any(s["name"].startswith("stage.") for s in spans):
        fail(f"{name}: trace lacks stage spans")
    if any(s["parent"] and s["parent"] not in ids for s in spans):
        fail(f"{name}: span with unknown parent")
    print(f"[selftest] {name}: ok ({out['attempted']} traced-run requests)")


def test_bare_checkout():
    """Without the library sources the benchmark must fail, printing no result."""
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", ".build",
                                                      "target", "project"))
        os.makedirs(os.path.join(d, "perfbench", "project"))
        shutil.copy(os.path.join(BENCH, "project", "build.properties"),
                    os.path.join(d, "perfbench", "project"))
        p = run("wordcount_topn", 0, cwd=d)
        if p.returncode == 0 or '"correct"' in p.stdout:
            fail("bare checkout did not fail")
    print("[selftest] bare checkout: refused as expected")


def main():
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    test_fingerprint()
    test_generator()
    print("[selftest] fingerprint + generator: ok")
    bench = spec()
    for name in json.load(open(os.path.join(BENCH, "workloads.json")))["workloads"]:
        test_workload(name, bench)
    if "--skip-bare" not in sys.argv:
        test_bare_checkout()
    print("[selftest] all passed")


if __name__ == "__main__":
    main()
