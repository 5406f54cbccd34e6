#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness (`perfbench/build.sbt`) and caches the classpath in
`perfbench/.build/`; later runs rebuild only when a source changed. Each
run then generates its inputs from the seed, computes the expected
results, drives the Spark harness for `--seconds`, checks every output
and prints a summary followed by one JSON line (the last line of stdout):
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Workloads, clients and input sizes are listed in `perfbench/workloads.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

MB = float(1 << 20)
WORKLOADS = json.load(open(os.path.join(BENCH, "workloads.json")))["workloads"]
SETUP_ROUNDS = 3
CORES = 4
RUN_LIMIT_S = 170.0

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _sources():
    lib = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(lib, "scala")):
        raise BenchError(f"library sources not found under {lib}")
    files = []
    for top in (lib, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("Spark installation not found (set SPARK_HOME)")
    return home


def build():
    """Compile library + harness once per source state; returns
    (classpath, oracle SQL by query name)."""
    out = os.path.join(BENCH, ".build")
    digest = hashlib.sha256()
    for f in _sources():
        digest.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    key = digest.hexdigest()
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    oracle_file = os.path.join(out, "oracles.json")
    if not (os.path.exists(stamp) and open(stamp).read() == key
            and os.path.exists(cp_file) and os.path.exists(oracle_file)):
        os.makedirs(out, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline",
                   SPARK_HOME=spark_home())
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
        t0 = time.perf_counter()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True, timeout=850,
            stdin=subprocess.DEVNULL)
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines or "[error]" in lines[-1]:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
            raise BenchError("build failed")
        cp = lines[-1].strip()
        subprocess.run(["java", "-cp", cp, "perfbench.Oracles", oracle_file],
                       check=True, capture_output=True, timeout=120)
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp, "w") as fh:
            fh.write(key)
        print(f"[perfbench] built in {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
    return open(cp_file).read(), json.load(open(oracle_file))


# ---------------------------------------------------------------- run

def expected_results(workload, data_dir, corpus, oracles):
    """Expected fingerprint per request name (dedup: per output)."""
    if workload == "wordcount_topn":
        return {"wordcount_topn": check.fingerprint(corpus["top20"])}
    con = check.connect(data_dir)
    if workload == "dedup_lsh":
        return {sub: check.oracle_hash(con, oracles[q], sort_rows=True)
                for q, sub in (("dedup_minhash_lsh", "pairs"),
                               ("dedup_components", "components"))}
    return {q: check.oracle_hash(con, oracles[q])
            for q in WORKLOADS[workload]["queries"]}


def run_jvm(cp, cfg, flags, work, budget_s):
    cfg_path = os.path.join(work, "config.properties")
    with open(cfg_path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in cfg.items())
    log = open(os.path.join(work, "jvm.log"), "w")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.Popen(
        ["java"] + JVM_OPTS + flags + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                               "perfbench.Harness", cfg_path],
        stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError("harness timed out")
    finally:
        log.close()
    res = os.path.join(cfg["out_dir"], "result.json")
    if rc != 0 or not os.path.exists(res):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"harness exited with {rc}")
    return json.load(open(res))


def verify(workload, reqs, expected, data_dir):
    """Mark each request ok/failed against the expected results."""
    con = check.connect(data_dir) if workload == "dedup_lsh" else None
    for r in reqs:
        r["ok"] = False
        if r["error"]:
            continue
        try:
            if workload == "dedup_lsh":
                bad = [sub for sub, h in expected.items() if h !=
                       check.parquet_hash(con, os.path.join(r["out"], sub))]
                r["ok"] = not bad
                if bad:
                    r["error"] = "wrong result: " + ", ".join(bad)
            else:
                r["ok"] = r["hash"] == expected[r["name"]]
        except Exception as e:  # unreadable output counts as failed
            r["error"] = f"check: {e}"
    return con


def pct(values, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def tail_percentile(lat):
    """Highest percentile (of 50, 90, 95, 99) with >= 10 samples above it."""
    best = 50
    for q in (90, 95, 99):
        if len(lat) * (1 - q / 100.0) >= 10:
            best = q
    return best, pct(lat, best / 100.0)


def end_to_end(res, reqs, setup_s):
    ok = [r for r in reqs if r["ok"]]
    if not ok:
        raise BenchError("no request succeeded")
    lat = [(r["end_us"] - r["start_us"]) / 1e6 for r in ok]
    return {
        "setup_s": (setup_s, "s"),
        "request_p50_s": (statistics.median(lat), "s"),
        # closed loop without think time: throughput = clients / mean latency
        "requests_per_s": (res["clients"] / statistics.mean(lat), "1/s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }, lat


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _union_s(intervals):
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e6


def per_layer(workload, res, reqs, spans, planted_found):
    tr = [r for r in reqs if r["traced"] and r["ok"]]
    un = [r for r in reqs if not r["traced"] and r["ok"]]
    if not tr:
        raise BenchError("no traced request succeeded")
    lay = lambda r, k: r["layer_us"].get(k, 0) / 1e6  # noqa: E731
    cnt = lambda k: [r["counters"][k] for r in tr]  # noqa: E731
    probes = res["probes"]
    traced_groups = {f"bench-c{r['client']}-r{r['index']}" for r in tr}
    stage_iv = [(s["start_us"], s["end_us"]) for s in spans
                if s["name"].startswith("stage.") and s["request"] in traced_groups]
    busy_s = _union_s(stage_iv)
    skews = [r["task_skew"] for r in tr if r["task_skew"] is not None]
    m = {
        "tables.load_s": (_mean(lay(r, "tables") for r in tr), "s"),
        "tables.calls": (_mean(r["table_calls"] for r in tr), "count"),
        "queries.build_s": (_mean(lay(r, "queries") for r in tr), "s"),
        "planner.plan_s": (_mean(lay(r, "planner") for r in tr), "s"),
        "exec.run_s": (_mean(lay(r, "exec") + lay(r, "sink") for r in tr), "s"),
        "exec.jobs": (_mean(cnt("jobs")), "count"),
        "exec.stages": (_mean(cnt("stages")), "count"),
        "exec.tasks": (_mean(cnt("tasks")), "count"),
        "exec.task_run_s": (_mean(cnt("run_ms")) / 1e3, "s"),
        "exec.gc_s": (_mean(cnt("gc_ms")) / 1e3, "s"),
        "exec.failed_tasks": (_mean(cnt("failed_tasks")), "count"),
        "exec.core_util": (sum(cnt("run_ms")) / 1e3 / (busy_s * res["cores"])
                           if busy_s > 0 else 0.0, "ratio"),
        "exec.task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
        "exec.task_wait_s": (_mean(cnt("wait_ms")) / 1e3, "s"),
        "exec.input_mb": (_mean(cnt("input_bytes")) / MB, "MB"),
        "exec.input_records": (_mean(cnt("input_records")), "count"),
        "exec.shuffle_write_mb": (_mean(cnt("shuffle_write_bytes")) / MB, "MB"),
        "exec.shuffle_read_mb": (_mean(cnt("shuffle_read_bytes")) / MB, "MB"),
        "exec.shuffle_records": (_mean(cnt("shuffle_write_records")), "count"),
        "exec.spill_mb": (_mean(cnt("spill_bytes")) / MB, "MB"),
        "exec.combine_ratio": (sum(cnt("shuffle_write_records")) /
                               max(1, sum(cnt("input_records"))), "ratio"),
        "functions.shingle_hashes_s": (probes["shingle_hashes_s"], "s"),
        "functions.minhash_sig_s": (probes["minhash_sig_s"], "s"),
        "functions.dot_s": (probes["dot_s"], "s"),
        "caching.cached_mb": (max(r["cached_bytes"] for r in tr) / MB, "MB"),
        "caching.cached_rdds": (max(r["cached_rdds"] for r in tr), "count"),
        "caching.release_s": (_mean(lay(r, "caching.release") for r in tr), "s"),
        "sink.write_mb": (_mean(cnt("output_bytes")) / MB, "MB"),
        "sink.rows": (_mean(cnt("output_records")), "count"),
        "dedup.lsh_precision": (probes["lsh_precision"], "ratio"),
        "dedup.planted_found": (planted_found, "count"),
    }
    ok = [r for r in reqs if r["ok"]]
    if workload == "interactive_mix":
        for q in WORKLOADS[workload]["queries"]:
            lat = [(r["end_us"] - r["start_us"]) / 1e6 for r in ok if r["name"] == q]
            m[f"mix.p50_s.{q}"] = (statistics.median(lat) if lat else 0.0, "s")
    # tracing overhead: traced minus untraced median latency, per request
    # type (alternate requests are traced), median over types
    diffs, bases = [], []
    for q in sorted({r["name"] for r in ok}):
        t = [(r["end_us"] - r["start_us"]) / 1e6 for r in tr if r["name"] == q]
        u = [(r["end_us"] - r["start_us"]) / 1e6 for r in un if r["name"] == q]
        if t and u:
            diffs.append(statistics.median(t) - statistics.median(u))
            bases.append(statistics.median(u))
    over = statistics.median(diffs) if diffs else 0.0
    m["trace.overhead_s"] = (over, "s")
    m["trace.overhead_frac"] = (over / statistics.median(bases)
                                if bases else 0.0, "ratio")
    # self time per layer: span duration minus what its children cover
    own = [s for s in spans if not s["name"].startswith("stage.")]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    self_by = {}
    for s in own:
        clip = [(max(a, s["start_us"]), min(b, s["end_us"]))
                for a, b in kids.get(s["id"], [])]
        covered = _union_s([(a, b) for a, b in clip if b > a])
        self_by.setdefault(s["name"], 0.0)
        self_by[s["name"]] += (s["end_us"] - s["start_us"]) / 1e6 - covered
    n_req = max(1, sum(1 for s in own if s["name"] == "request"))
    for layer in ("request", "tables", "queries", "planner", "exec", "sink",
                  "caching.release"):
        m[f"self_s.{layer}"] = (self_by.get(layer, 0.0) / n_req, "s")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (self-test uses a tiny one)")
    ap.add_argument("--corrupt", type=int, default=-1,
                    help="falsify the result of the n-th measured request, "
                         "counted from 0 in start order (self-test)")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    cp, oracles = build()
    t_run = time.perf_counter()
    work = os.path.join(BENCH, ".work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    try:
        corpus = gen.generate(data_dir, wl["corpus"], args.seed, args.scale)
        t0 = time.perf_counter()
        expected = expected_results(args.workload, data_dir, corpus, oracles)
        oracle_s = time.perf_counter() - t0
        cfg = dict(workload=args.workload, data_dir=data_dir,
                   out_dir=os.path.join(work, "out"), seconds=args.seconds,
                   trace=args.trace, seed=args.seed, cores=CORES,
                   clients=wl["clients"], setup_rounds=SETUP_ROUNDS,
                   warmup_passes=wl["warmup_passes"],
                   corrupt=args.corrupt, local_dir=os.path.join(work, "spark"))
        budget = RUN_LIMIT_S - (time.perf_counter() - t_run)
        res = run_jvm(cp, cfg, wl["jvm_flags"], work, budget)
        reqs = res["requests"]
        con = verify(args.workload, reqs, expected, data_dir)
        failed = sum(1 for r in reqs if not r["ok"])
        for r in reqs:
            if not r["ok"]:
                print(f"[perfbench] FAILED {r['name']} c{r['client']} "
                      f"r{r['index']}: {r['error'] or 'wrong result'}")
        setup_s = (corpus["gen_s"] + statistics.median(res["setup_rounds_s"])
                   + res["warmup_s"])
        e2e, lat = end_to_end(res, reqs, setup_s)
        if args.trace:
            spans = json.load(open(res["trace_file"]))
            found = 0
            if args.workload == "dedup_lsh":
                last = [r for r in reqs if r["ok"]][-1]
                found = check.pairs_found(con, os.path.join(last["out"], "pairs"),
                                          corpus["planted"])
            metrics = per_layer(args.workload, res, reqs, spans, found)
            keep = os.path.join(BENCH, ".work", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(res["trace_file"], os.path.join(
                keep, f"{args.workload}-s{args.seed}.json"))
        else:
            metrics = e2e
        q, tail = tail_percentile(lat)
        print(f"[perfbench] workload={args.workload} seed={args.seed} "
              f"trace={args.trace} clients={res['clients']} cores={res['cores']}")
        print(f"[perfbench] inputs {json.dumps(corpus['stats'])}")
        label = "query_p50_s" if args.workload == "interactive_mix" else "job_s"
        print(f"[perfbench] setup_s={setup_s:.3f} s (gen {corpus['gen_s']:.3f} s, "
              f"session+load rounds {[round(x, 3) for x in res['setup_rounds_s']]} s, "
              f"warm-up {[round(x, 3) for x in res['warmup_passes_s']]} s) "
              f"oracle_s={oracle_s:.3f} s")
        print(f"[perfbench] {label}={statistics.median(lat):.4f} s "
              f"query_p{q}_s={tail:.4f} s n={len(lat)} "
              f"queries_per_s={e2e['requests_per_s'][0]:.3f} 1/s "
              f"failed_frac={failed / max(1, len(reqs)):.4f} "
              f"({failed}/{len(reqs)}) peak_rss_mb={e2e['peak_rss_mb'][0]:.1f} MB "
              f"cpu_s_per_request={res['measure_cpu_s'] / len(reqs):.4f} s")
        print(f"[perfbench] latencies_s {[round(x, 3) for x in lat]}")
        out = {"correct": failed == 0, "attempted": len(reqs), "failed": failed,
               "metrics": {k: {"value": v, "unit": u}
                           for k, (v, u) in metrics.items()}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
