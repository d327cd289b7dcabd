"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program with the harness (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs one JVM on
`local[<cores>]` for the workload, checks its outputs in DuckDB
(perfbench/check.py) and prints the workload's own metrics followed by one
JSON line: the end-to-end metrics of BENCHMARK.json (untraced run) or its
per-layer metrics (traced run). Exits 1 on a correctness mismatch and 2
when the run could not be made at all.

Everything the run writes lives in `.bench_run/<run id>/` under the
checkout and is deleted at exit; a traced run keeps its spans in
`.bench_run/spans/<workload>-seed<seed>.jsonl`. Tables are written through the local
filesystem without fsync, so reads are normally served from the page cache.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ANALYTICS_QUERIES = [
    "q1_pricing_summary", "j4_broadcast_star", "j9_interval_join",
    "g3_connected_components", "n1_exact_dedup", "n2_minhash_lsh",
    "x25_bloom_decontam", "n5_ann_bruteforce"]

# Inputs and knobs of each workload (sizes are rows / messages).
WORKLOADS = {
    "ingest_dml": {
        "data": {"sf": 0, "events_n": 100_000, "users": 1_500, "days": 2,
                 "preload_msgs": 200_000, "preload_keys": 20_000},
        "args": {"buckets": 8, "insert_rows": 50, "merge_rows": 40,
                 "ingest_msgs": 20_000}},
    "analytics": {
        "data": {"sf": 0.01, "events_n": 10_000, "users": 150, "days": 30},
        "args": {"queries": ",".join(ANALYTICS_QUERIES)}},
}

# A run measures whole rounds (laps of statements, passes of queries): one
# per ROUND_S seconds of --seconds, at least one. The count never depends on
# how fast the program runs, so every run does the same work.
ROUND_S = 20

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
JVM_TIMEOUT_S = 165


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, run_dir, data_dir, a, spec):
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores()),
           "--data", data_dir, "--run", run_dir]
    rounds = max(1, round(a.seconds / ROUND_S))
    for k, v in {**spec["args"], "days": spec["data"]["days"], "rounds": rounds}.items():
        cmd += [f"--{k}", str(v)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        tail = open(log_path, errors="replace").read()[-6000:]
        raise RuntimeError(f"harness JVM exited with {p.returncode}:\n{tail}")
    return json.load(open(os.path.join(run_dir, "result.json")))


def percentile(xs, p):
    if not xs:
        return 0.0
    s = sorted(xs)
    r = p / 100 * (len(s) - 1)
    lo, hi = int(r), min(int(r) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    classpath = build.build()

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "tmp", "check"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        data_dir = os.path.join(run_dir, "data")
        d = spec["data"]
        gen.generate(data_dir, a.seed, d["sf"], d["events_n"], d["users"], d["days"],
                     d.get("preload_msgs", 0), d.get("preload_keys", 0))
        r = run_jvm(classpath, run_dir, data_dir, a, spec)
        c0 = time.time()
        bad, msgs = check.CHECKS[a.workload](data_dir, r["check"])
        check_s = time.time() - c0
        if a.trace:
            spans = os.path.join(ROOT, ".bench_run", "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = int(r["failed"]) + bad
    attempted = max(int(r["attempted"]), failed, 1)
    fixture = sorted(r["fixture_s"])
    lat = r["latency_ms"]
    e2e = {
        "setup_s": r["session_s"] + r["once_s"] + fixture[len(fixture) // 2],
        "throughput_per_s": r["throughput_per_s"],
        # the geometric mean weighs every operation alike, so it does not
        # hinge on which one sits in the middle of a dozen (the p50 does)
        "latency_geomean_ms": math.exp(sum(map(math.log, lat)) / len(lat)),
    }
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={cores()} measured_s={r['measured_s']:.3f} check_s={check_s:.2f}")
    for h in r["human"]:
        print(f"{h['name']:28s} {h['value']:14.4f} {h['unit']:6s} n={h['n']}")
    print(f"{'failed_op_share':28s} {failed / attempted:14.4f} {'ratio':6s} n={attempted}")
    print(f"{'setup_s':28s} {e2e['setup_s']:14.4f} {'s':6s} n={len(fixture)}")
    print(f"{'peak_rss_mb':28s} {r['peak_rss_mb']:14.4f} {'MiB':6s} n=1")
    print(f"{'cpu_ms_per_op':28s} {r['cpu_s'] * 1000 / attempted:14.4f} {'ms':6s} n={attempted}")
    print(f"{'latency_geomean_ms':28s} {e2e['latency_geomean_ms']:14.4f} {'ms':6s} n={len(lat)}")
    print(f"{'latency_p50_ms':28s} {percentile(lat, 50):14.4f} {'ms':6s} n={len(lat)}")
    print(f"{'latency_p90_ms':28s} {percentile(lat, 90):14.4f} {'ms':6s} n={len(lat)}")
    print(f"# setup: session {r['session_s']:.3f} s, one-time {r['once_s']:.3f} s, "
          f"fixture builds {', '.join(f'{x:.3f}' for x in r['fixture_s'])} s")
    for e in r["errors"] + msgs:
        print(f"# FAILED: {e}")

    if a.trace:
        layers = dict(r["layers"])
        layers.update({f"trace.{k}": e2e[k] for k in
                       ("throughput_per_s", "latency_geomean_ms")})
        for k in sorted(layers):
            print(f"# layer {k} = {layers[k]}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (Exception, SystemExit) as e:
        if isinstance(e, SystemExit) and e.code in (0, 1, None):
            raise
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
