#!/usr/bin/env python3
"""Benchmark of the graft Delta Sharing connector and query engine.

    python3 perfbench/run.py --workload share_scan --seed 1 --seconds 20 --trace 0

Workloads (closed loop: one driver thread issues its next query only
after the last one's rows are consumed by Spark's `noop` sink; Spark runs
at local[nproc] with Bench.scala's session settings; BENCHMARK.json lists
the two share workloads, see README.md for why suite_sample is not):

  share_scan       lineitem (sf0.1) as 16 l_orderkey-range files behind a
                   ranged object server, read through format("deltashare")
  share_manyfiles  the same rows as ~2,000 small files, partitioned by
                   l_returnflag; selective, stats-only, catalog and
                   change-feed queries
  suite_sample     a family-stratified sample of the suite's oracle-checked
                   queries (suite_pool.json) over the generated tables

One run: build (if the sources changed), generate the seed's inputs,
start the measuring JVM, check every query once outside the timed window,
measure whole passes over the workload for --seconds (rounded up to the
end of a pass), and print as the last stdout line
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 splits the window into an untraced and a
traced half and reports the per-layer metrics and the tracing overhead.
The line before it records the run's environment.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = {"share_scan": {"scan"}, "share_manyfiles": {"many"},
             "suite_sample": {"tables"}}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def pct(xs, q):
    """Linear-interpolated percentile (as numpy's default)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q / 100.0 * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def parse_args(argv):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the generated inputs")
    ap.add_argument("--queries", default=None,
                    help="suite_sample: comma list or 'all' instead of the seeded sample")
    ap.add_argument("--corrupt", default="",
                    help="self-test: falsify this query's expected answer")
    ap.add_argument("--heap", default=None,
                    help="JVM heap (default 2g, 3g for suite_sample)")
    ap.add_argument("--oracle-limit", type=float, default=30,
                    help="seconds after which one suite oracle check fails")
    ap.add_argument("--time-limit", type=float, default=170,
                    help="seconds after which the measuring process is killed")
    return ap.parse_args(argv)


def jvm_command(classes, a, data, work, queries):
    heap = a.heap or ("3g" if a.workload == "suite_sample" else "2g")
    # a fixed-size heap: the collector fills it before collecting, so the
    # peak resident set does not depend on when collections happened
    # the sharing and object servers stand in for remote services, which
    # send small responses without waiting for the peer's delayed ACK
    # (TCP_NODELAY); without it every response can stall for the ACK timer
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dsun.net.httpserver.nodelay=true"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.PerfBench",
            "--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed), "--queries", ",".join(queries) or "-"]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    return cmd


def measure(a, classes, work, start):
    """Generate inputs, run the measuring JVM, return its result record
    and the oracle verdicts of the suite checks. `start` is when set-up
    began; the JVM is killed `--time-limit` seconds after it."""
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    queries = []
    if a.workload == "suite_sample":
        if a.queries:
            queries = [a.queries] if a.queries == "all" else a.queries.split(",")
        else:
            with open(os.path.join(HERE, "suite_pool.json")) as f:
                queries = json.load(f)["sample"]
    log_path = os.path.join(work, "jvm.log")
    result, oracle_verdicts, oracle_s = None, {}, {}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(classes, a, data, work, queries),
                                cwd=work, stdin=subprocess.PIPE,
                                stdout=subprocess.PIPE, stderr=log, text=True)
        timer = threading.Timer(max(10.0, a.time_limit - (time.time() - start)),
                                proc.kill)
        timer.start()
        try:
            # the JVM starts up while the inputs are generated
            datagen.generate(a.seed, a.sf, data, WORKLOADS[a.workload])
            timeline = {"inputs_s": time.time() - start}
            proc.stdin.write("ready\n")
            proc.stdin.flush()
            for line in proc.stdout:
                if not line.startswith("PB "):
                    continue
                rec = json.loads(line[3:])
                if rec["event"] == "phase":
                    timeline[rec["name"] + "_s"] = time.time() - start
                elif rec["event"] == "check":
                    timeline["checked_s"] = time.time() - start
                    import oracle
                    oracle_verdicts = oracle.check(
                        rec["dir"], os.path.join(data, "tables"),
                        rec["queries"], a.corrupt, a.oracle_limit, oracle_s)
                    rejected = [n for n, v in oracle_verdicts.items() if v != "ok"]
                    proc.stdin.write(json.dumps(rejected) + "\n")
                    proc.stdin.flush()
                    timeline["oracle_done_s"] = time.time() - start
                elif rec["event"] == "result":
                    result = rec
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: measuring process failed (exit {rc})")
    result["oracle_s"] = oracle_s
    result["timeline"] = timeline
    return result, oracle_verdicts


def main(argv):
    a = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.ensure_built()
    start = time.time()  # set-up starts once the program is built
    work = os.path.join(build.OUT, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result, oracle_verdicts = measure(a, classes, work, start)
        trace_file = os.path.join(work, "trace-spans.jsonl")
        if os.path.exists(trace_file):
            os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
            shutil.copy(trace_file, os.path.join(
                build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    windows = result["windows"]
    plain = windows[0]
    lat = plain["latencies_ms"]
    attempted = sum(w["attempted"] for w in windows)
    failed = sum(w["failed"] for w in windows)
    checks = {k: v for k, v in result["checks"].items() if v != "ok"}
    checks.update({k: v for k, v in oracle_verdicts.items() if v != "ok"})
    env = dict(result["env"], workload=a.workload, sf=a.sf,
               seconds=a.seconds, trace=a.trace)
    if a.trace == 0:
        values = {
            "setup_s": result["first_query_epoch_ms"] / 1000.0 - start,
            "query_p50_ms": pct(lat, 50),
            "query_p90_ms": pct(lat, 90),
            "queries_per_s": len(lat) / plain["seconds"],
            "correct_frac": (plain["attempted"] - plain["failed"]) / max(1, plain["attempted"]),
            "peak_rss_mb": result["env"]["peak_rss_mb"],
        }
        wanted = spec["end_to_end"]
    else:
        traced = windows[1]["latencies_ms"]
        values = dict(result["per_layer"])
        values["trace.overhead_ms"] = pct(traced, 50) - pct(lat, 50)
        values["env.calib_ms"] = result["env"]["calib_ms"]
        values["env.load1m"] = result["env"]["load1m_before"]
        wanted = spec["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"env": env, "latency_samples": len(lat),
                      "samples_by_query": result["samples"], "check_ms": result["check_ms"],
                      "oracle_s": result["oracle_s"], "timeline": result["timeline"],
                      "failed_checks": checks}))
    print(json.dumps({"correct": not checks and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
