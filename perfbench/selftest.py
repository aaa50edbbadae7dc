#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (about ten minutes).

For every workload it checks that:

* an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and a traced run every per-layer metric;
* a deliberately corrupted expected answer is counted as failed and the
  query is never timed;
* the traced run's bypass predictions hold: no presigned GETs on
  suite_sample, none for share_manyfiles' stats-only queries, and every
  `/query` response lists the whole fixture.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "4", "--trace", str(trace), "--sf", "0.001",
           *extra]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    # suite_sample is not in BENCHMARK.json (see README) but stays tested
    for w in [x["name"] for x in spec["workloads"]] + ["suite_sample"]:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            info, res = run(w, trace)
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: correct, nothing failed")
            got = res["metrics"]
            for m in spec[key]:
                v = got.get(m["name"])
                expect(v is not None and v["unit"] == m["unit"]
                       and isinstance(v["value"], (int, float)),
                       f"{w} trace={trace}: {m['name']} printed in {m['unit']}")
            if trace == 1:
                val = {k: v["value"] for k, v in got.items()}
                if w == "suite_sample":
                    expect(val["presigned.gets"] == 0, f"{w}: no presigned GETs")
                else:
                    expect(val["sources_v2.files_listed"] == val["sources_v2.fixture_files"],
                           f"{w}: /query lists every fixture file")
                if w == "share_manyfiles":
                    expect(val["presigned.gets_stats_only"] == 0,
                           f"{w}: stats-only queries issue no GETs")
        victim = sorted(info["samples_by_query"])[0]
        info_c, res = run(w, 0, ["--corrupt", victim])
        expect(not res["correct"] and res["failed"] >= 1,
               f"{w}: corrupted answer of {victim} counted as failed")
        expect(info_c["samples_by_query"][victim][0] == 0,
               f"{w}: {victim} never timed once its check failed")
    print("selftest: " + ("passed" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
