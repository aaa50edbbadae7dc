#!/usr/bin/env python3
"""Rebuild ``suite_pool.json``, the population suite_sample draws from.

Runs every suite query (all of ``SparkEntry.queries`` but the share
pack) once at sf0.1 on generated inputs, through the same check pass a
suite_sample run makes (its warm-up pass follows, then a token one-second
window). A query enters the pool when its result matched the DuckDB
oracle (or, without an oracle, was non-empty) and neither its checked
first run nor its oracle check exceeds the caps below: both are part of
every suite_sample run's set-up. Layout-maintenance queries, which
build and rewrite written layouts on their first run, get the larger
caps. Its reference cost is that first run.

From the pool, ``sample_suite`` draws the stratified sample every
suite_sample run measures and stores it as ``sample``: a run's own seed
varies the generated data and the order of each pass, not the queries,
so that runs with different seeds measure the same work. The default
``--sample-seed`` 4 gives, among seeds 1-15, the sample with the
smallest summed first-run cost (its set-up is paid by every run) whose
maintenance picks include a compaction.

    python3 perfbench/calibrate.py [--seed 42] [--sample-seed 4]
"""
import argparse
import json
import os
import random
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SUITE_SIZE = 4
MAINTENANCE = re.compile(r"_cdf|compact|incremental|layout|refresh|retrain")
# (first-run ms, oracle s) caps: other queries, maintenance queries
CAPS = {False: (2500, 1.0), True: (3500, 1.5)}


def family(name):
    return re.match(r"[a-z]+", name).group(0)


def sample_suite(seed, pool, size=SUITE_SIZE):
    """Stratified sample. Maintenance queries (layout writes, CDF folds,
    compaction) form one stratum; every family holding at least a tenth
    of the pool (`q`, `ss`, `t`) its own; the smaller families share one.
    Allocation is proportional with at least one per stratum (two for
    maintenance); each stratum is sampled systematically along its
    queries sorted by reference cost, from a seeded start, so every seed
    draws a similar cost profile."""
    rng = random.Random(seed)
    fam = {n: family(n) for n in pool}
    big = {f for f in set(fam.values())
           if sum(1 for v in fam.values() if v == f) >= len(pool) / 10}
    strata = {}
    for name in sorted(pool):
        key = ("maintenance" if MAINTENANCE.search(name)
               else fam[name] if fam[name] in big else "other")
        strata.setdefault(key, []).append(name)
    out = []
    for key in sorted(strata):
        names = sorted(strata[key], key=lambda n: (pool[n], n))
        floor = 2 if key == "maintenance" else 1
        k = min(len(names), max(floor, round(size * len(names) / len(pool))))
        step = len(names) / k
        start = rng.random() * step
        out += [names[int(start + j * step)] for j in range(k)]
    return out


def build_pool(check_ms, oracle_s, failed):
    """(ref_ms, excluded) from first-run ms, oracle seconds and the
    failed checks, each keyed by query name."""
    excluded = dict(failed)
    for name, ms in check_ms.items():
        max_ms, max_s = CAPS[bool(MAINTENANCE.search(name))]
        if name not in excluded and (ms > max_ms or oracle_s.get(name, 0) > max_s):
            excluded[name] = f"cost: first run {ms:.0f} ms, oracle {oracle_s.get(name, 0):.1f} s"
    ref = {n: round(ms, 1) for n, ms in check_ms.items() if n not in excluded}
    return ref, excluded


def write_pool(path, seed, sample_seed, nproc, check_ms, oracle_s, failed):
    ref, excluded = build_pool(check_ms, oracle_s, failed)
    with open(path, "w") as f:
        json.dump({"seed": seed, "sf": 0.1, "nproc": nproc, "excluded": excluded,
                   "ref_ms": ref, "sample_seed": sample_seed,
                   "sample": sample_suite(sample_seed, ref)}, f, indent=1, sort_keys=True)
        f.write("\n")
    return ref, excluded


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=42, help="seed of the generated data")
    ap.add_argument("--sample-seed", type=int, default=4)
    a = ap.parse_args()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "suite_sample",
         "--queries", "all", "--seed", str(a.seed), "--seconds", "1", "--heap", "6g",
         "--oracle-limit", "2", "--time-limit", "3600"],
        stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    info = json.loads(out[-2])
    ref, excluded = write_pool(os.path.join(HERE, "suite_pool.json"), a.seed, a.sample_seed,
                               info["env"]["nproc"], info["check_ms"], info["oracle_s"],
                               info["failed_checks"])
    print(f"{len(ref)} queries in the pool, {len(excluded)} excluded")


if __name__ == "__main__":
    main()
