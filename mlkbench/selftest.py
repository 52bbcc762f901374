#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (about five minutes at local[4]).

    python3 mlkbench/selftest.py

Run from the root of a checkout. Every workload runs once untraced and once
traced at toy size (backfill: 6,000 rows in 300 files; steady_cdc: a
2,000-row ballast and 4 polls; kql_registry: 3 queries). Checks:
  1. every end-to-end and per-layer metric of BENCHMARK.json is emitted, and
     the result line is short, prefix-free JSON;
  2. for each traced runOnce, the self times of its spans sum to no more
     than its wall time, and so do the PhaseTimer self times of the phases
     that run on the polling thread;
  3. a deliberately corrupted expected row count makes the command exit
     non-zero, on a mirror workload and on kql_registry;
  4. in a directory holding only BENCHMARK.json and the benchmark's files,
     the command exits non-zero without printing a result.
Exits non-zero if any check fails.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "selftest")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# PhaseTimer labels that only ever run on the thread calling runOnce
POLLING_THREAD = ("orch.", "mirror.publish", "publish.", "store.compact", "compact.")

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def run(workload, trace, *extra, cwd=ROOT):
    detail = os.path.join(OUT, f"{workload}-trace{trace}{'-'.join(('',) + extra)}.json")
    cmd = [sys.executable, "mlkbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--toy", "--detail", detail, *extra]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return r, detail


def result_line(r):
    lines = r.stdout.strip().splitlines()
    return lines[-1] if lines else ""


def main():
    os.makedirs(OUT, exist_ok=True)
    for workload in ("backfill", "steady_cdc", "kql_registry"):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r, detail = run(workload, trace)
            line = result_line(r)
            check(r.returncode == 0, f"{workload} trace={trace} exits 0")
            try:
                res = json.loads(line)
            except ValueError:
                check(False, f"{workload} trace={trace} last stdout line is JSON")
                continue
            check(len(line) < 2000 and line.startswith("{"),
                  f"{workload} trace={trace} result line is {len(line)} chars, prefix-free")
            check(set(res) == {"correct", "attempted", "failed", "metrics"} and res["correct"],
                  f"{workload} trace={trace} result is correct with exactly the contract keys")
            names = [m["name"] for m in SPEC[kind]]
            m = res["metrics"]
            check(all(n in m and isinstance(m[n]["value"], (int, float))
                      and math.isfinite(m[n]["value"]) for n in names) and len(m) == len(names),
                  f"{workload} trace={trace} emits all {len(names)} {kind} metrics")
            if kind == "end_to_end":
                check(all(m[n]["value"] > 0 for n in names),
                      f"{workload} end-to-end metrics are all non-zero")
            if trace == 1 and workload != "kql_registry":
                check_spans(workload, json.load(open(detail)))

    for workload in ("backfill", "kql_registry"):
        r, _ = run(workload, 0, "--corrupt-expected")
        check(r.returncode != 0, f"{workload} with a corrupted expected row count exits non-zero "
                                 f"(exit {r.returncode})")

    bare = os.path.join(HERE, "work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "mlkbench"),
                    ignore=shutil.ignore_patterns("target", "out", "work", "project/target"))
    r, _ = run("backfill", 0, cwd=bare)
    check(r.returncode != 0 and not result_line(r).startswith("{"),
          f"without the program the command exits non-zero, no result (exit {r.returncode})")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} check(s) failed" if failures else "all checks passed")
    sys.exit(1 if failures else 0)


def check_spans(workload, d):
    spans = d["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def tree_self(s):
        return s["self_s"] + sum(tree_self(c) for c in children.get(s["id"], []))

    polls = [s for s in spans if s["name"] == "engine.run_once"]
    check(len(polls) > 0, f"{workload} traced run recorded runOnce spans")
    eps = 1e-6
    for s in polls:
        wall = s["end_s"] - s["start_s"]
        check(tree_self(s) <= wall + eps,
              f"{workload} runOnce #{s['run']}: span self times {tree_self(s):.4f} s <= wall {wall:.4f} s")
        phases = s.get("phases", {})
        own = sum(v["s"] for k, v in phases.items() if k.startswith(POLLING_THREAD))
        check(0 < own <= wall + eps,
              f"{workload} runOnce #{s['run']}: polling-thread phase self times {own:.4f} s "
              f"<= wall {wall:.4f} s")
    for root in (s for s in spans if s["parent"] == -1):
        wall = root["end_s"] - root["start_s"]
        check(tree_self(root) <= wall + eps,
              f"{workload} span {root['name']}#{root['run']}: self times sum to <= its wall")


if __name__ == "__main__":
    main()
