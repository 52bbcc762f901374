#!/usr/bin/env python3
"""Run one workload of the mirror / KQL benchmark and print its result.

    python3 mlkbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program from the
checkout's sources together with the harness, with the Scala compiler among
Spark's jars; later runs reuse the build while no source file changed. The
last line of stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones. Samples, spans, confs and
calibration probes go to the detail file
(mlkbench/out/<workload>-seed<n>-trace<t>.json unless --detail is given).
The exit code is non-zero when the program is missing, a run
fails, or an output does not match its expected value.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "classes")
STAMP = os.path.join(HERE, "target", "mlkbench.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ("backfill", "steady_cdc", "kql_registry")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[mlkbench] {msg}", file=sys.stderr)
    sys.exit(code)


_child = None


def _stop(signum, _frame):
    """Never leave the build or the JVM behind when this process is stopped."""
    if _child is not None:
        _child.kill()
        _child.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` to completion; returns (exit code or None on timeout, stdout)."""
    global _child
    _child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
        return _child.returncode, out
    except subprocess.TimeoutExpired:
        _child.kill()
        _child.wait()
        return None, None
    finally:
        _child = None


def sources():
    """Every source file of the build: the program's and the harness's."""
    files = []
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with the Scala compiler that ships among Spark's jars.

    No build tool runs, so the build reads no cache and writes nothing
    outside mlkbench/target.
    """
    files = sources()
    stamp = source_stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)  # an interrupted build must not pass for a finished one
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    target = os.path.dirname(CLASSES)
    argfile = os.path.join(target, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    log = os.path.join(target, "build.log")
    cmd = ["java", "-Xmx2g", "-Xss16m", f"-Djava.io.tmpdir={target}", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-deprecation", "-d", CLASSES, "@" + argfile]
    with open(log, "w") as out:
        code, _ = run_child(cmd, 720, cwd=target, stdout=out, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def testdata_dir(sf):
    """The directory TESTDATA.md gives for scale factor `sf`, or "" if none."""
    try:
        text = open(os.path.join(ROOT, "TESTDATA.md")).read()
    except OSError:
        return ""
    m = re.search(r"^\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", text, re.M)
    return m.group(1).rstrip("/") if m else ""


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--detail", help="detail record path")
    ap.add_argument("--toy", action="store_true", help="self-test sizes")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="add one row to every expected row count (self-test)")
    ap.add_argument("--sf", default=testdata_dir("0.1"),
                    help="test data for kql_registry (default: the sf0.1 row of TESTDATA.md)")
    a = ap.parse_args()
    expected = os.path.join(ROOT, "CORRECTNESS_SF01_r17.json")
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {PROGRAM_SRC}: run from the root of a full checkout")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    kind = "per_layer" if a.trace == "1" else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if a.workload == "kql_registry":
        for p in (a.sf, expected):
            if not p or not os.path.exists(p):
                fail(f"kql_registry input missing: {p or 'no --sf and no sf0.1 row in TESTDATA.md'}")

    build()

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    detail = os.path.abspath(a.detail) if a.detail else os.path.join(
        out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={work}", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(SPARK_JARS, '*')}", "mlkbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--detail", detail, "--sf", a.sf,
              "--expected", expected, "--commit", git_commit()]
           + (["--toy"] if a.toy else []) + (["--corrupt-expected"] if a.corrupt_expected else []))
    log_path = os.path.join(work + ".log")
    t0 = time.time()
    with open(log_path, "w") as log:
        code, stdout = run_child(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                 stderr=log, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s; log in {log_path}", 3)

    lines = [l for l in stdout.splitlines() if l.startswith("MLKBENCH_RESULT ")]
    if not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"{a.workload} printed no result (exit {code}, "
             f"{time.time() - t0:.1f} s); log in {log_path}", 3)
    res = json.loads(lines[-1][len("MLKBENCH_RESULT "):])
    if res["correct"] and code == 0:
        os.remove(log_path)
    values = res["metrics"]
    if set(values) != set(units):
        fail(f"metric names {sorted(values)} differ from BENCHMARK.json {kind} {sorted(units)}", 3)
    res["metrics"] = {k: {"value": int(v) if float(v).is_integer() else v, "unit": units[k]}
                      for k, v in ((k, values[k]) for k in units)}
    if not res["correct"]:
        print(f"[mlkbench] {res['failed']} of {res['attempted']} operations failed; "
              f"see {detail} and {log_path}", file=sys.stderr)
    print(json.dumps(res, separators=(",", ":")))
    sys.exit(0 if res["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
