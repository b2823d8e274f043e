#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one fresh local[4] JVM.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

The first run in a checkout builds the engine and the harness from source
with sbt (perfbench/build.sbt compiles against the engine build one
directory up); later runs reuse the build while no source file changed.
Build outputs, logs, traces and scratch space live under .bench_build/.

A run prints its report lines, then, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones (the traced run also writes its spans to
.bench_build/traces/). The exit code is nonzero when any check failed.

--plant wrong_digest|dup_row|missing_row plants a defect the run's checks
must reject; --selfcheck runs every planted defect plus the harness's own
unit checks and fails unless each defect is rejected.
"""
import argparse
import hashlib
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
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
DIGESTS = os.path.join(HERE, "expected", "digests.tsv")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the engine build's
# javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def source_files():
    """Every file the build reads, so a changed file forces a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def run_group(cmd, cwd, log_path, limit_s, env=None):
    """Run cmd in its own process group with output to log_path; kill the
    whole group if it outlives limit_s. Returns the exit code (None on
    timeout)."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, env=env)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(f):
            die(f"engine sources missing ({os.path.relpath(f, ROOT)}); run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read().strip() == stamp, g.read().strip()
        # reuse the build only while its class directories still exist
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    code = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                      "compile", "export Runtime/fullClasspath"], HERE, log_path, BUILD_LIMIT_S)
    if code != 0:
        die(f"build failed (exit {code}); see {os.path.relpath(log_path, ROOT)}", 1)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ":" in l and "classes" in l and " " not in l]
    if not cps:
        die("build printed no classpath", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, workload, seed, seconds, trace, plant, limit_s):
    """One workload in a fresh JVM; returns the parsed result dict or None."""
    tag = f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    result_file = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds), str(trace),
            DATA, work, DIGESTS, result_file, plant]
    log_path = os.path.join(BUILD, "logs", f"{workload}-seed{seed}-trace{trace}.log")
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    code = run_group(cmd, ROOT, log_path, limit_s, env)
    result = None
    if code == 0 and os.path.isfile(result_file):
        with open(result_file) as f:
            result = json.load(f)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.move(spans, os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: {workload} JVM ended with {code}; see "
              f"{os.path.relpath(log_path, ROOT)}", file=sys.stderr)
    return result


def finite(m):
    return isinstance(m, dict) and isinstance(m.get("value"), (int, float)) \
        and math.isfinite(m["value"])


def bench(args):
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    if args.workload not in names:
        die(f"unknown workload {args.workload!r}; one of {', '.join(names)}")
    t0 = time.monotonic()
    cp = build()
    # the first run in a checkout also builds; every run gets the same
    # measuring allowance after that
    left = RUN_LIMIT_S if time.monotonic() - t0 < 60 else 900 - (time.monotonic() - t0)
    r = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, args.plant, left)
    if r is None:
        sys.exit(1)
    wanted = s["per_layer"] if args.trace else s["end_to_end"]
    src = r["layers"] if args.trace else r["e2e"]
    failed, attempted = r["failed"], max(1, r["attempted"])
    metrics = {}
    for m in wanted:
        got = src.get(m["name"])
        if not finite(got):
            attempted += 1
            failed += 1
            print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    for line in r["report"]:
        print(f"[{args.workload}] {line}")
    if args.trace == 0:
        for m in s["end_to_end"]:
            if m["name"] in metrics:
                print(f"[{args.workload}] {m['name']} = {metrics[m['name']]['value']:.6g} {m['unit']}")
    print(f"[{args.workload}] fail_ratio = {failed}/{attempted} = {failed / attempted:.4g}")
    for e in r["errors"][:20]:
        print(f"[{args.workload}] FAILED: {e}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def selfcheck(args):
    """Each planted defect must be rejected, and the unit checks pass."""
    cp = build()
    ok = True
    work = os.path.join(BUILD, "selfcheck")
    os.makedirs(work, exist_ok=True)
    code = run_group(["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}"]
                     + sum((["--add-opens", f"{p}=ALL-UNNAMED"] for p in ADD_OPENS), [])
                     + ["-cp", cp, "perfbench.SelfCheck", work],
                     ROOT, os.path.join(BUILD, "selfcheck.log"), RUN_LIMIT_S)
    print(f"unit checks (sample-size rule, digest): {'pass' if code == 0 else 'FAIL'}")
    ok &= code == 0
    for workload, plant in [("batch_heavy", "wrong_digest"), ("stream_open", "dup_row"),
                            ("stream_open", "missing_row")]:
        r = run_jvm(cp, workload, args.seed, 4, 0, plant, RUN_LIMIT_S)
        rejected = r is not None and r["failed"] > 0
        print(f"planted {plant} in {workload}: {'rejected' if rejected else 'NOT REJECTED'}"
              + (f" ({r['errors'][0][:120]})" if rejected else ""))
        ok &= rejected
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", default="none", choices=["none", "wrong_digest", "dup_row", "missing_row"])
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if args.selfcheck:
        selfcheck(args)
    if not args.workload:
        die("--workload is required")
    bench(args)


if __name__ == "__main__":
    main()
