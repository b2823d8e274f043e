#!/usr/bin/env python3
"""Record the expected digests the batch workloads check against.

Usage (from the root of a checkout):
    python3 perfbench/record.py

Runs perfbench.Record (batch_heavy's queries on the benchmark's session
settings against perfbench/data/sf0.1) twice, and checks the first run's
dumped outputs with tools/check.py against DuckDB. A query's digest is
written to perfbench/expected/digests.tsv only when the oracle check
passed, the live digest equals the digest of the dumped parquet read
back, and both runs produced the same digest. Run logs and outputs go to
.bench_build/record/.
"""
import os
import re
import subprocess
import sys

import run as bench


RUNS = 2


def main():
    cp = bench.build()
    base = os.path.join(bench.BUILD, "record")
    os.makedirs(base, exist_ok=True)
    runs = []
    for i in range(RUNS):
        out = os.path.join(base, f"run{i}")
        cmd = ["java", f"-Xmx{bench.HEAP}", f"-Djava.io.tmpdir={base}"]
        for p in bench.ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Record", bench.DATA, out, os.path.join(base, "work")]
        code = bench.run_group(cmd, bench.ROOT, os.path.join(base, f"run{i}.log"), 3600)
        if code != 0:
            sys.exit(f"record run {i} failed ({code})")
        with open(os.path.join(out, "record.tsv")) as f:
            runs.append({l.split("\t")[0]: l.rstrip("\n").split("\t") for l in f if l.strip()})
    check = subprocess.run([sys.executable, os.path.join(bench.ROOT, "tools", "check.py"),
                            bench.DATA, os.path.join(base, "run0")],
                           capture_output=True, text=True)
    with open(os.path.join(base, "check.txt"), "w") as f:
        f.write(check.stdout)
    if "==" not in check.stdout:
        sys.exit(f"tools/check.py did not run: {check.stderr[-2000:]}")
    passed = set(re.findall(r"^PASS (\S+)", check.stdout, re.M))
    keep, dropped = {}, []
    for name, row in sorted(runs[0].items()):
        live, back = row[1], row[2]
        same = all(r.get(name, [None, None])[1] == live for r in runs)
        if name in passed and live == back and same and live != "ERROR":
            keep[name] = live
        else:
            dropped.append(f"{name}: oracle={'pass' if name in passed else 'fail'} "
                           f"readback={'same' if live == back else 'differs'} "
                           f"runs={'agree' if same else 'differ'}")
    with open(bench.DIGESTS, "w") as f:
        f.write("# query\tdigest (rows:hi32sum:lo32sum), recorded by perfbench/record.py\n")
        for name, d in keep.items():
            f.write(f"{name}\t{d}\n")
    print(f"recorded {len(keep)} digests; {len(dropped)} queries not recorded:")
    for d in dropped:
        print("  " + d)


if __name__ == "__main__":
    main()
