#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload batch_rule_config --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark (perfbench/build.py). With --trace 0 the result holds the
end-to-end metrics; with --trace 1 the per-layer ones, and the run's spans
are kept in .bench_build/perfbench/spans/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("batch_rule_config", "stream_service")
HEAP = ["-Xms2g", "-Xmx2g"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", build.NO_PERF_DATA, *HEAP, *build.JVM_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "perfbench.Main", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work)]
    log = work.parent / f"{work.name}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err,
                                  text=True, timeout=RUN_TIMEOUT_S)
        out = proc.stdout
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        out, rc = "", "timeout"
    finally:
        spans = build.OUT / "spans"
        spans.mkdir(parents=True, exist_ok=True)
        for f in work.glob("spans-*.jsonl"):
            shutil.move(str(f), str(spans / f.name))
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not lines:
        sys.stderr.write(f"perfbench: run failed ({rc}); log tail from {log}:\n")
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        sys.exit(1)
    result = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    shutil.move(str(log), str(build.OUT / f"last-{a.workload}.log"))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
