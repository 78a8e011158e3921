#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
into .bench_build/perfbench/classes with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars, else the `unmanagedBase` of the
project's build.sbt), and copies perfbench/resources next to the classes. A build is skipped when
the sources' digest matches the last one.

    python3 perfbench/build.py           # build the benchmark
    python3 perfbench/build.py --test    # build and run its self-tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    return Path(m.group(1)) if m else Path("spark-jars-not-found")


SPARK_JARS = spark_jars()

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# no hsperfdata file in the system temp directory: a run writes only below
# the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def program_sources():
    return sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_into(dest, sources, classpath=None, inputs=()):
    """Compiles `sources` into `dest` unless its stamp, a digest of the
    sources and the other `inputs`, already matches."""
    stamp = dest.with_suffix(".stamp")
    want = digest(list(sources) + list(inputs))
    if dest.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    argfile = dest.with_suffix(".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", NO_PERF_DATA, "-Xmx2g", "-Xss8m", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", *(["-cp", classpath] if classpath else []),
           "-d", str(dest), f"@{argfile}"]
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        shutil.rmtree(dest, ignore_errors=True)
        sys.exit(f"perfbench build: compilation failed ({rc})")
    stamp.write_text(want)


def build():
    """Builds the benchmark; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench build: the program's sources (src/main/scala/graft) are missing")
    if not SPARK_JARS.is_dir():
        sys.exit(f"perfbench build: no Spark jars at {SPARK_JARS}")
    classes = OUT / "classes"
    sources = program_sources() + sorted((BENCH / "src").rglob("*.scala"))
    resources = [p for p in sorted((BENCH / "resources").rglob("*")) if p.is_file()]
    compile_into(classes, sources, inputs=resources)
    shutil.copytree(BENCH / "resources", classes, dirs_exist_ok=True)
    return f"{classes}{os.pathsep}{SPARK_JARS}/*"


def run_tests():
    cp = build()
    tests = OUT / "test-classes"
    compile_into(tests, sorted((BENCH / "tests").rglob("*.scala")), cp, [OUT / "classes.stamp"])
    work = OUT / "test-work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cmd = ["java", NO_PERF_DATA, "-Xmx2g", *JVM_OPENS, f"-Djava.io.tmpdir={work}", "-cp",
           f"{tests}{os.pathsep}{cp}", "perfbench.SelfTest", str(work)]
    rc = subprocess.run(cmd).returncode
    shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    if "--test" in sys.argv[1:]:
        sys.exit(run_tests())
    build()
