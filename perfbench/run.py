#!/usr/bin/env python3
"""Benchmark runner: builds the program and the benchmark harness from
source, runs one workload in one JVM, and prints the result.

    python3 perfbench/run.py --workload jsonl_nested --seed 1 --seconds 20 --trace 0

Workloads: jsonl_nested, csv_flat, query_mix (see perfbench/README.md).
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones. Everything the run builds,
generates or writes goes under $CARGO_TARGET_DIR (default .bench_build)
inside the checkout; each run's full record (input, host, set-ups, every
pass with its output digests) is kept in <that dir>/perfbench/results.

Inputs: the harness tables under $PERFBENCH_DATA (default ~/testdata):
sf0.1 is measured, sf0.001 is the set-up warm-up and sf0.01 the JIT
warm-up of csv_flat. The nested input is generated from --seed. Spark comes from $SPARK_HOME/jars,
or from the `unmanagedBase` named in the repository's build.sbt.
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
from pathlib import Path

WORKLOADS = ("jsonl_nested", "csv_flat", "query_mix")
# jsonl_nested input size; the file count is fixed so that the output
# digest does not depend on the host.
NESTED_ROWS = 200_000
NESTED_FILES = 8
# Every run must end within this many seconds; a first run that has to
# build the program gets the build time on top.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 800
JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    fail("no Spark distribution: set SPARK_HOME")


def heap_gb():
    """The tier-1 test command's rule: half of MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def build(work, jars):
    """Compiles the program (src/main/scala) and the harness
    (perfbench/src) with the Scala compiler that ships with Spark, into a
    directory keyed by the sources' hash; an unchanged tree is not
    rebuilt."""
    sources = sorted((ROOT / "src/main/scala").rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src/main/resources"
    h = hashlib.sha256()
    for p in sources + sorted(x for x in resources.rglob("*") if x.is_file()):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    classes = work / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes, 0.0
    t0 = time.monotonic()
    for old in work.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = work / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = work / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    compiler = [str(p) for p in sorted(jars.glob("scala-*.jar"))
                if re.match(r"scala-(compiler|library|reflect)-", p.name)]
    if len(compiler) != 3:
        fail(f"no Scala compiler in {jars}")
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(str(p) for p in sorted(jars.glob("*.jar"))),
           "-d", str(tmp), f"@{argfile}"]
    r = run_bounded("build", cmd, BUILD_LIMIT_S)
    if r != 0:
        fail(f"build failed (exit {r})")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".complete").write_text("")
    tmp.rename(classes)
    return classes, time.monotonic() - t0


def run_bounded(what, cmd, limit):
    """Runs cmd in its own process group, its stdout sent to our stderr;
    kills the whole group and waits for it if it overruns `limit`."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{what} exceeded {limit:.0f} s")
        raise


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src/main/scala/graft/Pq2Json.scala").is_file():
        fail(f"program sources not found under {ROOT}; run from a checkout of the repository")
    data = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata"))
    for d in (data / sf for sf in ("sf0.1", "sf0.01", "sf0.001")):
        if not (d / "lineitem.parquet").is_file():
            fail(f"harness tables not found in {d}; set PERFBENCH_DATA")
    target = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = (target if target.is_absolute() else ROOT / target) / "perfbench"
    (work / "tmp").mkdir(parents=True, exist_ok=True)

    jars = spark_jars()
    classes, build_s = build(work, jars)

    out = work / "results" / f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}-{os.getpid()}.json"
    cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for m in JDK17_ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(data),
            "--work", str(work), "--expected", str(BENCH / "expected.json"), "--out", str(out),
            "--nested-rows", str(NESTED_ROWS), "--nested-files", str(NESTED_FILES)]
    limit = RUN_LIMIT_S - (time.monotonic() - t_start - build_s)
    code = run_bounded("benchmark JVM", cmd, limit)
    if code != 0 or not out.is_file():
        fail(f"benchmark JVM exited with {code}")
    res = json.loads(out.read_text())

    rec = res["record"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} build_s={build_s:.1f} "
          f"passes={len(rec['passes'])} input={json.dumps(rec['input'], sort_keys=True)}")
    print(f"host={json.dumps(rec['host'], sort_keys=True)}")
    for name, m in sorted(res["metrics"].items()):
        print(f"  {name:32s} {m['value']!r:>24} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
