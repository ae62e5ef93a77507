#!/usr/bin/env python3
"""graft benchmark: build the program from source, run one workload, print
one JSON result line.

    python3 perfbench/run.py --workload logs --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The main sources and the benchmark's own
sources are compiled with the Scala compiler shipped in the Spark jars
directory -- the one build.sbt's `unmanagedBase` names, or $SPARK_HOME/jars
when set -- into .bench_build/; the build is reused while no source
changes. Each run works in a private directory under .bench_build/work/ and
removes it when it ends.
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

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
SCALA = "2.13.17"
RUN_TIMEOUT_S = 170
WORKLOADS = ("logs", "analytics")

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the sbt build compiles against (build.sbt `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m is None:
        fail("cannot find the Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"no program sources at {main.relative_to(ROOT)}; run from the repository root")
    srcs = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    res = ROOT / "src" / "main" / "resources"
    return srcs, res


def build():
    """Compile into .bench_build/classes unless the sources are unchanged."""
    srcs, res = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in srcs + (sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes, False
    jars = spark_jars()
    compiler = [jars / f"scala-{n}-{SCALA}.jar" for n in ("compiler", "library", "reflect")]
    for j in compiler:
        if not j.exists():
            fail(f"missing {j}")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compile failed")
    if res.is_dir():
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, True


def java_cmd(classes, work, main, args):
    return (["java", "-Xmx3g", "-Xss4m", *ADD_OPENS,
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dspark.local.dir={work / 'spark-local'}",
             f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join([str(classes), str(spark_jars() / "*")]),
             main, *args])


def run_jvm(cmd, work, timeout):
    """Run the benchmark JVM in its own process group; return (code, stdout)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("SPARK_GRAFT_CONF", None)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def main():
    # a stopped run takes its JVM down with it (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        fail("--workload is required")
    start = time.time()
    classes, built = build()
    work = BUILD / "work" / f"{a.workload or 'selftest'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True)
    try:
        if a.self_test:
            code, out = run_jvm(java_cmd(classes, work, "graftbench.SelfTest", [str(work)]),
                                work, RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(code)
        # a run that had to build is bounded from the end of the build
        timeout = RUN_TIMEOUT_S - (0 if built else time.time() - start)
        code, out = run_jvm(java_cmd(classes, work, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--trace-out", str(BUILD / "traces")]), work, timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
