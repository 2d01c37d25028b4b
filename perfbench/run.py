#!/usr/bin/env python3
"""Diff-job benchmark: builds the engine from source and runs one workload.

Run from the repository root:

    python3 perfbench/run.py --workload divergent_repair --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The full per-run report
(every sample, and the spans of a traced run) is written under
`.bench_build/reports/`. See perfbench/README.md.
"""

import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

ROOT = pathlib.Path.cwd()
HERE = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
SPARK_JARS = pathlib.Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
WORKLOADS = ("divergent_repair", "nightly_rerun")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt uses the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_classpath():
    jars = sorted(SPARK_JARS.glob("*.jar"))
    if not jars:
        fail(f"no Spark jars under {SPARK_JARS}")
    return jars


def build():
    """Compile src/main and the benchmark with scalac; reuse a build whose
    sources hash the same."""
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail("src/main/scala not found: run from the repository root")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    jars = spark_classpath()
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"scala compiler jars not found under {SPARK_JARS}")
    digest = hashlib.sha256()
    for f in files + compiler:
        digest.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f).encode())
        digest.update(f.read_bytes() if f.suffix == ".scala" else str(f.stat().st_size).encode())
    out, stamp = BUILD / "classes", BUILD / "classes.stamp"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return out
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(
        ["-nowarn", "-classpath", os.pathsep.join(map(str, jars)), "-d", str(tmp)]
        + [str(f) for f in files]) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    code = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", f"@{argfile}"],
        cwd=ROOT, timeout=BUILD_TIMEOUT_S).returncode
    if code != 0:
        fail("build failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(digest.hexdigest())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--partitions", type=int, help="partitions per table (default in PerfBench.scala)")
    ap.add_argument("--perturb-expected", action="store_true",
                    help="add one to an expected counter; the correctness gate must then fail")
    a = ap.parse_args()

    classes = build()
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    # A fixed heap, a stop-the-world GC and early JIT compilation: each JVM
    # reaches its steady job time within the warm-up jobs instead of
    # drifting down through the timed ones.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1",
           "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), str(SPARK_JARS / "*")]),
            "perfbench.PerfBench", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--result", str(result),
            "--report", str(BUILD / "reports" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json")]
    if a.partitions:
        cmd += ["--partitions", str(a.partitions)]
    if a.perturb_expected:
        cmd += ["--perturb-expected"]
    # the JVM's stdout goes to stderr: the only stdout line is the summary
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 3)
    summary = result.read_text().strip() if result.is_file() else None
    shutil.rmtree(work, ignore_errors=True)
    if summary is None:
        fail(f"run failed (exit {code}) without a result", code or 1)
    print(summary)
    sys.exit(code)


if __name__ == "__main__":
    main()
