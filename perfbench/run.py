#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload incremental_runs --seed 1 --seconds 15 --trace 0

    python3 perfbench/run.py --test

Run from the root of a checkout. The first call compiles the program's
sources (src/main/scala) together with the benchmark's (perfbench/src/main)
into .bench_build/perfbench.jar; later calls reuse it while the sources are
unchanged. The JVM's own output goes to stderr. Stdout gets a readable
summary and, as its last line, the JSON result. The full report (every
operation, the per-layer values and, with --trace 1, the spans) is written
to .bench_out/. With --test it compiles the benchmark's tests
(perfbench/src/test) against that jar and runs them instead.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
JAR = os.path.join(BUILD, "perfbench.jar")
TEST_JAR = os.path.join(BUILD, "perfbench-tests.jar")
OUT = ".bench_out"
WORK = ".bench_work"
JVM_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 900
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the program's own build compiles against."""
    with open("build.sbt", encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def sources(*roots):
    found = []
    for root in roots:
        found += glob.glob(f"{root}/**/*.scala", recursive=True)
    return sorted(found)


def compile_jar(jars, srcs, classpath, jar):
    """Compiles `srcs` into `jar` unless the stamp beside it is current."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for p in classpath:
        h.update(p.encode())
    stamp = h.hexdigest()
    stamp_file = jar + ".stamp"
    if (os.path.exists(jar) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    classes = jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [os.path.join(jars, f"{n}-{scala_version(jars)}.jar")
             for n in ("scala-compiler", "scala-library", "scala-reflect")]
    args_file = jar + ".sources"
    with open(args_file, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources into {jar}",
          file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         "-cp", os.pathsep.join(scala),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-cp", os.pathsep.join([*classpath, os.path.join(jars, "*")]),
         "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr, timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    with zipfile.ZipFile(jar, "w") as z:
        for root, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                path = os.path.join(root, name)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(jars, classpath, main, args):
    """Runs `main` in its own process group; its output goes to stderr.
    Returns the exit code."""
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([*classpath, os.path.join(jars, "*")]),
            main, *args]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        # also on SIGTERM or a timeout: the JVM is not left running
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def scala_version(jars):
    libs = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    if len(libs) != 1:
        fail("expected one scala-library jar beside Spark")
    return os.path.basename(libs[0])[len("scala-library-"):-len(".jar")]


def summary(report_path, trace):
    """Readable lines from the report; the tracing overhead when the
    untraced report of the same workload and seed is there."""
    with open(report_path, encoding="utf-8") as f:
        r = json.load(f)
    lines = [f"workload {r['workload']} seed {r['seed']} "
             f"trace {int(r['trace'])}: {r['attempted']} attempted, "
             f"{r['failed']} failed, fail_ratio {r['fail_ratio']:.4f}, "
             f"session {r['session_s']:.2f} s, "
             f"setup each {[round(s, 3) for s in r['setup_s_each']]}, "
             f"warm-up {r['warmup_s']:.2f} s"]
    tail = r.get("tail")
    for name, v in r["end_to_end"].items():
        extra = f"  (n={r['samples']})" if name == "op_p50_s" else ""
        lines.append(f"  {name:<12} {v:.6g}{extra}")
    if tail:
        lines.append(f"  tail         {tail['value']:.6g}  "
                     f"(p{tail['percentile']:g} of n={tail['samples']}, "
                     f"{tail['beyond']} beyond; report only)")
    bad = [o for o in r["ops"] if o["foreignCores"] > 0.5]
    lines.append(f"  contaminated ops (foreign CPU > 0.5 cores): "
                 f"{[o['op'] for o in bad]}")
    for o in r["ops"]:
        if o["error"]:
            lines.append(f"  op {o['op']} FAILED: {o['error']}")
    if trace:
        for k in sorted(r["layers"]):
            lines.append(f"  {k:<40} {r['layers'][k]:.6g}")
        plain = report_path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(plain):
            with open(plain, encoding="utf-8") as f:
                p = json.load(f)["end_to_end"].get("op_p50_s")
            t = r["end_to_end"].get("op_p50_s")
            if p and t:
                lines.append(f"  tracing overhead on op_p50_s: "
                             f"{(t / p - 1) * 100:+.1f}%")
        top = sorted(r["spans"], key=lambda s: -s["self_ms"])[:8]
        lines.append("  top self times: " + ", ".join(
            f"{s['name']}#{s['id']} {s['self_ms']} ms" for s in top))
    return "\n".join(lines)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--test", action="store_true",
                    help="compile and run the benchmark's own tests")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    a = ap.parse_args()
    if not a.test and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the root of a checkout: build.sbt and src/main/scala "
             "are missing")
    jars = spark_jars()
    compile_jar(jars, sources("src/main/scala", "perfbench/src/main/scala"),
                [], JAR)
    if a.test:
        compile_jar(jars, sources("perfbench/src/test/scala"), [JAR],
                    TEST_JAR)
        sys.exit(run_jvm(jars, [JAR, TEST_JAR], "perfbench.Tests", []))
    os.makedirs(OUT, exist_ok=True)
    result = os.path.join(OUT, f"result-{os.getpid()}.json")
    report = os.path.join(
        OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    for p in (result, report):
        if os.path.exists(p):
            os.remove(p)
    code = run_jvm(jars, [JAR], "perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", a.trace,
                    "--result", result, "--report", report])
    if not os.path.exists(result):
        fail(f"the benchmark JVM exited with {code} and no result")
    with open(result, encoding="utf-8") as f:
        line = f.read().strip()
    os.remove(result)
    print(summary(report, a.trace == "1"))
    print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()
