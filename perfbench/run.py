#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--tamper 1]

Run from the repository root. The first run in a checkout builds graft and
the harness from source with sbt (offline), packs the classes into jars and
records a class-data archive of one short run of every workload, so each
measured JVM maps Spark's classes instead of loading them one by one. All
of it is cached under .bench_build/perfbench until a source file changes.
Each run is one JVM with one local[nproc] Spark session. The harness's
last stdout line is the result JSON; the line before it is a report with
sample counts, the seed and the set-up breakdown. `--tamper 1` makes every
expected answer wrong, to show the correctness checks are live.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(OUT, "classes.jsa")
WORKLOADS = ("groupby-rpc", "pipeline-batch", "publish-read")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: both sbt builds and all sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            for f in files if "target" not in os.path.relpath(d, r).split(os.sep)
            and not os.path.relpath(d, r).startswith("project"))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, *jvm_opts):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed, pre-touched heap keeps peak RSS from following GC heap sizing
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
           "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *jvm_opts]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main", "--out", OUT]


def jar_dirs(cp):
    """Class directories on the classpath become jars (the archive needs jars)."""
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(OUT, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in os.walk(e):
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    return os.pathsep.join(entries)


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    marker = os.path.join("perfbench", "target")
    cps = [l.strip() for l in p.stdout.splitlines() if marker in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = jar_dirs(cps[-1])
    with open(os.path.join(OUT, "train.log"), "w") as lf:
        t = subprocess.run(java_cmd(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + ["--train", "1"],
                           cwd=ROOT, stdout=lf, stderr=lf, timeout=BUILD_TIMEOUT_S)
    if t.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft sources not found: {need} is missing from the checkout")
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cp = build()
    archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(cp, *archive) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--tamper", str(a.tamper)]
    log = os.path.join(OUT, f"run-{a.workload}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    lines = out.splitlines()
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not results:
        fail(f"run failed (exit {p.returncode}); see {log}")
    for l in lines:
        if l.startswith('{"report"'):
            print(l)
    result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
