#!/usr/bin/env python3
"""Repository benchmark: build from source, run one workload, print results.

Run from the repository root:

    python3 perfbench/run.py --workload mr-wordcount --seed 1 --seconds 6 --trace 0

The first run in a checkout compiles the library and the benchmark driver
with the Scala compiler that ships among the Spark jars (no sbt, no
dependency cache, no network); later runs reuse the build while the
sources are unchanged. Each run starts one JVM for one workload; its standard output
ends with one JSON result line, and its log goes to
`.bench_build/perfbench/<workload>.log`.

Steadiness mode runs one workload on several seeds and prints each
end-to-end metric's spread (IQR / median) against its bound from
BENCHMARK.json:

    python3 perfbench/run.py --steady --workload dedup-pipeline --runs 10
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["mr-wordcount", "pregel-graph", "dedup-pipeline", "jobs-mixed"]
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 240

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build's javaOptions).
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


def source_files():
    """Every file the build reads, relative to the root, sorted."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["build.sbt", "perfbench/run.py"]
    return sorted(out)


def source_hash(jars):
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    for jar in jars:
        h.update(jar.encode() + b"\0")
    return h.hexdigest()


def spark_jars():
    """The Spark jars the root build compiles and runs against (its
    `unmanagedBase`); they include the matching Scala compiler."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        fail("no Scala compiler among the jars named by unmanagedBase in build.sbt")
    return jars


def build():
    """Compile the library and the benchmark driver in one scalac run into
    one jar, and dump a class-data-sharing archive, unless this source tree
    was built already. Returns (runtime classpath, source digest)."""
    for rel in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from a checkout of the repository")
    jars = spark_jars()
    digest = source_hash(jars)
    classpath = os.pathsep.join([os.path.join(WORK, f"classes-{digest[:16]}.jar")] + jars)
    stamp = os.path.join(WORK, f"built-{digest[:16]}")
    if os.path.exists(stamp):
        return classpath, digest
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    sources = [os.path.join(ROOT, rel) for rel in source_files() if rel.endswith(".scala")]
    # scalac reads its options and sources from a file: the list is long
    args = os.path.join(WORK, "scalac-args.txt")
    with open(args, "w") as f:
        for a in ["-deprecation", "-classpath", os.pathsep.join(jars),
                  "-d", classpath.split(os.pathsep)[0]] + sources:
            f.write(f'"{a}"\n')
    log = os.path.join(WORK, "build.log")
    cmd = [java_bin(), "-Xmx1g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + args]
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log}", 3)
    dump_class_archive(classpath, digest)
    with open(stamp, "w") as f:
        f.write(classpath)
    return classpath, digest


def archive_path(digest):
    return os.path.join(WORK, f"classes-{digest[:16]}.jsa")


def dump_class_archive(classpath, digest):
    """Record the classes one short run loads into a dynamic class-data-
    sharing archive, which cuts JVM start-up for every later run. A failed
    dump only costs that speed-up."""
    archive = archive_path(digest)
    cmd = java_command(classpath, digest, "dedup-pipeline", 0, 0, 0,
                       [f"-XX:ArchiveClassesAtExit={archive}"])
    log = os.path.join(WORK, "class-archive.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=ROOT, env=java_env(), stdout=lf,
                               stderr=subprocess.STDOUT, timeout=ARCHIVE_TIMEOUT_S)
            ok = p.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    if not ok and os.path.exists(archive):
        os.remove(archive)
    if not ok:
        print(f"perfbench: class archive not created; see {log}", file=sys.stderr)


def commit_id(digest):
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0 and p.stdout.strip():
            return p.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + digest[:12]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def java_env():
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return env


def java_command(classpath, digest, workload, seed, seconds, trace, extra):
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = [java_bin()]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return cmd + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
        # no hsperfdata file: it would be written outside the work directory
        "-XX:-UsePerfData",
        # JVM warnings to stderr: standard output carries only results
        "-Xlog:all=warning:stderr",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dderby.system.home={WORK}",
        f"-Dperfbench.commit={commit_id(digest)}",
    ] + extra + [
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", os.path.join(WORK, workload),
    ]


def run_once(workload, seed, seconds, trace, classpath, digest, echo=True):
    """One JVM run; returns (exit code, stdout lines)."""
    archive = archive_path(digest)
    extra = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = java_command(classpath, digest, workload, seed, seconds, trace, extra)
    log = os.path.join(WORK, f"{workload}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=java_env(), stdout=subprocess.PIPE,
                             stderr=lf, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} did not finish in {RUN_TIMEOUT_S}s; see {log}", 4)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    lines = out.splitlines()
    if echo:
        sys.stdout.write(out)
        sys.stdout.flush()
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
    return p.returncode, lines


def steady(args, classpath, digest):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    values = {}
    for k in range(args.runs):
        seed = args.seed + k
        code, lines = run_once(args.workload, seed, seconds, 0, classpath, digest, echo=False)
        if code != 0 or not lines:
            fail(f"run with seed {seed} failed (exit {code})", 5)
        res = json.loads(lines[-1])
        header = json.loads(lines[-2])["perfbench"]
        row = {n: m["value"] for n, m in res["metrics"].items()}
        print(f"seed {seed}: " + "  ".join(f"{n}={v:.6g}" for n, v in row.items()) +
              f"  jobs={header['jobs']}", flush=True)
        for n, v in row.items():
            values.setdefault(n, []).append(v)
    print(f"{args.workload}: {args.runs} runs, spread = IQR / median")
    worst = 0
    for n, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("inf")
        b = bounds.get(n)
        verdict = "" if b is None else (
            "ok" if spread < b / 3 else ("within bound" if spread <= b else "OVER BOUND"))
        if b is not None and n != "setup_s" and spread > b:
            worst = 1
        print(f"  {n:20s} median={med:.6g} spread={spread:.4f} "
              f"bound={b} {verdict}")
    return worst


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", action="store_true",
                    help="run --runs seeds from --seed on and print spreads")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so every JVM started is killed and reaped
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    classpath, digest = build()
    if args.steady:
        sys.exit(steady(args, classpath, digest))
    seconds = args.seconds if args.seconds is not None else 6
    code, _ = run_once(args.workload, args.seed, seconds, args.trace, classpath, digest)
    sys.exit(code)


if __name__ == "__main__":
    main()
