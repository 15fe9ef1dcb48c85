#!/usr/bin/env python3
"""Product-path benchmark of the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload etl_cycles --seed 1 --seconds 10 --trace 0

Compiles `src/main/scala` and the benchmark's own sources with the Scala
compiler shipped among the Spark jars (once per source digest, under
$CARGO_TARGET_DIR or `.bench_build`), runs one workload in one driver JVM
at local[nproc] inside a temporary run root, removes the run root, and
prints the result JSON as the last line of stdout. The full run record is
kept under `<build dir>/perfbench/results/`; a traced run reports its
tracing overhead against the untraced record of the same workload there.

`--selftest` runs the generator determinism test instead.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BENCH_SRC = [os.path.join(HERE, "src"), os.path.join(HERE, "test")]
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
FINGERPRINTS = os.path.join(HERE, "fingerprints.tsv")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(dirs, exts=(".scala",)):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return sorted(out)


def spark_jars():
    """The jars the sbt build compiles against: $SPARK_HOME/jars, else
    build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    for d in cands:
        jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar")) \
            if os.path.isdir(d) else []
        if any("scala-compiler" in j for j in jars):
            return jars
    fail("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def scalac(cp, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + files
    r = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compilation failed ({len(files)} files into {out})")


def jar(classes, extra, path):
    """Packs class directories into one jar: the JVM archives classes for
    faster start-up only from jars."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d in [classes] + extra:
            for f in sources([d], ("",)):
                z.write(f, os.path.relpath(f, d))


def build(build_dir, jars):
    """Compiles the program, then the benchmark against it; returns the
    build directory (program.jar, bench.jar) and the source digest. Reuses
    a build of the same sources."""
    main_files = sources([MAIN_SRC])
    bench_files = sources(BENCH_SRC)
    if not main_files:
        fail(f"no program sources under {MAIN_SRC}")
    h = hashlib.sha256()
    for f in main_files + bench_files + sources([MAIN_RES], ("",)) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(build_dir, "classes-" + digest)
    classes = [os.path.join(out, "main"), os.path.join(out, "bench")]
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "ok")):
            shutil.rmtree(out, ignore_errors=True)
            cp = ":".join(jars)
            scalac(cp, classes[0], main_files)
            scalac(cp + ":" + classes[0], classes[1], bench_files)
            jar(classes[0], [MAIN_RES], os.path.join(out, "program.jar"))
            jar(classes[1], [], os.path.join(out, "bench.jar"))
            open(os.path.join(out, "ok"), "w").close()
    return out, digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def untraced_op_p50(results, workload, seed, digest):
    """op_p50_s of the untraced run of the same workload and sources: the
    same seed if there is one, else the median over all seeds; None when
    no untraced run has been recorded."""
    vals = {}
    for name in os.listdir(results) if os.path.isdir(results) else []:
        m = re.fullmatch(re.escape(workload) + r"-seed(-?\d+)-trace0\.json", name)
        if not m:
            continue
        try:
            with open(os.path.join(results, name)) as f:
                rec = json.load(f)
            if rec["environment"]["run"].get("source_digest") == digest and rec["result"]["correct"]:
                vals[int(m.group(1))] = rec["end_to_end"]["op_p50_s"]["value"]
        except (OSError, ValueError, KeyError, TypeError):
            continue
    if seed in vals:
        return vals[seed]
    return statistics.median(vals.values()) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the generator determinism test")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="store the query result fingerprints instead of checking them")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(MAIN_SRC):
        fail(f"run from the root of a source checkout ({MAIN_SRC} is missing)")

    build_dir = os.path.abspath(os.path.join(
        os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")), "perfbench"))
    jars = spark_jars()
    out, digest = build(build_dir, jars)
    cp = ":".join([os.path.join(out, "bench.jar"), os.path.join(out, "program.jar")] + jars)

    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload or 'selftest'}-", dir=runs)
    os.makedirs(os.path.join(work, "tmp"))
    # The first run of a build archives the classes it loaded; later runs
    # map that archive and start faster. JVM log lines go to stderr, so the
    # result stays the last line of stdout.
    archive = os.path.join(out, "classes.jsa")
    new_archive = os.path.join(work, "classes.jsa")
    cds = [] if a.selftest else [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) \
        else [f"-XX:ArchiveClassesAtExit={new_archive}"]
    jvm = ["java", "-Xlog:disable", "-Xlog:all=warning:stderr"] + cds + \
        [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp]
    if a.selftest:
        cmd = jvm + ["perfbench.GenDeterminismTest"]
    else:
        results = os.path.join(build_dir, "results")
        result = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        cmd = jvm + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                     "--out", result, "--fingerprints", FINGERPRINTS,
                     "--env", f"commit={git_commit()}", "--env", f"source_digest={digest}"]
        ref = untraced_op_p50(results, a.workload, a.seed, digest) if a.trace else None
        if ref is not None:
            cmd += ["--untraced-op-p50", repr(ref)]
        if a.record_fingerprints:
            cmd.append("--record-fingerprints")
    # On SIGTERM, unwind: subprocess.run kills and reaps the JVM, and the
    # run root is removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        # Spark's scratch space stays inside the run root.
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.run(cmd, cwd=work, env=env, timeout=RUN_TIMEOUT_S,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        if proc.returncode == 0 and os.path.exists(new_archive) and not os.path.exists(archive):
            os.replace(new_archive, archive)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(proc.stdout)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
