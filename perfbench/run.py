#!/usr/bin/env python3
"""ELT benchmark runner: builds the engine and the benchmark from source,
then runs one workload and passes its output through.

    python3 perfbench/run.py --workload backfill|cdc --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest      # meter-pin checks, tiny inputs

Run from the repository root. The build goes to $CARGO_TARGET_DIR (or
.bench_build) and is reused while the sources are unchanged; run outputs
go to .bench_out. The last line of stdout is the JSON result.

The build packs the classes into jars and records a class-data-sharing
archive of the classes one tiny run of every workload loads
(perfbench.Train), so each benchmark JVM maps Spark's classes instead of
loading and verifying some 16k of them one by one. That shortens the JVM
and Spark start and the warm-up only; every timed region runs after the
warm-up, when the classes are loaded either way.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
TRAIN_TIMEOUT_S = 400
HEAP = "2g"
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the first spark-submit on the
    PATH that has them."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in path if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("no Spark jars found: set SPARK_HOME or put spark-submit on the PATH")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    res = sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, [r for r in res if os.path.isfile(r)], bench


def scalac(out, classpath, files, build):
    os.makedirs(out, exist_ok=True)
    argfile = os.path.join(build, os.path.basename(out) + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise SystemExit(f"compile failed: {out}")


def digest_of(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile src/main (the engine), then perfbench/src against it. Each
    step is skipped while its inputs are unchanged. Returns the run
    classpath."""
    main, res, bench = sources()
    if not main or not bench:
        raise SystemExit("engine or benchmark sources missing; run from a full checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(build_dir, "classes")
    bench_classes = os.path.join(build_dir, "bench-classes")
    engine_key = digest_of(main + res)
    bench_key = engine_key + digest_of(bench)
    os.makedirs(build_dir, exist_ok=True)

    def fresh(name, key):
        stamp = os.path.join(build_dir, name + ".stamp")
        return os.path.exists(stamp) and open(stamp).read() == key

    def seal(name, key):
        with open(os.path.join(build_dir, name + ".stamp"), "w") as f:
            f.write(key)

    if not fresh("engine", engine_key):
        log("building the engine ...")
        shutil.rmtree(classes, ignore_errors=True)
        scalac(classes, spark_jars(), main, build_dir)
        res_root = os.path.join(ROOT, "src/main/resources")
        for r in res:
            dst = os.path.join(classes, os.path.relpath(r, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        seal("engine", engine_key)
    if not fresh("bench", bench_key):
        log("building the benchmark ...")
        shutil.rmtree(bench_classes, ignore_errors=True)
        scalac(bench_classes, os.pathsep.join([classes, spark_jars()]), bench, build_dir)
        seal("bench", bench_key)
    jars = [os.path.join(build_dir, "bench.jar"), os.path.join(build_dir, "engine.jar")]
    cp = os.pathsep.join(jars + [spark_jars()])
    archive = os.path.join(build_dir, "classes.jsa")
    if not fresh("jars", bench_key):
        for p in [archive, os.path.join(build_dir, "jars.stamp")]:
            if os.path.exists(p):
                os.remove(p)
        jar(bench_classes, jars[0])
        jar(classes, jars[1])
        log("recording the class-data-sharing archive ...")
        code, _ = java(cp, "perfbench.Train", ["--root", os.path.join(ROOT, ".bench_out")],
                       TRAIN_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={archive}",
                                         "-Xlog:cds*=error:stderr"])
        if code != 0 or not os.path.exists(archive):
            # the runs work without it, only their JVM start is slower
            log(f"no class-data-sharing archive (training run exited {code})")
        seal("jars", bench_key)
    return cp, archive


def jar(classes, path):
    """Pack a class directory into a jar: class-data sharing takes
    classes from jars only."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, files in os.walk(classes):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    os.replace(tmp, path)


def java(cp, main, args, timeout, flags=()):
    """Run a benchmark JVM; stdout lines pass through. Returns (code, lines).
    JVM warnings (such as an unusable class-data-sharing archive) go to
    stderr, so stdout stays the benchmark's own."""
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p)] + [
        "-Xlog:all=warning:stderr"] + list(flags) + [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log(f"timed out after {timeout} s")
        return 124, []
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["backfill", "cdc"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        cp, archive = build()
    except (SystemExit, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2
    flags = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    out_dir = os.path.join(ROOT, ".bench_out")
    if a.selftest:
        code, lines = java(cp, "perfbench.SelfTest", ["--root", out_dir], RUN_TIMEOUT_S * 3, flags)
        for line in lines:
            print(line)
        return code
    code, lines = java(cp, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", out_dir], RUN_TIMEOUT_S, flags)
    for line in lines:
        print(line)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        log(f"benchmark JVM exited with {code} and no result")
        return code or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
