#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own sources into one jar, then records a class
data sharing archive from a smoke run so that every benchmark JVM
starts without re-parsing Spark's classes.

The Spark jars are the ones the root build compiles against (its
`unmanagedBase`), or `$SPARK_HOME/jars` when SPARK_HOME is set. The
output goes to `$CARGO_TARGET_DIR` when set, else `.bench_build`, both
relative to the repository root; a source hash stamp skips rebuilds.

    python3 perfbench/build.py        # prints the jar
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

sys.dont_write_bytecode = True  # leave nothing behind in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")
    return m.group(1)


def jars():
    found = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not found:
        raise BuildError("no jars under " + spark_jars_dir())
    return found


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    return main + own, res


def stamp(files, jar_list):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jar_list:
        h.update(os.path.basename(j).encode() + b"\0")
    return h.hexdigest()


def artifacts():
    """(jar, class data sharing archive) paths in the build directory."""
    out = build_dir()
    return os.path.join(out, "perfbench.jar"), os.path.join(out, "perfbench.jsa")


def build(log=sys.stderr):
    """Build if the sources changed; return the jar."""
    srcs, res = sources()
    jar_list = jars()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jar, jsa = artifacts()
    stamp_file = os.path.join(out, "perfbench.stamp")
    want = stamp(srcs + res, jar_list)
    with open(os.path.join(out, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(jar) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == want:
                    return jar
        for p in (stamp_file, jar, jsa):
            if os.path.exists(p):
                os.remove(p)
        tmp = os.path.join(out, "perfbench-classes")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "perfbench-sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        compiler = [j for j in jar_list if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
        if len(compiler) != 3:
            raise BuildError("scala-compiler, -library and -reflect jars not found")
        print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx1536m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", ":".join(jar_list), "@" + argfile],
            stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError("scalac failed with exit code %d" % r.returncode)
        base = os.path.join(ROOT, "src/main/resources")
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, base))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in sorted(os.walk(tmp)):
                for name in sorted(files):
                    p = os.path.join(d, name)
                    z.write(p, os.path.relpath(p, tmp))
        shutil.rmtree(tmp)
        os.rename(jar + ".tmp", jar)
        record_archive(jar, jsa, log)
        with open(stamp_file, "w") as f:
            f.write(want + "\n")
        return jar


def record_archive(jar, jsa, log):
    """Run the smoke mode once with -XX:ArchiveClassesAtExit. A failure
    only costs start-up time, so it is reported and ignored."""
    import run  # the JVM command line lives there
    print("perfbench: recording the class data sharing archive", file=log, flush=True)
    d = tempfile.mkdtemp(prefix="cds-", dir=build_dir())
    try:
        os.makedirs(os.path.join(d, "tmp"))
        cmd = run.jvm(jar, d, ["--workload", "all", "--smoke", "--seed", "1", "--dir", d],
                      archive=None)
        cmd.insert(1, "-XX:ArchiveClassesAtExit=" + jsa)
        with open(os.path.join(build_dir(), "perfbench-cds.log"), "w") as f:
            r = subprocess.run(cmd, stdout=f, stderr=f, timeout=600)
        if r.returncode != 0 and os.path.exists(jsa):
            os.remove(jsa)
    except (OSError, subprocess.TimeoutExpired) as e:
        print("perfbench: no class data sharing archive: %s" % e, file=log)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
