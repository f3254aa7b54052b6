#!/usr/bin/env python3
"""Fixed-work benchmark of graft.

    python3 perfbench/run.py --workload kv_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # all workloads, tiny sizes
    python3 perfbench/run.py --selftest     # the checkers reject perturbed results

Builds the program and the benchmark from source (see build.py), runs
one workload in one plain JVM with a fixed heap, inside a private run
directory that is deleted afterwards, and prints the JSON result as the
last line of standard output. Traced runs also write their spans to
`.bench_out/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["kv_read", "kv_write", "catalog_dml", "dedup_batch"]
HEAP = "2g"
RUN_LIMIT_S = 170  # one run, build excluded
# With C2 the JIT was still compiling hundreds of Spark and graft
# methods per second 35 s into a run, so per-op medians kept falling
# through the timed phase (kv_read gets: 10.3 ms 6 s after setup, 6.0 ms
# at 30 s) and each run's figure depended on how far its JIT had got.
# C1 alone settles within seconds of the warm-up, and allocates what the
# code allocates (no escape analysis). The young generation has a fixed
# size, so collections do not follow the adaptive sizing.
JIT_GC = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
          "-XX:+UseParallelGC", "-Xmn768m", "-XX:-UseAdaptiveSizePolicy",
          "-XX:ParallelGCThreads=2"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(jar, run_dir, main_args, archive=""):
    """The benchmark JVM's command line; `archive` is the class data
    sharing archive to map ("" for the built one, None for none)."""
    if archive == "":
        archive = build.artifacts()[1]
    cp = ":".join([jar] + build.jars())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cds = ["-XX:SharedArchiveFile=" + archive] if archive and os.path.exists(archive) else []
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m"] + JIT_GC + cds + opens +
            ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, deadline):
    """Run the JVM in its own process group, echo its stdout, and return
    (exit code, stdout lines); kill the group at the deadline."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(p.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError
            if sel.select(timeout=min(left, 1.0)):
                line = p.stdout.readline()
                if not line:
                    break
                lines.append(line.rstrip("\n"))
                if not line.startswith("{"):
                    print(line, end="", flush=True)
        return p.wait(timeout=max(1.0, deadline - time.monotonic())), lines
    except (TimeoutError, subprocess.TimeoutExpired):
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 124, lines
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        p.wait()


def results(lines):
    out = []
    for line in lines:
        if line.startswith("{"):
            r = json.loads(line)
            if set(r) == {"correct", "attempted", "failed", "metrics"}:
                out.append(r)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload at tiny sizes, one JVM")
    ap.add_argument("--selftest", action="store_true", help="check the checkers")
    a = ap.parse_args()
    # a terminated run still kills its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (a.workload or a.smoke or a.selftest):
        ap.error("--workload, --smoke or --selftest is required")
    try:
        jar = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_LIMIT_S

    runs = os.path.join(ROOT, ".bench_run")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        if a.selftest:
            args = ["--selftest"]
        else:
            args = ["--workload", "all" if a.smoke else a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", run_dir,
                    "--out", os.path.join(ROOT, ".bench_out")] + (["--smoke"] if a.smoke else [])
        code, lines = run_jvm(jvm(jar, run_dir, args), deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    if code != 0:
        print("perfbench: the benchmark JVM exited with code %d" % code, file=sys.stderr)
        return code or 1
    if a.selftest:
        return 0
    rs = results(lines)
    if not rs:
        print("perfbench: no result line", file=sys.stderr)
        return 1
    if a.smoke:
        bad = [r for r in rs if not r["correct"] or r["failed"]]
        print(json.dumps({"smoke": len(rs), "bad": len(bad)}))
        return 1 if bad or len(rs) != len(WORKLOADS) else 0
    print(json.dumps(rs[-1]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
