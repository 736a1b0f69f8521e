#!/usr/bin/env python3
"""Benchmark of the library's public entry points (see perfbench/README.md).

Run from the root of a checkout:

    python3 perfbench/run.py --workload diff_tall --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --report            # every workload, untraced and traced twice

It compiles the library (src/main/scala) together with the benchmark
(perfbench/src) with the Scala compiler shipped in Spark's jars, into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench), reusing the
classes while the sources are unchanged. Then it runs perfbench.Bench in one
JVM and relays its output; the last line of stdout is the JSON result.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ["diff_tall", "ingest"]
# a fixed-size heap under the throughput collector: heap resizing and
# concurrent marking made run-to-run times noticeably less steady
JVM_OPTS = "-Xms3g -Xmx3g -XX:+UseParallelGC"
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars_dir):
        die(f"no Spark jars at {jars_dir}")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(lib):
        die(f"no library sources at {lib}: run from the root of a checkout")
    out = []
    for top in (lib, bench):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def jvm_base(work_tmp):
    return ["java", "-XX:-UsePerfData", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={work_tmp}"]


def build(jars):
    """Compile library + benchmark once per source state; return the class directory."""
    os.makedirs(build_dir(), exist_ok=True)
    with open(os.path.join(build_dir(), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(jars)


def build_locked(jars):
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    digest.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = digest.hexdigest()
    bdir = build_dir()
    stamp_file = os.path.join(bdir, "classes.stamp")
    classes = os.path.join(bdir, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = os.path.join(bdir, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jtmp = os.path.join(bdir, f"jtmp{os.getpid()}")
    os.makedirs(jtmp, exist_ok=True)
    scala = [j for j in jars if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    t0 = time.time()
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.call(
        jvm_base(jtmp) + ["-Xmx3g", "-Xss8m", "-cp", ":".join(scala), "scala.tools.nsc.Main",
                          "-nowarn", "-classpath", ":".join(jars), "-d", tmp] + srcs,
        stdout=sys.stderr)
    shutil.rmtree(jtmp, ignore_errors=True)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes


def bench_process(workload, seed, seconds, trace, inject, classes, jars):
    """Run perfbench.Bench in its own JVM; return (exit code, stdout)."""
    work = os.path.join(build_dir(), "runs", f"{workload}-{seed}-{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(build_dir(), "traces", f"{workload}-seed{seed}.jsonl")
    cmd = jvm_base(os.path.join(work, "tmp")) + JVM_OPTS.split() + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    ] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-cp", ":".join([classes] + jars), "perfbench.Bench",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--work", work, "--spans", spans,
    ] + (["--inject", inject] if inject else [])
    # Spark prefers these to spark.local.dir; scratch stays in the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {workload} run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return -1, ""
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def run_one(workload, seed, seconds, trace, inject=None):
    """Run one benchmark process; return its result dict, or None on failure."""
    jars = spark_jars()
    classes = build(jars)
    rc, out = bench_process(workload, seed, seconds, trace, inject, classes, jars)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        print(f"perfbench: {workload} run failed (exit {rc})", file=sys.stderr)
        return None
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        return json.loads(lines[-1])
    except ValueError:
        print(f"perfbench: no result line: {lines[-1]!r}", file=sys.stderr)
        return None


def report(seed, seconds):
    """Every workload untraced and traced twice: every metric, the
    verdicts, the tracing overhead (traced minus untraced median op
    time) and whether the deterministic counters repeat across the two
    traced runs."""
    ok = True
    for wl in WORKLOADS:
        plain = run_one(wl, seed, seconds, False)
        traced = [run_one(wl, seed, seconds, True) for _ in range(2)]
        if plain is None or None in traced:
            print(f"{wl}: run failed")
            ok = False
            continue
        print(f"== {wl} (seed {seed})")
        for res in (plain, traced[0]):
            for k, m in res["metrics"].items():
                print(f"  {k:42s} {m['value']!s:>22} {m['unit']}")
        m = traced[0]["metrics"]
        overhead = m["trace.op_s"]["value"] - plain["metrics"]["op_s"]["value"]
        print(f"  {'trace.overhead_s':42s} {overhead:>22.4f} s")
        for name, res in (("untraced", plain), ("traced", traced[0]), ("traced again", traced[1])):
            print(f"  correct ({name}): {res['correct']}  failed {res['failed']} of {res['attempted']} ops")
        det = [k for k in m if k.endswith((".jobs", ".sql_execs", ".exchanges"))] + ["TableDiff.shuffle_write_bytes"]
        moved = [k for k in det if m[k]["value"] != traced[1]["metrics"][k]["value"]]
        within = max(t["metrics"]["selfcheck.nondeterministic_counters"]["value"] for t in traced)
        print(f"  determinism self-check: up to {within:g} counters moved within a run, "
              f"{len(moved)} across two runs {moved}")
        ok = ok and plain["correct"] and all(t["correct"] for t in traced) and within == 0 and not moved
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", help="corrupt a result before its check (see Bench.scala)")
    ap.add_argument("--report", action="store_true", help="run every workload, untraced and traced twice")
    a = ap.parse_args()
    sources()  # fail fast, before printing anything, outside a checkout
    if a.report:
        sys.exit(report(a.seed, a.seconds))
    if not a.workload:
        die("--workload is required")
    res = run_one(a.workload, a.seed, a.seconds, a.trace == 1, a.inject)
    if res is None:
        sys.exit(1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
