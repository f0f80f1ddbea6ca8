#!/usr/bin/env python3
"""Benchmark driver for the graft Spark pipeline engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mhm_etl --seed 1 --seconds 5 --trace 0

It builds the program and the benchmark from source (sbt, first run only;
later runs reuse the build while no source changed), starts one JVM that
runs the workload as a closed loop and checks every operation's output,
and prints a human-readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(see BENCHMARK.json and perfbench/WORKLOADS.md).

    python3 perfbench/run.py --selftest

pins the counting filesystem's counts for a fixed call sequence, checks that
a seed generates byte-identical inputs, and checks that two traced runs give
identical job, stage, task and filesystem counts per operation.

Everything the benchmark writes goes under `.bench_build/` in the checkout;
its work directory is wiped at the start of every run. In a git work tree a
run that changes `git status --porcelain` is reported as incorrect.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

# The workloads BENCHMARK.json lists; lake_rw and llm_curation are the two
# halves of lake_curation, runnable alone for a closer look.
BENCHMARKED = ("mhm_etl", "lake_curation")
WORKLOADS = BENCHMARKED + ("lake_rw", "llm_curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the program's own build passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Every per-operation counter a traced run must repeat exactly.
COUNTED = ("exec.jobs", "exec.stages", "exec.tasks")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, in a stable order."""
    picked = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, base)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            picked += [os.path.join(dirpath, f) for f in sorted(filenames)]
    picked += [os.path.join(root, f) for f in ("build.sbt", "perfbench/build.sbt")]
    return picked


def stamp(root):
    h = hashlib.sha256()
    for path in source_files(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    want = stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            have, cp = f.read().strip(), g.read().strip()
        if have == want and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log_path = os.path.join(out, "build.log")
    print("perfbench: building (sbt compile) ...", file=sys.stderr, flush=True)
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    lines = [l.strip() for l in proc.stdout.splitlines()
             if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log_path}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr, flush=True)
    return cp


def git_status(root):
    """`git status --porcelain` of the checkout, or None when the checkout is
    not the top of a git work tree."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=root,
                             capture_output=True, text=True, timeout=60)
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(root):
            return None
        return subprocess.run(["git", "status", "--porcelain"], cwd=root, capture_output=True,
                              text=True, timeout=60, check=True).stdout
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(root, out, cp, main, args):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, root, timeout):
    """Run the JVM in its own process group, echo its report lines and return
    (exit code, last JSON line). The whole group is killed when the JVM
    outlives `timeout`, and any process left in it once the JVM has exited."""
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if out is None:
        return 124, None
    lines = [l for l in out.splitlines() if l]
    for l in lines:
        if not l.startswith("{"):
            print(l, flush=True)
    return proc.returncode, next((l for l in reversed(lines) if l.startswith("{")), None)


def bench_once(root, out, cp, workload, seed, seconds, trace):
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(root, out, cp, "perfbench.Main",
                   ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                    "--trace", str(trace), "--work", work])
    code, last = run_jvm(cmd, root, RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or last is None:
        fail(f"{workload} run failed (exit {code})")
    return json.loads(last)


def selftest(root, out, cp):
    ok = True
    code, _ = run_jvm(java_cmd(root, out, cp, "perfbench.SelfTest",
                               ["--work", os.path.join(out, "work")]), root, 600)
    ok &= code == 0
    for w in BENCHMARKED:
        logs = []
        for i in range(2):
            bench_once(root, out, cp, w, 7, 4, 1)
            with open(os.path.join(out, f"trace_{w}.json")) as f:
                logs.append(json.load(f))
        a, b = logs
        n = min(len(a), len(b))
        differing = {}
        for x, y in zip(a[:n], b[:n]):
            keys = [k for k in set(x["stats"]) | set(y["stats"])
                    if k in COUNTED or k.startswith("fs.")]
            for k in keys:
                if x["stats"].get(k, 0) != y["stats"].get(k, 0):
                    differing.setdefault(k, []).append(
                        (x["index"], x["op"], x["stats"].get(k, 0), y["stats"].get(k, 0)))
        if differing:
            ok = False
            for k, cases in sorted(differing.items()):
                print(f"[selftest] {w}: {k} does not repeat: "
                      + ", ".join(f"op {i} {op}: {p} vs {q}" for i, op, p, q in cases[:4]))
        else:
            print(f"[selftest] {w}: job, stage, task and fs counts repeat over {n} operations")
    print("[selftest] " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt", "perfbench/src"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    if not args.selftest and args.workload is None:
        fail("--workload is required")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    before = git_status(root)
    cp = build(root, out)
    if args.selftest:
        code = selftest(root, out, cp)
        if before is not None and git_status(root) != before:
            print("[selftest] FAIL: the runs changed git status", file=sys.stderr)
            code = 1
        sys.exit(code)
    result = bench_once(root, out, cp, args.workload, args.seed, args.seconds, args.trace)
    if before is not None and git_status(root) != before:
        print("perfbench: the run changed `git status --porcelain`", file=sys.stderr)
        result["correct"] = False
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
