#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload hot_keys --seed 1 --seconds 20 --trace 0

Builds the benchmark (this directory's sbt build, which compiles graft from
the same checkout) on first use, runs one workload in a fresh JVM and prints
the result as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes the span file). Extra modes, not used for
measurement:

    --selftest   smoke-size run showing every correctness check fails on a
                 planted wrong model
    --overhead   run untraced and traced back to back and print the
                 tracing overhead

Exit code is 0 only for a run whose outputs were all correct.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Fixed heap: peak RSS then tracks the program's native memory, not how
# far the garbage collector happened to grow the heap.
HEAP = "2560m"

# What Spark's launcher passes to a JDK 17 driver.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the JVM classpath."""
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    cps = [ln.strip() for ln in lines
           if not ln.startswith("[") and os.pathsep in ln and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end" if trace == 0 else "per_layer"]}


def run_jvm(cp, jvm_args, work):
    """Run the benchmark JVM; returns (exit code, result dict or None, notes)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", work,
              "--launched-ms", str(int(time.time() * 1000))] + jvm_args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    result, notes = None, None
    deadline = time.time() + RUN_TIMEOUT_S

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old_term = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    timer = threading.Timer(max(1.0, deadline - time.time()), kill)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            elif line.startswith("PERFBENCH_NOTES "):
                notes = json.loads(line[len("PERFBENCH_NOTES "):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
        signal.signal(signal.SIGTERM, old_term)
    if time.time() >= deadline:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
        return 124, None, notes
    return code, result, notes


def measure(cp, a, trace, seed):
    work = os.path.join(BUILD, f"work-{a.workload}-{seed}-{trace}-{os.getpid()}")
    jvm_args = ["--workload", a.workload, "--seed", str(seed),
                "--seconds", str(a.seconds), "--trace", str(trace)]
    try:
        code, result, notes = run_jvm(cp, jvm_args, work)
        spans = os.path.join(work, "spans.jsonl")
        if trace == 1 and os.path.exists(spans):
            keep = os.path.join(BUILD, f"spans-{a.workload}-{seed}.jsonl")
            shutil.move(spans, keep)
            log(f"spans: {keep}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code, result, notes


def with_units(result, trace):
    """Give each bare metric value the unit BENCHMARK.json declares for it.

    Returns a list of problems: metrics missing, not declared, or not a
    finite number.
    """
    want = expected_metrics(trace)
    got = result.get("metrics", {})
    problems = [f"missing metric {m}" for m in want if m not in got]
    problems += [f"unexpected metric {m}" for m in got if m not in want]
    problems += [f"{m}: value {v} is not a finite number" for m, v in got.items()
                 if not isinstance(v, (int, float)) or not math.isfinite(v)]
    if not problems:
        result["metrics"] = {m: {"value": v, "unit": want[m]} for m, v in got.items()}
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="hot_keys")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"graft sources not found ({need} missing next to {os.path.basename(BENCH)}/)")
            return 2
    cp = build()

    if a.selftest:
        work = os.path.join(BUILD, f"work-selftest-{os.getpid()}")
        try:
            code, _, _ = run_jvm(cp, ["--selftest"], work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return code

    if a.overhead:
        _, plain, _ = measure(cp, a, 0, a.seed)
        _, traced, _ = measure(cp, a, 1, a.seed)
        if not plain or not traced:
            log("overhead: a run failed")
            return 1
        for m, v in traced["metrics"].items():
            if m.startswith("traced."):
                base = plain["metrics"][m[len("traced."):]]
                print(f"tracing overhead {m[len('traced.'):]}: untraced {base:.4g} "
                      f"traced {v:.4g} ({(v / base - 1) * 100:+.1f} %)")
        return 0

    code, result, notes = measure(cp, a, a.trace, a.seed)
    if result is None:
        log(f"no result (JVM exit {code})")
        return code or 1
    problems = with_units(result, a.trace)
    if problems:
        log("result does not match BENCHMARK.json: " + "; ".join(problems))
        log(json.dumps(result, sort_keys=True))
        return 3
    if notes is not None:
        print("notes: " + json.dumps(notes, sort_keys=True))
    for m, v in sorted(result["metrics"].items()):
        print(f"{m} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result, sort_keys=True))
    sys.stdout.flush()
    return 0 if code == 0 and result["correct"] else (code or 1)


if __name__ == "__main__":
    sys.exit(main())
