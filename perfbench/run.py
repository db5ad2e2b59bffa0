#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the benchmark (sbt, in perfbench/); later runs reuse the build until a
source file changes. Inputs are generated from the seed; the engine
runs in one JVM (local[4]); every output is checked against an
independent reference after the window. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}, with
the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. A wrong output makes the exit code 1.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("cdc_snapshot", "cdc_tail", "curation_daemon", "query_mix")
# input generation is repeated and its median taken, like the engine's
# set-up rounds (graft.perfbench.Main.SetupReps)
GENERATE_REPS = 3
# a run must end within 180 s once built; the engine JVM is stopped in
# time to leave the checks and clean-up their last 10 s
DEADLINE_S = 170
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"] + [
    arg for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of everything the build reads: the engine's sources and
    build definition, and the benchmark's own."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the classpath."""
    out = os.path.join(HERE, "target", "perfbench-build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        output, _ = p.communicate(timeout=840)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: build timed out")
    lines = [x for x in output.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(output[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def generate_inputs(workload, seed, work):
    """Generate the inputs GENERATE_REPS times; every copy must be
    byte-identical to the first. Returns (inputs dir, manifest, times)."""
    times, first = [], None
    for rep in range(GENERATE_REPS):
        d = os.path.join(work, f"inputs{rep}")
        t0 = time.perf_counter()
        man = gen.generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        if first is None:
            first = (d, man)
        else:
            if gen.digest(d) != gen.digest(first[0]):
                raise SystemExit("perfbench: input generation is not deterministic")
            shutil.rmtree(d)
    return first[0], first[1], times


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this machine between
    two cpu_times() readings: a stall the program did not cause."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def run_jvm(cp, args, work, budget):
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        log(f"engine run exceeded {budget:.0f} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources not found; run from a checkout of the repository")
    cp = build()
    t_built = time.time()

    work = os.path.join(HERE, "target", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, manifest, gen_s = generate_inputs(a.workload, a.seed, work)
        result_file = os.path.join(work, "result.json")
        trace_dir = os.path.join(HERE, "target", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans_file = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        budget = DEADLINE_S - (time.time() - t_built)
        cpu0 = cpu_times()
        code = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs, "--work", work, "--result", result_file,
            "--spans", spans_file], work, budget)
        if not os.path.exists(result_file):
            raise SystemExit(f"perfbench: the engine run produced no result (exit {code})")
        if code != 0:
            log(f"engine JVM exited with {code} after writing its result")
        with open(result_file) as f:
            res = json.load(f)
        res["steal_share"] = steal_share(cpu0, cpu_times())
        failures = checks.run(a.workload, res, inputs, manifest)
        line = stats.summarize(res, failures, gen_s, trace=bool(a.trace))
        log(stats.describe(res, failures, gen_s))
        if a.trace:
            log(f"spans written to {os.path.relpath(spans_file, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps(line), flush=True)
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
