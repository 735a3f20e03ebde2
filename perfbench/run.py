#!/usr/bin/env python3
"""The repo benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload etl_day --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the program and this harness
from source (sbt, offline; skipped when the sources are unchanged),
generates the workload's inputs from the seed, runs the workload in one
JVM on `local[<cores>]` (set-up, then exactly one timed pass; a pass
outlasts `--seconds`, which is accepted and not used), checks every
output, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones; the traced run also prints its spans
as one JSON line before the result. A line before the result records the
run conditions (1-minute load average at start and end, the share of CPU
time the hypervisor stole, cores, seed).
Everything it writes stays under `.bench_build/` and `.bench_work/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# the JVM must finish this long after set-up starts (the gate follows)
DEADLINE_S = 160

sys.path.insert(0, HERE)

# inputs per workload: scale factor of the star schema, corpus size,
# stream triggers and arrivals per trigger
SIZES = {"tpch22": dict(sf=0.005),
         "etl_day": dict(sf=0.005, blueforty=True, n_docs=400, triggers=3,
                         per_trigger=40)}


# op_tail_s: a run is one pass, so its operations are few (22 queries;
# 9 tables + 6 stream operations) and the tail is their p75
TAIL_PERCENTILE = 75


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load1m():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far; steal is time the
    hypervisor gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7] if len(t) > 7 else 0, sum(t)
    except OSError:
        return 0, 0


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def sources_digest():
    """Digest of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program's sources with the harness; return the
    runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's own scratch files (server socket, boot lock, JNA, perf
    # data) out of the home and /tmp directories
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # the launcher's own JVMs
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith(BUILD) and ".jar" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def start_jvm(cp, args, work, n_cores, setup_start):
    """Start the workload's JVM; it waits for the inputs' READY file."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--trace", str(args.trace),
            "--data", os.path.join(work, "data"), "--work", work,
            "--started-ms", str(int(setup_start * 1000)), "--cores", str(n_cores),
            "--triggers", str(SIZES[args.workload].get("triggers", 0))]
    out = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)


def stop(p):
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def wait_jvm(p, work, setup_start):
    try:
        code = p.wait(timeout=max(10, DEADLINE_S - (time.time() - setup_start)))
    except subprocess.TimeoutExpired:
        stop(p)
        code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"workload run failed ({code})", 1)
    with open(os.path.join(work, "jvm.json")) as f:
        return json.load(f)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def percentile(xs, q):
    """The q-th percentile, linear between closest ranks."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from a full checkout")
    if not os.path.exists(os.path.join(HERE, "build.sbt")):
        die("perfbench/build.sbt missing")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set: the build takes Spark's jars from there")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in SIZES:
        die(f"unknown workload {args.workload}")

    load_start, ticks_start = load1m(), cpu_ticks()
    n_cores = cores()
    cp = build()
    # set-up starts once the program is built: the session, the inputs,
    # the artifacts and the stream seeding
    setup_start = time.time()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    jvm_proc = start_jvm(cp, args, work, n_cores, setup_start)
    try:
        import gen
        import check
        data = os.path.join(work, "data")
        t = time.time()
        facts = gen.make_inputs(data, args.seed, **SIZES[args.workload])
        open(os.path.join(data, "READY"), "w").close()
        print(f"perfbench: inputs {time.time() - t:.2f} s", file=sys.stderr)
    except BaseException:
        stop(jvm_proc)
        raise
    # the bytes the workload reads: the star schema for tpch22; the
    # BlueForty files, the corpus and the arrivals for etl_day
    facts["input_bytes"] = (
        dir_bytes(os.path.join(data, "sf")) if args.workload == "tpch22"
        else dir_bytes(os.path.join(data, "blueforty"))
        + dir_bytes(os.path.join(data, "stream"))
        + os.path.getsize(os.path.join(data, "sf", "documents.parquet")))
    with open(os.path.join(work, "facts.json"), "w") as f:
        json.dump(facts, f)
    jvm = wait_jvm(jvm_proc, work, setup_start)
    t = time.time()
    problems, found = check.gate(args.workload, work, facts)
    print(f"perfbench: checks {time.time() - t:.2f} s", file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    # a wrong result (a failed check) counts against an attempted op
    ops = jvm["ops"]
    attempted = len(ops)
    failed = min(attempted, sum(not o["ok"] for o in ops) + len(problems))
    samples = [o["s"] for o in ops if o["ok"]]

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {n: 0.0 for n in names}
        values.update(jvm["layers"])
        values.update(found)
        with open(os.path.join(work, "spans.json")) as f:
            print(json.dumps({"spans": json.load(f)}, separators=(",", ":")))
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        data_bytes = facts["input_bytes"]
        values = {
            "setup_s": jvm["setup_s"],
            "wall_s": jvm["wall_s"],
            "op_p50_s": statistics.median(samples),
            "op_tail_s": percentile(samples, TAIL_PERCENTILE),
            "retained_heap_mb": jvm["heap_mb"],
            "space_amp": (data_bytes + jvm["left_bytes"]) / data_bytes,
        }
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    ticks = cpu_ticks()
    print(json.dumps({"conditions": {
        "workload": args.workload, "seed": args.seed, "cores": n_cores,
        "load_1m_start": load_start, "load_1m_end": load1m(),
        "cpu_steal_share": (ticks[0] - ticks_start[0])
        / max(1, ticks[1] - ticks_start[1]),
        "op_samples": len(samples), "op_tail_percentile": TAIL_PERCENTILE,
        "samples_beyond_tail": sum(
            1 for s in samples if s > percentile(samples, TAIL_PERCENTILE)),
        "checks_failed": problems}}))
    print(json.dumps({"correct": not problems and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
