#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload pricenow_etl --seed 1 --seconds 15 --trace 0

Builds the engine and the harness with sbt when their sources changed
(the first run in a checkout), starts the benchmark JVM, checks its
outputs and prints one JSON result line: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1.
The full record of the run is kept under perfbench/.work/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("pricenow_etl", "operator_mix")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 160
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_hash():
    """Hash of every input of the build: the engine's and the harness's
    sources and build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx3g")
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Returns the runtime classpath, building first if sources changed."""
    stamp = os.path.join(WORK, "build.json")
    digest = sources_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["sources"] == digest:
            return b["classpath"]
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
                         stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}); see {log}", 3)
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": classpath}, f)
    return classpath


def cpu_ticks():
    """The aggregate cpu line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "PricenowPipeline.scala")):
        die(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json missing at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)

    classpath = build()

    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "record.json")
    jvm = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/derby",
        f"-Dderby.stream.error.file={run_dir}/derby.log", "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", run_dir, "--out", out,
        "--t0-ms", str(int(time.time() * 1000))]
    log = os.path.join(run_dir, "jvm.log")
    jvm_t0 = time.time()
    stat0 = cpu_ticks()
    try:
        with open(log, "w") as lf:
            rc = run_bounded(jvm, RUN_TIMEOUT_S, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die(f"benchmark JVM timed out; see {log}", 4)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM failed (exit {rc}); see {log}", 5)
    with open(out) as f:
        rec = json.load(f)

    rec["jvm_s"] = time.time() - jvm_t0
    stat1 = cpu_ticks()
    # share of the box's CPU time the hypervisor gave to other guests
    rec["steal_pct"] = 100.0 * (stat1[7] - stat0[7]) / max(1, sum(stat1) - sum(stat0))
    failed = rec["failed"]
    if args.workload == "operator_mix":
        import mixcheck
        check_t0 = time.time()
        bad = mixcheck.check(os.path.join(run_dir, "mix", "rep0"), rec["facts"]["checks"])
        rec["oracle_check_s"] = time.time() - check_t0
        rec["oracle_failures"] = bad
        for b in bad:
            print(f"perfbench: oracle mismatch {b}", file=sys.stderr)
        failed += len(bad)
        rec["failed"] = failed

    section = "per_layer" if args.trace else "end_to_end"
    values = rec[section]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[section]}
    if args.trace:
        rec["trace_overhead"] = trace_overhead(args.workload, rec)
    save_record(args, rec)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and rec["attempted"] >= 1,
                      "attempted": rec["attempted"], "failed": failed, "metrics": metrics}))


def trace_overhead(workload, rec):
    """Traced minus untraced end-to-end values, against the newest untraced
    record of the same workload in this checkout, if any."""
    base = sorted(glob.glob(os.path.join(WORK, "records", f"{workload}-*-trace0.json")),
                  key=os.path.getmtime)
    if not base:
        return None
    with open(base[-1]) as f:
        ref = json.load(f)
    return {"against_seed": ref["seed"],
            **{k: v - ref["end_to_end"].get(k, 0.0) for k, v in rec["end_to_end"].items()}}


def save_record(args, rec):
    d = os.path.join(WORK, "records")
    os.makedirs(d, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-{int(time.time() * 1000)}-trace{args.trace}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(rec, f, indent=1)


if __name__ == "__main__":
    sys.path.insert(0, BENCH)
    main()
