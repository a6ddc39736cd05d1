#!/usr/bin/env python3
"""graft benchmark runner.

    python3 graftbench/run.py --workload live|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the harness from
source with sbt (once per source tree; later runs reuse the build), runs
one workload in a fresh JVM, checks its outputs, and prints the result as
the LAST line of standard output: one JSON object with `correct`,
`attempted`, `failed` and `metrics` (every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1).
Everything else goes to standard error. See graftbench/README.md.
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
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
RESULTS = os.path.join(WORK, "results")
WORKLOADS = ("live", "analytics")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 870
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building with sbt when sources changed."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    offline = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        offline = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + offline
    env.setdefault("SBT_OPTS", offline)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export graftbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def tmp_entries():
    tmp = tempfile.gettempdir()
    try:
        return set(os.listdir(tmp))
    except OSError:
        return set()


def code_stamp():
    """Stamp of the measured code: the build's sources plus this runner,
    whose JVM flags shape every figure."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(source_stamp().encode() + f.read()).hexdigest()


def run_jvm(cp, args, trace, work):
    out = os.path.join(work, "result.json")
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] + [
        # a fixed heap size: when G1 grows the heap on its own schedule, key
        # times move by a quarter between runs. Pages are not pre-touched,
        # so peak RSS still shows what the run touched.
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
        # compile hot methods sooner: with the default thresholds the
        # per-batch and per-key paths keep speeding up for a minute, so a
        # window would measure how far the JIT has got, not the program
        "-XX:Tier3InvocationThreshold=50", "-XX:Tier3CompileThreshold=200",
        "-XX:Tier4InvocationThreshold=300", "-XX:Tier4CompileThreshold=500",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(trace), "--cores", str(args.cores), "--work", work, "--out", out]
    if args.pin:
        cmd += ["--pin", os.path.abspath(args.pin)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{args.workload} run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:  # timed out or interrupted: never leave the JVM behind
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"{args.workload} run failed (jvm exit {code})")
    with open(out) as f:
        result = json.load(f)
    if os.path.exists(out + ".spans.jsonl"):  # keep a traced run's spans
        os.makedirs(RESULTS, exist_ok=True)
        shutil.move(out + ".spans.jsonl",
                    os.path.join(RESULTS, f"{args.workload}-{args.seed}.spans.jsonl"))
    leaked = sorted(os.listdir(tmpdir))
    return result, leaked


def run_workload(cp, args, trace):
    """One run in a fresh work directory, removed afterwards; returns the
    JVM's result and the entries program code left in its private temp dir."""
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=WORK)
    try:
        t0 = time.time()
        result, leaked = run_jvm(cp, args, trace, work)
        log(f"{args.workload} seed {args.seed}: jvm finished in {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the JVM's temp dir is private to the run, so whatever is left in it
    # was left by program code: a defect, reported, never hidden
    if leaked:
        log(f"DEFECT: {len(leaked)} temp entries left behind: {leaked[:10]}")
    return result, leaked


def end_to_end(result, e2e_units):
    missing = sorted(set(e2e_units) - set(result["metrics"]))
    if missing:
        raise SystemExit(f"run did not measure {missing}")
    return {k: result["metrics"][k] for k in e2e_units}


def save_untraced(args, stamp, metrics):
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"stamp": stamp, "cores": args.cores, "metrics": metrics}, f)


def untraced_runs(args, stamp):
    """End-to-end metrics of the untraced runs of this workload kept in this
    checkout that measured the same code on as many cores (any seed)."""
    found = []
    for name in sorted(os.listdir(RESULTS)) if os.path.isdir(RESULTS) else []:
        if name.startswith(f"{args.workload}-") and name.endswith(".json"):
            try:
                with open(os.path.join(RESULTS, name)) as f:
                    kept = json.load(f)
            except (OSError, ValueError):
                continue
            if isinstance(kept, dict) and kept.get("stamp") == stamp and kept.get("cores") == args.cores:
                found.append(kept["metrics"])
    return found


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", help="analytics: write the panel's result digests to this file")
    ap.add_argument("--cores", type=int, default=4, help="Spark local cores (4; 1 for the baseline)")
    args = ap.parse_args(argv)
    # a terminated runner still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("the program's sources are not here: run from a checkout of the repository")
    e2e_units, layer_units = declared_metrics()
    cp = build()
    stamp = code_stamp()

    before = tmp_entries()
    # tracing overhead compares against untraced runs of the same code; when
    # this checkout holds none, one untraced run of this seed goes first
    baselines = untraced_runs(args, stamp) if args.trace else []
    if args.trace and not baselines:
        log("no untraced run of this code here: running one first, for the tracing overhead")
        base_result, _ = run_workload(cp, args, 0)
        baselines = [end_to_end(base_result, e2e_units)]
        save_untraced(args, stamp, baselines[0])
    result, leaked = run_workload(cp, args, args.trace)
    # the system temp dir is shared, so new entries there are only listed:
    # another process may have made them
    new_tmp = sorted(tmp_entries() - before)
    if new_tmp:
        log(f"new entries in {tempfile.gettempdir()} during the run (any process): {new_tmp[:10]}")

    metrics = result["metrics"]
    if args.trace == 0:
        metrics = end_to_end(result, e2e_units)
        save_untraced(args, stamp, metrics)
    else:
        metrics["operators.tmp_leaked"] = {"value": len(leaked), "unit": "count"}
        # tracing overhead: the slowdown of the traced end-to-end figure
        # against the median of the same code's untraced runs (0.1 = 10 %
        # slower; below 0 when the traced run happened to be faster)
        for k, slower in (("throughput_per_s", lambda t, u: u / t), ("latency_p50_ms", lambda t, u: t / u)):
            untraced = statistics.median(b[k]["value"] for b in baselines)
            metrics[f"tracing.overhead_{k}"] = {
                "value": slower(metrics[f"traced.{k}"]["value"], untraced) - 1.0, "unit": "ratio"}
        # every per-layer metric, on every workload: a layer this workload
        # does not exercise reads 0
        metrics = {k: metrics.get(k, {"value": 0.0, "unit": u}) for k, u in layer_units.items()}
    line = {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
