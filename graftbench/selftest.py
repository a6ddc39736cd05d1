#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 graftbench/selftest.py

Runs the harness's Scala self-tests (due-time latency, the percentile rule,
generator determinism, the offset to block mapping), then checks that the
last line of a captured run parses as the result object the benchmark
promises.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402

CAPTURED = os.path.join(BENCH, "testdata", "captured_run.txt")
SBT_TAIL = os.path.join(BENCH, "testdata", "sbt_runmain_tail.txt")


def last_line_result(text, e2e_names):
    """The result object on the last line of `text`; raises ValueError if
    the line is not bare JSON of the promised shape."""
    line = text.rstrip("\n").splitlines()[-1]
    obj = json.loads(line)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool) or not isinstance(obj["attempted"], int) \
            or not isinstance(obj["failed"], int) or obj["attempted"] < 1:
        raise ValueError("correct/attempted/failed types")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name}: {m}")
    missing = set(e2e_names) - set(obj["metrics"])
    if missing:
        raise ValueError(f"missing metrics {sorted(missing)}")
    return obj


def main():
    failed = 0
    cp = run.build()
    proc = subprocess.run(
        ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in run.JVM_OPENS] +
        ["-XX:-UsePerfData", "-cp", cp, "graftbench.SelfTest"], cwd=run.ROOT)
    failed += proc.returncode != 0

    e2e_units, _ = run.declared_metrics()
    try:
        with open(CAPTURED) as f:
            obj = last_line_result(f.read(), e2e_units)
        print(f"ok   last line of a captured run parses ({len(obj['metrics'])} metrics)")
    except (ValueError, KeyError) as e:
        print(f"FAIL last line of a captured run: {e}")
        failed += 1
    # an sbt runMain tail ends in sbt's trailer, behind its log prefix: the
    # shape that left every earlier sweep summary unparsed
    try:
        with open(SBT_TAIL) as f:
            last_line_result(f.read(), e2e_units)
        print("FAIL an sbt runMain tail must not parse")
        failed += 1
    except ValueError:
        print("ok   an sbt runMain tail does not parse")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
