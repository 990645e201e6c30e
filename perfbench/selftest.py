#!/usr/bin/env python3
"""The benchmark's self-tests.

Usage (from the repository root): python3 perfbench/selftest.py

Checks BENCHMARK.json's names and that the per-layer list matches what the
traced run reports, then builds (as run.py does) and runs the Scala checks
in perfbench.SelfTest: seeded inputs repeat per seed and differ across
seeds, every routing decision occurs with its closed-form count, and span
self time is wall time minus what the children cover.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def check_manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    metrics = b["end_to_end"] + b["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in b["workloads"]]
    bad = [n for n in names if not NAME.match(n)]
    assert not bad, "names with characters outside letters, digits, _ . -: %s" % bad
    assert len(set(names)) == len(names), "a name is used twice"
    assert all(UNIT.match(m["unit"]) for m in metrics), "malformed unit"
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in b["end_to_end"]), "setup_s missing"
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]), "bound out of range"
    with open(os.path.join(HERE, "src/main/scala/perfbench/TraceReport.scala")) as fh:
        src = fh.read()
    listed = [m["name"] for m in b["per_layer"]]
    fixed = re.findall(r'"([a-z][A-Za-z0-9_.]+)" -> "[a-z]+"', src)
    queries = re.search(r"val Queries: Seq\[String\] = Seq\(([^)]*)\)", open(
        os.path.join(HERE, "src/main/scala/perfbench/CurateProbe.scala")).read()).group(1)
    per_query = [m for q in re.findall(r'"([^"]+)"', queries)
                 for m in ("queries.%s_s" % q, "queries.%s.jobs" % q)]
    assert set(listed) == set(fixed) | set(per_query), \
        "per_layer differs from TraceReport.Names: %s" % (set(listed) ^ (set(fixed) | set(per_query)))
    print("selftest ok: BENCHMARK.json names (%d metrics)" % len(metrics))


def main():
    check_manifest()
    run.build()
    with open(run.LAUNCH) as fh:
        jvm = [l for l in fh.read().splitlines() if l]
    proc = subprocess.run(["java"] + jvm + ["perfbench.SelfTest"], cwd=ROOT,
                          stderr=subprocess.DEVNULL)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
