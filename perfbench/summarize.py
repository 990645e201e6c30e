#!/usr/bin/env python3
"""Summarizes recorded runs as markdown tables.

Usage (from the repository root):

    python3 perfbench/summarize.py BASELINE_DIR

Reads BASELINE_DIR/{set1,set2}-<workload>.json (written by steady.py --out)
and BASELINE_DIR/trace-<workload>-<seed>.json (written by a traced run), and
prints, per workload: each end-to-end metric's median and quartile spread
in both sets, the second median against the first, and the bound; then the
traced run's per-layer metrics, its per-layer table, and the tracing
overhead (traced result_s and op_ms.p50 over the untraced medians), and
for write operations the share of wall time no Spark job covers.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def subtree(t, sid):
    kids = {}
    for s in t["spans"]:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [sid]
    while todo:
        i = todo.pop()
        out.add(i)
        todo += kids.get(i, [])
    return out


def jobs_under(t, span):
    ids = subtree(t, span["id"])
    return [j for j in t["jobs"] if j["span"] in ids]


def driver_gap(t, span):
    """Wall time of the span that no job launched inside it covers."""
    lo, hi = span["start_ms"], span["end_ms"]
    ivs = sorted((max(j["start_ms"], lo), min(j["end_ms"], hi)) for j in jobs_under(t, span))
    covered, end = 0.0, lo
    for a, b in ivs:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return (hi - lo) - covered


def write_ops(t):
    """Span ids of the write operations (the names perfbench times as writes)."""
    names = {"migrate.merge", "dml.upsert", "dml.delete", "dml.sql_update", "dml.sql_merge",
             "dml.optimize", "dml.vacuum"}
    return {s["id"] for s in t["spans"] if s["kind"] == "op" and s["name"] in names}


def main():
    base = sys.argv[1]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in [w["name"] for w in bench["workloads"]]:
        sets = []
        for s in ("set1", "set2"):
            with open(os.path.join(base, "%s-%s.json" % (s, w))) as fh:
                sets.append(json.load(fh)["runs"])
        print("### %s\n" % w)
        print("%d + %d untraced runs, seeds %s and %s.\n" % (
            len(sets[0]), len(sets[1]),
            "%d-%d" % (sets[0][0]["seed"], sets[0][-1]["seed"]),
            "%d-%d" % (sets[1][0]["seed"], sets[1][-1]["seed"])))
        print("| metric | unit | set 1 median | set 1 spread | set 2 median | set 2 spread "
              "| set 2 / set 1 | bound |")
        print("|---|---|---|---|---|---|---|---|")
        medians = {}
        for m in bench["end_to_end"]:
            n = m["name"]
            (m1, s1), (m2, s2) = [spread([r["metrics"][n]["value"] for r in runs])
                                  for runs in sets]
            medians[n] = m1
            print("| `%s` | %s | %.4g | %.3f | %.4g | %.3f | %.3f | %s |" % (
                n, m["unit"], m1, s1, m2, s2, m2 / m1, m["bound"]))
        walls = [r["wall_s"] for runs in sets for r in runs]
        print("\nWall time per run: median %.1f s, max %.1f s.\n" % (
            statistics.median(walls), max(walls)))
        for path in sorted(glob.glob(os.path.join(base, "trace-%s-*.json" % w))):
            with open(path) as fh:
                t = json.load(fh)
            print("Traced run (seed %s), per-layer metrics:\n" % t["seed"])
            print("| metric | unit | value |")
            print("|---|---|---|")
            for m in t["per_layer"]:
                print("| `%s` | %s | %.4g |" % (m["name"], m["unit"], m["value"]))
            print("\nPer-layer table (self time excludes child spans and the "
                  "span's own jobs; share is of all operations' wall time):\n")
            print("| kind | span | calls | total ms | self ms | jobs | self share |")
            print("|---|---|---|---|---|---|---|")
            for r in t["layer_table"]:
                print("| %s | `%s` | %d | %.1f | %.1f | %d | %.3f |" % (
                    r["kind"], r["name"], r["calls"], r["total_ms"], r["self_ms"],
                    r["jobs"], r["self_share"]))
            pl = {m["name"]: m["value"] for m in t["per_layer"]}
            run = subtree(t, next(s["id"] for s in t["spans"] if s["kind"] == "run"))
            writes = [s for s in t["spans"] if s["id"] in run and s["id"] in write_ops(t)]
            if writes:
                gaps = [driver_gap(t, s) for s in writes]
                walls = [s["end_ms"] - s["start_ms"] for s in writes]
                print("\nWrite operations: median wall %.1f ms, median driver gap %.1f ms "
                      "(wall time no Spark job covers), %.2f of the wall; mean jobs per "
                      "write %.1f.\n" % (statistics.median(walls), statistics.median(gaps),
                                          statistics.median(g / w for g, w in zip(gaps, walls)),
                                          statistics.mean(len(jobs_under(t, s)) for s in writes)))
            print("\nTracing overhead: traced `result_s` %.4g s is %.3f x the untraced "
                  "median; traced `op_ms.p50` %.4g ms is %.3f x.\n" % (
                      pl["trace.result_s"], pl["trace.result_s"] / medians["result_s"],
                      pl["trace.op_ms.p50"], pl["trace.op_ms.p50"] / medians["op_ms.p50"]))


if __name__ == "__main__":
    main()
