"""Where did the time go: a traced run's wall split by layer.

    python3 perfbench/report.py [trace.json ...] [--top N]

Reads the span files that ``run.py --trace 1`` writes (by default every
file in ``perfbench/.work/traces/``).  For each one it prints the
workload's wall split by layer, as self time (a span's duration minus
the part its child spans cover), the top-N ops in each layer, and one
line per op with its Spark job, stage and task counts.

Layers: ``op`` is driver time between the calls below; ``queries.build``
is the registry query function call (plan construction plus any eager
jobs), ``exec`` the action that runs the plan, ``mapreduce.*`` and
``wordcount.*`` the two word-count paths, ``spark.job`` time inside
Spark jobs and ``streaming.batch`` micro-batch time outside them.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def report(path: str, top: int) -> None:
    with open(path) as f:
        trace = json.load(f)
    spans = [s for s in trace["spans"] if s["end"] is not None]
    passes = sorted({s["tag"] for s in spans})
    split = stats.layer_split(spans)
    total = sum(split.values())
    print(f"== {trace['workload']} seed={trace['seed']} cpus={trace['cpus']} "
          f"traced passes={len(passes)} wall={total:.3f} s")
    print("-- wall by layer (self time)")
    for layer, secs in split.items():
        print(f"   {layer:18s} {secs:9.3f} s {100 * secs / total:6.1f}%")
    print(f"-- top {top} ops per layer")
    for layer, ops in stats.top_ops(spans, top).items():
        print(f"   {layer:18s} " + ", ".join(f"{op} {secs:.3f} s" for op, secs in ops))
    print("-- per op: wall over traced passes (median, n, tail when supported); "
          "counts summed")
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    walls: dict[str, list[float]] = defaultdict(list)
    for r in trace["records"]:
        walls[r["op"]].append(r["wall_s"])
        p = per[r["op"]]
        for k in ("build_jobs", "jobs", "stages", "tasks", "task_run_s"):
            p[k] += r[k]
        p["batches"] += len(r["triggers_ms"])
    print(f"   {'op':28s} {'wall':>24s} {'build_jobs':>10s} {'jobs':>5s} {'stages':>6s} "
          f"{'tasks':>6s} {'task_s':>7s} {'batches':>7s}")
    for op, p in sorted(per.items(), key=lambda kv: -sum(walls[kv[0]])):
        w = stats.timing_summary(walls[op])
        tail = "".join(f" {k}={v:.3f}" for k, v in w.items() if k.startswith("p"))
        wall = f"{w['median']:.3f} s n={w['n']}{tail}"
        print(f"   {op:28s} {wall:>24s} {p['build_jobs']:10.0f} {p['jobs']:5.0f} "
              f"{p['stages']:6.0f} {p['tasks']:6.0f} {p['task_run_s']:7.2f} {p['batches']:7.0f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="*")
    ap.add_argument("--top", type=int, default=3)
    args = ap.parse_args(argv)
    paths = args.traces or sorted(glob.glob(os.path.join(HERE, ".work", "traces", "*.json")))
    if not paths:
        print("no trace files; run perfbench/run.py --trace 1 first", file=sys.stderr)
        return 1
    for path in paths:
        report(path, args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
