#!/usr/bin/env python3
"""Per-operation timeline of benchmark traces (read-only).

    python3 tools/trace_timeline.py [--jobs] [TRACE.json ...]

Reads the traces `perfbench/run.py --trace 1` writes (default: every
`.bench_build/traces/*.json`) and prints, for each traced operation, its
wall time, Spark jobs, SQL executions, job busy time (union of the job
intervals), driver gap (wall minus busy) and the persistent RDDs still
alive when it returned.

With --jobs, each operation is followed by its job-by-job timeline:
start offset from the operation's start, the gap before the job (time
since the latest end of any earlier job, 0 while one still runs), its
duration, the engine file of its call site and its stage count. Jobs
that start while an earlier one is still running are marked `||`.
"""
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def timeline(trace, with_jobs):
    spans = trace["spans"]
    op_spans = {s["id"]: s for s in spans if s["name"] == "op"}
    jobs_of = {}
    for s in spans:
        if s["name"] == "job":
            op_id = s["parent"].rsplit("/", 1)[0]
            jobs_of.setdefault(op_id, []).append(s)
    print(f"== {trace['workload']} seed {trace['seed']}")
    print(f"{'op':<18} {'wall_s':>7} {'jobs':>5} {'execs':>5} "
          f"{'busy_s':>7} {'gap_s':>7} {'pins':>4}")
    for op in trace["ops"]:
        if not op.get("traced"):
            continue
        print(f"{op['name']:<18} {op['wall_s']:>7.3f} {op['exec.jobs']:>5} "
              f"{op['plans.executions']:>5} {op['exec.job_busy_s']:>7.3f} "
              f"{op['driver.gap_s']:>7.3f} "
              f"{op['operators.Pins.live_rdds_after']:>4}")
        if with_jobs:
            start = op_spans[op["id"]]["start_ms"]
            last_end = start
            for j in sorted(jobs_of.get(op["id"], []),
                            key=lambda j: (j["start_ms"], j["id"])):
                gap = max(0, j["start_ms"] - last_end)
                mark = "||" if j["start_ms"] < last_end else "  "
                print(f"  {mark} +{(j['start_ms'] - start) / 1e3:7.3f}s "
                      f"gap {gap / 1e3:6.3f}s  run "
                      f"{(j['end_ms'] - j['start_ms']) / 1e3:6.3f}s  "
                      f"{j['callsite'] or '-':<16} stages {j['stages']}")
                last_end = max(last_end, j["end_ms"])


def main(argv):
    with_jobs = "--jobs" in argv
    paths = [a for a in argv if a != "--jobs"] or sorted(
        glob.glob(os.path.join(ROOT, ".bench_build", "traces", "*.json")))
    if not paths:
        raise SystemExit("no trace: run perfbench/run.py with --trace 1 first")
    for p in paths:
        with open(p) as f:
            timeline(json.load(f), with_jobs)


if __name__ == "__main__":
    main(sys.argv[1:])
