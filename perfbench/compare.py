#!/usr/bin/env python3
"""Paired parent/change comparison of benchmark runs.

Record runs, alternating which side goes first in each pair:

    python3 perfbench/compare.py record PARENT_CHECKOUT CHANGE_CHECKOUT OUT_DIR \\
        [--pairs 10] [--trace 0|1] [--first-seed 1]

writes OUT_DIR/parent.jsonl and OUT_DIR/change.jsonl, one line per run:
{"workload", "seed", "trace", "result": <run.py's last line>}. Compare
them (or any two such files):

    python3 perfbench/compare.py report PARENT.jsonl CHANGE.jsonl

For each workload, one row per metric: each side's median and quartiles,
the change's share of pair wins (ties count for neither) and a verdict.
A metric whose parent spread (quartile distance over median) exceeds its
bound in BENCHMARK.json is "unresolved" unless every change run beats
every parent run; otherwise "worse" when the change's median is worse
by more than the bound, "better" when the change wins at least 9 of 10
pairs and the medians differ by more than the parent's quartile
distance, else "same". Per-layer metrics carry no bound and get no
verdict.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return b, {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def record(parent, change, out, pairs=10, trace=0, first_seed=1):
    bench, _ = load_bench()
    names = [w["name"] for w in bench["workloads"]]
    os.makedirs(out, exist_ok=True)
    files = {side: open(os.path.join(out, f"{side}.jsonl"), "a")
             for side in ("parent", "change")}
    for i in range(pairs):
        seed = first_seed + i
        for w in names:
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                root = parent if side == "parent" else change
                p = subprocess.run(
                    bench["command"] + ["--workload", w, "--seed", str(seed),
                                        "--seconds", str(bench["run_seconds"]),
                                        "--trace", str(trace)],
                    cwd=root, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    sys.stderr.write(p.stderr[-2000:])
                    raise SystemExit(f"{side} run failed: {w} seed {seed}")
                files[side].write(json.dumps({"workload": w, "seed": seed, "trace": trace,
                                              "result": json.loads(lines[-1])}) + "\n")
                files[side].flush()
                print(f"pair {i + 1}/{pairs} {w} {side} done", file=sys.stderr)
    for f in files.values():
        f.close()


def read(path):
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            runs.setdefault(r["workload"], {})[r["seed"]] = r["result"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(parent_path, change_path):
    _, meta = load_bench()
    par, chg = read(parent_path), read(change_path)
    for w in sorted(set(par) & set(chg)):
        seeds = sorted(set(par[w]) & set(chg[w]))
        names = sorted(set(par[w][seeds[0]]["metrics"]) if seeds else ())
        correct = all(par[w][s]["correct"] and chg[w][s]["correct"] for s in seeds)
        print(f"\n== {w}: {len(seeds)} pairs, all correct: {correct}")
        print(f"{'metric':44} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
              f"{'delta':>8} {'wins':>5}  verdict")
        for m in names:
            p = [par[w][s]["metrics"][m]["value"] for s in seeds]
            c = [chg[w][s]["metrics"][m]["value"] for s in seeds]
            info = meta.get(m, {})
            lower = info.get("better", "lower") == "lower"
            pq, cq = quartiles(p), quartiles(c)
            wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
            delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            verdict = ""
            if "bound" in info:
                bound = info["bound"]
                spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
                worse = delta > bound if lower else delta < -bound
                all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
                if spread > bound and not all_better:
                    verdict = f"unresolved (spread {spread:.0%} > bound {bound:.0%})"
                elif worse:
                    verdict = f"worse (> bound {bound:.0%})"
                elif wins >= 0.9 * len(seeds) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                    verdict = "better"
                else:
                    verdict = "same (within bound)"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{m:44} {fmt(pq):>28} {fmt(cq):>28} {delta:>+8.1%} "
                  f"{wins:>2}/{len(seeds):<2}  {verdict}")


def main(argv):
    if len(argv) >= 3 and argv[0] == "report":
        report(argv[1], argv[2])
    elif len(argv) >= 4 and argv[0] == "record":
        opts = dict(zip(argv[4::2], argv[5::2]))
        record(os.path.abspath(argv[1]), os.path.abspath(argv[2]), os.path.abspath(argv[3]),
               pairs=int(opts.get("--pairs", 10)),
               trace=int(opts.get("--trace", 0)), first_seed=int(opts.get("--first-seed", 1)))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
