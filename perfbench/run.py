#!/usr/bin/env python3
"""The graft benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into `target/` directories and
caches the classpath and the generated sf0.1 inputs under
`.bench_build/`. Each run then starts one JVM with the harness, which
drives the workload as one closed-loop client inside `local[nproc]`.
The correctness checks run afterwards with DuckDB (`checks.py`).

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans, per-layer self times and tracing
overhead go to `.bench_build/traces/`. See README.md for every metric.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("warehouse_cycles", "adhoc_queries", "graph_loops")
HEAP = "2g"
RUN_TIMEOUT_S = 150
# JDK 17 module opens Spark needs outside spark-submit
OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.exists(p):
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -Dsbt.server.forcestart=false"
    return env


def wait_group(p, timeout_s):
    """Waits for a child started in its own process group, returning its
    exit code. On timeout, or when this process is interrupted or
    terminated, kills the whole group and reaps the child before
    leaving."""
    try:
        deadline = time.time() + timeout_s
        while True:
            pid, status = os.waitpid(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode
            if time.time() > deadline:
                raise SystemExit(f"perfbench: {p.args[0]} timed out")
            time.sleep(0.05)
    finally:
        if p.returncode is None:
            os.killpg(p.pid, signal.SIGKILL)
            os.waitpid(p.pid, 0)


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and harness with sbt")
    t0 = time.time()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as logf:
        code = wait_group(subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, stdout=logf,
            stderr=subprocess.STDOUT, start_new_session=True), 600)
    with open(log_path) as f:
        out = f.read()
    lines = [l for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[") and ":" in l), None)
    if code != 0 or not cp:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def data_dir():
    d = os.path.join(BUILD, f"data-v{gen_data.VERSION}")
    if not os.path.isdir(d):
        log("generating sf0.1 inputs")
        gen_data.generate(d)
    return d


def oracle_cache():
    return os.path.join(BUILD, "oracle-cache", f"v{gen_data.VERSION}")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, args, data, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--cores", str(cores()), "--out", out])
    with open(os.path.join(work, "harness.log"), "w") as logf:
        code = wait_group(subprocess.Popen(
            cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
            stdin=subprocess.DEVNULL, start_new_session=True), RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: harness failed")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    sample of rank n-10. Where that rank is not above the median (n < 22)
    the median stands in. Returns (value, rank label, n)."""
    s = sorted(xs)
    n = len(s)
    if n - 10 > (n + 1) / 2:
        return s[n - 11], f"p{100.0 * (n - 10) / n:.1f}", n
    return median(s), "p50", n


def end_to_end(res):
    """The end-to-end metrics of one untraced run. An operation is one
    step of the loop: a round (IoT cycle + corpus cycle) or a pass over
    the query basket. The info line adds the figures of each pipeline or
    query kind."""
    good = [o for o in res["ops"] if o["ok"]]
    steps = {}
    for o in good:
        steps[o["step"]] = steps.get(o["step"], 0.0) + o["wall_s"]
    walls = [steps[k] for k in sorted(steps)]
    info = {}
    kinds = ((("iot_cycle", "iot", "events_per_s", "events"),
              ("corpus_cycle", "corpus", "docs_per_s", "landing"))
             if res["workload"] == "warehouse_cycles" else
             (("query", "query", "queries_per_s", None),))
    for name, kind, rate, items in kinds:
        xs = [o for o in good if o["kind"] == kind]
        w = [o["wall_s"] for o in xs]
        tv, rank, n = tail(w)
        info[f"{name}_s_p50"] = median(w)
        info[f"{name}_s_tail"] = {"value": tv, "rank": rank, "samples": n}
        info[rate] = (sum(o[items] for o in xs) if items else len(xs)) / max(sum(w), 1e-9)
    metrics = {
        "setup_s": (median(res["setup_s"][1:]), "s"),
        "op_s_p50": (median(walls), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    return metrics, info


CALLSITE_FILES = ("Warehouse", "IotBatchPipeline", "CorpusPipeline", "Dedup",
                  "Graphs", "Pins", "Tables", "SparkEntry")


def per_layer(res):
    """The per-layer metrics of one traced run: per operation, then the
    median over the run's traced operations unless noted."""
    ops = [o for o in res["ops"] if o["ok"]]
    tr = [o for o in ops if o["traced"]]
    m = {}

    def med(key, xs=tr):
        return median([o.get(key, 0) for o in xs]) if xs else 0.0

    def layer(o, name):
        return o["layers"].get(name, 0.0)

    q = [o for o in tr if o["kind"] == "query"]
    m["SparkEntry.build_s"] = (median([layer(o, "SparkEntry.build") for o in q]), "s")
    m["SparkEntry.build_jobs"] = (median([o["layer_jobs"].get("SparkEntry.build", 0)
                                          for o in q]), "count")
    m["catalyst.plan_s"] = (median([layer(o, "catalyst.plan") for o in q]), "s")
    m["exec.run_s"] = (median([o["wall_s"] - layer(o, "SparkEntry.build")
                               - layer(o, "catalyst.plan") for o in tr]), "s")
    for k, unit in (("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
                    ("exec.job_busy_s", "s"), ("driver.gap_s", "s"), ("exec.task_cpu_s", "s"),
                    ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
                    ("exec.spill_bytes", "B"), ("exec.input_bytes", "B"),
                    ("exec.output_bytes", "B"), ("jvm.gc_s", "s"),
                    ("plans.exchanges", "count"), ("plans.sorts", "count"),
                    ("plans.smj", "count"), ("plans.bhj", "count"),
                    ("plans.topk_exec", "count"), ("plans.executions", "count"),
                    ("operators.Pins.pinned_peak_bytes", "B")):
        m[k] = (med(k), unit)
    busy = sum(o["exec.job_busy_s"] for o in tr)
    m["exec.core_util"] = (sum(o["exec.task_run_s"] for o in tr)
                           / max(busy * res["cores"], 1e-9), "ratio")
    m["operators.Pins.live_rdds_after"] = (
        max([o["operators.Pins.live_rdds_after"] for o in ops], default=0), "count")
    # callsites: per traced op, jobs and busy time by the engine file of
    # the first graft frame in the job's call site
    n_tr = max(len(tr), 1)
    agg = {}
    for o in tr:
        for f, v in o["callsite"].items():
            a = agg.setdefault(f, [0, 0.0])
            a[0] += v["jobs"]
            a[1] += v["job_busy_s"]
    named = set(CALLSITE_FILES) | {"bench"}
    for f in CALLSITE_FILES + ("bench",):
        a = agg.get(f, [0, 0.0])
        m[f"callsite.{f}.jobs"] = (a[0] / n_tr, "count")
        m[f"callsite.{f}.job_busy_s"] = (a[1] / n_tr, "s")
    other = [v for f, v in agg.items() if f not in named and f != "unattributed"]
    m["callsite.other.jobs"] = (sum(v[0] for v in other) / n_tr, "count")
    m["callsite.other.job_busy_s"] = (sum(v[1] for v in other) / n_tr, "s")
    m["callsite.coverage"] = (coverage(agg), "ratio")
    # pipelines
    iot = [o for o in ops if o["kind"] == "iot"]
    cor = [o for o in ops if o["kind"] == "corpus"]
    iot_tr = [o for o in iot if o["traced"]]
    m["pipelines.IotBatchPipeline.runCycles_s"] = (
        median([layer(o, "pipelines.IotBatchPipeline.runCycles") for o in iot_tr]), "s")
    m["sources.Warehouse.write_amp"] = (
        sum(o["exec.output_bytes"] for o in iot_tr)
        / max(sum(o["increment_bytes"] for o in iot_tr), 1), "ratio")
    m["sources.Warehouse.files_written"] = (med("sources.Warehouse.files_written", iot_tr), "count")
    walls = [o["wall_s"] for o in iot]
    third = max(len(walls) // 3, 1)
    m["pipelines.IotBatchPipeline.history_ratio"] = (
        median(walls[-third:]) / median(walls[:third]) if walls else 0.0, "ratio")
    m["pipelines.CorpusPipeline.runCycle_s"] = (
        median([layer(o, "pipelines.CorpusPipeline.runCycle") for o in cor if o["traced"]]), "s")
    m["pipelines.CorpusPipeline.accept_ratio"] = (
        sum(o["accepted"] for o in cor) / max(sum(o["landing"] for o in cor), 1), "ratio")
    for k in ("reject_quality", "reject_exact", "reject_near"):
        m[f"pipelines.CorpusPipeline.{k}"] = (sum(o[k] for o in cor), "count")
    m["trace.overhead_pct"] = (overhead(res)["pct"], "%")
    m["trace.sum_err_max"] = (sum_errors(tr)[0], "ratio")
    return m


def coverage(agg):
    """Share of the busy time of the jobs the engine started (all but the
    benchmark's own sink and generator jobs) that the call sites
    attribute to an engine file."""
    engine = sum(v[1] for f, v in agg.items() if f not in ("bench", "unattributed"))
    total = engine + agg.get("unattributed", [0, 0.0])[1]
    return engine / total if total > 0 else 1.0


def overhead(res):
    """Traced minus untraced wall time: a traced run repeats every step
    untraced, alternating which goes first."""
    ops = [o for o in res["ops"] if o["ok"]]
    t = sum(o["wall_s"] for o in ops if o["traced"])
    u = sum(o["wall_s"] for o in ops if not o["traced"])
    return {"traced_s": t, "untraced_s": u,
            "pct": 100.0 * (t - u) / u if u > 0 else 0.0}


def sum_errors(tr):
    """Per traced op: |job busy + driver gap - wall| / wall. The gap is
    the part of the op's window (listener clock) that no job of the op
    covered. Here busy counts every job the listener saw while the op
    was open, whatever its job group, each over its whole interval, and
    wall is the loop's own monotonic timing of the op. They disagree when
    a job runs outside its op, a job of another op or thread runs inside
    it, or the two clocks part."""
    errs = [abs(o["exec.job_busy_unclipped_s"] + o["driver.gap_s"] - o["wall_s"])
            / max(o["wall_s"], 1e-3) for o in tr]
    return max(errs, default=0.0), errs


def self_times(res):
    """Per span name: total time and self time (the part not covered by
    its child spans: an op's layer calls, a layer call's Spark jobs),
    summed over the traced ops."""
    out = {}
    for s in res["spans"]:
        if s["name"] == "job":
            continue
        t = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "spans": 0})
        t["total_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
        t["self_s"] += s["self_ms"] / 1e3
        t["spans"] += 1
    return out


# ---------------------------------------------------------------- main

T0 = time.time()


def main():
    # a terminated run still stops and reaps its children (see wait_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    data = data_dir()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_harness(cp, args, data, work)
        if res["workload"] == "warehouse_cycles":
            cks = checks.check_warehouse(res)
        else:
            cks = checks.check_queries(res, data, gen_data.digest(data), oracle_cache())
    finally:
        # the temp warehouse and query outputs go with the run
        shutil.rmtree(work, ignore_errors=True)

    log("phases " + json.dumps({k: round(v, 2) for k, v in res["phases"].items()})
        + f" setup {[round(x, 2) for x in res['setup_s']]} total {time.time() - T0:.1f} s")
    log("warm-up " + " ".join(f"{o['name']}={o['wall_s']:.2f}" for o in res["warmup_ops"]))
    log("ops " + " ".join(f"{o['name']}={o['wall_s']:.2f}" for o in res["ops"]))
    ops = res["ops"]
    failed_ops = [o for o in ops if not o["ok"]]
    bad_checks = [c for c in cks if not c["ok"]]
    wrong = set(c["name"] for c in bad_checks)
    # a query whose rows disagree with the oracle makes each of its
    # executions wrong; a failed warehouse check makes the whole run wrong
    if res["workload"] == "warehouse_cycles":
        wrong_ops = len(ops) if bad_checks else 0
    else:
        wrong_ops = sum(1 for o in ops if o["ok"] and o["name"] in wrong)
    attempted = max(len(ops), 1)
    failed = min(len(failed_ops) + wrong_ops, attempted)
    for o in failed_ops[:5]:
        log(f"op {o['name']} failed: {o['error']}")
    for c in bad_checks:
        log(f"check failed: {c['name']}: {c['detail']}")

    bad_trace = []
    if args.trace:
        m = per_layer(res)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace_path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "overhead": overhead(res), "self_time": self_times(res),
                       "sum_err": sum_errors([o for o in ops if o.get("traced") and o["ok"]])[1],
                       "ops": ops, "spans": res["spans"]}, f)
        log(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        # the tracer's own consistency: every op's jobs lie inside it, and
        # the call sites attribute the engine's jobs. A trace that fails
        # either is not to be trusted, so the run is not correct.
        if m["trace.sum_err_max"][0] > 0.05:
            bad_trace.append(f"job busy + driver gap is off the op wall by "
                             f"{m['trace.sum_err_max'][0]:.1%} for some op")
        if m["callsite.coverage"][0] < 0.9:
            bad_trace.append(f"call sites attribute only {m['callsite.coverage'][0]:.1%} "
                             f"of the engine's job busy time")
        for b in bad_trace:
            log(f"trace check failed: {b}")
    else:
        m, info = end_to_end(res)
        info["error_rate"] = failed / attempted
        print("info " + json.dumps(info), flush=True)
    print("checks " + json.dumps({c["name"]: c["ok"] for c in cks}), flush=True)
    print(json.dumps({
        "correct": not failed_ops and not bad_checks and not bad_trace,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}}),
        flush=True)


if __name__ == "__main__":
    main()
