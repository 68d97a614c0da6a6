#!/usr/bin/env python3
"""Benchmark of the configured top-N job and a checked query mix.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload topn|query_mix|all \
      --seed N --seconds S --trace 0|1

One run: build the program and the harness if the sources changed, generate
the seeded inputs, time set-up in separate JVMs, run the workload in a fresh
JVM (`harness/.../Main.scala`), check every output in DuckDB, and print

  - one line per workload with its metrics, its wall-clock figures, the
    host's 1-minute load average and CPU steal share, and the reason of every
    failed operation;
  - as the last line, {"correct", "attempted", "failed", "metrics"}: the
    end-to-end metrics with `--trace 0`, the per-layer metrics with
    `--trace 1`.

See README.md for what each workload and metric measures.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import check
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HARNESS = os.path.join(BENCH, "harness")
PROGRAM_SOURCES = [os.path.join(ROOT, "src", "main")]

WORKLOADS = ["topn", "query_mix"]
# query_mix: (module, key), evaluated in this order once per pass.
QUERY_KEYS = [
    ("operators.Windows", "q_window_frame"),
    ("functions.Scalars", "q_xpath"),
    ("llm.Curation", "q_repetition"),
]
# The operation that fails because of a known fault in the program: with
# `event_time_column` set, batch-mode JobRunner.run keeps the column among
# the ranked entity columns, so it ranks (product, ts) pairs.
KNOWN_FAULT_OP = "jobrunner.event_time_run"

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "cold_pass_cpu_s": "s",
              "query_geomean_cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = dict(
    [("engine.session_s", "s"), ("jobrunner.run_s", "s"), ("jobrunner.run_streaming_s", "s"),
     ("jobrunner.board_write_s", "s"), ("jobrunner.event_time_run_s", "s"),
     ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
     ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
     ("exec.peak_exec_mb", "MB"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.input_rows", "count"),
     ("streaming.batches", "count"), ("streaming.addBatch_ms", "ms"),
     ("streaming.queryPlanning_ms", "ms"), ("streaming.walCommit_ms", "ms"),
     ("streaming.commitOffsets_ms", "ms"), ("streaming.latestOffset_ms", "ms"),
     ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
     ("streaming.state_commit_ms", "ms"),
     ("io.read_mb", "MB"), ("io.write_mb", "MB")]
    + [(f"{module}.{key}_s", "s") for module, key in QUERY_KEYS])

SETUP_SAMPLES = 2          # set-up is timed in this many JVMs per run
MIN_PASSES = 3             # measured passes per run, at least
JVM_HEAP = "2g"
RUN_DEADLINE_S = 170       # a run must end within 180 s once built
BUILD_DEADLINE_S = 840
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, deadline, **kw):
    """Run `cmd` until it exits or `deadline` (monotonic) passes; never leave it running."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"timed out: {' '.join(cmd[:3])} ...")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    if proc.returncode != 0:
        raise RuntimeError(f"exit code {proc.returncode}: {' '.join(cmd[:3])} ...")
    return out


def source_stamp():
    files = [os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in PROGRAM_SOURCES + [os.path.join(HARNESS, "src")]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, f) for f in names]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(deadline):
    """Compile program + harness with sbt when their sources changed."""
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], deadline, cwd=HARNESS, env=env,
                    stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    cp = [l for l in out.splitlines() if l.strip()][-1].strip()
    if "classes" not in cp:
        raise RuntimeError(f"unexpected sbt classpath line: {cp[:200]}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(workload, seed):
    data = os.path.join(WORK, "data")
    if workload == "topn":
        gen.write_topn(os.path.join(data, "topn"), seed)
        gen.write_event_time(os.path.join(data, "topn_event_time"))
    else:
        gen.write_corpus(os.path.join(data, "corpus"), seed)
    return data


def jvm(cp, workload, seconds, trace, data, out, cores, deadline, setup_only=False):
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seconds", str(seconds),
              "--trace", str(trace), "--data", data, "--out", out, "--cores", str(cores),
              "--keys", ",".join(k for _, k in QUERY_KEYS),
              "--min-passes", str(MIN_PASSES), "--setup-only", "1" if setup_only else "0",
              "--spawned-at-ns", str(time.time_ns())])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    run_child(cmd, deadline, cwd=out, env=env, stdin=subprocess.DEVNULL,
              stdout=sys.stderr)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def check_outputs(workload, res, data, out):
    """Check every operation's output; returns {(op, pass): reason} of failures."""
    failures = {}
    for o in res["ops"]:
        if not o["ok"]:
            failures[(o["name"], o["pass"])] = o["error"] or "raised"
    if workload == "topn":
        con = check.duckdb.connect()
        want = {"topn_batch_job": check.expected_board(con, os.path.join(data, "topn")),
                KNOWN_FAULT_OP: check.expected_board(con, os.path.join(data, "topn_event_time"))}
        want["topn_stream_job"] = want["topn_batch_job"]
        board = {"topn_batch_job": "batch", "topn_stream_job": "stream", KNOWN_FAULT_OP: "event_time"}
        for o in res["ops"]:
            key = (o["name"], o["pass"])
            if key not in failures:
                bad = check.topn_board(
                    con, os.path.join(out, "boards", f"{board[o['name']]}_{o['pass']}"), want[o["name"]])
                if bad:
                    failures[key] = bad
    else:
        with open(os.path.join(out, "check", "oracle_sql.json")) as f:
            oracle = json.load(f)
        con = check.corpus_connection(os.path.join(data, "corpus"))
        for _, key in QUERY_KEYS:
            bad = (check.query_output(con, os.path.join(out, "check", key), oracle[key])
                   if key in oracle else "no oracle SQL")
            if bad:
                for o in res["ops"]:
                    if o["name"] == key:
                        failures.setdefault((key, o["pass"]), bad)
    return failures


def measured(res):
    """The passes after the cold pass."""
    return range(1, len(res["pass_wall_s"]))


def round_jobs(workload):
    """The operations of a round whose time counts: all but the known fault."""
    return ["topn_batch_job", "topn_stream_job"] if workload == "topn" else [k for _, k in QUERY_KEYS]


def timings(workload, res, setup):
    """End-to-end metrics, and the wall-clock figures of the workload line.

    The bounded metrics are CPU time, which moves less with the shared host's
    load than wall-clock time (see README.md). A job's CPU time is its least
    over the measured passes: the host's interference only adds time, and the
    least pass is the one it touched least.
    """
    jobs, passes = round_jobs(workload), measured(res)

    def job(field, j, ps):
        return [o[field] for o in res["ops"] if o["pass"] in ps and o["name"] == j]

    def geomean(xs):
        return math.exp(sum(map(math.log, xs)) / len(xs))

    least_cpu = [min(job("cpuSeconds", j, passes)) for j in jobs]
    pass_wall = [sum(x for j in jobs for x in job("seconds", j, [p])) for p in passes]
    if workload == "topn":
        # No trigger at all means the streaming job failed, which `correct` reports.
        unit_ms = statistics.median([t for p in passes for t in res["trigger_ms"][p]] or [0.0])
    else:
        unit_ms = 1000 * statistics.median(o["seconds"] for o in res["ops"] if o["pass"] in passes)
    metrics = {"setup_s": statistics.median(setup),
               "pass_cpu_s": sum(least_cpu),
               "cold_pass_cpu_s": sum(x for j in jobs for x in job("cpuSeconds", j, [0])),
               "query_geomean_cpu_s": geomean(least_cpu),
               "peak_rss_mb": res["peak_rss_mb"]}
    wall = {"wall_s": statistics.median(pass_wall),
            "cold_pass_s": sum(x for j in jobs for x in job("seconds", j, [0])),
            "query_geomean_s": geomean([statistics.median(job("seconds", j, passes)) for j in jobs]),
            "batch_p50_ms": unit_ms}
    return metrics, wall


def per_layer(res, trace):
    """Per-layer metrics: per-pass totals, median over the measured passes."""
    warm = measured(res)
    spans = {s["id"]: s for s in trace["spans"]}

    def pass_of(s):   # the pass of a span's nearest ancestor that carries one
        while s is not None and "pass" not in s:
            s = spans.get(s["parent"])
        return None if s is None else s["pass"]

    per_pass = {p: dict(res["layers"][p]) for p in warm}
    for s in spans.values():
        p = pass_of(s)
        if p in warm:
            name = f"{s['name']}_s"
            per_pass[p][name] = per_pass[p].get(name, 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    per_pass = per_pass.values()
    m = {name: statistics.median(pp.get(name, 0.0) for pp in per_pass) for name in PER_LAYER}
    m["engine.session_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans.values()
                                if s["name"] == "engine.session")
    for module, key in QUERY_KEYS:
        m[f"{module}.{key}_s"] = statistics.median(pp.get(f"{key}_s", 0.0) for pp in per_pass)
    return m


def run_workload(workload, seed, seconds, trace, cores, cp, deadline):
    phases, t = {}, time.monotonic()

    def phase(name):
        nonlocal t
        now = time.monotonic()
        phases[name] = round(now - t, 3)
        t = now

    for scratch in ("tmp", "spark-local"):   # left behind by earlier JVMs
        shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)
    data = inputs(workload, seed)
    phase("inputs_s")
    load1 = os.getloadavg()[0]
    cpu0 = cpu_times()
    setup = [jvm(cp, workload, seconds, trace, data, os.path.join(WORK, "out", f"setup{i}"),
                 cores, deadline, setup_only=True)["setup_s"] for i in range(SETUP_SAMPLES - 1)]
    phase("setup_jvms_s")
    out = os.path.join(WORK, "out", workload)
    res = jvm(cp, workload, seconds, trace, data, out, cores, deadline)
    setup.append(res["setup_s"])
    cpu1 = cpu_times()
    phase("main_jvm_s")
    failures = check_outputs(workload, res, data, out)
    phase("checks_s")
    e2e, wall = timings(workload, res, setup)
    metrics, units = e2e, END_TO_END
    if trace:
        with open(os.path.join(out, "trace.json")) as f:
            metrics, units = per_layer(res, json.load(f)), PER_LAYER
    summary = {
        "correct": all(op == KNOWN_FAULT_OP for op, _ in failures),
        "attempted": len(res["ops"]),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps({
        "workload": workload, "seed": seed, "trace": trace, "cores": cores,
        "passes": len(res["pass_wall_s"]), "measured_passes": len(measured(res)),
        "phases": phases, "loadavg_1m": load1,
        "steal_pct": 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
        "wall_clock": wall, **({"end_to_end": e2e} if trace else {}), **summary,
        "failures": sorted({f"{op}: {why}" for (op, _), why in failures.items()}),
    }), flush=True)
    return summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # A terminated run unwinds through run_child, which stops its child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"program sources not found under {ROOT}/src/main/scala/graft")
    os.makedirs(WORK, exist_ok=True)
    cp = classpath(start + BUILD_DEADLINE_S)
    cores = min(4, len(os.sched_getaffinity(0)))
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = []
    for w in workloads:
        results.append(run_workload(w, args.seed, args.seconds, args.trace, cores, cp,
                                    time.monotonic() + RUN_DEADLINE_S))
    if len(results) == 1:
        final = results[0]
    else:
        final = {"correct": all(r["correct"] for r in results),
                 "attempted": sum(r["attempted"] for r in results),
                 "failed": sum(r["failed"] for r in results),
                 "metrics": {f"{w}.{k}": v for w, r in zip(workloads, results)
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)


if __name__ == "__main__":
    main()
