#!/usr/bin/env python3
"""Benchmark for the invoice pipelines and their batch queries.

    python3 perfbench/run.py --workload request_ingest --seed 1 --seconds 6 --trace 0

Run from the repository root. It compiles the program together with the
benchmark JVM code (cached under .bench_build/), generates the inputs
from the seed, runs one workload in a fresh JVM, checks the outputs and
prints the result as one JSON object on the last stdout line. With
`--trace 1` the metrics are the per-layer ones, and spans, counts and
tracing overhead go to .bench_build/traces/<workload>-seed<seed>.json.
The overhead needs an untraced run of the same build and seed first.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("request_ingest", "response_batching", "batch_queries")
# Limit for the benchmark JVM; the one-off preparation of a checkout
# (compile, class archive, tables) is not counted against it.
DEADLINE_S = 150
# Every end-to-end metric, in the order printed: (name, unit).
END_TO_END = (
    ("setup_s", "s"),
    ("live_heap_mb", "MB"),
    ("p50_ms", "ms"),
    ("p99_ms", "ms"),
    ("work_s", "s"),
)
# Units of the workload-specific names on the line before the result.
NAMED_UNITS = {"setup_s": "s", "cold_setup_s": "s", "live_heap_mb": "MB",
               "failed_frac": "ratio",
               "ingest_p50_ms": "ms", "ingest_p99_ms": "ms",
               "ingest_drain_rows_per_s": "rows/s", "packet_p50_ms": "ms",
               "packet_p99_ms": "ms", "response_drain_recs_per_s": "records/s",
               "lifecycle_s": "s", "reads_s": "s", "latency_samples": "count",
               "tail_percentile": "percentile"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(jar, workload, seed, seconds, trace, data, run_dir, left_s):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    raw = os.path.join(run_dir, "raw.json")
    cmd = build.java(jar, run_dir) + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--out", raw]
    if data:
        cmd += ["--data", data, "--reads", ",".join(layers.READS),
                "--lifecycle", ",".join(layers.LIFECYCLE)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=left_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} did not finish in time; see {log}")
    if rc != 0 or not os.path.exists(raw):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {rc}:\n{tail}")
    with open(raw) as f:
        return json.load(f)


def end_to_end(raw, batch_bad=None):
    """(metrics, named, attempted, failed) from one run's raw record."""
    w = raw["workload"]
    named = {"setup_s": stats.median(raw["setup_s"]),
             "cold_setup_s": raw["cold_setup_s"],
             "live_heap_mb": raw["live_heap_mb"]}
    if w == "request_ingest":
        windows = stats.batch_windows(raw["progress"])
        lat, lost = stats.scheduled_latencies(raw["ticks"], windows)
        drain_s = layers.drain_seconds(raw["drain"], windows)
        summary = stats.latency_summary(lat)
        named.update(ingest_p50_ms=summary["p50"], ingest_p99_ms=summary["tail"],
                     ingest_drain_rows_per_s=raw["drain"]["rows"] / drain_s)
        attempted = raw["check"]["attempted"]
        failed = raw["check"]["failed"] + lost
        work = drain_s
    elif w == "response_batching":
        windows = stats.batch_windows(raw["progress"])
        summary = stats.latency_summary(raw["latencies_ms"])
        drain_s = layers.drain_seconds(raw["drain"], windows)
        named.update(packet_p50_ms=summary["p50"], packet_p99_ms=summary["tail"],
                     response_drain_recs_per_s=raw["drain"]["rows"] / drain_s)
        attempted = raw["check"]["attempted"]
        failed = raw["check"]["failed"]
        work = drain_s
    else:
        calls = layers.query_calls(raw)
        per_query = {q: stats.median(v) for q, v in calls.items()}
        reads = sum(per_query.get(q, 0.0) for q in layers.READS) / 1000
        life = sum(per_query.get(q, 0.0) for q in layers.LIFECYCLE) / 1000
        all_calls = [d for v in calls.values() for d in v]
        summary = {"p50": stats.median(all_calls),
                   "tail": stats.percentile(all_calls, 99), "tail_pct": 99.0,
                   "n": len(all_calls)}
        named.update(lifecycle_s=life, reads_s=reads)
        queries = layers.READS + layers.LIFECYCLE
        broken = set(raw["errors"]) | set(batch_bad or {})
        attempted, failed = len(queries), len(broken & set(queries))
        work = reads + life
    named["failed_frac"] = failed / attempted
    metrics = {"setup_s": named["setup_s"], "live_heap_mb": named["live_heap_mb"],
               "p50_ms": summary["p50"], "p99_ms": summary["tail"], "work_s": work}
    named["latency_samples"] = summary["n"]
    named["tail_percentile"] = summary["tail_pct"]
    return metrics, named, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, build.PROGRAM_MARKER)):
        fail(f"run from the repository root: {build.PROGRAM_MARKER} not found")
    work = os.path.join(root, ".bench_build")
    # one-off per checkout: compile, batch tables
    jar = build.compile_all(root, work)
    data = None
    if args.workload == "batch_queries":
        data = tables.generate(os.path.join(work, "data", "v" + tables.VERSION))

    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw = run_jvm(jar, args.workload, args.seed, args.seconds,
                      args.trace, data, run_dir, DEADLINE_S)
        bad = None
        if args.workload == "batch_queries":
            bad = oracle.check(data, os.path.join(run_dir, "results"),
                               os.path.join(work, "oracle"), tables.VERSION,
                               raw["oracle_sql"], layers.READS + layers.LIFECYCLE)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics, named, attempted, failed = end_to_end(raw, bad)
    if failed:
        problems = {"check": raw.get("check"), "mismatch": bad, "errors": raw.get("errors")}
        print("problems: " + json.dumps(problems)[:2000], file=sys.stderr)

    # the untraced record of this build, workload and seed
    last = os.path.join(work, "last",
                        f"{build.build_id(jar)}-{args.workload}-seed{args.seed}.json")
    if args.trace:
        per_layer, trace = layers.per_layer(raw)
        # tracing overhead: this run minus the untraced run of the same
        # build and seed; none without one, since another build or
        # seed would compare different work
        untraced = None
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
        trace["end_to_end"] = {"traced": metrics, "untraced": untraced, "named": named}
        trace["overhead"] = None if untraced is None else {
            m: v - untraced[m] for m, v in metrics.items()}
        if untraced is None:
            print("no untraced run of this build and seed: tracing overhead not reported",
                  file=sys.stderr)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(trace, f)
        print(f"trace written to {os.path.relpath(path, root)}")
        out = {n: {"value": per_layer.get(n, 0), "unit": u}
               for n, u, _ in layers.PER_LAYER}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(metrics, f)
        out = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "named": {k: {"value": v, "unit": NAMED_UNITS[k]}
                                for k, v in named.items()}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
