"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 benchmark/run.py --workload offline_batch --seed 1 --seconds 14 --trace 0

Runs from the root of a checkout of the engine.  Set-up starts a Spark
session on ``local[<cpus>]``, generates the workload's inputs from the
seed (three times, keeping the median time) and builds its static state.
The workload then runs for ``--seconds``, its outputs are checked, and
the last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` first runs
the same arguments untraced in a child process, then runs traced (spans
around each engine call, jobs tagged per span, the event log and the
Python UDF profiler on) and reports the per-layer metrics, including the
tracing overhead: traced minus untraced median latency.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import subprocess
import sys
import time
import traceback

from harness import (
    ROOT,
    Clock,
    PythonMemSampler,
    RunDirs,
    adopt_orphans,
    event_log_path,
    jvm_mem_mb,
    median,
    python_udf_seconds,
    spark_env,
    start_python_workers,
    start_session,
    stop_processes,
)

PREPARE_REPS = 3
WORKLOADS = {
    "offline_batch": "OfflineBatch",
    "stream_recs": "StreamRecs",
    "query_mix": "QueryMix",
}
SPAN_METRICS = {
    "io.load_s": "io.load",
    "operators.stats_s": "operators.stats",
    "ml.als_fit_s": "ml.als_fit",
    "ml.user_recs_s": "ml.user_recs",
    "ml.item_sims_s": "ml.item_sims",
    "ml.tuner_s": "ml.tuner",
    "streaming.cycle_build_s": "streaming.cycle_build",
    "plans.build_s": "plans.build",
    "plans.exec_s": "plans.exec",
}
LAYERS = ("bench", "io", "operators", "ml", "plans", "streaming")
STREAM_ZERO = (
    "streaming.upsert_p50_s",
    "streaming.upsert_p90_s",
    "streaming.upsert_growth",
    "sstream.trigger_s",
    "sstream.add_batch_s",
    "sstream.wal_s",
    "sstream.offset_s",
    "sstream.planning_s",
    "sstream.batch_rows",
    "sstream.backlog_files_end",
    "sstream.teardown_errors",
    "gen.late_s",
)
UNITS = {"_s": "s", "_mb": "MB", "_bytes": "bytes", "bytes_written": "bytes"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("growth") else "count"


def workload_class(name: str):
    return getattr(importlib.import_module(name), WORKLOADS[name])


def layer_metrics(wl, spans: list, fold: dict, udf_s: float) -> dict[str, float]:
    """Per-request per-layer figures: a request is a pass, or on
    ``stream_recs`` a micro-batch that committed measured events.  Layers
    a workload never enters read 0."""
    import eventlog
    from tracing import GROUP_PREFIX, layer_of, self_times

    stream = hasattr(wl, "measured_batches")
    if stream:
        measured = {str(b) for b in wl.measured_batches}
        spans = [s for s in spans if s.req in measured]
        keys = [f"batch:{b}" for b in measured if f"batch:{b}" in fold]
        n_req = max(1, len(measured))
    else:
        keys = [k for k in fold if k.startswith(f"group:{GROUP_PREFIX}")]
        n_req = max(1, len({s.req for s in spans if s.parent is None}))
    out: dict[str, float] = {}
    for metric, name in SPAN_METRICS.items():
        out[metric] = sum(s.dur for s in spans if s.name == name) / n_req
    build_ids = {f"group:{GROUP_PREFIX}{s.id}" for s in spans if s.name == "plans.build"}
    out["plans.build_jobs"] = sum(fold[k]["jobs"] for k in build_ids if k in fold) / n_req
    total: dict[str, float] = {}
    for k in keys:
        eventlog.add(total, fold[k])
    out["io.bytes_written"] = total.get("bytes_written", 0) / n_req
    for c in eventlog.COUNTERS:
        if c != "bytes_written":
            out[f"spark.{c}"] = total.get(c, 0) / n_req
    out["spark.python_udf_s"] = udf_s / n_req
    selfs = self_times(spans)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = (
            sum(selfs[s.id] for s in spans if layer_of(s.name) == layer) / n_req
        )
    out.update(dict.fromkeys(STREAM_ZERO, 0.0))
    if stream:
        out.update(wl.layer_metrics(spans))
    return out


def untraced_p50(args) -> float:
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT, timeout=170)
    if res.returncode != 0:
        raise RuntimeError(f"untraced run exited {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]["latency_p50_s"]["value"]


def run(args) -> dict:
    traced = bool(args.trace)
    base_p50 = untraced_p50(args) if traced else None
    dirs = RunDirs(args.workload)
    try:
        spark_env(dirs)
        t0 = time.perf_counter()
        spark = start_session(dirs, traced)
        start_python_workers(spark)
        session_s = time.perf_counter() - t0
        wl = workload_class(args.workload)(spark, dirs, args.seed)
        prep = []
        for _ in range(PREPARE_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.build_state()
        state_s = time.perf_counter() - t0
        setup_s = session_s + median(prep) + state_s

        tracer = None
        if traced:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            wl.instrument(tracer)
            python_udf_seconds(spark, dirs)
        try:
            with PythonMemSampler(getattr(wl, "exclude_pids", set())) as mem:
                lat = wl.run(Clock(args.seconds), tracer)
        finally:
            if tracer is not None:
                tracer.unwrap()
        t0 = time.perf_counter()
        heap_mb, non_heap_mb = (0.0, 0.0) if traced else jvm_mem_mb(spark)
        mem_mb = mem.peak_mb + heap_mb + non_heap_mb
        mem_s = time.perf_counter() - t0
        udf_s = python_udf_seconds(spark, dirs) if traced else 0.0
        if traced and wl.RUNS_PYTHON_UDF and not udf_s:
            raise RuntimeError("the UDF profiler recorded no Python time")
        t0 = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t0
        if not lat:
            raise RuntimeError("no operation completed")
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)
        p50, p90 = wl.percentiles(lat)
        if traced:
            import eventlog

            log = event_log_path(dirs)
            fold = eventlog.fold_file(log) if log else {}
            metrics = layer_metrics(wl, tracer.spans, fold, udf_s)
            metrics["trace.overhead_s"] = p50 - base_p50
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_s": p50,
                "latency_p90_s": p90,
                "memory_mb": mem_mb,
            }
        print(
            f"# {args.workload} seed={args.seed}: {wl.describe(lat)}; "
            f"session {session_s:.2f} s, prepare {median(prep):.2f} s, "
            f"state {state_s:.2f} s, memory {mem_s:.2f} s (Python {mem.peak_mb:.0f} MB, "
            f"heap {heap_mb:.0f} MB, non-heap {non_heap_mb:.0f} MB), check {check_s:.2f} s, "
            f"attempted {wl.attempted}, "
            f"failed {wl.failed}, check errors {len(errors)}"
        )
        return {
            "correct": not errors,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {
                k: {"value": float(v), "unit": unit_of(k)}
                for k, v in metrics.items()
            },
        }
    finally:
        stop_processes()
        dirs.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the same teardown as any other exit
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))
    adopt_orphans()
    sys.path.insert(0, ROOT)
    try:
        import myrecommendsystem_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — a broken run prints no result
        traceback.print_exc()
        return 1
    finally:
        stop_processes()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
