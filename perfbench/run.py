#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload dashboard_serve --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout of the repository.  The run generates
its inputs from the seed, sets up (JVM start, initial load, warm-up),
runs the workload's ops closed-loop for ``--seconds``, checks every
output, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the host record and sample counts.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("dashboard_serve", "table_maintain")


def _load(name: str):
    if name == "dashboard_serve":
        import dashboard as mod
    else:
        import maintain as mod
    return mod


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> tuple[dict, dict]:
    """Run one workload; returns (result line, detail record)."""
    from common import latency_summary, start_spark, stop_spark
    from spans import SparkCounters, Tracer

    mod = _load(args.workload)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        t_gen = time.perf_counter()
        inputs = mod.make_inputs(args.seed, work, args.seconds)
        gen_s = time.perf_counter() - t_gen

        t_setup = time.perf_counter()
        spark = start_spark(work)
        jvm_s = time.perf_counter() - t_setup
        try:
            tracer = counters = None
            if args.trace:
                counters = SparkCounters(spark)
                tracer = Tracer(counters.next_job_id)
                mod.Workload.wrap(tracer)
                tracer.enabled, tracer.op = True, "setup"
            wl = mod.Workload(spark, inputs, work, tracer)
            wl.setup()
            setup_jobs = None
            if counters:
                setup_jobs = counters.between(0, counters.next_job_id())
            if tracer:
                tracer.enabled = False
            window = _window(wl, args.seconds, tracer, counters)
            setup_s = window["first_op_at"] - T_START - gen_s
            host = window["host"]
            t_finish = time.perf_counter()
            try:
                end = wl.finish()
            except Exception as e:  # a failed output check is a failed op
                wl.failures.append(f"finish: {type(e).__name__}: {e}"[:300])
                end = {"failed_ops": 1, "bytes_per_live_byte": 0.0}
            finish_s = time.perf_counter() - t_finish
            if tracer:
                spans_path = os.path.join(work_root, f"spans-{args.workload}.jsonl")
                tracer.dump(spans_path)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = end["failed_ops"] + sum(not o["ok"] for o in window["all_ops"])
    attempted = len(window["all_ops"])
    summary = latency_summary([o["s"] for o in window["ops"]])
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "input_gen_s": round(gen_s, 3), "jvm_start_s": round(jvm_s, 3),
        "window_s": round(window["elapsed"], 3), "finish_s": round(finish_s, 3),
        "ops": attempted,
        "samples": summary["samples"],
        "samples_beyond_p90": summary["samples_beyond_p90"],
        "op_ms": [round(o["s"] * 1000, 1) for o in window["all_ops"]],
        "failures": wl.failures[:5],
        **({"spans": os.path.relpath(spans_path, ROOT)} if args.trace else {}),
        **{k: v for k, v in end.items() if k != "failed_ops"},
    }
    if args.trace:
        metrics = _layer_metrics(wl, tracer, window, setup_jobs)
    else:
        items = sum(o["items"] for o in window["ops"])
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (summary["op_p50_ms"], "ms"),
            "op_p90_ms": (summary["op_p90_ms"], "ms"),
            "items_per_s": (items / window["elapsed"], "1/s"),
            "bytes_per_live_byte": (end["bytes_per_live_byte"], "ratio"),
        }
    result = {
        "correct": not wl.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def _window(wl, seconds: float, tracer, counters) -> dict:
    """Closed loop over the workload's window: the whole units of its op
    sequence that take ``seconds`` on the reference host.  The op count
    does not depend on how fast this host runs, so a fast run does not
    measure more (and warmer) ops than a slow one.  A traced run keeps
    going past the window until it has the ops whose counts must repeat
    exactly.  An op that raises counts as failed; the loop goes on
    with the next one."""
    from common import HostWindow

    ops = []
    host = HostWindow()
    t_first = time.perf_counter()
    last = t_first
    traced = tracer is not None
    n_window = wl.window_ops(seconds)
    for i in range(max(n_window, wl.exact_traced_ops) if traced else n_window):
        in_window = i < n_window
        if traced:
            tracer.enabled, tracer.op = True, i
        j0 = counters.next_job_id() if traced else 0
        t0 = time.perf_counter()
        try:
            dt, items, ok = wl.run_op(wl.prepare())
        except Exception as e:  # a failed op counts against the attempted ones
            dt, items, ok = time.perf_counter() - t0, 0, False
            wl.failures.append(f"op {i}: {type(e).__name__}: {e}"[:300])
        if traced:
            tracer.enabled = False
        rec = {"i": i, "s": dt, "items": items, "ok": ok, "in_window": in_window}
        if traced:
            rec["spark"] = counters.between(j0, counters.next_job_id())
        if in_window:
            last = time.perf_counter()
        ops.append(rec)
    return {
        "ops": [o for o in ops if o["in_window"]],
        "all_ops": ops,
        "first_op_at": t_first,
        "elapsed": last - t_first,
        "host": host.record(),
    }


def _layer_metrics(wl, tracer, window, setup_jobs) -> dict:
    """Per-layer metrics of a traced run: times per op over every op,
    counts over the ops that must repeat exactly, set-up totals."""
    from spans import layer_totals

    traced = window["all_ops"]
    n = len(traced)
    times = layer_totals(tracer.spans, {o["i"] for o in traced})
    exact = traced[: wl.exact_traced_ops]
    counts = layer_totals(tracer.spans, {o["i"] for o in exact})
    setup = layer_totals(tracer.spans, {"setup"})

    def per_op(name, kind="self"):
        return times[name][kind] * 1000 / n if name in times else 0.0

    def spark_sum(key):
        return sum(o["spark"][key] for o in exact) / len(exact)

    m = {
        "client.wire_ms": per_op("client.wire"),
        "server.execute_self_ms": per_op("server.execute_self"),
        "sql.execute_ms": per_op("sql.execute"),
        "catalog.register_views_ms": per_op("catalog.register_views"),
        "catalog.read_ms": per_op("catalog.read"),
        "spark.collect_ms": per_op("spark.collect"),
        "catalog.commit_ms": sum(
            per_op(f"catalog.{v}", "incl") for v in ("create_table", "overwrite", "append")
        ),
        "catalog.append_ms": per_op("catalog.append", "incl"),
        "catalog.upsert_cdc_ms": per_op("catalog.upsert_cdc", "incl"),
        "catalog.delete_mor_ms": per_op("catalog.delete_where", "incl"),
        "catalog.scan_ms": per_op("catalog.scan", "incl"),
        "catalog.maintain_ms": per_op("catalog.maintain", "incl"),
        "catalog.reads_per_op": counts["catalog.read"]["calls"] / len(exact)
        if "catalog.read" in counts else 0.0,
        "spark.jobs_per_op": spark_sum("jobs"),
        "spark.stages_per_op": spark_sum("stages"),
        "spark.tasks_per_op": spark_sum("tasks"),
        "spark.task_ms_per_op": spark_sum("task_ms"),
        "spark.shuffle_bytes_per_op": spark_sum("shuffle_bytes"),
        "spark.spill_bytes_per_op": spark_sum("spill_bytes"),
        "spark.gc_ms_per_op": spark_sum("gc_ms"),
    }
    for name in ("pipeline.ingest_bronze", "pipeline.build_silver", "pipeline.build_gold",
                 "operators.silver_build", "operators.gold_build"):
        m[f"{name}_ms"] = setup[name]["incl"] * 1000 if name in setup else 0.0
    # the operators build DataFrames in the set-up load only: jobs they
    # launch before the load's write actions
    m["spark.eager_jobs_per_op"] = sum(
        setup[k]["jobs"] for k in ("operators.silver_build", "operators.gold_build")
        if k in setup
    )
    m["setup.catalog.commit_ms"] = sum(
        setup[f"catalog.{v}"]["incl"] * 1000
        for v in ("create_table", "overwrite", "append") if f"catalog.{v}" in setup
    )
    for key in ("jobs", "stages", "tasks", "task_ms", "shuffle_bytes", "spill_bytes", "gc_ms"):
        m[f"setup.spark.{key}"] = setup_jobs[key]
    for key in ("catalog.rows_written_per_op", "catalog.bytes_written_per_op",
                "catalog.manifest_bytes_per_op",
                "catalog.files_live", "catalog.delete_files_live",
                "catalog.bytes_written_per_user_byte", "catalog.bytes_rewritten_per_sweep"):
        m[key] = wl.exact.get(key, 0.0)
    # op latency with tracing on: minus op_p50_ms of an untraced run of
    # the same seed, it is the tracing overhead
    m["traced.op_p50_ms"] = statistics.median(o["s"] for o in window["ops"]) * 1000
    return {k: (v, _unit(k)) for k, v in m.items()}


def _unit(metric: str) -> str:
    if metric.endswith("per_user_byte"):
        return "ratio"
    if "bytes" in metric:
        return "bytes"
    if "rows" in metric:
        return "rows"
    if "_ms" in metric:
        return "ms"
    return "count"


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "data_lakehouse_spark")):
        print("perfbench: the data_lakehouse_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    result, detail = run(args)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
