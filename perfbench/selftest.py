#!/usr/bin/env python3
"""The benchmark's own test.

    python3 perfbench/selftest.py [--seconds 5] [--workload NAME ...]

1. A different seed gives a different op sequence (no Spark needed).
2. A ``table_maintain`` run whose catalog upsert raises in the window
   still ends, prints its result and counts the failed ops.
3. Per workload: two traced runs with one seed give identical exact
   counts (jobs, stages, tasks, reads, files, rows, bytes), every
   output check passes, the metrics and units are those
   ``BENCHMARK.json`` names, and an untraced run of the same seed gives
   the tracing overhead (traced minus untraced ``op_p50_ms``).

Exits non-zero on the first disagreement.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: per-layer metrics that are counts and must repeat exactly
EXACT = (
    "catalog.reads_per_op", "catalog.files_live", "catalog.delete_files_live",
    "catalog.rows_written_per_op", "catalog.bytes_written_per_user_byte", "catalog.bytes_rewritten_per_sweep",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.eager_jobs_per_op",
)
#: counts that repeat to within a relative tolerance: adaptive query
#: execution runs the query stages of the set-up load concurrently and
#: re-plans as they finish, so the load's job count can differ by one
#: (78 or 79); the load's bronze rows carry their ingestion time; the
#: space on disk includes the manifests, whose commit times may take a
#: digit more or less from run to run
NEAR = {
    "setup.spark.jobs": 0.02, "setup.spark.stages": 0.02, "setup.spark.tasks": 0.02,
    "catalog.bytes_written_per_op": 1e-4, "bytes_per_live_byte": 1e-5,
}


def _run(workload: str, seed: int, seconds: float, trace: int,
         cmd: list[str] | None = None) -> tuple[dict, dict]:
    cmd = cmd or [sys.executable, os.path.join(HERE, "run.py")]
    out = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-1]), json.loads(out[-2])["detail"]


def failing_run(argv: list[str]) -> int:
    """``run.py`` with ``Catalog.upsert_cdc`` raising once the set-up's
    warm-up cycles are done: every timed upsert fails."""
    sys.path.insert(0, ROOT)
    from data_lakehouse_spark.catalog import Catalog

    import run
    from maintain import WARMUP_CYCLES

    upsert, calls = Catalog.upsert_cdc, []

    def broken(self, *args, **kwargs):
        calls.append(1)
        if len(calls) > WARMUP_CYCLES:
            raise RuntimeError("injected upsert failure")
        return upsert(self, *args, **kwargs)

    Catalog.upsert_cdc = broken
    return run.main(argv)


def check_failures_counted(seed: int, seconds: float) -> None:
    r, d = _run("table_maintain", seed, seconds, 0,
                [sys.executable, __file__, "--failing-run"])
    assert not r["correct"] and r["failed"] > 0, f"a failing op was not counted: {r}"
    print(f"failures: a raising op is counted ({r['failed']} of {r['attempted']} "
          f"ops failed) and the run ends; first: {d['failures'][0]}")


def check_seeds() -> None:
    from inputs import MaintainPlan, chart_order

    a = list(itertools.islice(chart_order(1, 7), 14))
    b = list(itertools.islice(chart_order(2, 7), 14))
    assert a != b, "chart order does not depend on the seed"
    assert a == list(itertools.islice(chart_order(1, 7), 14)), "chart order not repeatable"
    p1, p2 = MaintainPlan(1), MaintainPlan(2)
    p1.initial(), p2.initial()
    c1, c2 = p1.cycle(0), p2.cycle(0)
    assert c1["upserts"] != c2["upserts"], "maintenance ops do not depend on the seed"
    print("seeds: different seeds give different op sequences")


def check_workload(workload: str, seed: int, seconds: float) -> None:
    (r1, d1), (r2, d2) = (_run(workload, seed, seconds, 1) for _ in range(2))
    ru, _ = _run(workload, seed, seconds, 0)
    for r in (r1, r2, ru):
        assert r["correct"] and r["failed"] == 0, f"{workload}: output check failed: {r}"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for r, kind in ((r1, "per_layer"), (ru, "end_to_end")):
        want = {m["name"]: m["unit"] for m in bench[kind]}
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        assert got == want, f"{workload}: metrics differ from BENCHMARK.json {kind}"
    m1 = {k: v["value"] for k, v in r1["metrics"].items()}
    m2 = {k: v["value"] for k, v in r2["metrics"].items()}
    m1["bytes_per_live_byte"] = d1["bytes_per_live_byte"]
    m2["bytes_per_live_byte"] = d2["bytes_per_live_byte"]
    diff = {k: (m1[k], m2[k]) for k in EXACT if m1[k] != m2[k]}
    diff.update({k: (m1[k], m2[k]) for k, tol in NEAR.items()
                 if not math.isclose(m1[k], m2[k], rel_tol=tol)})
    assert not diff, f"{workload}: counts differ between two traced runs: {diff}"
    overhead = m1["traced.op_p50_ms"] - ru["metrics"]["op_p50_ms"]["value"]
    print(f"{workload}: counts repeat ({len(EXACT)} exactly, {len(NEAR)} nearly); "
          f"tracing overhead {overhead:+.1f} ms on op_p50_ms "
          f"({overhead / ru['metrics']['op_p50_ms']['value']:+.1%})")


def main() -> int:
    if sys.argv[1:2] == ["--failing-run"]:
        return failing_run(sys.argv[2:])
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--workload", action="append",
                   choices=("dashboard_serve", "table_maintain"))
    args = p.parse_args()
    check_seeds()
    check_failures_counted(args.seed, args.seconds)
    for w in args.workload or ("dashboard_serve", "table_maintain"):
        check_workload(w, args.seed, args.seconds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
