"""Per-query micro-bench + plan dumper for optimization work.

Times the named queries (noop sink, min-of-N after warmup, guide §1.4)
and optionally writes ``.explain("formatted")`` to plans/<tag>/<q>_<suffix>.txt.

Usage:
    python tools/qbench.py [--reps N] [--plans TAG:SUFFIX] q1 q2 ...
    python tools/qbench.py --top 20            # the 20 slowest per bench_full.json

Prints one line per query:  <name>  min=<s>  med=<s>  reps=[...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from data_lakehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    plans_tag = None
    names: list[str] = []
    top = 0
    confs: list[tuple[str, str]] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--plans":
            plans_tag = args[i + 1]; i += 2
        elif a == "--top":
            top = int(args[i + 1]); i += 2
        elif a == "--conf":
            k, v = args[i + 1].split("=", 1); confs.append((k, v)); i += 2
        else:
            names.append(a); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()
    if top:
        full = json.load(open("/root/repo/bench_full.json"))
        ranked = sorted(full["queries"], key=full["queries"].get, reverse=True)
        names = [n for n in ranked if n in queries][:top] + names

    spark = get_spark("qbench")
    for k, v in confs:
        spark.conf.set(k, v)
    bench.warm_up(spark, queries, sf_dir)

    results = {}
    for name in names:
        fn = queries[name]
        if plans_tag:
            tag, suffix = plans_tag.split(":")
            d = os.path.join("/root/repo/plans", tag)
            os.makedirs(d, exist_ok=True)
            df = fn(spark, sf_dir)
            with open(os.path.join(d, f"{name}_{suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        ts = []
        if not reps:
            continue
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"qbench:{name}:{r}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = ts
        print(f"{name:45s} min={min(ts):6.3f} med={sorted(ts)[len(ts)//2]:6.3f} reps={ts}",
              flush=True)
    print(json.dumps({n: min(t) for n, t in results.items()}))


if __name__ == "__main__":
    main()
