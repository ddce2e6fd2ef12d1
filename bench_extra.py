#!/usr/bin/env python3
"""Extra benchmarks for optimization work (guide §1.4).

NOT the frozen driver bench (bench.py). This harness:
  - times each declared query in isolation with the noop sink,
    best-of-N in ONE JVM (per-query numbers without cross-query noise);
  - dumps .explain("formatted") for each query to plans/<tag>/<q>_<suffix>.txt.

Usage:
  python bench_extra.py explain <suffix> [query ...]   # dump plans
  python bench_extra.py time [query ...]               # best-of-3 timings
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.environ.get("BENCH_EXTRA_PLAN_DIR", "plans/r06")


def _spark():
    from bib_dedupe_spark.session import get_spark

    spark = get_spark(
        app_name="bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_explain(suffix: str, names: list) -> None:
    from bib_dedupe_spark.harness import QUERIES

    spark = _spark()
    os.makedirs(PLAN_DIR, exist_ok=True)
    for name in names or HEADLINE:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(PLAN_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


def cmd_time(names: list, n: int = 3) -> None:
    from bib_dedupe_spark.harness import QUERIES

    spark = _spark()
    out = {}
    for name in names or HEADLINE:
        spark.sparkContext.setJobDescription(f"bench-extra: {name}")
        samples = []
        for _ in range(n):
            t0 = time.time()
            df = QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out[name] = {"best": min(samples), "samples": samples}
        print(f"{name}: best={min(samples)} samples={samples}", flush=True)
    print(json.dumps({k: v["best"] for k, v in out.items()}))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "explain":
        cmd_explain(sys.argv[2], sys.argv[3:])
    elif cmd == "time":
        cmd_time(sys.argv[2:])
    else:
        raise SystemExit(f"unknown command {cmd!r}")
