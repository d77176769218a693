"""Isolation benchmarks for the optimization round (guide §1.4): times each
declared bench query through the noop sink with per-phase breakdown
(register / plan / execute) and dumps .explain("formatted") for each, at
local[$SPARK_GRAFT_CPUS]. Per-stage pipeline timings come from perfbench.

NOT part of the driver contract — bench.py is the frozen headline bench.

Usage:
    python bench_extra.py queries   [names...]   # per-query phases + plans
    python bench_extra.py plans <outdir>         # just dump plans
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _build():
    from sylph_spark.session import build_spark

    return build_spark(
        "sylph_bench_extra", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )


def run_queries(names=None):
    import __spark_entry__ as E

    spark = _build()
    qs = E.queries()
    names = names or BENCH_QUERIES
    # warm-up identical to bench.py
    E._register(spark, SF_DIR)
    spark.sql("SELECT COUNT(*) FROM lineitem").collect()
    spark.sql(
        "SELECT event_type, COUNT(*) c FROM events GROUP BY event_type"
    ).collect()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        reps = []
        for _ in range(3):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            reps.append((round(t1 - t0, 3), round(t2 - t1, 3)))
        out[name] = {"build_exec": reps}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


def dump_plans(outdir, suffix="before", names=None):
    import __spark_entry__ as E

    os.makedirs(outdir, exist_ok=True)
    spark = _build()
    qs = E.queries()
    E._register(spark, SF_DIR)
    for name in names or BENCH_QUERIES:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:] or None)
    elif mode == "plans":
        outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        dump_plans(outdir, suffix, sys.argv[4:] or None)
