"""Dedup engine benchmark.

    python3 perfbench/run.py --workload dup_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's corpus from
``--seed``, runs the engine on it in a fresh measurement process
(``perfbench/worker.py``), checks its output against the corpus's ground
truth, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Each run's
record goes to stderr; the traced run also leaves its spans in
``.perfbench_work/``.

Everything the benchmark writes stays under ``.perfbench_work/`` in the
repository root. The measurement process runs in its own process group, so
the Spark JVM and Python workers it starts are stopped with it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TIMEOUT_S = 170
# The driver JVM's heap, fixed (-Xms = -Xmx, set in worker.py): the engine's
# 16g default is sized for a dedicated host, and a growable 4g heap let G1's
# sizing decisions differ between processes by ~700 MB of RSS and move
# steady_run_s by ~15% (smaller heap, more collections, slower runs).
DRIVER_MEM = "2g"


def metric_units(trace: int) -> dict[str, str]:
    with open(os.path.join(HERE, "metrics.json")) as f:
        reg = json.load(f)
    return {m["name"]: m["unit"] for m in reg["per_layer" if trace else "end_to_end"]}


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the whole process group; wait until it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-base", type=int, default=0, help="corpus size override (smoke runs)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sylph_spark", "pipeline.py")):
        print("perfbench: sylph_spark sources not found next to perfbench/", file=sys.stderr)
        return 2
    units = metric_units(args.trace)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    env = {
        **os.environ,
        "PYTHONPATH": ROOT,
        "TMPDIR": os.path.join(WORK, "tmp"),
        # no hsperfdata under /tmp; JVM temp files under the work dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SYLPH_DRIVER_MEM": DRIVER_MEM,
    }
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", out,
    ]
    if args.n_base:
        cmd += ["--n-base", str(args.n_base)]
    proc = subprocess.Popen(
        cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: measurement process failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)
    print(json.dumps({"detail": res["detail"]}))
    metrics = {}
    for name, v in res["metrics"].items():
        if name not in units or not math.isfinite(v):
            print(f"perfbench: bad metric {name}={v}", file=sys.stderr)
            res["correct"] = False
            continue
        metrics[name] = {"value": v, "unit": units[name]}
    if set(metrics) != set(units):
        print(f"perfbench: metrics missing: {sorted(set(units) - set(metrics))}", file=sys.stderr)
        res["correct"] = False
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
