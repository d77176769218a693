"""Self-check of the benchmark: a small-corpus run of every workload, untraced
and traced, must print every metric BENCHMARK.json lists, each with its
unit, and pass the correctness gate; BENCHMARK.json must agree with the
metric registry in perfbench/metrics.json.

    python3 perfbench/smoke.py          # from the repository root, ~5 min
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_BASE = 200


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def check_registry(bench: dict, reg: dict) -> None:
    assert [w["name"] for w in bench["workloads"]] == [w["name"] for w in reg["workloads"]]
    for kind, keys in (("end_to_end", ("name", "unit", "better", "bound")), ("per_layer", ("name", "unit", "better"))):
        want = [{k: m[k] for k in keys} for m in reg[kind]]
        assert bench[kind] == want, f"BENCHMARK.json {kind} differs from perfbench/metrics.json"
        for m in reg[kind]:
            assert m["layer"] and m.get("on") and (m.get("moves") or m.get("definition")), m["name"]


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--n-base", str(N_BASE),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check_result(res: dict, listed: list[dict], label: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, (label, res)
    got = res["metrics"]
    assert set(got) == {m["name"] for m in listed}, (label, set(got) ^ {m["name"] for m in listed})
    for m in listed:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (label, m["name"], v)
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (label, m["name"], v)


def main() -> int:
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    check_registry(bench, load(os.path.join(HERE, "metrics.json")))
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            detail, res = run(w["name"], trace)
            label = f"{w['name']} trace={trace}"
            check_result(res, bench[kind], label)
            if trace:
                # stage spans + reads + the run's own remainder = the probed
                # committed run's wall
                acc = detail["commit_accounting"]
                total = acc["stage_sum_s"] + acc["read_sum_s"] + acc["self_s"]
                assert abs(total - acc["run_s"]) < 1e-6, (label, acc)
            print(f"ok  {label}: {len(res['metrics'])} metrics", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
