"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on a tiny input, from the
current directory (a source checkout root), and asserts that:
- both runs are correct and print exactly the metric names BENCHMARK.json lists;
- spans nest and each traced iteration's self times sum to its wall within 10%;
- the event-log parser found stages for every layer of the workload's chain;
- a corrupted copy of a checked output fails the output check;
- median_zonal reports Arrow bytes both ways across its scan's Python boundary.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def run(workload: str, trace: int) -> tuple:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "0",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def main() -> None:
    from workloads import WORKLOADS
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS), "BENCHMARK.json workloads"
    for name, cls in WORKLOADS.items():
        for trace in (0, 1):
            ctx, res = run(name, trace)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (name, trace, res)
            assert set(res["metrics"]) == names[trace], (name, trace, set(res["metrics"]) ^ names[trace])
            if not trace:
                print(f"ok {name} untraced: {res['attempted']} iteration(s)")
                continue
            tc = ctx["trace_checks"]
            assert not tc["nesting_errors"], tc["nesting_errors"]
            assert tc["self_sum_over_wall"] and all(abs(r - 1) <= 0.1 for r in tc["self_sum_over_wall"]), tc
            missing = {layer for layer, _ in cls.CHAIN} - set(tc["layers_with_stages"])
            assert not missing, f"{name}: no event-log stages for {sorted(missing)}"
            assert tc["negative_control_rejected"], f"{name}: a corrupted output passed the check"
            if name == "median_zonal":  # Spark's Python SQL metric names were found
                for k in ("arrow.to_python_mb.raster_cube", "arrow.from_python_mb.raster_cube"):
                    assert res["metrics"][k]["value"] > 0, f"{k} is 0"
            print(f"ok {name} traced: layers {sorted(l for l, _ in cls.CHAIN)}")
    print("smoke ok")


if __name__ == "__main__":
    main()
