"""Self-test of the benchmark at tiny scale (sf0.001-sized inputs).

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json untraced and traced for a few
seconds and checks that each run prints every declared metric, by a
valid name and with its declared unit, that correctness checks ran and
passed, and that the benchmark exits non-zero without a result when the
program is missing.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(spec: list[dict], p: subprocess.CompletedProcess, label: str) -> None:
    if p.returncode != 0:
        sys.exit(f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{label}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        sys.exit(f"{label}: not correct: {lines[-1][:300]}\n{p.stderr[-3000:]}")
    checks = [json.loads(x)["checks_run"] for x in lines if x.startswith('{"checks_run"')]
    if not checks or checks[0] < 1:
        sys.exit(f"{label}: no correctness check ran")
    got = res["metrics"]
    for m in spec:
        if not NAME.match(m["name"]) or not UNIT.match(m["unit"]):
            sys.exit(f"{label}: invalid metric name or unit {m}")
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"]:
            sys.exit(f"{label}: metric {m['name']} missing or unit differs: {v}")
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            sys.exit(f"{label}: metric {m['name']} is not a finite number: {v}")
    if set(got) != {m["name"] for m in spec}:
        sys.exit(f"{label}: undeclared metrics {sorted(set(got) - {m['name'] for m in spec})}")
    print(f"{label}: ok ({res['attempted']} ops, {checks[0]} checks)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            p = run(["--workload", w["name"], "--seed", "7", "--seconds", "3",
                     "--trace", str(trace), "--tiny"])
            check_result(spec, p, f"{w['name']} trace={trace}")
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(["--workload", bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        sys.exit("without the program the benchmark must fail and print no result")
    print("missing program: exits", p.returncode, "with no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
