"""Fast self-test of the benchmark.

    python3 perfbench/selftest.py

Runs each workload on tiny inputs with ``--seconds 0`` (the minimum
number of warm passes), untraced and traced, and checks that every metric ``BENCHMARK.json`` names is printed
with its unit, that every job's output matched its oracle
(``failed_ratio`` is 0), and that the bypass predictions hold: no
Python worker CPU on ``catalyst_batch`` and no micro-batches on it.
Takes about three minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TINY = {
    "catalyst_batch": {"sf": 0.001},
    "beam_dofn": {"sf": 0.001, "corpus_lines": 1_000, "kv_rows": 5_000, "kv_keys": 500},
}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace),
           "--scale", json.dumps(TINY[workload])]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, declared: list[dict], label: str) -> list[str]:
    problems = []
    got = result["metrics"]
    for m in declared:
        if m["name"] not in got:
            problems.append(f"{label}: {m['name']} not printed")
        elif got[m["name"]]["unit"] != m["unit"]:
            problems.append(f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        problems.append(f"{label}: undeclared metrics {sorted(extra)}")
    if result["failed"] or not result["correct"] or result["attempted"] < 1:
        problems.append(f"{label}: {result['failed']} of {result['attempted']} jobs failed")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        problems += check(run(name, 0), spec["end_to_end"], f"{name} trace=0")
        traced = run(name, 1)
        problems += check(traced, spec["per_layer"], f"{name} trace=1")
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        if m["failed_ratio"] != 0:
            problems.append(f"{name}: failed_ratio {m['failed_ratio']}")
        if m["streaming.late_rows_dropped"] != 0:
            problems.append(f"{name}: {m['streaming.late_rows_dropped']} late rows dropped")
        if name == "catalyst_batch" and (m["operators.pipeline.python_cpu_s"] > 0.05
                                         or m["streaming.batches"] != 0):
            problems.append(f"{name}: bypass prediction broken (python_cpu_s "
                            f"{m['operators.pipeline.python_cpu_s']}, batches {m['streaming.batches']})")
        print(f"{name}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
