"""Self-test of the benchmark at the smallest scale.

Runs every workload of BENCHMARK.json once untraced and once traced on
sf0.001 tables (``--smoke``: one cold and one timed pass) and checks that
the result line carries exactly the declared metrics with their units,
and that no query failed or mismatched its oracle. From the repository
root:

    python3 perfbench/test_bench.py        # or: python3 -m pytest perfbench
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--smoke"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(workload: str, trace: int) -> None:
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    declared = SPEC["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, (workload, trace, got)
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), k


def test_every_workload_prints_every_metric():
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace)


if __name__ == "__main__":
    test_every_workload_prints_every_metric()
    print("ok")
