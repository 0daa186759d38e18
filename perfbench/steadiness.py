#!/usr/bin/env python3
"""A/A steadiness record: run the benchmark on one commit as two sets of
runs and compare them.

    python3 perfbench/steadiness.py --label aa --seeds 10
    python3 perfbench/steadiness.py --label traced --sets 1 --seeds 1 --trace 1 --seconds 40

Set ``k`` (from 1) uses the seeds ``(k-1)*100 + 1 ...``. The runs are
interleaved -- for each seed index, each workload of BENCHMARK.json runs
once per set -- so drift of the host over the minutes of the record hits
both sets alike. Runs go one at a time, never two at once. The record,
``perfbench/results/<label>.json``, holds every run's result line and,
per set, workload and metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread, (Q3 - Q1) / median -- the
figure the bounds in BENCHMARK.json are checked against -- and, per
workload and metric, how far each later set's median lies from the first
set's (``median_vs_set1``). Traced runs also keep the per-pass
``jvm.jit_s`` and pass times from the run record, which is what the
warm-up length rests on.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    out = {"n": len(values), "median": med}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    return out


def run(name: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", name,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["seed"], res["wall_s"] = seed, time.perf_counter() - t
    if trace:
        rec = json.loads((
            ROOT / ".bench_build" / "perfbench" / "runs"
            / f"{name}-seed{seed}-trace1.json").read_text())
        res["passes"] = [
            {"kind": p["kind"], "traced": p["traced"], "s": p["s"],
             "jvm.jit_s": (p.get("layers") or p["jvm"])["jvm.jit_s"]}
            for p in rec["passes"]]
    return res


def set_summary(runs: list[dict]) -> dict:
    return {
        "seeds": [r["seed"] for r in runs],
        "failed": sum(r["failed"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "wall_s": summary([r["wall_s"] for r in runs]),
        "metrics": {
            k: {"unit": runs[0]["metrics"][k]["unit"],
                **summary([r["metrics"][k]["value"] for r in runs])}
            for k in runs[0]["metrics"]
        },
        "runs": runs,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", required=True)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10, help="runs per set")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    args = ap.parse_args()
    names = [w["name"] for w in SPEC["workloads"]]
    runs = {(n, k): [] for n in names for k in range(args.sets)}
    for i in range(args.seeds):
        for name in names:
            for k in range(args.sets):
                seed = k * 100 + i + 1
                res = run(name, seed, args.seconds, args.trace)
                runs[name, k].append(res)
                print(name, f"set{k + 1}", seed, json.dumps(res["metrics"]),
                      file=sys.stderr, flush=True)
    record: dict = {"run_seconds": args.seconds, "trace": args.trace,
                    "interleaved": True, "workloads": {}}
    for name in names:
        sets = {f"set{k + 1}": set_summary(runs[name, k])
                for k in range(args.sets)}
        first = sets["set1"]["metrics"]
        record["workloads"][name] = {
            "median_vs_set1": {
                label: {m: s["metrics"][m]["median"] / first[m]["median"] - 1
                        if first[m]["median"] else None
                        for m in first}
                for label, s in sets.items() if label != "set1"
            },
            **sets,
        }
    out = ROOT / "perfbench" / "results" / f"{args.label}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(record, indent=1) + "\n")
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
