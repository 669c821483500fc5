#!/usr/bin/env python3
"""Run the benchmark once per seed on each workload and report, for every
end-to-end metric, the median, the quartiles and the spread (the distance
between the quartiles as a share of the median, beside the metric's bound);
likewise for the wall time of a round, which is printed but not gated.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads pipeline_bulk,...] [--out FILE]

Runs are sequential (one benchmark process at a time). With ``--out`` the
record is also written as JSON, with the host's core count and Spark version.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["text"] = lines[:-1]
    return result, elapsed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    import pyspark  # noqa: PLC0415

    record = {"cores": len(os.sched_getaffinity(0)), "spark_version": pyspark.__version__,
              "run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls, texts = [], []
        for seed in _seeds(args.seeds):
            result, elapsed = run_once(wl, seed, bench["run_seconds"])
            walls.append(elapsed)
            texts.append(result["text"])
            for m in bounds:
                values[m].append(result["metrics"][m]["value"])
            print(f"{wl} seed {seed}: {elapsed:.1f} s " + " ".join(
                f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
        # the wall time of a round is printed but not gated: record it too
        values["op_p50_s (wall, not gated)"] = [
            float(line.split()[2]) for text in texts for line in text if line.startswith("op_p50_s = ")]
        summary = {}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            bound = bounds.get(m)
            summary[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound, "values": vs}
            verdict = "" if bound is None else f" (bound {bound}, {'ok' if spread < bound / 3 else 'WIDE'})"
            print(f"  {m}: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {spread:.3f}{verdict}")
        print(f"  run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        record["workloads"][wl] = {"seeds": args.seeds, "metrics": summary, "run_wall_s": walls, "run_text": texts}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
