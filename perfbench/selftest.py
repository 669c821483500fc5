#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes (about five minutes).

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:

* each declared metric is printed by name with its unit, in the text lines
  and in the final JSON object, for ``--trace 0`` (end-to-end) and
  ``--trace 1`` (per-layer), and every op passes its output check;
* another ``--seed`` generates other inputs but prints the same metric names;

and then that

* a corrupted output (one routed row dropped from the sink) fails the
  output check: every op counts as failed and the exit code is 1;
* in a directory holding only BENCHMARK.json and the benchmark's files the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "_work", "data")


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "2", "--size", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def inputs_digest(workload: str, seed: int) -> str:
    h = hashlib.sha256()
    root = os.path.join(DATA, workload, "tiny", f"seed{seed}")
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def check_metrics(lines: list[str], declared: dict[str, str], what: str) -> set[str]:
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, (what, result)
    got = result["metrics"]
    assert set(got) == set(declared), (what, sorted(set(got) ^ set(declared)))
    for name, unit in declared.items():
        assert got[name]["unit"] == unit, (what, name)
        assert isinstance(got[name]["value"], (int, float)), (what, name)
        assert any(line.startswith(f"{name} = ") and line.endswith(f" {unit}") for line in lines), (what, name)
    return set(got)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (w["name"] for w in spec["workloads"]):
        names = {}
        for seed, trace in ((1, 0), (1, 1), (2, 0)):
            code, lines = bench("--workload", w, "--seed", str(seed), "--trace", str(trace))
            what = f"{w} seed {seed} trace {trace}"
            assert code == 0, (what, lines[-5:])
            names[(seed, trace)] = check_metrics(lines, declared[trace], what)
            print(f"ok: {what} prints every declared metric with its unit", flush=True)
        assert names[(1, 0)] == names[(2, 0)]
        assert inputs_digest(w, 1) != inputs_digest(w, 2), f"{w}: seeds 1 and 2 gave the same inputs"
        print(f"ok: {w} another seed gives other inputs and the same metric names", flush=True)

    code, lines = bench("--workload", "pipeline_bulk", "--seed", "1", "--corrupt-output")
    result = json.loads(lines[-1])
    assert code == 1 and not result["correct"] and result["failed"] == result["attempted"], result
    print(f"ok: a dropped routed row fails every op ({result['failed']}/{result['attempted']}), exit code 1")

    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("_work", "__pycache__"))
    try:
        code, lines = bench("--workload", "pipeline_bulk", "--seed", "1", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not (lines and lines[-1].startswith("{")), (code, lines[-3:])
    print(f"ok: without the program the command exits {code} and prints no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
