#!/usr/bin/env python3
"""Benchmark of otel_arrow_spark: one seeded workload, one driver process.

    python3 perfbench/run.py --workload pipeline_bulk --seed 1 --seconds 12 --trace 0

The run is a closed loop with one client on ``local[<cores / 2>]``: each op
starts when the previous one has finished. It starts a fresh SparkSession,
runs the cold first op and a warm-up, then runs ops for ``--seconds`` of op
time. Every op's output is checked (outside its timing); an op that raises
or fails its check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate run
that interleaves untraced and traced rounds, prints the per-layer metrics and
writes the spans to ``perfbench/_work/traces/``. Metric names and units come
from ``BENCHMARK.json``. Human-readable lines go first; the last line of
stdout is one JSON object. The exit code is 1 when any op failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("pipeline_bulk", "codec_roundtrip")


def _isolate() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside WORK."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "warehouse", "out", "traces")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # spark-submit's launcher JVM would write an hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return dirs


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def _start_spark(dirs: dict[str, str]):
    """A fresh SparkSession with the engine's own profile, on half the cores.

    A task of the parse stage keeps two processes busy, the JVM task thread
    and its Python worker, and the driver's planning thread, the JIT
    compilers and the GC need cores too. On every core these outnumber the
    cores, and op times then follow the scheduler and the host's other load.
    """
    from otel_arrow_spark import get_spark  # noqa: PLC0415

    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": dirs["spark-local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            # likewise for the driver JVM
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds so far. Busy is the time this process and
    all its descendants (the Spark JVM, its Python workers) ran, reaped
    children included. Stolen is the time the host took the machine's CPUs
    away, which the kernel books apart from any process's time."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process has exited
                continue
            parent[int(d)] = int(fields[1])
            ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += [p for p, pp in parent.items() if pp == pid]
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    tick = os.sysconf("SC_CLK_TCK")
    return sum(ticks.get(p, 0) for p in tree) / tick, steal / tick


class Runner:
    """Runs and checks ops, counting attempts and failures. ``cpu_s`` and
    ``steal_s`` are the last op's busy and stolen CPU seconds."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.cpu_s = self.steal_s = 0.0

    def fail(self, i: int, msg: str) -> None:
        self.failed += 1
        print(f"FAILED op {i}: {msg}", file=sys.stderr)

    def run(self, i: int, op=None, then=None) -> tuple[object, float]:
        """Run op ``i`` (timed), call ``then``, check the output (untimed).
        Returns (result or None if the op raised or failed its check, seconds)."""
        op = op or self.wl.op(i)
        self.attempted += 1
        cpu0, steal0 = _cpu_s()
        t0 = time.perf_counter()
        try:
            result = op.run()
            ok = True
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            result, ok = None, False
            self.fail(i, traceback.format_exc(limit=3))
        dt = time.perf_counter() - t0
        cpu1, steal1 = _cpu_s()
        self.cpu_s, self.steal_s = cpu1 - cpu0, steal1 - steal0
        if then:
            then()
        try:
            errors = op.check(result) if ok else []
        except Exception:  # noqa: BLE001 — an unreadable output is a failed check
            errors = [traceback.format_exc(limit=3)]
        finally:
            op.cleanup()
        if errors:
            self.fail(i, "; ".join(errors))
            result = None
        return result, dt


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-test only")
    ap.add_argument("--corrupt-output", action="store_true",
                    help="self-test hook: drop one routed row before each pipeline check")
    args = ap.parse_args(argv)

    declared = _declared()[args.trace]
    dirs = _isolate()
    sys.path.insert(0, ROOT)
    import workloads  # noqa: PLC0415 — imports pyspark; must follow _isolate()

    if not 0 <= args.seed < workloads.MAX_SEED:
        ap.error(f"--seed must be in [0, {workloads.MAX_SEED})")
    wl = workloads.WORKLOADS[args.workload](WORK, args.size, args.seed, args.corrupt_output)

    t_setup = time.perf_counter()
    spark = _start_spark(dirs)
    session_s = time.perf_counter() - t_setup
    try:
        out = _measure(args, wl, spark, session_s)
    finally:
        _stop_spark(spark)

    runner, metrics, text = out
    missing = sorted(set(declared) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics declared in BENCHMARK.json but not measured: {missing}")
    for line in text:
        print(line)
    for name, unit in declared.items():
        print(f"{name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in declared.items()},
    }))
    return 1 if runner.failed else 0


def _measure(args, wl, spark, session_s: float):
    cores = spark.sparkContext.defaultParallelism
    runner = Runner(wl)
    wl.bind(spark)

    # set-up: fresh session, cold first op, untimed references, warm-up
    _, cold_op_s = runner.run(0, wl.round(0), then=wl.prepare)
    setup_s = session_s + cold_op_s
    i = 1
    for _ in range(wl.n_warm):
        setup_s += runner.run(i)[1]
        i += 1

    text = [
        f"workload {wl.name} seed {args.seed} size {args.size} on local[{cores}], "
        f"Spark {spark.version}, closed loop, 1 client",
    ]
    if args.trace:
        metrics, extra = _traced_pass(args, wl, spark, runner, i, cores, cold_op_s)
    else:
        metrics, extra = _timed_pass(args, wl, runner, i)
        metrics["setup_s"] = setup_s
    text += extra
    # one sample per fresh JVM, too few for a steady end-to-end figure; it is
    # part of setup_s, and the traced run reports it as runtime.cold_op_s
    text.append(f"cold_op_s = {cold_op_s:.6g} s (first op in the fresh JVM)")
    if not args.trace:
        text.append(f"peak_rss_mb = {_peak_rss_mb(spark):.6g} MB (driver JVM VmHWM)")
    text.append(f"ops attempted {runner.attempted}, failed {runner.failed}, "
                f"failed_ops_ratio = {runner.failed / runner.attempted:.6g}")
    return runner, metrics, text


def _round(samples: dict[str, list[float]]) -> float:
    """A round is one op of each kind (a pipeline op is one kind), and it
    takes each kind's median. A median over mixed kinds would jump between
    the kinds' figures; a median of whole rounds would rest on one or two
    samples, as a run holds only a round or two of the codecs."""
    return sum(statistics.median(v) for v in samples.values())


def _timed_pass(args, wl, runner: Runner, i: int):
    """Ops back to back until ``--seconds`` of op time, and until every kind
    of op has run once."""
    wall, cpu, rows_of, n, busy, steal = {}, {}, {}, 0, 0.0, 0.0
    while busy < args.seconds or len(wall) < wl.n_kinds:
        op = wl.op(i)
        _, dt = runner.run(i, op)
        wall.setdefault(op.kind, []).append(dt)
        cpu.setdefault(op.kind, []).append(runner.cpu_s)
        rows_of[op.kind] = op.rows
        steal += runner.steal_s
        busy += dt
        n += 1
        i += 1
    op_p50_s = _round(wall)
    text = [f"timed pass: {n} ops, wall_s = {busy:.6g} s; the host took {steal:.4g} CPU-seconds away"]
    text += [f"  {kind}: {len(ts)} ops, median {statistics.median(ts):.6g} s, CPU median "
             f"{statistics.median(cpu[kind]):.6g} s, each " + " ".join(f"{t:.3f}" for t in ts)
             for kind, ts in wall.items()]
    # Wall time follows the host's other load: on a shared 4-core host a
    # codec round took twice as long while the host took CPUs away, and a
    # fifth more CPU time. Hence CPU time is the bounded figure.
    text.append(f"op_p50_s = {op_p50_s:.6g} s (median round, wall)")
    text.append(f"rows_per_s = {sum(rows_of.values()) / op_p50_s:.6g} 1/s (rows of a round / op_p50_s)")
    return {"op_cpu_s": _round(cpu)}, text


def _traced_pass(args, wl, spark, runner: Runner, i: int, cores: int, cold_op_s: float):
    """Untraced and traced ops interleaved until ``--seconds`` of wall time;
    per-layer metrics come from the traced ops."""
    from sparkmetrics import SparkMetricsReader  # noqa: PLC0415
    from tracing import Tracer, attach_scopes, medians  # noqa: PLC0415

    reader = SparkMetricsReader(spark)
    reader.snapshot()  # skip everything the set-up ran
    tracer = Tracer(spark)
    per_op, unreconciled, plain, traced_s, n_traced = [], set(), [], 0.0, 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds:
        # the same op untraced and traced, in alternating order
        for traced in ((False, True) if i % 2 else (True, False)):
            op = wl.round(i)
            if not traced:
                plain.append(runner.run(i, op)[1])
                continue
            out, _ = runner.run(i, replace(op, run=lambda: wl.traced(tracer, op), check=lambda r: op.check(r[1])))
            if out is None:
                continue
            root, result = out
            snap = reader.snapshot()
            records, bad = wl.layers(tracer, root, snap, op, result, cores)
            attach_scopes(tracer, root, snap)
            root.attrs.update(kind=op.kind, rows=op.rows, unreconciled=bad)
            per_op += records
            n_traced += 1
            unreconciled.update(bad)
            traced_s += sum(s.seconds for s in tracer.subtree(root) if s.name == "run")
        i += 1
    metrics = medians(per_op)
    # The driver JVM's peak RSS swings by a third between runs (heap growth
    # follows GC timing), too wide to gate end to end: it is reported here.
    metrics["runtime.peak_rss_mb"] = _peak_rss_mb(spark)
    metrics["runtime.cold_op_s"] = cold_op_s
    metrics["runtime.op_wall_s"] = statistics.median(plain)
    metrics["trace_overhead_ratio"] = traced_s / sum(plain)
    metrics["trace.unreconciled"] = len(unreconciled)
    declared = _declared()[1]
    not_run = sorted(n for n in declared if n not in metrics)
    metrics.update({n: 0.0 for n in not_run})
    path = os.path.join(WORK, "traces", f"{wl.name}-{args.size}-seed{args.seed}.json")
    tracer.write(path, {
        "workload": wl.name, "seed": args.seed, "size": args.size, "cores": cores,
        "spark_version": spark.version, "per_layer": metrics, "unreconciled": sorted(unreconciled),
        "layers_not_run": not_run,
    })
    text = [
        f"traced pass: {n_traced} traced ops interleaved with as many untraced ones; spans in {path}",
        f"layers not run on this workload (reported as 0): {', '.join(not_run) or 'none'}",
        "metrics that do not reconcile with task or wall time (not to be read as fact): "
        + (", ".join(sorted(unreconciled)) or "none"),
    ]
    return metrics, text


if __name__ == "__main__":
    sys.exit(main())
