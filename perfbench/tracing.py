"""Spans recorded around the benchmark's calls into each layer, and the
per-layer metrics folded from them and from Spark's status stores.

A traced op has one root span; all spans of a run share one trace id. Each
span sets its own Spark job group while it is open, so every job (broadcast
jobs included) is attributed to the innermost span that launched it. Spans
stay in memory and are written to one JSON file when the run ends.

Layout of one traced op (``<kind>`` as in :mod:`workloads`)::

    op:<kind>
      plan:<layer>        driver time of one public layer call (plan build)
      run                 the op itself, exactly as the untraced loop runs it
        step:<name>       pipeline only: MANIFEST.json ``timings_sec`` steps
      probe:<prefix>      prefix plans written to the ``noop`` sink; a
                          layer's self time is the difference between
                          successive prefixes
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from sparkmetrics import Snapshot, SqlExecution, StageMetrics


@dataclass
class Span:
    name: str
    span_id: str
    parent_id: str | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, uuid.uuid4().hex[:16], parent.span_id if parent else None, time.time() * 1e3, attrs=attrs)
        self._stack.append(s)
        self.sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1e3
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.span_id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def add(self, name: str, parent: Span, start_ms: float, seconds: float, **attrs) -> Span:
        """A span known only from a duration reported by the program."""
        s = Span(name, uuid.uuid4().hex[:16], parent.span_id, start_ms, start_ms + seconds * 1e3, attrs)
        self.spans.append(s)
        return s

    def subtree(self, root: Span) -> list[Span]:
        ids, out = {root.span_id}, [root]
        for s in sorted(self.spans, key=lambda s: s.start_ms):
            if s.parent_id in ids and s is not root:
                ids.add(s.span_id)
                out.append(s)
        return out

    def children(self, root: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent_id == root.span_id and s.name == name]

    def child(self, root: Span, name: str) -> Span:
        return self.children(root, name)[0]

    def write(self, path: str, extra: dict) -> None:
        doc = {
            "trace_id": self.trace_id,
            **extra,
            "spans": [
                {"trace_id": self.trace_id, "span_id": s.span_id, "parent_id": s.parent_id, "name": s.name,
                 "start_unix_ms": round(s.start_ms, 3), "end_unix_ms": round(s.end_ms, 3),
                 "duration_s": round(s.seconds, 6), "attrs": s.attrs}
                for s in sorted(self.spans, key=lambda s: s.start_ms)
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True, default=str)


# --- folding Spark metrics into spans and layers -------------------------------


@dataclass
class Scope:
    """The Spark work launched inside one span (and its children)."""

    jobs: list[int]
    stages: list[StageMetrics]
    executions: list[SqlExecution]

    def nodes(self, name: str, executions=None):
        for e in self.executions if executions is None else executions:
            for n in e.nodes:
                if n.name.strip() == name:
                    yield n

    def total(self, node: str, metric: str, executions=None) -> float:
        return sum(n.metric(metric) for n in self.nodes(node, executions))

    @property
    def ran(self) -> list[StageMetrics]:
        return [s for s in self.stages if s.submit_ms is not None]

    def summary(self) -> dict:
        """Stage totals and summed SQL-operator metrics, as span attributes."""
        ran = self.ran
        sql: dict[str, dict[str, float]] = {}
        for e in self.executions:
            for n in e.nodes:
                node = sql.setdefault(n.name.strip(), {})
                for k, v in n.stats.items():
                    node[k] = node.get(k, 0.0) + v[0]
        return {
            "jobs": len(self.jobs),
            "stages": len(ran),
            "tasks": sum(s.num_tasks for s in ran),
            "task_run_ms": sum(s.run_ms for s in ran),
            "task_cpu_ms": round(sum(s.cpu_ms for s in ran), 3),
            "gc_ms": sum(s.gc_ms for s in ran),
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in ran),
            "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in ran),
            "shuffle_fetch_wait_ms": sum(s.shuffle_fetch_wait_ms for s in ran),
            "spill_bytes": sum(s.spill_bytes for s in ran),
            "peak_mem_bytes": max((s.peak_mem_bytes for s in ran), default=0),
            "sql_executions": [e.execution_id for e in self.executions],
            "sql_nodes": {k: v for k, v in sql.items() if v},
        }


def scope_of(tracer: Tracer, span: Span, snap: Snapshot) -> Scope:
    groups = {s.span_id for s in tracer.subtree(span)}
    jobs = snap.jobs_in(groups)
    return Scope(jobs, snap.stages_of(jobs), snap.executions_of(jobs))


def busy_ms(stages: list[StageMetrics], start_ms: float, end_ms: float) -> float:
    """Length of the union of stage run intervals, clipped to [start, end]."""
    spans = sorted(
        (max(s.submit_ms, start_ms), min(s.end_ms, end_ms))
        for s in stages if s.submit_ms is not None and s.end_ms is not None
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def runtime_metrics(scope: Scope, run: Span, cores: int) -> dict:
    ran = scope.ran
    wall = run.seconds
    task_run_s = sum(s.run_ms for s in ran) / 1e3
    busy = busy_ms(ran, run.start_ms, run.end_ms) / 1e3
    return {
        "runtime.jobs_per_op": len(scope.jobs),
        "runtime.stages_per_op": len(ran),
        "runtime.tasks_per_op": sum(s.num_tasks for s in ran),
        "runtime.task_run_s": task_run_s,
        "runtime.task_cpu_s": sum(s.cpu_ms for s in ran) / 1e3,
        "runtime.gc_s": sum(s.gc_ms for s in ran) / 1e3,
        "runtime.core_busy_ratio": task_run_s / (wall * cores) if wall > 0 else 0.0,
        "runtime.driver_gap_s": max(wall - busy, 0.0),
    }


def _write_exec(scope: Scope, sink: str) -> SqlExecution | None:
    for e in scope.executions:
        for n in e.nodes:
            if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand") and f"/{sink}," in n.desc:
                return e
    return None


def _repartitions(scope: Scope) -> list[int]:
    """Target partition counts of round-robin repartition exchanges."""
    out = []
    for n in scope.nodes("Exchange"):
        if "RoundRobinPartitioning(" in n.desc:
            out.append(int(n.desc.split("RoundRobinPartitioning(", 1)[1].split(")", 1)[0]))
    return out


def scan_metrics(scope: Scope, snap: Snapshot, execution: SqlExecution | None, rows: int) -> dict:
    """Scan and scan-parallelism metrics of the execution that reads the
    input. Its last job is the one that scans (earlier ones are broadcasts);
    the scan runs in that job's first stage."""
    if execution is None:
        return {}
    execs = [execution]
    main_stages = _stages_of_jobs(snap, {max(execution.job_ids)})
    first = min((s for s in scope.ran if s.stage_id in main_stages), key=lambda s: s.stage_id, default=None)
    tasks = first.num_tasks if first else 0
    parts = _repartitions(Scope(scope.jobs, scope.stages, execs))
    return {
        "scan.tasks": tasks,
        "scan.bytes": scope.total("Scan parquet", "size of files read", execs),
        "scan.time_ms": scope.total("Scan parquet", "scan time", execs),
        "scanmeta.repartitions": len(parts),
        "scanmeta.rows_per_task": rows / (parts[0] if parts else max(tasks, 1)),
    }


def pipeline_layers(tracer: Tracer, root: Span, snap: Snapshot, manifest: dict, cores: int) -> tuple[dict, list[str]]:
    """Per-layer metrics of one traced ``run_pipeline`` op, plus the names of
    metrics that fail to reconcile with task time or wall time."""
    run = tracer.child(root, "run")
    scope = scope_of(tracer, run, snap)
    routed = _write_exec(scope, "routed")
    agg = _write_exec(scope, "agg")
    m, t = manifest["metrics"], manifest["timings_sec"]
    # MANIFEST steps become spans anchored at their write's SQL execution
    for name, e in (("routed_write", routed), ("agg_write", agg)):
        step = tracer.add(f"step:{name}", run, e.submit_ms if e else run.start_ms, t[name],
                          source="MANIFEST.json timings_sec")
        if e:
            step.attrs.update(Scope(e.job_ids, snap.stages_of(e.job_ids), [e]).summary())
    rx = [routed] if routed else []
    ax = [agg] if agg else []
    out = {
        **scan_metrics(scope, snap, routed, m["rows_in"]),
        "parse.python_run_ms": scope.total("ArrowEvalPython", "time to run Python workers", rx),
        "parse.python_start_ms": scope.total("ArrowEvalPython", "time to start Python workers", rx),
        "parse.python_init_ms": scope.total("ArrowEvalPython", "time to initialize Python workers", rx),
        "parse.bytes_to_python": scope.total("ArrowEvalPython", "data sent to Python workers", rx),
        "parse.bytes_from_python": scope.total("ArrowEvalPython", "data returned from Python workers", rx),
        "parse.parsed_ratio": m["rows_parsed"] / m["rows_in"] if m["rows_in"] else 0.0,
        "enrich.dict_jobs": len(routed.job_ids) - 1 if routed else 0,
        "enrich.broadcast_collect_ms": scope.total("BroadcastExchange", "time to collect", rx),
        "enrich.broadcast_build_ms": scope.total("BroadcastExchange", "time to build", rx),
        "enrich.broadcast_bytes": scope.total("BroadcastExchange", "data size", rx),
        **{f"route.rows.{c}": m.get(f"routed_{c}", 0) for c in ("error", "warn", "tool_call", "span", "chat")},
        "routed_write.s": t["routed_write"],
        "sort.time_ms": scope.total("Sort", "sort time", rx),
        "sort.spill_bytes": scope.total("Sort", "spill size", rx),
        "sort.peak_mem_bytes": scope.total("Sort", "peak memory", rx),
        "write.files": scope.total("Execute InsertIntoHadoopFsRelationCommand", "number of written files", rx),
        "write.bytes": scope.total("Execute InsertIntoHadoopFsRelationCommand", "written output", rx),
        "write.task_commit_ms": scope.total("Execute InsertIntoHadoopFsRelationCommand", "task commit time", rx),
        "write.job_commit_ms": scope.total("Execute InsertIntoHadoopFsRelationCommand", "job commit time", rx),
        "agg_write.s": t["agg_write"],
        **aggregate_metrics(scope, ax),
        **runtime_metrics(scope, run, cores),
    }
    sinks = sum(
        n.metric("written output") for e in rx + ax for n in e.nodes
        if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand")
    )
    out["sink_bytes_per_input_byte"] = sinks / out["scan.bytes"] if out.get("scan.bytes") else 0.0
    # prefix plans: scan, +parse, +enrich, +route
    prefix = {
        p: statistics.median(s.seconds for s in tracer.children(root, f"probe:{p}"))
        for p in ("scan", "parse", "enrich", "route")
    }
    out.update({
        "scan.prefix_s": prefix["scan"],
        "parse.self_s": prefix["parse"] - prefix["scan"],
        "enrich.self_s": prefix["enrich"] - prefix["parse"],
        "route.self_s": prefix["route"] - prefix["enrich"],
        "route.prefix_s": prefix["route"],
    })
    for layer in ("scan", "parse", "enrich", "route"):
        out[f"{layer}.plan_ms"] = tracer.child(root, f"plan:{layer}").seconds * 1e3
    out["trace.unaccounted_s"] = unaccounted_s(scope, snap, run, rx + ax, out["runtime.driver_gap_s"])

    task_ms = {
        "routed": sum(s.run_ms for s in scope.ran if s.stage_id in _stages_of_jobs(snap, set(routed.job_ids))) if routed else 0.0,
        "agg": sum(s.run_ms for s in scope.ran if s.stage_id in _stages_of_jobs(snap, set(agg.job_ids))) if agg else 0.0,
    }
    bad = [k for k in ("parse.python_run_ms", "parse.python_start_ms", "parse.python_init_ms",
                       "sort.time_ms", "scan.time_ms") if out[k] > task_ms["routed"]]
    bad += [k for k in ("shuffle.fetch_wait_ms",) if out[k] > task_ms["agg"]]
    if t["routed_write"] + t["agg_write"] > run.seconds:
        bad += ["routed_write.s", "agg_write.s"]
    if out["enrich.broadcast_collect_ms"] > t["routed_write"] * 1e3:
        bad.append("enrich.broadcast_collect_ms")
    if out["runtime.core_busy_ratio"] > 1.0:
        bad.append("runtime.core_busy_ratio")
    return out, bad


def unaccounted_s(scope: Scope, snap: Snapshot, run: Span, layer_execs: list[SqlExecution], gap_s: float) -> float:
    """An op's wall time less the stage-busy time of the SQL executions its
    layers ran and less the time no stage ran at all: what remains is busy
    time of other jobs (schema inference and the like)."""
    jobs = {j for e in layer_execs for j in e.job_ids}
    stages = _stages_of_jobs(snap, jobs)
    busy = busy_ms([s for s in scope.ran if s.stage_id in stages], run.start_ms, run.end_ms) / 1e3
    return run.seconds - busy - gap_s


def attach_scopes(tracer: Tracer, root: Span, snap: Snapshot) -> None:
    """Give every span of one op its Spark work, unless it already has it."""
    for s in tracer.subtree(root):
        if "jobs" not in s.attrs:
            s.attrs.update(scope_of(tracer, s, snap).summary())


def _stages_of_jobs(snap: Snapshot, jobs: set[int]) -> set[int]:
    return {s for j in jobs for s in snap.job_stages.get(j, ())}


def aggregate_metrics(scope: Scope, ax: list[SqlExecution]) -> dict:
    partial_out = sum(n.metric("number of output rows") for n in scope.nodes("HashAggregate", ax) if "partial_" in n.desc)
    agg_in = sum(n.metric("number of output rows") for n in scope.nodes("Scan parquet", ax))
    reads = [n.stats.get("partition data size") for n in scope.nodes("AQEShuffleRead", ax)]
    skews = [r[3] / r[2] for r in reads if r and len(r) == 4 and r[2] > 0]
    return {
        "agg.partial_ratio": partial_out / agg_in if agg_in else 0.0,
        "agg.spill_bytes": scope.total("HashAggregate", "spill size", ax),
        "shuffle.write_bytes": scope.total("Exchange", "shuffle bytes written", ax),
        "shuffle.records": scope.total("Exchange", "shuffle records written", ax),
        "shuffle.fetch_wait_ms": scope.total("Exchange", "fetch wait time", ax),
        "shuffle.skew": max(skews) if skews else 1.0,
    }


def codec_layers(tracer: Tracer, root: Span, snap: Snapshot, kind: str, rows: int, cores: int) -> tuple[dict, list[str]]:
    """Per-layer metrics of one traced codec round trip."""
    run = tracer.child(root, "run")
    scope = scope_of(tracer, run, snap)
    probes = {s.name.split(":", 1)[1]: s for s in tracer.spans if s.parent_id == root.span_id and s.name.startswith("probe:")}
    shuffle = {p: sum(st.shuffle_write_bytes for st in scope_of(tracer, s, snap).ran) for p, s in probes.items()}
    main = max(scope.executions, key=lambda e: len(e.nodes), default=None)
    out = {**scan_metrics(scope, snap, main, rows), **runtime_metrics(scope, run, cores)}
    plan_ms = sum(
        s.seconds for s in tracer.spans
        if s.parent_id == root.span_id and s.name.startswith("plan:") and s.name != "plan:scan"
    ) * 1e3
    if kind.startswith("otlp_json."):
        out.update({
            f"{kind}.plan_ms": plan_ms,
            f"{kind}.decode_s": probes["decode"].seconds,
            f"{kind}.encode_s": probes["encode"].seconds - probes["decode"].seconds,
            f"{kind}.encode_shuffle_bytes": shuffle["encode"] - shuffle["decode"],
        })
    else:
        out.update({
            "syslog.parse_s": probes["parse"].seconds,
            "logs_star.encode_s": probes["encode"].seconds,
            "logs_star.decode_s": probes["decode"].seconds,
            "logs_star.shuffle_bytes": shuffle["encode"] + shuffle["decode"],
        })
    bad = ["runtime.core_busy_ratio"] if out["runtime.core_busy_ratio"] > 1.0 else []
    out["trace.unaccounted_s"] = unaccounted_s(scope, snap, run, [main] if main else [], out["runtime.driver_gap_s"])
    return out, bad


def medians(per_op: list[dict]) -> dict:
    keys = sorted({k for d in per_op for k in d})
    return {k: statistics.median(d[k] for d in per_op if k in d) for k in keys}
