"""Read Spark's own job, stage and SQL-operator metrics over py4j.

Everything here reads the driver's in-memory status stores; it launches no
Spark job and needs neither the web UI nor its REST API:

* ``AppStatusStore`` (``sc._jsc.sc().statusStore()``): jobs with their job
  group, and stages with task run/CPU/GC time, shuffle, spill and peak
  execution memory;
* ``SQLAppStatusStore`` (``spark._jsparkSession.sharedState().statusStore()``):
  per SQL execution the physical plan graph and the accumulated value of
  every operator metric.

Status stores are fed by the asynchronous listener bus, so
:meth:`SparkMetricsReader.snapshot` drains the bus first. Jobs are attributed
to their caller by job group: a broadcast job inherits the group of the
thread whose query launched it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?(?![\w.])")


def parse_metric_stats(text: str) -> tuple[float, ...] | None:
    """Parse one formatted SQL metric value.

    Plain sums print as ``"1,234"`` and give ``(total,)``. Size and timing
    metrics print as ``"total (min, med, max (stageId: taskId))\\n4.1 s (…)"``
    and give ``(total, min, median, max)``. Average metrics print only
    ``"(min, med, max …)"``, have no total and give None. Sizes come back in
    bytes, timings in milliseconds.
    """
    if text.startswith("("):
        return None
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    # drop the "(stage 7.0: task 18)" suffix: its numbers are ids, not values
    line = re.sub(r"\(stage [^)]*\)", "", line)
    found = _VALUE.findall(line)
    if not found:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    return tuple(_scaled(num, unit) for num, unit in found[:4])


def _scaled(num: str, unit: str) -> float:
    value = float(num.replace(",", ""))
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


@dataclass
class StageMetrics:
    stage_id: int
    num_tasks: int
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    shuffle_fetch_wait_ms: float
    spill_bytes: int
    peak_mem_bytes: int
    submit_ms: float | None
    end_ms: float | None


@dataclass
class SqlNode:
    name: str
    desc: str
    # metric name -> (total,) or (total, min, median, max) over tasks/partitions
    stats: dict[str, tuple[float, ...]]

    def metric(self, name: str) -> float:
        return self.stats[name][0] if name in self.stats else 0.0


@dataclass
class SqlExecution:
    execution_id: int
    submit_ms: float
    end_ms: float | None
    job_ids: list[int]
    nodes: list[SqlNode]


@dataclass
class Snapshot:
    """Jobs, stages and SQL executions newer than the previous snapshot."""

    job_group: dict[int, str | None] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stages: dict[int, StageMetrics] = field(default_factory=dict)
    executions: list[SqlExecution] = field(default_factory=list)

    def jobs_in(self, groups: set[str]) -> list[int]:
        return [j for j, g in self.job_group.items() if g in groups]

    def stages_of(self, job_ids) -> list[StageMetrics]:
        ids = {s for j in job_ids for s in self.job_stages.get(j, ())}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def executions_of(self, job_ids) -> list[SqlExecution]:
        jobs = set(job_ids)
        return [e for e in self.executions if jobs.intersection(e.job_ids)]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class SparkMetricsReader:
    """Incremental reader: each :meth:`snapshot` returns only what finished
    since the previous one, so a long run does not re-read old entries."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._jvm = jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self._seen_exec: set[int] = set()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def snapshot(self) -> Snapshot:
        self._sc.listenerBus().waitUntilEmpty()
        snap = Snapshot()
        for j in self._list(self._app.jobsList(None)):
            jid = j.jobId()
            if jid in self._seen_jobs or str(j.status()) == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            snap.job_group[jid] = _opt(j.jobGroup())
            snap.job_stages[jid] = [int(s) for s in self._list(j.stageIds())]
        gateway = self._spark.sparkContext._gateway
        stages = self._app.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            gateway.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList(),
        )
        for s in self._list(stages):
            sid = s.stageId()
            if sid in self._seen_stages or str(s.status()) not in ("COMPLETE", "FAILED", "SKIPPED"):
                continue
            self._seen_stages.add(sid)
            sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
            snap.stages[sid] = StageMetrics(
                stage_id=sid,
                num_tasks=s.numTasks(),
                run_ms=float(s.executorRunTime()),
                cpu_ms=s.executorCpuTime() / 1e6,
                gc_ms=float(s.jvmGcTime()),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_fetch_wait_ms=float(s.shuffleFetchWaitTime()),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                peak_mem_bytes=s.peakExecutionMemory(),
                submit_ms=float(sub.getTime()) if sub is not None else None,
                end_ms=float(done.getTime()) if done is not None else None,
            )
        for e in self._list(self._sql.executionsList()):
            eid = e.executionId()
            done = _opt(e.completionTime())
            if eid in self._seen_exec or done is None:
                continue
            self._seen_exec.add(eid)
            snap.executions.append(self._execution(e, eid, float(done.getTime())))
        return snap

    def _execution(self, e, eid: int, end_ms: float) -> SqlExecution:
        values = self._sql.executionMetrics(eid)
        values = {int(k): v for k, v in dict(self._conv.asJava(values)).items()}
        nodes = []
        for n in self._list(self._sql.planGraph(eid).allNodes()):
            stats = {}
            for m in self._list(n.metrics()):
                text = values.get(m.accumulatorId())
                parsed = parse_metric_stats(text) if text is not None else None
                if parsed is not None:
                    stats[m.name()] = parsed
            nodes.append(SqlNode(n.name(), n.desc(), stats))
        jobs = [int(j) for j in dict(self._conv.asJava(e.jobs()))]
        return SqlExecution(eid, float(e.submissionTime()), end_ms, jobs, nodes)
