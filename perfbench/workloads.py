"""Seeded inputs, operations and output checks of the benchmark's workloads.

An *op* is one unit of work a caller waits for: one ``run_pipeline`` call, or
one codec round trip. Each op returns the number of input rows it consumed
and the result its check needs; checks run outside the op's timing.

Inputs are generated from the seed into ``<work>/data/<workload>/<size>/
seed<n>/`` and reused when the same (workload, size, seed) runs again.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otel_arrow_spark.operators.enrich import enrich
from otel_arrow_spark.operators.logs_star import (
    LogsStarSpec,
    decode_logs_star,
    encode_logs_star,
)
from otel_arrow_spark.operators.parse import parse_transcripts
from otel_arrow_spark.operators.route import SIGNAL_CLASSES, with_signal_class
from otel_arrow_spark.plans.pipeline import SINK_COLUMNS, PipelineConfig, run_pipeline
from otel_arrow_spark.sources import otlp_json
from otel_arrow_spark.sources.syslog import generate_syslog_lines, parse_syslog
from otel_arrow_spark.sources.transcripts import write_transcripts_parquet
from otel_arrow_spark.textops.dedup import ensure_parallelism

# Input sizes. "full" is what the benchmark measures, sized so that one run
# (fresh JVM, cold op, warm-up, a 12 s timed pass) takes about a minute on a
# 4-core host. "tiny" only exercises the code paths (self-test).
SIZES = {
    "full": {"bulk_turns": 200_000, "otlp_records": 15_000, "syslog_lines": 25_000},
    "tiny": {"bulk_turns": 3_000, "otlp_records": 500, "syslog_lines": 500},
}

# Seeds feed numpy.random.RandomState, which takes 0 <= seed < 2**32.
MAX_SEED = 2**32

_KEEP_SEEDS = 3  # cached input sets kept per (workload, size)
PROBE_REPEATS = 3


@dataclass
class Op:
    """One operation: ``run()`` does the timed work and returns the result
    that ``check(result)`` verifies (returning error strings)."""

    kind: str
    rows: int
    source: str  # input path
    run: Callable[[], object]
    check: Callable[[object], list[str]]
    cleanup: Callable[[], None] = lambda: None


# --- input generation --------------------------------------------------------


def _evict_old(parent: str, keep: str) -> None:
    """Bound disk use: keep the newest cached seed directories only."""
    dirs = [os.path.join(parent, d) for d in os.listdir(parent)]
    dirs = sorted((d for d in dirs if d != keep), key=os.path.getmtime, reverse=True)
    for d in dirs[_KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def seed_dir(work: str, workload: str, size: str, seed: int) -> str:
    parent = os.path.join(work, "data", workload, size)
    path = os.path.join(parent, f"seed{seed}")
    os.makedirs(path, exist_ok=True)
    os.utime(path)
    _evict_old(parent, path)
    return path


def routing_oracle(input_dir: str) -> dict:
    """Per-class row counts from an independent DuckDB re-derivation of
    ``signal_class`` (the CASE and regexes of the repository's routing
    oracle test), plus the input row count."""
    rows = duckdb.sql(
        f"""
        SELECT CASE
            WHEN regexp_extract(text, '^(ERROR|FATAL) \\[', 1) <> '' THEN 'error'
            WHEN regexp_extract(text, '^(WARN) \\[', 1) <> '' THEN 'warn'
            WHEN regexp_matches(text, '^CALL tool=\\w+ args_len=\\d+ status=\\w+ dur_ms=\\d+$') THEN 'tool_call'
            WHEN regexp_matches(text, '^span trace=[0-9a-f]{{32}} span=[0-9a-f]{{16}} event=\\w+\\.\\w+$') THEN 'span'
            ELSE 'chat' END AS signal_class,
            count(*) AS n
        FROM read_parquet('{input_dir}/*.parquet')
        GROUP BY 1
        """
    ).fetchall()
    classes = {c: int(n) for c, n in rows}
    return {"rows": sum(classes.values()), "classes": classes}


def transcripts_input(path: str, n_turns: int, seed: int) -> tuple[str, dict]:
    """Generate (once) a seeded transcript table and its routing oracle."""
    write_transcripts_parquet(path, n_turns, seed=seed)
    oracle_path = os.path.join(path, "_oracle.json")
    if not os.path.exists(oracle_path):
        with open(oracle_path, "w") as f:
            json.dump(routing_oracle(path), f)
    with open(oracle_path) as f:
        return path, json.load(f)


def _write_corpus(path: str, key: str, column: str, values: list[str]) -> None:
    """One file, one row group: the single-split corpus shape that
    ``ensure_parallelism`` exists for."""
    tmp = path + ".tmp"
    pq.write_table(pa.table({key: list(range(len(values))), column: values}), tmp)
    os.replace(tmp, path)


# --- pipeline ----------------------------------------------------------------


def _nonzero(d: dict) -> dict:
    return {k: int(v) for k, v in d.items() if v}


def check_pipeline(manifest: dict, out_dir: str, oracle: dict) -> list[str]:
    """Routed counts (manifest and the sink files) equal the oracle; every
    input row is routed exactly once and counted once by the aggregates."""
    errors = []
    m = manifest["metrics"]
    routed = _nonzero({c: m.get(f"routed_{c}", 0) for c in SIGNAL_CLASSES})
    want = _nonzero(oracle["classes"])
    if routed != want:
        errors.append(f"manifest routed counts {routed} != oracle {want}")
    if sum(routed.values()) != m["rows_in"] or m["rows_in"] != oracle["rows"]:
        errors.append(f"sum(routed)={sum(routed.values())} rows_in={m['rows_in']} generated={oracle['rows']}")
    con = duckdb.connect()
    try:
        sink = dict(con.sql(
            f"SELECT signal_class, count(*) FROM read_parquet('{out_dir}/routed/*/*.parquet',"
            " hive_partitioning=true) GROUP BY 1"
        ).fetchall())
        agg_total = con.sql(
            f"SELECT sum(n_turns) FROM read_parquet('{out_dir}/agg/*/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()
    if _nonzero(sink) != want:
        errors.append(f"routed sink rows {_nonzero(sink)} != oracle {want}")
    if agg_total != m["rows_in"]:
        errors.append(f"sum(agg n_turns)={agg_total} != rows_in={m['rows_in']}")
    return errors


def drop_one_routed_row(out_dir: str) -> None:
    """Fault injection for the self-test: rewrite one routed sink file
    without its last row."""
    routed = os.path.join(out_dir, "routed")
    for cls in sorted(os.listdir(routed)):
        part = os.path.join(routed, cls)
        files = sorted(f for f in os.listdir(part) if f.endswith(".parquet")) if os.path.isdir(part) else []
        for name in files:
            path = os.path.join(part, name)
            table = pq.read_table(path)
            if table.num_rows:
                pq.write_table(table.slice(0, table.num_rows - 1), path)
                return


def pipeline_op(spark: SparkSession, kind: str, input_dir: str, oracle: dict, out_dir: str,
                corrupt: bool) -> Op:
    def run():
        shutil.rmtree(out_dir, ignore_errors=True)
        return run_pipeline(spark, PipelineConfig(input_path=input_dir, output_dir=out_dir)).manifest

    def check(manifest):
        if corrupt:
            drop_one_routed_row(out_dir)
        return check_pipeline(manifest, out_dir, oracle)

    return Op(kind, oracle["rows"], input_dir, run, check, lambda: shutil.rmtree(out_dir, ignore_errors=True))


def pipeline_prefixes(spark: SparkSession, input_dir: str) -> list[tuple[str, Callable[[], DataFrame]]]:
    """The layers of ``build_routed`` as cumulative plan builders, in order:
    each entry adds one public layer call to the previous plan."""
    steps: dict[str, DataFrame] = {}

    def scan():
        steps["scan"] = spark.read.parquet(input_dir)
        return steps["scan"]

    def parse():
        steps["parse"] = parse_transcripts(steps["scan"])
        return steps["parse"]

    def enrich_():
        steps["enrich"] = enrich(steps["parse"], spark)
        return steps["enrich"]

    def route():
        return with_signal_class(steps["enrich"]).select(*SINK_COLUMNS)

    return [("scan", scan), ("parse", parse), ("enrich", enrich_), ("route", route)]


# --- codecs ------------------------------------------------------------------


def checksum(df: DataFrame) -> tuple[int, int]:
    """(row count, Σ xxhash64 over all columns) in one action that consumes
    every column. The sum runs as decimal(38,0) because a bigint sum
    overflows under ANSI mode; MAP columns (which xxhash64 rejects) hash
    their sorted entries."""
    cols = [
        F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


@dataclass
class Codec:
    """One OTLP/JSON signal. A round trip must reproduce every column of the
    single decode exactly (a superset of what the repository's driver
    queries q_otlp_*_roundtrip compare)."""

    signal: str
    generate: Callable[[int, int], list[str]]
    decode: Callable[[DataFrame], DataFrame]
    encode: Callable[[DataFrame], DataFrame]


OTLP_CODECS = [
    Codec("logs", otlp_json.generate_otlp_json_requests, otlp_json.parse_otlp_json, otlp_json.encode_otlp_json),
    Codec("traces", otlp_json.generate_otlp_json_trace_requests, otlp_json.parse_otlp_traces_json,
          otlp_json.encode_otlp_traces_json),
    Codec("metrics", otlp_json.generate_otlp_json_metric_requests, otlp_json.parse_otlp_metrics_json,
          otlp_json.encode_otlp_metrics_json),
]

SYSLOG_SPEC = LogsStarSpec(
    key_cols=("line_no",),
    ts_col="line_no",
    body_col="message",
    severity_text_col="severity_text",
    severity_number_col="severity_number",
    trace_id_col=None,
    span_id_col=None,
    attr_cols=("hostname", "app_name", "proc_id"),
    resource_cols=("facility",),
    scope_cols=("format",),
)
_SYSLOG_COLS = (
    "line_no", "message", "severity_text", "severity_number",
    "hostname", "app_name", "proc_id", "facility", "format",
)


def syslog_parsed(lines: DataFrame) -> DataFrame:
    return parse_syslog(lines).where(F.col("format") != "unknown").select(*_SYSLOG_COLS)


def syslog_view(df: DataFrame) -> DataFrame:
    """Star decode returns the key as ``ts`` and attributes as strings: compare
    every field as a string."""
    if "line_no" not in df.columns:
        df = df.withColumnRenamed("ts", "line_no")
    return df.select(*[F.col(c).cast("string").alias(c) for c in _SYSLOG_COLS])


def otlp_path(data: str, codec: Codec, n: int, seed: int) -> str:
    path = os.path.join(data, f"otlp_{codec.signal}.parquet")
    if not os.path.exists(path):
        _write_corpus(path, "req_no", "payload", codec.generate(n, seed))
    return path


def syslog_path(data: str, n: int, seed: int) -> str:
    path = os.path.join(data, "syslog.parquet")
    if not os.path.exists(path):
        _write_corpus(path, "line_no", "line", generate_syslog_lines(n, seed))
    return path


def _expect(reference: Callable[[], tuple[int, int]]) -> Callable[[tuple[int, int]], list[str]]:
    def check(got):
        want = reference()
        return [] if got == want else [f"round-trip checksum {got} != single decode {want}"]
    return check


def otlp_op(spark: SparkSession, codec: Codec, path: str, rows: int,
            reference: Callable[[], tuple[int, int]]) -> Op:
    def run():
        payloads = ensure_parallelism(spark.read.parquet(path))
        return checksum(codec.decode(codec.encode(codec.decode(payloads))))

    return Op(f"otlp_json.{codec.signal}", rows, path, run, _expect(reference))


def otlp_reference(spark: SparkSession, codec: Codec, path: str) -> tuple[int, int]:
    return checksum(codec.decode(ensure_parallelism(spark.read.parquet(path))))


def syslog_op(spark: SparkSession, path: str, rows: int, reference: Callable[[], tuple[int, int]]) -> Op:
    def run():
        # The parsed frame feeds all four star tables; persisting it keeps the
        # parse UDF to one pass, as the driver's syslog_star query does with a
        # checkpoint. Released before the op returns.
        parsed = syslog_parsed(ensure_parallelism(spark.read.parquet(path))).persist()
        try:
            return checksum(syslog_view(decode_logs_star(encode_logs_star(parsed, SYSLOG_SPEC), SYSLOG_SPEC)))
        finally:
            parsed.unpersist(blocking=True)

    return Op("syslog", rows, path, run, _expect(reference))


def syslog_reference(spark: SparkSession, path: str) -> tuple[int, int]:
    return checksum(syslog_view(syslog_parsed(ensure_parallelism(spark.read.parquet(path)))))


def round_op(trips: list[Op]) -> Op:
    """One op that runs every codec round trip in turn."""

    def run():
        return {t.kind: t.run() for t in trips}

    def check(out):
        return [e for t in trips for e in t.check(out[t.kind])]

    return Op("codec_round", sum(t.rows for t in trips), "", run, check)


def noop(df: DataFrame) -> None:
    """Consume every row and column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


# --- workloads -----------------------------------------------------------------


class PipelineWorkload:
    """``run_pipeline`` ops over one seeded transcript input; each op writes
    its own output directory, removed once checked."""

    name = "pipeline_bulk"
    # the JIT keeps speeding ops up after the cold one; after one warm op the
    # curve is nearly flat, and the median drops the slower first timed op
    n_warm = 1
    n_kinds = 1

    def __init__(self, work: str, size: str, seed: int, corrupt: bool):
        self.work, self.corrupt = work, corrupt
        data = seed_dir(work, self.name, size, seed)
        self.input = transcripts_input(os.path.join(data, "in"), SIZES[size]["bulk_turns"], seed)

    def bind(self, spark: SparkSession) -> None:
        self.spark = spark

    def prepare(self) -> None:
        """Nothing to compute with Spark: the oracle is DuckDB's."""

    def op(self, i: int) -> Op:
        input_dir, oracle = self.input
        out_dir = os.path.join(self.work, "out", f"{self.name}-op{i}")
        return pipeline_op(self.spark, "pipeline", input_dir, oracle, out_dir, self.corrupt)

    round = op  # one op is one round

    def traced(self, tracer, op: Op):
        with tracer.span(f"op:{op.kind}") as root:
            plans = []
            for name, build in pipeline_prefixes(self.spark, op.source):
                with tracer.span(f"plan:{name}"):
                    plans.append((name, build()))
            with tracer.span("run"):
                result = op.run()
            # self times are differences of prefix times, so each prefix runs
            # PROBE_REPEATS times and the layers use the median
            for rep in range(PROBE_REPEATS):
                for name, df in plans:
                    with tracer.span(f"probe:{name}", repeat=rep):
                        noop(df)
        return root, result

    def layers(self, tracer, root, snap, op: Op, result, cores: int):
        from tracing import pipeline_layers

        layers, bad = pipeline_layers(tracer, root, snap, result, cores)
        return [layers], bad


class CodecWorkload:
    """Each op is one round trip through one codec, in turn: OTLP/JSON logs,
    traces and metrics (decode, encode, decode), then syslog lines (parse,
    star encode, star decode). A round is one op of each codec; the cold op
    and the traced ops are whole rounds."""

    name = "codec_roundtrip"
    n_warm = 0  # the cold round has already run every codec once
    n_kinds = len(OTLP_CODECS) + 1  # and syslog

    def __init__(self, work: str, size: str, seed: int, corrupt: bool):
        data = seed_dir(work, self.name, size, seed)
        self.n = SIZES[size]["otlp_records"]
        self.n_lines = SIZES[size]["syslog_lines"]
        self.paths = {c.signal: otlp_path(data, c, self.n, seed) for c in OTLP_CODECS}
        self.syslog = syslog_path(data, self.n_lines, seed)
        self.refs: dict[str, tuple[int, int]] = {}

    def bind(self, spark: SparkSession) -> None:
        self.spark = spark

    def prepare(self) -> None:
        """Single-decode checksums, the reference every round trip must match."""
        for c in OTLP_CODECS:
            self.refs[c.signal] = otlp_reference(self.spark, c, self.paths[c.signal])
        self.refs["syslog"] = syslog_reference(self.spark, self.syslog)

    def trips(self) -> list[Op]:
        trips = [otlp_op(self.spark, c, self.paths[c.signal], self.n, lambda c=c: self.refs[c.signal])
                 for c in OTLP_CODECS]
        return trips + [syslog_op(self.spark, self.syslog, self.n_lines, lambda: self.refs["syslog"])]

    def op(self, i: int) -> Op:
        trips = self.trips()
        return trips[(i - 1) % len(trips)]

    def round(self, i: int) -> Op:
        return round_op(self.trips())

    def traced(self, tracer, op: Op):
        with tracer.span(f"op:{op.kind}") as root:
            result = {}
            for trip in self.trips():
                with tracer.span(f"codec:{trip.kind}"):
                    result[trip.kind] = self._traced_trip(tracer, trip)
        return root, result

    def _traced_trip(self, tracer, trip: Op):
        spark = self.spark
        with tracer.span("plan:scan"):
            source = ensure_parallelism(spark.read.parquet(trip.source))
        if trip.kind == "syslog":
            with tracer.span("plan:parse"):
                parsed = syslog_parsed(source)
            with tracer.span("plan:encode"):
                tables = encode_logs_star(parsed, SYSLOG_SPEC)
            with tracer.span("plan:decode"):
                decode_logs_star(tables, SYSLOG_SPEC)
            with tracer.span("run"):
                result = trip.run()
            # each probe materializes one layer's output from the previous
            # layer's materialized output, so its span is that layer alone
            held = [parsed.persist()]
            try:
                with tracer.span("probe:parse"):
                    noop(held[0])
                with tracer.span("probe:encode"):
                    tables = {k: t.persist() for k, t in encode_logs_star(held[0], SYSLOG_SPEC).items()}
                    held += tables.values()
                    for t in tables.values():
                        noop(t)
                with tracer.span("probe:decode"):
                    noop(decode_logs_star(tables, SYSLOG_SPEC))
            finally:
                for df in held:
                    df.unpersist(blocking=True)
            return result
        c = next(c for c in OTLP_CODECS if trip.kind == f"otlp_json.{c.signal}")
        with tracer.span("plan:decode"):
            decoded = c.decode(source)
        with tracer.span("plan:encode"):
            encoded = c.encode(decoded)
        with tracer.span("plan:decode_again"):
            c.decode(encoded)
        with tracer.span("run"):
            result = trip.run()
        with tracer.span("probe:decode"):
            noop(decoded)
        with tracer.span("probe:encode"):
            noop(encoded)
        return result

    def layers(self, tracer, root, snap, op: Op, result, cores: int):
        """One per-layer record per codec round trip."""
        from tracing import codec_layers

        rows = {t.kind: t.rows for t in self.trips()}
        records, bad = [], []
        for span in tracer.spans:
            if span.parent_id == root.span_id and span.name.startswith("codec:"):
                kind = span.name.split(":", 1)[1]
                layers, b = codec_layers(tracer, span, snap, kind, rows[kind], cores)
                records.append(layers)
                bad += b
        return records, bad


WORKLOADS = {w.name: w for w in (PipelineWorkload, CodecWorkload)}
