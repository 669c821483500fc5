"""Parse stage: structured extraction from the raw ``text`` column.

Reference analog: the syslog/CEF receiver's structural parser — format
auto-detection (parser/mod.rs:46-104), severity mapping
(parser/parsed_message.rs:426-436), CEF key=value extension parsing
(parser/cef.rs:226-260) — which turns raw bytes directly into typed,
dictionary-encoded Arrow columns (arrow_records_encoder.rs:18-81).

Two interchangeable engines with identical output schema:

* ``engine="pandas"`` (default) — one Arrow-batched ``pandas_udf`` applying
  compiled regexes with ``Series.str.extract``. Measured 4x faster than the
  native path at 2M rows: the Arrow eval node is a materialization barrier,
  so each regex runs exactly once per row, and all ten fields come out of
  one pass. Also the extension point for grok patterns Java regex can't
  express. (Vectorized per the input_hint mandate — never per-row Python.)
* ``engine="native"`` — pure Catalyst expressions (rlike validation +
  split/str_to_map extraction), whole-stage codegen, zero Python workers.
  Faster for small batches (no worker spin-up) and for plans where the
  parse predicate should push down; slower when many downstream references
  cause CollapseProject to re-inline the parse expressions.

Unparseable rows (the ~5% chaos fraction) yield all-null parsed fields and
``is_parsed = false`` — the analog of UnknownFormat handling
(parser/mod.rs:41-43); they are *kept* and routed to the default sink,
and counted as ``rows_unparsed`` in the lineage manifest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Template-family regexes (anchored; Java and Python `re` compatible).
SEVERITY_RE = r"^(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \[([a-z]+)\] ([\s\S]*)$"
CALL_RE = r"^CALL tool=(\w+) args_len=(\d+) status=(\w+) dur_ms=(\d+)$"
SPAN_RE = r"^span trace=([0-9a-f]{32}) span=([0-9a-f]{16}) event=(\w+\.\w+)$"

# RE2 twins of the three family regexes for the vectorized pandas engine
# (pyarrow.compute.extract_regex needs named groups). Two deliberate
# dialect notes, both keeping today's observable behavior:
# * RE2's `$` matches only at end-of-text, while Python/Java `$` also
#   matches before ONE trailing newline — `\n?$` restores that; the
#   severity family needs nothing because `([\s\S]*)$` already swallows
#   any trailing newline into the capture in every dialect.
# * RE2's \w/\d are ASCII — the same as Java's in the native engine (and
#   DuckDB's RE2 in the oracles); Python's re was unicode-aware here,
#   a difference no corpus and no parity fuzz exercises.
_SEVERITY_RE2 = (
    r"^(?P<severity_text>TRACE|DEBUG|INFO|WARN|ERROR|FATAL)"
    r" \[(?P<component>[a-z]+)\] (?P<message>[\s\S]*)$"
)
_CALL_RE2 = (
    r"^CALL tool=(?P<tool_called>\w+) args_len=(?P<args_len>\d+)"
    r" status=(?P<call_status>\w+) dur_ms=(?P<duration_ms>\d+)\n?$"
)
_SPAN_RE2 = (
    r"^span trace=(?P<trace_id>[0-9a-f]{32}) span=(?P<span_id>[0-9a-f]{16})"
    r" event=(?P<event_name>\w+\.\w+)\n?$"
)

# OTel Appendix-B severity numbers, as used by the reference's severity map
# (parser/parsed_message.rs:426-436).
SEVERITY_NUMBER = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}

PARSED_FIELDS: list[tuple[str, T.DataType]] = [
    ("severity_text", T.StringType()),
    ("component", T.StringType()),
    ("message", T.StringType()),
    ("tool_called", T.StringType()),
    ("args_len", T.IntegerType()),
    ("call_status", T.StringType()),
    ("duration_ms", T.IntegerType()),
    ("trace_id", T.StringType()),
    ("span_id", T.StringType()),
    ("event_name", T.StringType()),
]

_PARSED_STRUCT = T.StructType([T.StructField(n, t) for n, t in PARSED_FIELDS])


def severity_number_col(severity_text: Column) -> Column:
    """Severity text → OTel number via a literal-map lookup (JVM-side).

    Mirrors parsed_message.rs:426-436. Uses element_at on a map literal so
    the mapping stays a single expression (no UDF, no join).
    """
    pairs: list[Column] = []
    for k, v in SEVERITY_NUMBER.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.element_at(F.create_map(*pairs), severity_text)


def _parse_native(df: DataFrame, text_col: str) -> DataFrame:
    """One anchored rlike per template family + cheap split/str_to_map field
    extraction.

    Why not ten regexp_extract calls: Catalyst's CollapseProject inlines a
    projected expression into every downstream reference, so a parsed field
    used by routing and is_parsed re-evaluates its regex each time — the
    measured cost was ~15 regex evaluations per row. Here each family costs
    exactly one full-validation regex match (boolean, no group capture),
    short-circuited behind a literal-prefix test, and the fields come from
    substring/split/str_to_map kernels that are an order of magnitude
    cheaper than Java regex capture.
    """
    t = F.col(text_col)

    # -- severity family: "<LEVEL> [component] message..."
    first = F.substring_index(t, " ", 1)
    is_sev = first.isin(*SEVERITY_NUMBER.keys()) & t.rlike(SEVERITY_RE)
    rest = F.expr(f"substring({text_col}, length(substring_index({text_col}, ' ', 1)) + 2)")
    comp = F.substring(F.substring_index(rest, "]", 1), 2, 1 << 30)
    msg = F.expr(
        f"substring({text_col}, length(substring_index({text_col}, ']', 1)) + 3)"
    )

    # -- tool-call family: "CALL tool=<w> args_len=<d> status=<w> dur_ms=<d>"
    is_call = t.startswith("CALL tool=") & t.rlike(CALL_RE)
    kv = F.str_to_map(F.substring(t, 6, 1 << 30), F.lit(" "), F.lit("="))

    # -- span family: "span trace=<32hex> span=<16hex> event=<w.w>"
    is_span = t.startswith("span trace=") & t.rlike(SPAN_RE)
    skv = F.str_to_map(F.substring(t, 6, 1 << 30), F.lit(" "), F.lit("="))

    return df.withColumns(
        {
            "severity_text": F.when(is_sev, first),
            "component": F.when(is_sev, comp),
            "message": F.when(is_sev, msg),
            "tool_called": F.when(is_call, kv["tool"]),
            "args_len": F.when(is_call, kv["args_len"].cast("int")),
            "call_status": F.when(is_call, kv["status"]),
            "duration_ms": F.when(is_call, kv["dur_ms"].cast("int")),
            "trace_id": F.when(is_span, skv["trace"]),
            "span_id": F.when(is_span, skv["span"]),
            "event_name": F.when(is_span, skv["event"]),
        }
    )


def _parse_pandas(df: DataFrame, text_col: str) -> DataFrame:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import pandas_udf

    # NOTE: hints must be real classes (not `from __future__ import
    # annotations` strings) for pandas_udf eval-type inference, so the
    # wrapped function is defined via exec-free local binding here.
    # The whole batch is handed to Arrow's RE2 kernels (guide §4.2: do
    # the heavy lifting in native code inside the UDF): one anchored
    # extract_regex per template family over the full batch — RE2 rejects
    # non-candidates at the anchored literal prefix in O(1), so no
    # pre-gating pass is needed, and matching runs vectorized in C++
    # instead of Python's re object-per-row loop (measured ~3x on the
    # parse stage at 2M rows). Null/absent fields come back as null
    # struct slots → all-null parsed fields, identical semantics.

    def _parse_batch(text):
        # type= pins string for all-null batches (from_pandas would infer
        # the null type and fill_null("") could not cast)
        arr = pc.fill_null(pa.Array.from_pandas(text, type=pa.string()), "")
        sev = pc.extract_regex(arr, _SEVERITY_RE2)
        call = pc.extract_regex(arr, _CALL_RE2)
        span = pc.extract_regex(arr, _SPAN_RE2)
        i32 = pa.int32()
        out = pa.table(
            {
                "severity_text": pc.struct_field(sev, "severity_text"),
                "component": pc.struct_field(sev, "component"),
                "message": pc.struct_field(sev, "message"),
                "tool_called": pc.struct_field(call, "tool_called"),
                "args_len": pc.cast(pc.struct_field(call, "args_len"), i32),
                "call_status": pc.struct_field(call, "call_status"),
                "duration_ms": pc.cast(
                    pc.struct_field(call, "duration_ms"), i32
                ),
                "trace_id": pc.struct_field(span, "trace_id"),
                "span_id": pc.struct_field(span, "span_id"),
                "event_name": pc.struct_field(span, "event_name"),
            }
        ).to_pandas()
        for c in ("args_len", "duration_ms"):
            out[c] = out[c].astype("Int32")
        return out

    _parse_batch.__annotations__ = {"text": pd.Series, "return": pd.DataFrame}
    parse_udf = pandas_udf(_PARSED_STRUCT)(_parse_batch)

    parsed = df.withColumn("_parsed", parse_udf(F.col(text_col)))
    for name, _ in PARSED_FIELDS:
        parsed = parsed.withColumn(name, F.col(f"_parsed.{name}"))
    return parsed.drop("_parsed")


def parse_transcripts(df: DataFrame, text_col: str = "text", engine: str = "pandas") -> DataFrame:
    """Extract structured signal fields from ``text``.

    Adds PARSED_FIELDS plus ``severity_number`` and ``is_parsed``. The input
    ``text`` column is retained untouched — the per-turn text-equality
    round-trip invariant (pdata/src/testing/round_trip.rs:112 analog) is
    checked against it downstream.
    """
    if engine == "native":
        out = _parse_native(df, text_col)
    elif engine == "pandas":
        out = _parse_pandas(df, text_col)
    else:
        raise ValueError(f"unknown parse engine: {engine!r}")
    out = out.withColumn("severity_number", severity_number_col(F.col("severity_text")))
    return out.withColumn(
        "is_parsed",
        F.col("severity_text").isNotNull()
        | F.col("tool_called").isNotNull()
        | F.col("trace_id").isNotNull(),
    )
