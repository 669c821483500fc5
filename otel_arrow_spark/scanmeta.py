"""Metadata-only probes over a DataFrame's file scan.

Shared by the partition-sizing helpers (``ensure_parallelism`` below,
textops.multimodal.media_repartition): everything here reads file-system
metadata and parquet footers only — no Spark job, no plan-to-RDD
conversion. Remote schemes (s3a/hdfs/abfs/…) stat through the session's
Hadoop FileSystem, so object-store inputs size correctly too.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame


def input_file_sizes(df: DataFrame) -> list[tuple[str, int]]:
    """(uri, bytes) for every input file of ``df``'s scan. Local ``file:``
    URIs stat via os; any other scheme stats via the Hadoop FileSystem
    (metadata RPC, no data read). Files that cannot be stat'ed are skipped.
    """
    out: list[tuple[str, int]] = []
    jvm = None
    hconf = None
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme in ("file", ""):
            path = unquote(parsed.path or uri)
            if os.path.exists(path):
                out.append((uri, os.path.getsize(path)))
            continue
        try:
            if jvm is None:
                spark = df.sparkSession
                jvm = spark._jvm
                hconf = spark._jsc.hadoopConfiguration()
            jpath = jvm.org.apache.hadoop.fs.Path(uri)
            fs = jpath.getFileSystem(hconf)
            out.append((uri, fs.getFileStatus(jpath).getLen()))
        except Exception:  # noqa: BLE001 — unreachable store: skip the file
            continue
    return out


def _bytes_conf(df: DataFrame, key: str, default: int) -> int:
    """Read a byte-sized Spark conf ('128m', '134217728b', …) as an int."""
    try:
        val = df.sparkSession.conf.get(key)
        return int(
            df.sparkSession._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(val)
        )
    except Exception:  # noqa: BLE001
        return default


def estimated_scan_tasks(df: DataFrame, parallelism: int) -> int | None:
    """Estimate how many non-empty tasks ``df``'s file scan will run,
    without building the RDD: Spark's own split sizing
    (``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    (totalBytes + files·openCost) / parallelism))``, FilePartition
    bin-packing) capped by the total parquet row-group count — a parquet
    split is non-empty only if a row-group midpoint falls inside it, so
    row groups bound usable parallelism no matter how the bytes split.

    Returns None for non-file relations (no input files).
    """
    sizes = input_file_sizes(df)
    if not sizes:
        return None
    open_cost = _bytes_conf(df, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    max_pb = _bytes_conf(df, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    total = sum(s for _, s in sizes) + open_cost * len(sizes)
    max_split = min(max_pb, max(open_cost, total // max(parallelism, 1)))
    byte_splits = max(1, -(-total // max(max_split, 1)))

    # parquet row groups cap non-empty tasks; footer reads are metadata-only
    # and early-exit once the byte estimate is confirmed reachable. The cap
    # applies only when every file is LOCAL parquet (footers readable) —
    # remote stores would undercount row groups and bind the cap falsely.
    row_groups = 0
    for uri, _ in sizes:
        parsed = urlparse(uri)
        path = unquote(parsed.path) if parsed.scheme in ("file", "") else None
        if not (path and path.endswith(".parquet") and os.path.exists(path)):
            return byte_splits
        try:
            import pyarrow.parquet as pq

            row_groups += pq.ParquetFile(path).metadata.num_row_groups
        except Exception:  # noqa: BLE001
            row_groups += 1
        if row_groups >= byte_splits:
            return byte_splits
    return min(byte_splits, row_groups)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input's scan parallelism is below core count.

    Compute-heavy per-row operators (shingling, 64-hash signatures, the
    OTLP/syslog decoders over single-row-group generated corpora) are
    CPU-bound: a corpus arriving as one small file / one row group would
    otherwise run on a single task. At real scale inputs already have
    thousands of splits and this is a no-op; the condition (not a blind
    repartition) is what keeps it from adding a full-corpus shuffle there.

    The probe is metadata-only (no plan-to-RDD conversion, no job):
    :func:`estimated_scan_tasks` replays Spark's own split sizing
    (maxSplitBytes + FilePartition packing) capped by parquet row-group
    counts — a parquet scan yields at most one non-empty task per row
    group regardless of byte splits. In-memory relations are left alone
    (they already parallelize).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    est = estimated_scan_tasks(df, target)
    if est is None or est >= target:
        return df
    return df.repartition(target)
