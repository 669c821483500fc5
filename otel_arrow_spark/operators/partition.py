"""Partition processor: split/repartition a stream by an arbitrary
expression, with salting for hot keys.

Reference: processors/partition_processor/mod.rs:1 (README:13-31 — splits
one batch into per-value partitions by any OPL expression, e.g.
``resource.attributes["k8s.namespace.name"]`` or ``sha256(concat(...))``)
and the engine-side Partitioner (query-engine/src/pipeline/partition.rs:
39-58).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def partition_with_salt(
    df: DataFrame, key: Column, n_salts: int, n_partitions: int | None = None
) -> DataFrame:
    """Hot-key variant: partition on (key, salt) where salt spreads a
    skewed key over ``n_salts`` partitions (README's hashed-composite
    pattern; the explicit form of what AQE skew-split does for joins).
    Use when a downstream per-partition operator tolerates split groups
    (counting, sampling) — not when it needs the whole group."""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    return (
        df.repartition(n_partitions, key, salt) if n_partitions else df.repartition(key, salt)
    )


def write_partitioned_by_expr(
    df: DataFrame, path: str, expr: Column, name: str = "part_key"
) -> str:
    """Materialized form: hive-partitioned write keyed by the expression
    value (the parquet-exporter _part_id layout, partition.rs:34)."""
    df.withColumn(name, expr).write.mode("overwrite").partitionBy(name).parquet(path)
    return path
