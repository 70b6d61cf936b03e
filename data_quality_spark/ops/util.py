"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_narrow(df: DataFrame) -> DataFrame:
    """Repartition a NARROW local input (1-2 parquet splits) into twice
    defaultParallelism partitions so a following Arrow UDF stage
    parallelizes instead of serializing on one task. At
    scale the file splits already provide parallelism and this is a no-op
    (condition: existing partitions < defaultParallelism). Round-robin —
    callers needing a specific key distribution repartition themselves.

    The partition probe (`df.rdd.getNumPartitions()`) forces a driver-side
    plan conversion; its result is memoized on the DataFrame object so an
    operator that routes the same frame through several UDF stages pays it
    once (the probe never executes a job — planning only)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) < target:
        return df.repartition(2 * target)
    return df


def num_partitions(df: DataFrame) -> int:
    """df.rdd.getNumPartitions() memoized on the DataFrame object: the probe
    never runs a job, but it does force a driver-side plan conversion —
    callers that consult it repeatedly on the same frame pay once."""
    n = getattr(df, "_dqs_num_partitions", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        try:
            df._dqs_num_partitions = n
        except Exception:
            pass
    return n
