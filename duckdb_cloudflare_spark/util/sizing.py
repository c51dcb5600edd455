"""The one owner of partition counts: one measure, one rule.

Measure: ``plan_bytes``, the optimized plan's ``stats().sizeInBytes`` (a
parquet scan's data-file bytes wherever they live; ``Long.MaxValue`` for
frames Spark cannot size: RDD-backed ``createDataFrame`` frames, Python data
sources). Rule: ``partitions_for(df, rate) = clamp(ceil(bytes / rate), 1,
defaultParallelism)``. ``queries.cache_tables``, ``ensure_parallelism`` and
the dedup engines' ``exchange_width`` all size from it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

# Source bytes per partition: ~1.4 MB for JVM consumers (sf0.1 lineitem's
# 10.8 MB on 8), ~75 KB for per-row Python/codec and higher-order-function
# consumers.
CACHE_BYTES_PER_PART = 1_400_000
PY_OP_BYTES_PER_PART = 75_000


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` in bytes (``Long.MaxValue`` when
    unknown)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()  # type: ignore[attr-defined]
    return int(stats.sizeInBytes())


def partitions_for(df: DataFrame, rate: int) -> int:
    """``clamp(ceil(plan_bytes(df) / rate), 1, defaultParallelism)``."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return min(cores, max(1, math.ceil(plan_bytes(df) / rate)))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``partitions_for(df,
    PY_OP_BYTES_PER_PART)`` when that target exceeds both 1 and its
    partition count. The hashing/signature maps downstream are interpreted
    (higher-order functions) or Python; on one partition of a large
    single-file scan they serialize the operator. Small inputs stay on one
    task, and at scale the scan already has enough partitions."""
    target = partitions_for(df, PY_OP_BYTES_PER_PART)
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exchange_width(df: DataFrame) -> int:
    """Width of a shingle- or pair-keyed exchange over ``df``: ``max(cores,
    input partitions)``, so it grows with the input's own partitioning and
    never drops below the cluster's cores."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    return max(cores, df.rdd.getNumPartitions())
