"""SparkSession factory.

Defaults are chosen for the driver environment (local[N], single JVM) but the
same settings are what we would ship for a real cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (every
Python<->JVM boundary is vectorized), UTC session timezone (parity with the
reference's TIMESTAMP_TZ handling, see /root/reference
src/web_archive_utils.cpp:199-219 — CDX timestamps are parsed as UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Shuffle sizing: local[32] → 32 partitions keeps every core busy without
    # tiny-task overhead; on a real cluster AQE coalescing makes the initial
    # number mostly a ceiling, so a higher static value is also fine there.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet pushdown is on by default; pin it so a misconfigured env can't
    # silently disable the scan-level filters we rely on.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    # The synthetic events table stores TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python DataSource pushFilters support (off by default in Spark 4.1).
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # InferFiltersFromGenerate + CollapseProject copy the array under an
    # explode of an ALIASED expression into an inferred
    # `size(arr) > 0 AND isnotnull(arr)` Filter (r10 profiled find), so a
    # shingle engine's tokenize → text_analysis.ngram_windows pipeline
    # runs a second time per row. The rule's win (skipping null/empty rows
    # before a Generate over STORED array columns) doesn't apply here:
    # every engine pre-filters size >= k explicitly. Before the shared
    # primitive, the copy re-ran the tokenizer once per window element
    # (p93's doc-frequency agg: 13.9 s → 0.8 s at the sf1 lane with the
    # rule excluded); ngram_windows keeps vanilla sessions, which run the
    # rule, out of that trap. Cluster-shippable: the rule is an optimizer
    # heuristic, not a correctness feature.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}
# Heap sizing is NOT a library default: grabbing 16g from every embedding
# process overcommits small hosts. The bench entrypoint (bench.py) and the
# test harness opt in explicitly; SPARK_GRAFT_DRIVER_MEM overrides both.


def get_spark(app_name: str = "duckdb_cloudflare_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. ``master`` defaults to local[$SPARK_GRAFT_CPUS]."""
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def register_sources(spark: SparkSession) -> None:
    """Register all custom DataSources on the session (idempotent)."""
    from duckdb_cloudflare_spark.sources.common_crawl import CommonCrawlDataSource
    from duckdb_cloudflare_spark.sources.wayback import WaybackMachineDataSource
    from duckdb_cloudflare_spark.sources.d1 import D1DataSource

    # Runtime conf so a caller-provided (driver) session also gets pushdown.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    for cls in (CommonCrawlDataSource, WaybackMachineDataSource, D1DataSource):
        try:
            spark.dataSource.register(cls)
        except Exception:
            pass  # already registered
