"""Plan introspection: verify that the optimizer actually did what the
scale design assumes (pushdown, pruning, codegen, broadcast)."""

from duckdb_cloudflare_spark.plans.introspect import (  # noqa: F401
    broadcast_join_count,
    codegen_stage_count,
    formatted_plan,
    pushed_filters,
    read_schemas,
    shuffle_count,
)
