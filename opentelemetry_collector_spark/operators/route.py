"""Routing + fan-out — connector router & fanout consumer analogs
(SURVEY §2.3 R1/R3).

Reference semantics to preserve:

* fan-out exactly-once: every input row reaches every matching sink
  exactly once (internal/fanoutconsumer/logs.go:21-77);
* content-based routing: a router picks a subset of downstream
  pipelines per record (connector/logs_router.go:18-69);
* clone-per-mutating-branch is subsumed by DataFrame immutability
  (SURVEY §1.3).

Scale shape: ``route`` is a pure column expression, so a router
connector (plans/config._fan_out, which runs the flagship
configs/flagship.yaml) writes every route, :data:`QUARANTINE` included,
in ONE action, partitioned by a copy of the route column, and moves
each partition dir into its table — one pass over the cached parent, a
Spark job count independent of the number of routes (a route with no
rows gets its empty table on the driver). Streaming micro-batches write
through the same primitive (sinks/tables.fan_out_write). The flagship's routing rule,
:func:`route_or_quarantine`, is defined here once: the config ``route``
processor and the streaming transform both use it. For multi-route (a
row matching several sinks) use :func:`explode_routes`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOOL_SINKS = ["search", "browser", "python", "editor"]

# the route of rows that fail to parse (F7: permanent-error rows stay
# addressable, consumererror/permanent.go:16-32)
QUARANTINE = "quarantine"


def route_expr() -> Column:
    """Default route key over (tool, role): per-tool sinks + default sink
    (FIXTURES.md §4). Twin of sqltext.ROUTE_CASE_SQL."""
    return (
        F.when(
            F.col("tool").isin(TOOL_SINKS), F.concat(F.lit("sink_"), F.col("tool"))
        )
        .otherwise(F.lit("sink_default"))
    )


def route_or_quarantine() -> Column:
    """The flagship's routing rule: a row that failed to parse takes the
    :data:`QUARANTINE` route, any other row the :func:`route_expr`
    route."""
    return F.when(F.col("parse_ok"), route_expr()).otherwise(F.lit(QUARANTINE))


def route_stage(df: DataFrame, expr: Column | None = None) -> DataFrame:
    """Attach the route column (the connector's routing decision)."""
    return df.withColumn("route", expr if expr is not None else route_expr())


def explode_routes(df: DataFrame, routes: Column) -> DataFrame:
    """Multi-route variant: ``routes`` is an array column; a row fans out
    to every listed sink (LogsRouterAndConsumer over a pipeline subset,
    connector/logs_router.go:48-69). Exactly-once per (row, sink)."""
    return df.withColumn("route", F.explode(routes))

