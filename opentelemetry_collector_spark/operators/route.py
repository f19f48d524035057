"""Routing + fan-out — connector router & fanout consumer analogs
(SURVEY §2.3 R1/R3).

Reference semantics to preserve:

* fan-out exactly-once: every input row reaches every matching sink
  exactly once (internal/fanoutconsumer/logs.go:21-77);
* content-based routing: a router picks a subset of downstream
  pipelines per record (connector/logs_router.go:18-69);
* clone-per-mutating-branch is subsumed by DataFrame immutability
  (SURVEY §1.3).

Scale shape: ``route`` is a pure column expression, so the flagship
(plans/pipeline.run_pipeline) writes every sink in ONE action,
partitioned by a copy of the route column, and moves each partition dir
into its table — one pass over the cached parent, a Spark job count
independent of the number of sinks. :func:`fan_out` is the general
form for arbitrary sink callables: one action per sink over a cached
parent. For multi-route (a row matching several sinks) use
:func:`explode_routes`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sqltext import SINK_NAMES

TOOL_SINKS = ["search", "browser", "python", "editor"]


def route_expr() -> Column:
    """Default route key over (tool, role): per-tool sinks + default sink
    (FIXTURES.md §4). Twin of sqltext.ROUTE_CASE_SQL."""
    return (
        F.when(
            F.col("tool").isin(TOOL_SINKS), F.concat(F.lit("sink_"), F.col("tool"))
        )
        .otherwise(F.lit("sink_default"))
    )


def route_stage(df: DataFrame, expr: Column | None = None) -> DataFrame:
    """Attach the route column (the connector's routing decision)."""
    return df.withColumn("route", expr if expr is not None else route_expr())


def explode_routes(df: DataFrame, routes: Column) -> DataFrame:
    """Multi-route variant: ``routes`` is an array column; a row fans out
    to every listed sink (LogsRouterAndConsumer over a pipeline subset,
    connector/logs_router.go:48-69). Exactly-once per (row, sink)."""
    return df.withColumn("route", F.explode(routes))


def fan_out(
    routed: DataFrame,
    sink_fn: Callable[[str, DataFrame], None],
    sinks: list[str] | None = None,
    cache: bool = True,
) -> dict[str, int]:
    """One write action per sink over a single cached parent.

    Returns per-sink row counts (the obsconsumer item accounting,
    service/internal/obsconsumer/logs.go:53-70). The cache bounds total
    work at one materialization + N column-pruned filtered reads; on a
    real cluster use MEMORY_AND_DISK (the default persist level).

    The count rides the sink's own action via the Observation API (the
    same pattern as plans/pipeline._write_counted) — one pass per sink,
    not a write pass plus a count pass. ``sink_fn`` should run exactly
    one Spark action on the DataFrame it is given (a write, a count, a
    collect — anything that materializes it). A sink that runs NO action
    (a nop/dry-run sink, an early-return error path) is detected with a
    bounded observation probe and falls back to one explicit ``count()``
    instead of blocking forever on ``Observation.get``.

    Probe details: the JVM ``Observation.getRowOrEmpty`` waits up to
    100 ms per call (it is a bounded wait, not a pure peek), and the
    listener that fills it is asynchronous — so the probe retries a few
    times before concluding no action ran. Misclassification under an
    extremely lagged listener costs one extra count() of the (cached)
    branch, never a wrong count — the observed metric and count() agree
    by construction. The probe pierces a private JVM member via py4j;
    any reflection failure (e.g. a Spark upgrade renaming it) degrades
    to the count() path rather than breaking.
    """
    import time

    from pyspark.sql import Observation

    def _action_ran(obs: Observation, probes: int = 5) -> bool:
        try:
            for _ in range(probes):  # each JVM probe waits ≤100 ms
                if obs._jo is not None and obs._jo.getRowOrEmpty().isDefined():
                    return True
                time.sleep(0.02)
            return False
        except Exception:
            return False  # private-API drift → safe count() fallback

    sinks = sinks or SINK_NAMES
    if cache:
        routed = routed.persist()
    try:
        counts: dict[str, int] = {}
        for s in sinks:
            obs = Observation(f"fanout_{s}")
            branch = routed.filter(F.col("route") == s).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            sink_fn(s, branch)
            if _action_ran(obs):
                counts[s] = obs.get["n"]
            else:
                # sink_fn ran no action — the observation never fired;
                # count() both materializes the branch and is the count.
                counts[s] = branch.count()
        return counts
    finally:
        if cache:
            routed.unpersist()
