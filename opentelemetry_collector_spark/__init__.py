"""opentelemetry_collector_spark — a PySpark-native re-expression of the
OpenTelemetry Collector core (reference: jmacd/opentelemetry-collector
v0.155.0) as a distributed batch/streaming pipeline over DataFrames.

This is NOT a port. The reference is a push-based in-memory Go daemon;
this package re-expresses its data model (pdata: Logs → ResourceLogs →
ScopeLogs → LogRecord, flattened per docs/rfcs/processing.md:110-117),
its operator semantics (filter, attribute mutation, enrichment, routing
fan-out, batch accounting), and its reliability protocol (persistent
queue → checkpoint table) as idiomatic Spark: declarative DataFrame
plans optimized by Catalyst, broadcast hash joins for enrichment,
partition-hash routing with AQE and partial aggregation for skew, and
idempotent deterministic sink commits for at-least-once →
effectively-once delivery (exporter/exporterhelper/internal/queue/persistent_queue.go:50-95).
"""

__version__ = "0.1.0"

from opentelemetry_collector_spark.session import get_spark  # noqa: F401
