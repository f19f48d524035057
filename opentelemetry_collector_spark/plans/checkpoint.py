"""Checkpoint + lineage — the persistent-queue / obsreport analog
(SURVEY §2.5 F3, §2.4 A6).

The reference's persistent queue survives crashes with a WAL of
read/write indices plus a currently-dispatched set; on restart un-acked
items are re-dispatched, giving at-least-once delivery
(exporter/exporterhelper/internal/queue/persistent_queue.go:50-95,
430-500). Its telemetry layer counts items in/out on every pipeline
edge (service/internal/obsconsumer/logs.go:53-70).

Batch-Spark re-expression:

* ``checkpoint`` table: one row per (run_id, stage) committed ONLY
  after the stage's sink write succeeded (the ack). On resume,
  completed stages are skipped; incomplete stages re-run. Because sink
  writes are deterministic overwrites (sinks/tables.py), re-running is
  idempotent → at-least-once execution + idempotent commit =
  effectively-once delivery, the same two-phase shape as the queue's
  dispatch/ack (persistent_queue.go:321-428).
* ``pipeline_metrics`` table: per-stage rows_in/rows_out/wall_ms, the
  otelcol.*.consumed/produced.items instruments
  (service/internal/metadata/generated_telemetry.go:191-293).
* per-PARTITION lineage (north rule; the bytes axis mirrors the
  reference's per-edge proto-bytes sizer,
  exporter/exporterhelper/internal/sizer/logs_sizer.go:29-49): each
  sink stage's ack carries ``partitions`` — (part_id, rows, bytes)
  computed by plans/lineage.logical_lineage over the deterministic
  conv_id partitioner — and ``files`` — per-output-file rows/bytes from
  the parquet footers. :meth:`write_lineage_table` flattens the acks
  into queryable ``lineage`` and ``file_stats`` warehouse tables.

The ack WAL lives in JSON files (driver-side, tiny) so no Spark job is
needed to read or commit a checkpoint. The queryable lineage tables are
parquet in the warehouse, one file per run and table
(``lineage/part-<run_id>.parquet``): a run writes only its own file, so
batch and streaming runs share the tables without a lock, and no run
reads or rewrites another run's rows — the way an Iceberg writer adds
its own data files and never rewrites another writer's. On a real
deployment both become rows in an Iceberg checkpoint table written with
snapshot isolation.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq

LINEAGE_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()), ("part_id", pa.int32()),
    ("rows", pa.int64()), ("bytes", pa.int64()), ("wall_ms", pa.int64()),
])
FILE_STATS_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()), ("file", pa.string()),
    ("rows", pa.int64()), ("bytes", pa.int64()),
])


class CheckpointStore:
    """Directory-backed checkpoint + lineage store."""

    def __init__(self, base_dir: str, run_id: str | None = None):
        self.base_dir = base_dir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(self._dir(), exist_ok=True)

    def _dir(self) -> str:
        return os.path.join(self.base_dir, "checkpoint", self.run_id)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self._dir(), f"{stage}.json")

    # -- ack protocol --------------------------------------------------
    def is_done(self, stage: str) -> bool:
        return os.path.exists(self._stage_path(stage))

    def commit(self, stage: str, rows_in: int, rows_out: int, wall_ms: int,
               extra: dict) -> None:
        """The ack: write-then-rename so a crash mid-commit leaves no
        partial marker (the WAL's atomic index update). ``extra`` rides
        the ack as more fields: ``partitions`` (list of {part_id, rows,
        bytes}, logical lineage) and ``files`` (list of {file, rows,
        bytes}, physical lineage). A streaming stage acks once per
        micro-batch: its ``epoch`` extra keeps each epoch's ack apart."""
        key = stage if "epoch" not in extra else f"{stage}.epoch{extra['epoch']:08d}"
        tmp = self._stage_path(key) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({
                "run_id": self.run_id, "stage": stage, "rows_in": rows_in,
                "rows_out": rows_out, "wall_ms": wall_ms,
                "committed_at": time.time(), **extra,
            }, f)
        os.replace(tmp, self._stage_path(key))

    def gate(self, stage: str, fn: Callable[[], tuple[int, int, dict]]) -> None:
        """Run a terminal (sink-writing) stage unless already acked, and
        ack the (rows_in, rows_out, extra) it returns."""
        if not self.is_done(stage):
            t0 = time.monotonic()
            rows_in, rows_out, extra = fn()
            self.commit(stage, rows_in, rows_out, int((time.monotonic() - t0) * 1000), extra)

    def metrics(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self._dir())):
            if fn.endswith(".json"):
                with open(os.path.join(self._dir(), fn)) as f:
                    out.append(json.load(f))
        return out

    # -- queryable lineage tables --------------------------------------
    def write_lineage_table(self) -> tuple[int, int]:
        """Flatten every acked stage's per-partition / per-file lineage
        into this run's files of the ``lineage`` and ``file_stats``
        warehouse tables. A re-flush replaces only this run's files, so
        it is idempotent, and it costs O(this run's acks) however many
        runs the warehouse holds.

        The rows are driver-side metadata (O(stages × partitions) —
        hundreds, not data-scale), so they are written directly with
        pyarrow rather than a Spark job: this is exactly how Iceberg
        commits manifests (driver-side metadata files alongside the
        data), and it avoids ~5-8s of Spark fixed cost per tiny write.
        spark.read.parquet reads them like any other warehouse table.
        Returns (lineage_rows, file_rows) for this run."""
        lineage_rows, file_rows = [], []
        for m in self.metrics():
            for p in m.get("partitions", []):
                lineage_rows.append({
                    "run_id": m["run_id"], "stage": m["stage"], "part_id": int(p["part_id"]),
                    "rows": int(p["rows"]), "bytes": int(p["bytes"] or 0),
                    "wall_ms": int(m["wall_ms"]),
                })
            for fr in m.get("files", []):
                file_rows.append({
                    "run_id": m["run_id"], "stage": m["stage"], "file": fr["file"],
                    "rows": int(fr["rows"]), "bytes": int(fr["bytes"]),
                })
        if lineage_rows:
            self._write_run_file("lineage", lineage_rows, LINEAGE_SCHEMA)
        if file_rows:
            self._write_run_file("file_stats", file_rows, FILE_STATS_SCHEMA)
        return len(lineage_rows), len(file_rows)

    def _write_run_file(self, table: str, rows: list[dict], schema: pa.Schema) -> None:
        """Replace this run's file of ``table``. The temp file's leading
        dot hides it from readers until the rename publishes it."""
        d = os.path.join(self.base_dir, table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".part-{self.run_id}.{uuid.uuid4().hex}.tmp")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, os.path.join(d, f"part-{self.run_id}.parquet"))
