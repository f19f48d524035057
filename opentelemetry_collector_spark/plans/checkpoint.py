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
needed to read or commit a checkpoint; the queryable lineage tables are
parquet in the warehouse. On a real deployment both become rows in an
Iceberg checkpoint table written with snapshot isolation.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class StageMetric:
    run_id: str
    stage: str
    rows_in: int
    rows_out: int
    wall_ms: int
    # extra["partitions"]: list of {part_id, rows, bytes} logical lineage
    # extra["files"]:      list of {file, rows, bytes} physical lineage
    extra: dict = field(default_factory=dict)


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

    def commit(self, stage: str, metric: StageMetric) -> None:
        """The ack: write-then-rename so a crash mid-commit leaves no
        partial marker (the WAL's atomic index update)."""
        tmp = self._stage_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "run_id": metric.run_id,
                    "stage": metric.stage,
                    "rows_in": metric.rows_in,
                    "rows_out": metric.rows_out,
                    "wall_ms": metric.wall_ms,
                    "committed_at": time.time(),
                    **metric.extra,
                },
                f,
            )
        os.replace(tmp, self._stage_path(stage))

    def metrics(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self._dir())):
            if fn.endswith(".json"):
                with open(os.path.join(self._dir(), fn)) as f:
                    out.append(json.load(f))
        return out

    # -- queryable lineage tables --------------------------------------
    def _flush_lock(self):
        """File lock serializing lineage flushes across processes: the
        merge is read-modify-write, so two concurrent flushes (a batch
        run and a live streaming writer on one warehouse) would lose
        the first writer's rows without it. O_EXCL create with bounded
        retry; a lock older than 120 s is treated as abandoned (crashed
        flusher) and broken.

        Stale-break protocol: rename the stale lock to a unique name
        BEFORE removing it. rename is atomic, so when two waiters both
        observe the same stale lock only one rename succeeds — the
        loser gets FileNotFoundError and goes back to contending for
        the fresh O_EXCL create. A naive unlink+retry here would let
        the second waiter unlink the first's freshly-acquired lock (the
        TOCTOU the lock exists to prevent)."""
        import contextlib

        path = os.path.join(self.base_dir, "checkpoint", "_lineage.lock")

        @contextlib.contextmanager
        def lock():
            token = f"{os.getpid()}:{uuid.uuid4().hex}"
            deadline = time.time() + 30.0
            while True:
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, token.encode())
                    os.close(fd)
                    break
                except FileExistsError:
                    try:
                        if time.time() - os.path.getmtime(path) > 120:
                            # claim the stale lock via atomic rename;
                            # exactly one contender wins
                            claimed = f"{path}.stale.{uuid.uuid4().hex}"
                            os.rename(path, claimed)
                            os.unlink(claimed)
                            continue
                    except OSError:
                        pass
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"lineage flush lock {path} held too long"
                        )
                    time.sleep(0.1)
            try:
                yield
            finally:
                # unlink only our own lock: a >120s flush whose lock was
                # broken and re-acquired by someone else must not remove
                # the new holder's lock
                try:
                    with open(path) as f:
                        if f.read() == token:
                            os.unlink(path)
                except OSError:
                    pass

        return lock()

    def _merge_other_runs(self, catalog, table: str, new_rows: list[tuple],
                          col_names: list[str]) -> list[tuple]:
        """Rows from OTHER run_ids already in the table + this run's
        rows — so batch and streaming runs against one warehouse share
        the lineage tables without clobbering each other (each flush
        replaces only its own run's rows; re-flushing is idempotent).
        Driver-side pyarrow read: the tables are O(stages) tiny.
        Columns are selected BY NAME in the declared schema order — a
        future on-disk schema reorder/extension fails loudly (KeyError)
        instead of silently merging shifted tuples."""
        path = catalog.path(table)
        if not os.path.isdir(path):
            return new_rows
        existing = pq.read_table(path)
        cols = [existing.column(name).to_pylist() for name in col_names]
        run_ids = existing.column("run_id").to_pylist()
        kept = [
            r for rid, r in zip(run_ids, zip(*cols)) if rid != self.run_id
        ]
        return kept + new_rows

    def write_lineage_table(self, spark, catalog) -> tuple[int, int]:
        """Flatten every acked stage's per-partition / per-file lineage
        into the ``lineage`` and ``file_stats`` warehouse tables,
        MERGED with other runs' rows (run_id-keyed replace — a batch
        run and a streaming run on the same warehouse each own their
        rows in the shared tables).

        The rows are driver-side metadata (O(stages × partitions) —
        hundreds, not data-scale), so they are written directly with
        pyarrow rather than a Spark job: this is exactly how Iceberg
        commits manifests (driver-side metadata files alongside the
        data), and it avoids ~5-8s of Spark fixed cost per tiny write
        (a createDataFrame→parquet round-trip spins Python workers for
        a 165-row table). spark.read.parquet reads them like any other
        warehouse table. Returns (lineage_rows, file_rows) for THIS
        run."""
        lineage_rows, file_rows = [], []
        for m in self.metrics():
            for p in m.get("partitions", []):
                # part_id is NULL for rows whose partition key is NULL
                # (e.g. poison rows headed for rejection) — bucket -1
                pid = -1 if p["part_id"] is None else int(p["part_id"])
                lineage_rows.append(
                    (m["run_id"], m["stage"], pid,
                     int(p["rows"]), int(p["bytes"] or 0), int(m["wall_ms"]))
                )
            for fr in m.get("files", []):
                file_rows.append(
                    (m["run_id"], m["stage"], fr["file"],
                     int(fr["rows"]), int(fr["bytes"]))
                )
        with self._flush_lock():
            lineage_schema = pa.schema([
                ("run_id", pa.string()), ("stage", pa.string()),
                ("part_id", pa.int32()), ("rows", pa.int64()),
                ("bytes", pa.int64()), ("wall_ms", pa.int64()),
            ])
            files_schema = pa.schema([
                ("run_id", pa.string()), ("stage", pa.string()),
                ("file", pa.string()), ("rows", pa.int64()), ("bytes", pa.int64()),
            ])
            if lineage_rows:
                catalog.overwrite_local(
                    "lineage",
                    self._merge_other_runs(
                        catalog, "lineage", lineage_rows, lineage_schema.names,
                    ),
                    lineage_schema,
                )
            if file_rows:
                catalog.overwrite_local(
                    "file_stats",
                    self._merge_other_runs(
                        catalog, "file_stats", file_rows, files_schema.names,
                    ),
                    files_schema,
                )
        return len(lineage_rows), len(file_rows)
