"""The flagship job — ``configs/flagship.yaml`` run by plans/config.run.

The reference runs a pipeline only from its YAML service graph
(service/internal/graph/graph.go:75-372). So does the flagship here:
:func:`run_pipeline` loads ``configs/flagship.yaml`` (scan → parse →
enrich → route, unparseable rows to the quarantine route, then a router
connector to one table per route), points its receiver at ``sf_dir`` and
hands it to the one batch executor, plans/config.run. Its router runs as
the fan-out (plans/config._fan_out): one cached parent, one lineage
collect, ONE partitioned write for all sinks, the quarantine table
included, and ONE partitioned aggregate write, each table acked on its
own so a resume redoes only the un-acked tables: 10 Spark jobs at
sf0.1. ``main.py`` and ``main.py --config configs/flagship.yaml``
write the same warehouse.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from opentelemetry_collector_spark.operators.route import QUARANTINE
from opentelemetry_collector_spark.plans import config
from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore

FLAGSHIP_CONFIG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "configs", "flagship.yaml",
)


@dataclass
class RunResult:
    run_id: str
    sink_counts: dict[str, int]
    quarantined: int
    stages_skipped: list[str]
    metrics: list[dict]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    run_id: str | None = None,
) -> RunResult:
    """Run ``configs/flagship.yaml`` over the transcripts of ``sf_dir``
    into ``warehouse``, checkpoint-gated per stage: re-running with the
    same ``run_id`` skips the acked stages.
    """
    cfg = config.ServiceConfig.from_files([FLAGSHIP_CONFIG])
    cfg.receivers["transcripts"]["sf_dir"] = sf_dir
    ckpt = CheckpointStore(warehouse, run_id)
    skipped = [m["stage"] for m in ckpt.metrics()]
    config.run(cfg, spark, warehouse, run_id=ckpt.run_id)
    metrics = ckpt.metrics()
    written = {
        m["sink"]: m["rows_out"] for m in metrics
        if m["stage"].startswith("write_") and "sink" in m
    }
    return RunResult(
        run_id=ckpt.run_id,
        sink_counts={s: n for s, n in written.items() if s != QUARANTINE},
        quarantined=written.get(QUARANTINE, 0),
        stages_skipped=skipped,
        metrics=metrics,
    )
