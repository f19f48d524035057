"""One batch executor: ``run_pipeline`` (what ``main.py`` runs) and
``config.run`` over ``configs/flagship.yaml`` (what ``main.py --config``
runs) write the same warehouse, malformed turns included."""

from __future__ import annotations

import os
from datetime import datetime

from opentelemetry_collector_spark.plans.config import ServiceConfig, run
from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sinks.tables import TableCatalog
from opentelemetry_collector_spark.sources import derive_transcripts
from opentelemetry_collector_spark.sqltext import SINK_NAMES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_TABLES = sorted(SINK_NAMES + [f"agg_{s}" for s in SINK_NAMES] + ["quarantine"])
RUN_TABLES = {"checkpoint", "lineage", "file_stats"}


def test_main_and_config_write_the_same_warehouse(spark, sf_dir, tmp_path, receiver_rows):
    malformed = spark.createDataFrame(
        [("malformed-conv", 0, "assistant", "call tool=search without a sequence",
          "search", datetime(2025, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = str(tmp_path / "in")
    derive_transcripts(spark, sf_dir).unionByName(malformed).write.parquet(rows)

    wh_main = str(tmp_path / "main")
    with receiver_rows(spark.read.parquet(rows)):
        res = run_pipeline(spark, sf_dir, wh_main)

    cfg = ServiceConfig.from_files([os.path.join(REPO, "configs", "flagship.yaml")])
    cfg.receivers = {"parquet/in": {"path": rows}}
    cfg.pipelines["logs/in"].receivers = ["parquet/in"]
    wh_config = str(tmp_path / "config")
    counts = run(cfg, spark, wh_config)

    for wh in (wh_main, wh_config):
        assert sorted(set(os.listdir(wh)) - RUN_TABLES) == DATA_TABLES
    assert res.quarantined == counts["table/quarantine"] == 1
    main_cat, config_cat = TableCatalog(spark, wh_main), TableCatalog(spark, wh_config)
    for table in DATA_TABLES:
        a, b = main_cat.read(table), config_cat.read(table)
        assert sorted(a.columns) == sorted(b.columns), table
        b = b.select(*a.columns)
        assert a.count() == b.count(), table
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, table
    for cat in (main_cat, config_cat):
        assert [r["conv_id"] for r in cat.read("quarantine").collect()] == ["malformed-conv"]
