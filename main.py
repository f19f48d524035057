"""spark-submit entry point.

    spark-submit --py-files otelcol_spark.zip main.py \
        --sf-dir /data/testdata/sf0.1 --warehouse /data/wh [--run-id R] [--stream]
    spark-submit ... main.py --config base.yaml [--config override.yaml ...] --warehouse /data/wh

Runs the flagship parse → enrich → route → aggregate pipeline,
configs/flagship.yaml with its receiver at --sf-dir, with checkpointed,
idempotent sink commits; re-running with the same --run-id resumes,
skipping acked stages. With --config, runs that YAML service config
(receivers/processors/exporters/connectors + service.pipelines — the
otelcol config surface, plans/config.py) through the same executor, so
--config configs/flagship.yaml writes the same warehouse as the default
run. --config may repeat: later files deep-merge over earlier ones, as
the collector's confmap resolver merges its --config sources. Prints one
JSON line with per-sink counts (the obsreport summary); with --config,
its "config" field lists the files in the order given.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", default=None, help="reuse to resume a failed run")
    ap.add_argument("--master", default=None, help="override (spark-submit --master wins)")
    ap.add_argument("--stream", action="store_true",
                    help="run the Structured Streaming variant (AvailableNow)")
    ap.add_argument("--source-path", default=None,
                    help="streaming: directory of transcript parquet files")
    ap.add_argument("--config", action="append", default=None,
                    help="YAML service config (pipelines/connectors graph) "
                         "to run instead of configs/flagship.yaml at --sf-dir; "
                         "repeat to deep-merge later files over earlier ones")
    ap.add_argument("--curate", action="store_true",
                    help="run the corpus-curation job over the documents "
                         "table: near-dup keep-one + quality/language gate")
    ap.add_argument("--curate-quality-min", type=float, default=0.5)
    ap.add_argument("--feature-gates", default="",
                    help="comma-delimited gate ids; prefix '-' disables, "
                         "'+' or bare enables (featuregate/flag.go grammar)")
    args = ap.parse_args(argv)

    from opentelemetry_collector_spark.plans.featuregate import global_registry

    # fail fast on unknown/invalid gates BEFORE starting the session
    global_registry().apply_flag(args.feature_gates)

    from opentelemetry_collector_spark.session import get_spark

    spark = get_spark(app_name="otelcol-spark", master=args.master)
    try:
        if args.config:
            from opentelemetry_collector_spark.plans import config

            counts = config.run(
                config.ServiceConfig.from_files(args.config), spark,
                args.warehouse, run_id=args.run_id,
            )
            print(json.dumps({
                "mode": "config",
                "config": args.config,
                "sink_counts": counts,
                "total_rows": sum(counts.values()),
            }))
        elif args.curate:
            from opentelemetry_collector_spark.plans.curation import curate_corpus
            from opentelemetry_collector_spark.sinks.tables import TableCatalog

            docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
            stats = curate_corpus(
                spark,
                docs,
                TableCatalog(spark, args.warehouse),
                quality_min=args.curate_quality_min,
            )
            print(json.dumps({"mode": "curate", **stats}))
        elif args.stream:
            from opentelemetry_collector_spark.sources import derive_transcripts
            from opentelemetry_collector_spark.streaming import stream as ss

            src = args.source_path
            if src is None:
                src = f"{args.warehouse}/_stream_src"
                derive_transcripts(spark, args.sf_dir).write.mode("overwrite").parquet(src)
            ss.run_available_now(spark, src, args.warehouse, f"{args.warehouse}/_ckpt")
            print(json.dumps({"mode": "stream", "warehouse": args.warehouse}))
        else:
            from opentelemetry_collector_spark.plans.pipeline import run_pipeline

            res = run_pipeline(spark, args.sf_dir, args.warehouse, run_id=args.run_id)
            print(json.dumps({
                "mode": "batch",
                "run_id": res.run_id,
                "sink_counts": res.sink_counts,
                "quarantined": res.quarantined,
                "stages_skipped": res.stages_skipped,
                "total_rows": sum(res.sink_counts.values()),
            }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
