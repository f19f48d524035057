"""YAML service config → pipeline graph: validation rules, connector
topology, cycle detection, and an end-to-end run (SURVEY §3.1 / R4;
rule sources cited in plans/config.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans import config as cfg_mod
from opentelemetry_collector_spark.plans.config import (
    ConfigError,
    ServiceConfig,
    run,
)
from opentelemetry_collector_spark.sinks.tables import TableCatalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _base(pipelines):
    return {
        "receivers": {"transcripts": {"sf_dir": "/root/testdata/sf0.001"}},
        "processors": {"parse": {}, "enrich": {}, "route": {}},
        "exporters": {"table/a": {"table": "out_a"}, "table/b": {"table": "out_b"}},
        "connectors": {},
        "service": {"pipelines": pipelines},
    }


def test_missing_receiver_rejected():
    raw = _base({"logs": {"receivers": [], "exporters": ["table/a"]}})
    with pytest.raises(ConfigError, match="at least one receiver"):
        ServiceConfig.from_dict(raw)


def test_missing_exporter_rejected():
    raw = _base({"logs": {"receivers": ["transcripts"], "exporters": []}})
    with pytest.raises(ConfigError, match="at least one exporter"):
        ServiceConfig.from_dict(raw)


def test_unknown_reference_rejected():
    raw = _base({"logs": {"receivers": ["transcripts"], "exporters": ["table/zzz"]}})
    with pytest.raises(ConfigError, match="table/zzz"):
        ServiceConfig.from_dict(raw)


def test_duplicate_exporter_rejected():
    raw = _base(
        {"logs": {"receivers": ["transcripts"], "exporters": ["table/a", "table/a"]}}
    )
    with pytest.raises(ConfigError, match="more than once"):
        ServiceConfig.from_dict(raw)


def test_duplicate_processor_rejected():
    raw = _base(
        {"logs": {"receivers": ["transcripts"], "processors": ["parse", "parse"],
                  "exporters": ["table/a"]}}
    )
    with pytest.raises(ConfigError, match="references processor more than once"):
        ServiceConfig.from_dict(raw)


def test_orphan_connector_rejected():
    raw = _base({"logs": {"receivers": ["transcripts"], "exporters": ["table/a"]}})
    raw["connectors"] = {"forward/x": {}}
    raw["service"]["pipelines"]["logs"]["exporters"].append("forward/x")
    # exported-to but never received-from
    with pytest.raises(ConfigError, match="forward/x"):
        ServiceConfig.from_dict(raw)


def test_cycle_rejected_naming_connector():
    raw = _base(
        {
            "logs/a": {"receivers": ["transcripts", "forward/back"],
                       "exporters": ["forward/fwd"]},
            "logs/b": {"receivers": ["forward/fwd"],
                       "exporters": ["forward/back", "table/a"]},
        }
    )
    raw["connectors"] = {"forward/fwd": {}, "forward/back": {}}
    with pytest.raises(ConfigError, match="cycle detected.*forward/"):
        ServiceConfig.from_dict(raw)


def test_topo_order_upstream_first():
    raw = _base(
        {
            "logs/down": {"receivers": ["forward/x"], "exporters": ["table/b"]},
            "logs/up": {"receivers": ["transcripts"], "exporters": ["forward/x"]},
        }
    )
    raw["connectors"] = {"forward/x": {}}
    cfg = ServiceConfig.from_dict(raw)
    order = cfg.topo_order()
    assert order.index("logs/up") < order.index("logs/down")


def test_forward_connector_end_to_end(spark, sf_dir, tmp_path):
    """Two chained pipelines through a forward connector equal the
    single-pipeline plan (forwardconnector/forward.go:17-90)."""
    raw = _base(
        {
            "logs/ingest": {
                "receivers": ["transcripts"],
                "processors": ["parse"],
                "exporters": ["forward/x"],
            },
            "logs/write": {
                "receivers": ["forward/x"],
                "processors": ["enrich", "route"],
                "exporters": ["table/a"],
            },
        }
    )
    raw["receivers"]["transcripts"]["sf_dir"] = str(sf_dir)
    raw["connectors"] = {"forward/x": {}}
    cfg = ServiceConfig.from_dict(raw)
    counts = run(cfg, spark, str(tmp_path / "wh"))
    from opentelemetry_collector_spark.sources import derive_transcripts

    assert counts["table/a"] == derive_transcripts(spark, str(sf_dir)).count()
    out = TableCatalog(spark, str(tmp_path / "wh")).read("out_a")
    assert "route" in out.columns and "tool_category" in out.columns


def test_flagship_yaml_router_fanout(spark, sf_dir, tmp_path):
    """The shipped configs/flagship.yaml: router connector fans out to
    five sink pipelines; per-sink counts equal the direct DataFrame plan
    (routed-row-set equality per exporter — the north-rule check)."""
    cfg = ServiceConfig.from_files([os.path.join(REPO, "configs", "flagship.yaml")])
    # retarget the receiver at the test's sf_dir
    cfg.receivers["transcripts"]["sf_dir"] = str(sf_dir)
    wh = str(tmp_path / "whf")
    counts = run(cfg, spark, wh)

    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.operators import route as route_ops
    from opentelemetry_collector_spark.sources import derive_transcripts

    expected = {
        r["route"]: r["n"]
        for r in route_ops.route_stage(
            parse_ops.parse_stage(derive_transcripts(spark, str(sf_dir)))
        ).groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {
        f"sink_{e.split('/')[1]}": n for e, n in counts.items()
    }
    assert got == {k: expected.get(k, 0) for k in got}
    assert sum(counts.values()) == derive_transcripts(spark, str(sf_dir)).count()

    # routed-row-set equality for one sink table
    cat = TableCatalog(spark, wh)
    search = cat.read("sink_search")
    assert search.filter(F.col("route") != "sink_search").count() == 0


def test_attributes_processor_from_config(spark, sf_dir, tmp_path):
    raw = _base(
        {
            "logs": {
                "receivers": ["transcripts"],
                "processors": ["parse", "attributes/env"],
                "exporters": ["table/a"],
            }
        }
    )
    raw["receivers"]["transcripts"]["sf_dir"] = str(sf_dir)
    raw["processors"]["attributes/env"] = {
        "actions": [
            {"action": "set", "key": "env", "value": "prod"},
            {"action": "delete", "key": "msg"},
        ]
    }
    cfg = ServiceConfig.from_dict(raw)
    run(cfg, spark, str(tmp_path / "wha"))
    out = TableCatalog(spark, str(tmp_path / "wha")).read("out_a")
    row = out.select(F.map_keys("attrs").alias("ks")).first()
    assert "env" in row["ks"] and "msg" not in row["ks"]


def test_env_expansion_basic_and_default(monkeypatch, tmp_path):
    """${env:VAR} / ${env:VAR:-default} resolution with type-preserving
    whole-string refs (confmap/resolver.go:73-128, envprovider)."""
    raw = _base({"logs": {"receivers": ["transcripts"], "exporters": ["table/a"]}})
    import yaml

    text = yaml.safe_dump(raw).replace(
        "sf_dir: /root/testdata/sf0.001", "sf_dir: ${env:GRAFT_SF}"
    )
    monkeypatch.setenv("GRAFT_SF", "/tmp/somewhere")
    path = tmp_path / "c.yaml"
    path.write_text(text)
    cfg = ServiceConfig.from_files([str(path)])
    assert cfg.receivers["transcripts"]["sf_dir"] == "/tmp/somewhere"
    # default used when unset; env wins when set
    monkeypatch.delenv("GRAFT_SF")
    path.write_text(text.replace("${env:GRAFT_SF}", "${env:GRAFT_SF:-/d/efault}"))
    cfg2 = ServiceConfig.from_files([str(path)])
    assert cfg2.receivers["transcripts"]["sf_dir"] == "/d/efault"


def test_env_expansion_type_preserving_and_embedded(monkeypatch):
    for name, value in {"PORT": "8080", "FLAG": "true", "HOST": "h1"}.items():
        monkeypatch.setenv(name, value)
    out = cfg_mod._expand_value(
        {
            "port": "${env:PORT}",
            "flag": "${env:FLAG}",
            "url": "http://${env:HOST}:${env:PORT}/x",
            "lit": "cost is $$5",
        },
    )
    assert out["port"] == 8080 and out["flag"] is True  # YAML-parsed
    assert out["url"] == "http://h1:8080/x"  # embedded: text substitution
    assert out["lit"] == "cost is $5"  # $$ escape


def test_yaml_provider_inline_fragments():
    """${yaml:...} inlines a literal YAML fragment type-preservingly
    (confmap/provider/yamlprovider): scalars, flow lists, and one-level
    flow maps; malformed fragments fail at config load."""
    out = cfg_mod._expand_value(
        {
            "n": "${yaml:42}",
            "lst": "${yaml:[a, b, c]}",
            "map": "${yaml:{timeout: 2s, max: 7}}",
            "s": "${yaml:plain}",
        },
    )
    assert out["n"] == 42
    assert out["lst"] == ["a", "b", "c"]
    assert out["map"] == {"timeout": "2s", "max": 7}
    assert out["s"] == "plain"
    with pytest.raises(ConfigError, match="invalid YAML fragment"):
        cfg_mod._expand_value({"x": "${yaml:{a: [}}"})
    # an unbalanced reference never matches the resolver grammar and
    # passes through verbatim (same as any non-reference '$' text)
    out = cfg_mod._expand_value({"x": "${yaml:{unclosed: [}"})
    assert out["x"] == "${yaml:{unclosed: [}"


def test_yaml_provider_body_is_exempt_from_default_grammar(monkeypatch):
    """The yaml provider's URI body is a LITERAL fragment: a ':-' inside
    it is YAML text, not the envprovider's NAME:-default grammar.
    ${yaml:-5} is the scalar -5 (not env '' defaulting to '5'), and an
    embedded ':-' in a flow map survives; the env forms keep their
    default splitting."""
    monkeypatch.delenv("OTELCOL_NOT_SET_XYZ", raising=False)
    out = cfg_mod._expand_value(
        {
            "neg": "${yaml:-5}",
            "dash": "${yaml:{sep: a:-b}}",
            "envd": "${env:OTELCOL_NOT_SET_XYZ:-fallback}",
        },
    )
    assert out["neg"] == -5
    assert out["dash"] == {"sep": "a:-b"}
    assert out["envd"] == "fallback"


def test_env_expansion_errors(monkeypatch):
    monkeypatch.delenv("MISSING_VAR", raising=False)
    with pytest.raises(ConfigError, match="MISSING_VAR.*not set"):
        cfg_mod._expand_value({"x": "${env:MISSING_VAR}"})
    with pytest.raises(ConfigError, match="unsupported scheme 'bogus'"):
        cfg_mod._expand_value({"x": "${bogus:uri}"})


def test_file_provider_and_multi_file_merge(tmp_path):
    """${file:path} inlining + from_files deep-merge (later file wins on
    scalars, maps merge recursively — Conf.Merge semantics)."""
    secret = tmp_path / "token.txt"
    secret.write_text("s3cr3t")
    base = tmp_path / "base.yaml"
    base.write_text(
        "receivers: {transcripts: {sf_dir: /root/testdata/sf0.001}}\n"
        "processors: {parse: {}}\n"
        "exporters: {table/a: {table: out_a, token: '${file:%s}'}}\n"
        "service: {pipelines: {logs: {receivers: [transcripts],\n"
        "  processors: [parse], exporters: [table/a]}}}\n" % secret
    )
    over = tmp_path / "override.yaml"
    over.write_text("exporters: {table/a: {table: out_override}}\n")
    cfg = ServiceConfig.from_files([str(base), str(over)])
    assert cfg.exporters["table/a"]["table"] == "out_override"  # later wins
    assert cfg.exporters["table/a"]["token"] == "s3cr3t"  # map-merged + file ref


def test_main_config_repeats_and_merges(tmp_path, monkeypatch, capsys):
    """``main.py --config base --config over`` runs the deep merge of
    both files: the exporters of each reach config.run."""
    import main as main_mod
    from opentelemetry_collector_spark import session

    base = tmp_path / "base.yaml"
    base.write_text(
        "receivers: {transcripts: {sf_dir: /data/sf0.001}}\n"
        "exporters: {table/a: {table: out_a}}\n"
        "service: {pipelines: {logs: {receivers: [transcripts], exporters: [table/a]}}}\n"
    )
    over = tmp_path / "over.yaml"
    over.write_text(
        "exporters: {table/b: {table: out_b}}\n"
        "service: {pipelines: {logs: {exporters: [table/a, table/b]}}}\n"
    )
    seen = []

    class _Spark:
        def stop(self):
            pass

    def fake_run(cfg, spark, warehouse, run_id=None):
        seen.append(cfg)
        return {e: 0 for e in cfg.exporters}

    monkeypatch.setattr(session, "get_spark", lambda **kw: _Spark())
    monkeypatch.setattr(cfg_mod, "run", fake_run)
    assert main_mod.main(["--config", str(base), "--config", str(over),
                          "--warehouse", str(tmp_path / "wh")]) == 0
    (cfg,) = seen
    assert cfg.exporters == {"table/a": {"table": "out_a"}, "table/b": {"table": "out_b"}}
    assert cfg.pipelines["logs"].receivers == ["transcripts"]
    assert cfg.pipelines["logs"].exporters == ["table/a", "table/b"]
    summary = json.loads(capsys.readouterr().out)
    assert summary["config"] == [str(base), str(over)]


def test_receiver_node_dedup_single_scan(spark, sf_dir, tmp_path, monkeypatch):
    """Two pipelines reading the same receiver id must share ONE
    DataFrame (graph.go:213-248 node dedup), persisted for the fan-out —
    not build/scan the source once per pipeline."""
    calls = []
    real = cfg_mod._make_receiver

    def counting(cid, opts, spark_):
        calls.append(cid)
        return real(cid, opts, spark_)

    monkeypatch.setattr(cfg_mod, "_make_receiver", counting)
    raw = _base(
        {
            "logs/a": {"receivers": ["transcripts"], "processors": ["parse"],
                       "exporters": ["table/a"]},
            "logs/b": {"receivers": ["transcripts"],
                       "exporters": ["table/b"]},
        }
    )
    raw["receivers"]["transcripts"]["sf_dir"] = str(sf_dir)
    cfg = ServiceConfig.from_dict(raw)
    counts = run(cfg, spark, str(tmp_path / "whd"))
    assert calls == ["transcripts"]  # built exactly once for both pipelines
    assert counts["table/a"] == counts["table/b"] > 0


def test_config_run_with_checkpoint_resume(spark, sf_dir, tmp_path):
    """run_id-gated config execution: a second run with the same run_id
    skips every already-acked exporter (returning its acked counts)."""
    import time

    cfg = ServiceConfig.from_files([os.path.join(REPO, "configs", "flagship.yaml")])
    cfg.receivers["transcripts"]["sf_dir"] = str(sf_dir)
    wh = str(tmp_path / "whr")
    counts1 = run(cfg, spark, wh, run_id="cfgrun")
    t0 = time.monotonic()
    counts2 = run(cfg, spark, wh, run_id="cfgrun")
    resumed = time.monotonic() - t0
    assert counts1 == counts2
    # all-skip path runs no Spark jobs — idle it's <0.1s, but a loaded
    # suite session (GC pauses) can stretch wall time; 5s still proves
    # the skip (the real run above takes 10s+)
    assert resumed < 5.0, resumed


def test_debug_exporter_sampling_from_config(spark, sf_dir, tmp_path):
    """debugexporter sampling knobs (config.go:29-34) flow from YAML:
    the sampled debug count is strictly below the unsampled one and
    equals the sampler's own output."""
    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.operators.debugfmt import sample_per_second
    from opentelemetry_collector_spark.sources import derive_transcripts

    raw = _base(
        {"logs": {"receivers": ["transcripts"], "processors": ["parse"],
                  "exporters": ["debug/s", "debug/all"]}}
    )
    raw["receivers"]["transcripts"]["sf_dir"] = str(sf_dir)
    raw["exporters"]["debug/s"] = {
        "verbosity": "normal", "sampling_initial": 2,
        "sampling_thereafter": 3, "sampling_granularity": "hour",
    }
    raw["exporters"]["debug/all"] = {"verbosity": "normal"}
    counts = run(ServiceConfig.from_dict(raw), spark, str(tmp_path / "whs"))

    parsed = parse_ops.parse_stage(derive_transcripts(spark, str(sf_dir)))
    expected = sample_per_second(
        parsed, sampling_initial=2, sampling_thereafter=3, granularity="hour"
    ).count()
    assert counts["debug/s"] == expected
    assert counts["debug/all"] == parsed.count()
    assert counts["debug/s"] < counts["debug/all"]


def test_debug_sampling_thereafter_validated_at_load(spark, sf_dir):
    """sampling_thereafter is a modulo divisor: 0 (or any non-positive /
    non-integer / boolean value) must be rejected at config-load time
    with a ConfigError, not surface as a runtime divide-by-zero; the
    reference defaults it to 1 (debugexporter factory.go:29-30 — keep
    everything after the initial burst). Booleans are rejected even
    though Python bools pass isinstance(int): True silently meaning
    'every record' is a config typo, not a sampling policy."""
    import pytest

    from opentelemetry_collector_spark.plans.config import ConfigError

    for bad in (0, -2, "five", True, False):
        raw = _base(
            {"logs": {"receivers": ["transcripts"], "processors": [],
                      "exporters": ["debug/s"]}}
        )
        raw["receivers"]["transcripts"]["sf_dir"] = str(sf_dir)
        raw["exporters"]["debug/s"] = {
            "verbosity": "normal", "sampling_initial": 2,
            "sampling_thereafter": bad,
        }
        with pytest.raises(ConfigError, match="sampling_thereafter"):
            ServiceConfig.from_dict(raw)


def test_multi_signal_pipelines_from_config(spark, sf_dir, tmp_path):
    """A YAML graph can convert the logs signal into TRACES and METRICS
    pipelines: parsed logs feed a forward connector consumed by a
    traces pipeline (derive_spans → table) and a metrics pipeline
    (exp_histogram → table) — the logs-to-traces / count-connector
    analogs, one scan feeding all three signals."""
    raw = _base(
        {
            "logs": {"receivers": ["transcripts"], "processors": ["parse"],
                     "exporters": ["forward/sig", "table/a"]},
            "traces": {"receivers": ["forward/sig"],
                       "processors": ["derive_spans/sig"],
                       "exporters": ["table/spans"]},
            "metrics": {"receivers": ["forward/sig"],
                        "processors": ["exp_histogram/sig"],
                        "exporters": ["table/hist"]},
        }
    )
    raw["receivers"]["transcripts"]["sf_dir"] = str(sf_dir)
    raw["connectors"]["forward/sig"] = {}
    # component TYPE comes from the id prefix (component/identifiable.go)
    raw["processors"]["derive_spans/sig"] = {}
    raw["processors"]["exp_histogram/sig"] = {
        "value_col": "latency_ms", "scale": 2,
    }
    raw["exporters"]["table/spans"] = {"table": "out_spans"}
    raw["exporters"]["table/hist"] = {"table": "out_hist"}

    counts = run(ServiceConfig.from_dict(raw), spark,
                 str(tmp_path / "whsig"))
    n_turns = counts["table/a"]
    assert counts["table/spans"] == n_turns > 0   # one span per turn
    assert 0 < counts["table/hist"] < n_turns     # bucket rows

    cat = TableCatalog(spark, str(tmp_path / "whsig"))
    spans = cat.read("out_spans")
    assert {"trace_id", "span_id", "kind", "status_code"} <= set(spans.columns)
    hist = cat.read("out_hist")
    assert {"sign", "idx", "n", "lo", "hi"} <= set(hist.columns)


def test_wire_file_export_then_ingest_from_config(spark, sf_dir, tmp_path):
    """Config-defined wire round trip: a logs pipeline exports .pb
    envelope files (otlp_proto_file exporter), a second config run
    ingests them back (otlp_proto receiver) — every record survives the
    export → files → ingest cycle, all through YAML."""
    pb_dir = str(tmp_path / "pb")
    raw = _base(
        {"logs": {"receivers": ["transcripts"], "processors": ["parse"],
                  "exporters": ["otlp_proto_file/out"]}}
    )
    raw["receivers"]["transcripts"]["sf_dir"] = str(sf_dir)
    raw["exporters"]["otlp_proto_file/out"] = {"path": pb_dir}
    counts = run(ServiceConfig.from_dict(raw), spark,
                 str(tmp_path / "whw"))
    assert counts["otlp_proto_file/out"] > 0  # envelope files written

    raw2 = _base(
        {"logs": {"receivers": ["otlp_proto/in"], "processors": [],
                  "exporters": ["table/a"]}}
    )
    raw2["receivers"]["otlp_proto/in"] = {"path": pb_dir}
    counts2 = run(ServiceConfig.from_dict(raw2), spark,
                  str(tmp_path / "whw2"))

    from opentelemetry_collector_spark.sources import derive_transcripts

    n_turns = derive_transcripts(spark, str(sf_dir)).count()
    assert counts2["table/a"] == n_turns
    out = TableCatalog(spark, str(tmp_path / "whw2")).read("out_a")
    assert {"res_conv", "turn_idx", "body_text"} <= set(out.columns)


def test_malformed_pb_file_lands_in_rejected_table(spark, tmp_path):
    """A truncated .pb file's decode_error row does not reach a table
    exporter as a record: it lands in rejected_<table>, the ack counts
    it as rejected and the returned count excludes it."""
    from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore
    from opentelemetry_collector_spark.sources import otlp_proto as op

    def envelope(conv, n):
        return op.encode_resource_logs(conv, [("bash", [
            op.encode_log_record(i + 1, 9, "INFO", f"t{i}", i, "") for i in range(n)
        ])])

    pb_dir = tmp_path / "pb"
    pb_dir.mkdir()
    (pb_dir / "good.pb").write_bytes(envelope("c-good", 3))
    (pb_dir / "bad.pb").write_bytes(envelope("c-bad", 1)[:-3])
    raw = _base({"logs": {"receivers": ["otlp_proto/in"], "processors": [],
                          "exporters": ["table/a"]}})
    raw["receivers"]["otlp_proto/in"] = {"path": str(pb_dir)}
    wh = str(tmp_path / "wh")
    counts = run(ServiceConfig.from_dict(raw), spark, wh, run_id="pb")

    cat = TableCatalog(spark, wh)
    out = cat.read("out_a")
    assert sorted((r["res_conv"], r["turn_idx"]) for r in out.collect()) == [
        ("c-good", i) for i in range(3)
    ]
    (rej,) = cat.read("rejected_out_a").collect()
    assert rej["decode_error"] == "truncated_length"
    assert counts["table/a"] == 3
    (ack,) = [m for m in CheckpointStore(wh, "pb").metrics()
              if m["stage"] == "logs:table_a"]
    assert (ack["rows_in"], ack["rows_out"], ack["rejected"]) == (4, 3, 1)


def _flagship_raw() -> dict:
    import yaml

    with open(os.path.join(REPO, "configs", "flagship.yaml")) as f:
        return yaml.safe_load(f)


def _misspelled_pipeline(raw):
    raw["connectors"]["router/bytool"]["routes"]["sink_search"] = ["logs/serach"]


def _pipeline_not_fed_by_router(raw):
    raw["service"]["pipelines"]["logs/side"] = {
        "receivers": ["transcripts"], "exporters": ["table/search"]}
    raw["connectors"]["router/bytool"]["routes"]["sink_search"] = ["logs/side"]


def _consumer_with_processors(raw):
    raw["service"]["pipelines"]["logs/search"]["processors"] = ["enrich"]


def _consumer_with_debug_exporter(raw):
    raw["exporters"]["debug/search"] = {}
    raw["service"]["pipelines"]["logs/search"]["exporters"] = ["debug/search"]


def _two_routes_one_table(raw):
    raw["exporters"]["table/browser"]["table"] = "sink_search"


def _route_to_two_pipelines(raw):
    raw["connectors"]["router/bytool"]["routes"]["sink_search"].append("logs/browser")


def _consumer_without_route(raw):
    del raw["connectors"]["router/bytool"]["routes"]["sink_default"]


@pytest.mark.parametrize("defect, match", [
    pytest.param(_misspelled_pipeline,
                 "route 'sink_search': pipeline 'logs/serach' is not configured",
                 id="misspelled_pipeline"),
    pytest.param(_pipeline_not_fed_by_router,
                 "route 'sink_search': pipeline 'logs/side' .*does not receive",
                 id="pipeline_not_fed_by_router"),
    pytest.param(_consumer_with_processors,
                 "route 'sink_search': pipeline 'logs/search' must .*no processors",
                 id="consumer_with_processors"),
    pytest.param(_consumer_with_debug_exporter,
                 "route 'sink_search': .*one table exporter",
                 id="consumer_with_debug_exporter"),
    pytest.param(_two_routes_one_table,
                 "route 'sink_browser': table 'sink_search' is fed by another route",
                 id="two_routes_one_table"),
    pytest.param(_route_to_two_pipelines,
                 "route 'sink_search': must name exactly one pipeline",
                 id="route_to_two_pipelines"),
    pytest.param(_consumer_without_route,
                 "pipeline 'logs/default' receives from it but no route names it",
                 id="consumer_without_route"),
])
def test_router_fan_out_rejects_what_it_cannot_run(defect, match):
    """A router runs as one partitioned fan-out, so every route must land
    in its own table through a plain table pipeline; anything else is a
    config error naming the route, not a table silently written empty."""
    ServiceConfig.from_dict(_flagship_raw())
    raw = _flagship_raw()
    defect(raw)
    with pytest.raises(ConfigError, match=match):
        ServiceConfig.from_dict(raw)
