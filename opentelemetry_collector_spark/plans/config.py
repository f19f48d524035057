"""YAML pipeline configuration → validated pipeline graph (SURVEY §3.1,
§2.3 R4 — the confmap/service-graph analog).

The reference's primary UX is a YAML config: component sections
(receivers / processors / exporters / connectors) plus
``service.pipelines`` wiring them into a DAG, resolved and validated
before anything starts (otelcol/collector.go:179-270,
confmap/resolver.go:73-128, service/pipelines/config.go:25-64). The
graph treats a connector as an exporter in one pipeline and a receiver
in another, deduplicates nodes, and topo-sorts — rejecting cycles with
an error that names the offending path
(service/internal/graph/graph.go:98-199, 511-549).

Spark-first re-expression: components are *stage factories* over lazy
DataFrames; building the graph composes one Catalyst plan per terminal
exporter, so the optimizer sees across pipeline boundaries (a connector
is just a sub-plan handle, not a serialization point — the zero-copy
analog of the in-process consumer ABI). A connector output consumed by
more than one downstream pipeline is persisted once, mirroring the
fanout consumer's single cached parent (internal/fanoutconsumer/
logs.go:21-77). A router connector and the table pipelines it feeds
run as ONE fan-out: one cached parent, one partitioned write for all
its tables, the quarantine route's included, and one for the
aggregates of all but quarantine (:func:`_fan_out`). Every table, a
plain ``table`` exporter's too, is written by the one table writer
sinks/tables.fan_out_write, which streaming micro-batches share: one
call flags, counts and splits rejected rows, publishes the tables and
removes its staging dir, so this module keeps only the policy (which
constraints, lineage, acks and resume).
This is the only batch executor; ``configs/flagship.yaml`` is the
flagship job. As in the reference (otelcol/collector.go:179-270), a
run's behaviour comes from its resolved config alone: ``${...}``
references resolve against the process environment, and no call
parameter replaces a component.

Component IDs follow the reference's ``type`` or ``type/name`` format
(component/identifiable.go). Supported types:

* receivers:  ``transcripts`` (sf_dir option — the OTLP receiver
  analog over the events-derived table), ``parquet`` (path option)
* processors: ``parse``, ``enrich``, ``filter`` (column/strict/regexp/
  mode — filterprocessor), ``sample`` (conversation-hash sampler),
  ``route`` (adds the route column; unparsed rows take the
  ``quarantine`` route), ``attributes`` (verb list — attributesprocessor)
* exporters:  ``table`` (table option — Iceberg/parquet sink),
  ``debug`` (debugexporter), ``nop``
* connectors: ``forward`` (forwardconnector/forward.go:17-90),
  ``router`` (content routing by the route column, one table pipeline
  per route — connector/logs_router.go:18-69)
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import aggregate as agg_ops
from opentelemetry_collector_spark.operators.debugfmt import sample_per_second
from opentelemetry_collector_spark.operators.route import QUARANTINE
from opentelemetry_collector_spark.plans import errors as err_ops
from opentelemetry_collector_spark.plans import lineage as lineage_ops
from opentelemetry_collector_spark.plans.checkpoint import CheckpointStore
from opentelemetry_collector_spark.sinks.tables import (
    TableCatalog,
    debug_format,
    fan_out_write,
    reject_reason,
)


class ConfigError(ValueError):
    """Invalid pipeline configuration (the otelcol config-validation
    error class; messages mirror service/pipelines/config.go:25-64)."""


# ---------------------------------------------------------------------------
# confmap resolver: ${scheme:uri} expansion + multi-source merge
# (confmap/resolver.go:73-128, confmap/provider/envprovider,
#  confmap/provider/fileprovider)
# ---------------------------------------------------------------------------

# a reference body may contain ONE level of braces (yaml flow maps:
# ``${yaml:{timeout: 2s}}``); deeper nesting is rejected like the
# reference's resolver rejects unbalanced URIs
_REF_RE = re.compile(r"\$\$|\$\{((?:[^${}]|\{[^{}]*\})+)\}")


def _env_provider(uri: str) -> str:
    if uri not in os.environ:
        raise ConfigError(f"environment variable {uri!r} is not set")
    return os.environ[uri]


def _file_provider(uri: str) -> str:
    try:
        with open(uri) as f:
            return f.read()
    except OSError as e:
        raise ConfigError(f"cannot read ${{file:{uri}}}: {e}") from e


def _yaml_provider(uri: str) -> str:
    """Inline-YAML provider (confmap/provider/yamlprovider): the URI
    body IS the value, e.g. ``${yaml:[a, b]}`` or ``${yaml:{timeout:
    2s}}`` — returned as text here and YAML-parsed type-preservingly by
    _expand_value exactly like env/file payloads. Validation happens at
    parse time so a malformed fragment fails at config load, not at
    first use."""
    import yaml

    try:
        yaml.safe_load(uri)
    except yaml.YAMLError as e:
        raise ConfigError(f"${{yaml:...}}: invalid YAML fragment: {e}") from e
    return uri


# Built-in scheme providers, mirroring the reference's env, file and
# yaml providers. A provider maps a URI to raw text; the resolved text
# is YAML-parsed when the reference was the entire string (so ``port:
# ${env:PORT}`` yields an int, exactly like confmap).
#
# Out of scope v1: the reference's ``http://`` / ``https://`` providers
# (confmap/provider/httpprovider, httpsprovider) — config fetched over
# the network at submit time is an anti-pattern for a Spark job (the
# driver may relaunch where the endpoint is absent; cluster configs
# belong in the artifact store shipped with the job). The registry is a
# plain dict, so a deployment that needs them registers a scheme in one
# line.
PROVIDERS: dict[str, Callable[[str], str]] = {
    "env": _env_provider, "file": _file_provider, "yaml": _yaml_provider,
}


def _resolve_ref(inner: str) -> str:
    """Resolve the inside of one ``${...}`` to raw text. Syntax
    (envprovider): ``env:NAME``, ``env:NAME:-default``, and the bare
    legacy form ``NAME`` / ``NAME:-default`` (default scheme env)."""
    ref, default = inner, None
    if inner.split(":", 1)[0] == "yaml" and ":" in inner:
        # the yaml provider's URI body is a LITERAL fragment — a ':-'
        # inside it (${yaml:-5}, ${yaml:{k: v}} with embedded ':-') is
        # part of the YAML, not the envprovider default grammar
        scheme, uri = inner.split(":", 1)
    else:
        if ":-" in inner:
            ref, default = inner.split(":-", 1)
        if ":" in ref:
            scheme, uri = ref.split(":", 1)
        else:
            scheme, uri = "env", ref
    provider = PROVIDERS.get(scheme)
    if provider is None:
        raise ConfigError(
            f"config reference ${{{inner}}}: unsupported scheme {scheme!r} "
            f"(have: {', '.join(sorted(PROVIDERS))})"
        )
    try:
        return provider(uri)
    except ConfigError:
        if default is not None:
            return default
        raise


def _expand_value(v):
    """Recursively expand ``${scheme:uri}`` references in a loaded YAML
    structure. A string that is exactly one reference resolves to the
    YAML-parsed value (type-preserving); embedded references substitute
    as text. ``$$`` escapes a literal ``$``."""
    import yaml

    if isinstance(v, dict):
        return {k: _expand_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_expand_value(x) for x in v]
    if not isinstance(v, str) or "$" not in v:
        return v

    whole = _REF_RE.fullmatch(v)
    if whole and whole.group(1) is not None:
        text = _resolve_ref(whole.group(1))
        try:
            return yaml.safe_load(text)
        except yaml.YAMLError:
            return text

    def sub(m: re.Match) -> str:
        if m.group(0) == "$$":
            return "$"
        return _resolve_ref(m.group(1))

    return _REF_RE.sub(sub, v)


def _deep_merge(base: dict, over: dict) -> dict:
    """confmap merge: maps merge recursively, everything else (scalars,
    lists) is replaced by the later source (confmap.Conf.Merge)."""
    out = dict(base)
    for k, v in over.items():
        if isinstance(out.get(k), dict) and isinstance(v, dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def _ctype(component_id: str) -> str:
    """``type[/name]`` → type (component/identifiable.go)."""
    return component_id.split("/", 1)[0]


def _table_name(exporter: str, exporters: dict[str, dict]) -> str:
    """The table a ``table`` exporter writes ("/" would nest dirs)."""
    return (exporters[exporter] or {}).get("table", exporter.replace("/", "_"))


@dataclass
class ServicePipeline:
    name: str
    receivers: list[str]
    processors: list[str]
    exporters: list[str]


@dataclass
class ServiceConfig:
    receivers: dict[str, dict]
    processors: dict[str, dict]
    exporters: dict[str, dict]
    connectors: dict[str, dict]
    pipelines: dict[str, ServicePipeline]

    @staticmethod
    def from_files(paths: list[str]) -> "ServiceConfig":
        """Load the YAML sources ``paths``: later files deep-merge over
        earlier ones (maps merge recursively, scalars/lists replace — the
        resolver's Conf.Merge semantics), THEN ``${env:VAR}`` /
        ``${env:VAR:-default}`` / ``${file:path}`` / ``${yaml:...}``
        references (confmap/resolver.go:73-128; providers under
        confmap/provider/) expand over the merged result against the
        process environment — the reference's resolve-after-merge order,
        so an override file can replace a ``${env:...}`` reference with
        a literal (or vice versa). Unresolvable references raise
        ConfigError."""
        import yaml

        merged: dict = {}
        for p in paths:
            with open(p) as f:
                merged = _deep_merge(merged, yaml.safe_load(f.read()) or {})
        return ServiceConfig.from_dict(_expand_value(merged))

    @staticmethod
    def from_dict(raw: dict) -> "ServiceConfig":
        pipelines = {}
        for name, spec in ((raw.get("service") or {}).get("pipelines") or {}).items():
            spec = spec or {}
            pipelines[name] = ServicePipeline(
                name=name,
                receivers=list(spec.get("receivers") or []),
                processors=list(spec.get("processors") or []),
                exporters=list(spec.get("exporters") or []),
            )
        cfg = ServiceConfig(
            receivers=dict(raw.get("receivers") or {}),
            processors=dict(raw.get("processors") or {}),
            exporters=dict(raw.get("exporters") or {}),
            connectors=dict(raw.get("connectors") or {}),
            pipelines=pipelines,
        )
        cfg.validate()
        return cfg

    # -- validation (service/pipelines/config.go:25-64 + graph cycles) --
    def validate(self) -> None:
        if not self.pipelines:
            raise ConfigError("service.pipelines: no pipelines configured")
        for name, p in self.pipelines.items():
            if not p.receivers:
                raise ConfigError(f"pipeline {name!r}: must have at least one receiver")
            if not p.exporters:
                raise ConfigError(f"pipeline {name!r}: must have at least one exporter")
            for r in p.receivers:
                if r not in self.receivers and r not in self.connectors:
                    raise ConfigError(
                        f"pipeline {name!r}: references receiver {r!r} "
                        "which is not configured"
                    )
            for pr in p.processors:
                if pr not in self.processors:
                    raise ConfigError(
                        f"pipeline {name!r}: references processor {pr!r} "
                        "which is not configured"
                    )
            if len(p.processors) != len(set(p.processors)):
                raise ConfigError(
                    f"pipeline {name!r}: references processor more than once"
                )
            for e in p.exporters:
                if e not in self.exporters and e not in self.connectors:
                    raise ConfigError(
                        f"pipeline {name!r}: references exporter {e!r} "
                        "which is not configured"
                    )
            if len(p.exporters) != len(set(p.exporters)):
                raise ConfigError(
                    f"pipeline {name!r}: references exporter more than once"
                )
        # debugexporter sampling knobs: thereafter must be >= 1 — it is
        # a modulo divisor (keep every Nth after the initial burst); the
        # reference defaults it to 1, i.e. keep EVERYTHING after the
        # burst (factory.go:29-30: initial=2, thereafter=1; 500 is the
        # legacy loggingexporter/zap default, not this component's)
        for cid, opts in self.exporters.items():
            if _ctype(cid) != "debug":
                continue
            st = (opts or {}).get("sampling_thereafter", 1)
            if not isinstance(st, int) or isinstance(st, bool) or st < 1:
                raise ConfigError(
                    f"exporter {cid!r}: sampling_thereafter must be an "
                    f"integer >= 1 (got {st!r})"
                )
        # every connector must be used as BOTH an exporter somewhere and
        # a receiver somewhere else (graph.go:151-199 orphan checks)
        for c in self.connectors:
            as_exp = any(c in p.exporters for p in self.pipelines.values())
            as_rcv = any(c in p.receivers for p in self.pipelines.values())
            if not (as_exp and as_rcv):
                raise ConfigError(
                    f"connector {c!r}: must be used as exporter in one pipeline "
                    "and receiver in another"
                )
            if _ctype(c) == "router":
                self.router_exporters(c)
        self.topo_order()  # raises on cycles

    def router_exporters(self, cid: str) -> dict[str, str]:
        """Route value → table exporter of the router ``cid``. The
        fan-out moves each route's partition dir into one table, so every
        route must feed one pipeline that receives only from the router,
        has no processors and exports to one ``table`` exporter; no two
        routes may share a table, and every pipeline the router feeds
        must be named by a route."""
        exporters: dict[str, str] = {}
        tables: set[str] = set()
        routed: set[str] = set()
        for rv, pipes in ((self.connectors[cid] or {}).get("routes") or {}).items():
            where = f"connector {cid!r}: route {rv!r}"
            if len(pipes or []) != 1:
                raise ConfigError(f"{where}: must name exactly one pipeline")
            name = pipes[0]
            p = self.pipelines.get(name)
            if p is None or cid not in p.receivers:
                raise ConfigError(
                    f"{where}: pipeline {name!r} is not configured or does "
                    f"not receive from {cid!r}"
                )
            if (p.receivers != [cid] or p.processors or len(p.exporters) != 1
                    or _ctype(p.exporters[0]) != "table"):
                raise ConfigError(
                    f"{where}: pipeline {name!r} must receive only from "
                    f"{cid!r}, have no processors and export to one table exporter"
                )
            table = _table_name(p.exporters[0], self.exporters)
            if table in tables:
                raise ConfigError(f"{where}: table {table!r} is fed by another route")
            tables.add(table)
            exporters[rv] = p.exporters[0]
            routed.add(name)
        for name, p in self.pipelines.items():
            if cid in p.receivers and name not in routed:
                raise ConfigError(
                    f"connector {cid!r}: pipeline {name!r} receives from it "
                    "but no route names it"
                )
        return exporters

    def topo_order(self) -> list[str]:
        """Pipeline names in dependency order (upstream first). Edges:
        pipeline A --(connector)--> pipeline B when A exports to a
        connector B receives from. Cycles are rejected with the
        connector path named (graph.go:511-549)."""
        deps: dict[str, set[str]] = {name: set() for name in self.pipelines}
        via: dict[tuple[str, str], str] = {}
        for a_name, a in self.pipelines.items():
            for c in a.exporters:
                if c not in self.connectors:
                    continue
                for b_name, b in self.pipelines.items():
                    if c in b.receivers:
                        deps[b_name].add(a_name)
                        via[(a_name, b_name)] = c
        order: list[str] = []
        state: dict[str, int] = {}  # 0 unvisited / 1 in-stack / 2 done
        stack: list[str] = []

        def visit(n: str) -> None:
            if state.get(n) == 2:
                return
            if state.get(n) == 1:
                cyc = stack[stack.index(n):] + [n]
                conns = [
                    via.get((cyc[i], cyc[i + 1]), "?") for i in range(len(cyc) - 1)
                ]
                raise ConfigError(
                    "cycle detected in pipeline graph: "
                    + " -> ".join(cyc)
                    + f" (via connector(s) {', '.join(sorted(set(conns)))})"
                )
            state[n] = 1
            stack.append(n)
            for d in sorted(deps[n]):
                visit(d)
            stack.pop()
            state[n] = 2
            order.append(n)

        for n in sorted(self.pipelines):
            visit(n)
        return order


# ---------------------------------------------------------------------------
# component factories
# ---------------------------------------------------------------------------

def _make_receiver(cid: str, opts: dict, spark: SparkSession) -> DataFrame:
    from opentelemetry_collector_spark.sources import derive_transcripts

    t = _ctype(cid)
    if t == "transcripts":
        return derive_transcripts(spark, opts.get("sf_dir", "/root/testdata/sf0.001"))
    if t == "parquet":
        return spark.read.parquet(opts["path"])
    if t == "otlp_json":
        # OTLP/JSON envelope files — the reference's wire format as a
        # file receiver (sources/otlp_json.py)
        from opentelemetry_collector_spark.sources.otlp_json import read_otlp_json

        return read_otlp_json(spark, opts["path"])
    if t == "otlp_proto":
        # OTLP protobuf envelope files (.pb) — the reference's PRIMARY
        # wire format as a file receiver (sources/otlp_proto.py)
        from opentelemetry_collector_spark.sources.otlp_proto import (
            read_otlp_proto,
        )

        return read_otlp_proto(spark, opts["path"])
    raise ConfigError(f"receiver {cid!r}: unknown type {t!r}")


def _make_processor(cid: str, opts: dict, spark: SparkSession) -> Callable[[DataFrame], DataFrame]:
    from opentelemetry_collector_spark.operators import attributes as attr_ops
    from opentelemetry_collector_spark.operators import enrich as enrich_ops
    from opentelemetry_collector_spark.operators import filters as filter_ops
    from opentelemetry_collector_spark.operators import parse as parse_ops
    from opentelemetry_collector_spark.operators import route as route_ops
    from opentelemetry_collector_spark.sources import role_lookup_df, tool_lookup_df

    t = _ctype(cid)
    if t == "parse":
        with_attrs = bool(opts.get("with_attrs", True))
        return lambda df: parse_ops.parse_stage(df, with_attrs=with_attrs)
    if t == "enrich":
        return lambda df: enrich_ops.enrich_stage(
            df, tool_lookup_df(spark), role_lookup_df(spark)
        )
    if t == "filter":
        spec = filter_ops.MatchSpec(
            column=opts["column"],
            strict=opts.get("strict"),
            regexp=opts.get("regexp"),
        )
        mode = opts.get("mode", "include")
        return lambda df: filter_ops.filter_stage(df, [spec], mode=mode)
    if t == "sample":
        keep = str(opts.get("keep_hex_lt", "29"))
        return lambda df: filter_ops.sample_conversations(df, keep_hex_lt=keep)
    if t == "route":
        return lambda df: route_ops.route_stage(df, route_ops.route_or_quarantine())
    if t == "attributes":
        # attributesprocessor action list (processor/attributesprocessor
        # config shape): set / delete / keep_keys verbs applied in order
        actions = list(opts.get("actions", []))

        def apply_actions(df: DataFrame, acts=actions) -> DataFrame:
            for a in acts:
                verb = a.get("action")
                if verb == "set":
                    df = attr_ops.set_attr(df, a["key"], F.lit(str(a["value"])))
                elif verb == "delete":
                    df = attr_ops.delete_attr(df, a["key"])
                elif verb == "keep_keys":
                    df = attr_ops.keep_keys(df, list(a["keys"]))
                else:
                    raise ConfigError(f"attributes: unknown action {verb!r}")
            return df

        return apply_actions
    if t == "derive_spans":
        # logs → TRACES signal conversion (the logs-to-traces connector
        # analog): one span per parsed turn (operators/traces.py)
        from opentelemetry_collector_spark.operators import traces as traces_ops

        return lambda df: traces_ops.derive_spans(df)
    if t == "exp_histogram":
        # logs → METRICS signal conversion (count-connector analog):
        # exponential-histogram buckets of a numeric attribute
        # (operators/exphist.py)
        from opentelemetry_collector_spark.operators import exphist as exphist_ops

        value_col = opts.get("value_col", "latency_ms")
        scale = int(opts.get("scale", 2))
        group = tuple(opts.get("group_by", ["tool_parsed"]))
        return lambda df: exphist_ops.exponential_histogram(
            df, value_col, scale=scale, group_cols=group
        )
    raise ConfigError(f"processor {cid!r}: unknown type {t!r}")


def run(
    cfg: ServiceConfig,
    spark: SparkSession,
    warehouse: str,
    run_id: str | None = None,
) -> dict[str, int]:
    """Execute ``cfg``'s graph: pipelines in topo order, connectors carrying
    lazy sub-plans between them. A router connector and the pipelines it
    feeds run as ONE fan-out (:func:`_fan_out`); every other table
    exporter is one write with partial success
    (plans/errors.write_with_partial_success): a row whose
    ``decode_error`` is set (a malformed wire file) goes to
    ``rejected_<table>``. A receiver or forward connector read by
    several pipelines is persisted once (graph.go:213-248 node dedup,
    fanoutconsumer/logs.go:21-77) and released after the run.

    Returns per-exporter row counts (obsconsumer accounting), rejected
    rows excluded. Every table write is an idempotent overwrite
    (sinks/tables.py), its files sized by the session
    (``spark.sql.files.maxRecordsPerFile``, session.py), acked in the
    run's CheckpointStore: a re-run with the same ``run_id`` skips the
    acked stages (persistent_queue.go:321-428).
    """
    catalog = TableCatalog(spark, warehouse)
    ckpt = CheckpointStore(warehouse, run_id)
    conn_inputs: dict[str, list[DataFrame]] = {c: [] for c in cfg.connectors}
    readers = {c: sum(c in p.receivers for p in cfg.pipelines.values())
               for c in [*cfg.receivers, *cfg.connectors]}
    rcv_cache: dict[str, DataFrame] = {}
    persisted: list[DataFrame] = []
    counts: dict[str, int] = {}
    # table exporter id -> its ack stage; its count is read from the ack
    stages: dict[str, str] = {}

    def _shared(cid: str, df: DataFrame) -> DataFrame:
        if readers[cid] > 1:
            df = df.persist()
            persisted.append(df)
        return df

    def _input(rid: str) -> DataFrame:
        """A connector's unioned inputs, or the ONE scan of a receiver."""
        if rid in cfg.connectors:
            if _ctype(rid) not in ("forward", "router"):
                raise ConfigError(f"connector {rid!r}: unknown type {_ctype(rid)!r}")
            return reduce(DataFrame.unionByName, conn_inputs[rid])
        if rid not in rcv_cache:
            rcv_cache[rid] = _shared(rid, _make_receiver(rid, cfg.receivers[rid] or {}, spark))
        return rcv_cache[rid]

    try:
        for pname in cfg.topo_order():
            p = cfg.pipelines[pname]
            cid = p.receivers[0]
            if cid in cfg.connectors and _ctype(cid) == "router":
                # the pipelines a router feeds are the tables of ONE
                # fan-out, run when the first of them comes up
                if p.exporters[0] not in stages:
                    exporters = cfg.router_exporters(cid)
                    acked = _fan_out(
                        catalog, ckpt, _input(cid),
                        {rv: _table_name(e, cfg.exporters) for rv, e in exporters.items()},
                    )
                    stages |= {exporters[rv]: st for rv, st in acked.items()}
                continue
            df = reduce(DataFrame.unionByName, map(_input, p.receivers))
            for prid in p.processors:
                df = _make_processor(prid, cfg.processors[prid] or {}, spark)(df)
            if sum(e not in cfg.connectors for e in p.exporters) > 1:
                df = df.persist()
                persisted.append(df)
            for e in p.exporters:
                if e in cfg.connectors:
                    # a router's fan-out caches its own parent
                    conn_inputs[e].append(df if _ctype(e) == "router" else _shared(e, df))
                    continue
                t = _ctype(e)
                opts = cfg.exporters[e] or {}
                if t == "table":
                    # "/" in component ids would nest checkpoint files
                    stages[e] = stage = f"{pname}:{e}".replace("/", "_")

                    def _write() -> tuple[int, int, dict]:
                        valid = ([("decode_error", "decode_error IS NULL")]
                                 if "decode_error" in df.columns else [])
                        n, r = err_ops.write_with_partial_success(
                            catalog, _table_name(e, cfg.exporters), df, valid)
                        return n + r, n, {"exporter": e, "pipeline": pname, "rejected": r}

                    ckpt.gate(stage, _write)
                elif t == "debug":
                    # sampling (factory.go:29-30): the first N per
                    # event-time second, then every Mth; M defaults to the
                    # reference's 1 (keep all after the burst) and
                    # validate() rejected M < 1
                    out, si = df, int(opts.get("sampling_initial", 0))
                    if si > 0:
                        out = sample_per_second(
                            df, sampling_initial=si,
                            sampling_thereafter=int(opts.get("sampling_thereafter", 1)),
                            granularity=opts.get("sampling_granularity", "second"),
                        )
                    counts[e] = debug_format(out, verbosity=opts.get("verbosity", "normal")).count()
                elif t == "otlp_proto_file":
                    # wire-format file exporter: parsed rows → LogsData
                    # .pb envelope files (one per conversation batch) —
                    # the exporter-side twin of the otlp_proto receiver
                    from opentelemetry_collector_spark.sources.otlp_proto import (
                        encode_logs_proto,
                        write_proto_files,
                    )

                    counts[e] = write_proto_files(
                        encode_logs_proto(df, batch_size=int(opts.get("batch_size", 512))),
                        opts["path"],
                    )
                elif t == "nop":
                    counts[e] = 0
                else:
                    raise ConfigError(f"exporter {e!r}: unknown type {t!r}")
    finally:
        for d in persisted:
            d.unpersist()
    acked_rows = {m["stage"]: m["rows_out"] for m in ckpt.metrics()}
    return counts | {e: acked_rows[st] for e, st in stages.items()}


# ---------------------------------------------------------------------------
# the router fan-out (internal/fanoutconsumer/logs.go:21-77 over
# connector/logs_router.go:18-69)
# ---------------------------------------------------------------------------

def _fan_out(
    catalog: TableCatalog, ckpt: CheckpointStore, df: DataFrame, tables: dict[str, str],
) -> dict[str, str]:
    """Write every route of a router connector; ``tables`` maps each
    route value to its table. Returns each route's ack stage,
    ``write_<table>``.

    One cached parent, sized by its data (the session lets AQE coalesce
    the shuffle under a persisted plan: 4 files per table at sf0.1 on 4
    cores), feeds a fixed set of Spark jobs however many routes there
    are: one lineage collect over the accepted rows, ONE
    sinks/tables.fan_out_write for every un-acked route, the
    ``quarantine`` route included, with partial success (rows failing
    the default sink constraints go to ``rejected_<table>``, counted in
    the ack), ONE for the ``agg_<table>`` tables of every route but
    ``quarantine``, which checks no constraint, then the ``lineage``
    table. Each write publishes its tables and removes its staging dir
    itself; the tables are then acked in route order, the shared write's
    time counting toward every ack, so a resume writes only the
    un-acked tables (persistent_queue.go:321-428).
    """
    route = F.col("route")

    def _lineage_table() -> tuple[int, int, dict]:
        """Flatten the run's acked lineage into queryable tables."""
        rows, file_rows = ckpt.write_lineage_table()
        return rows, rows, {"file_rows": file_rows}

    routed = df.persist()
    try:
        write_sinks = {s: t for s, t in tables.items() if not ckpt.is_done(f"write_{t}")}
        agg_sinks = {s: f"agg_{t}" for s, t in tables.items()
                     if s != QUARANTINE and not ckpt.is_done(f"agg_{t}")}

        if write_sinks:
            # Per-partition logical lineage of the rows the writer accepts,
            # every route in ONE aggregation (A6 north-rule contract)
            lineage: dict[str, list[dict]] = {}
            accepted = routed.filter(reject_reason().isNull())
            for r in lineage_ops.logical_lineage(accepted).collect():
                lineage.setdefault(r["route"], []).append(
                    {"part_id": r["part_id"], "rows": r["rows"], "bytes": r["bytes"]}
                )
            t0 = time.monotonic()
            got = fan_out_write(catalog, f"_staging_{ckpt.run_id}_sinks",
                                routed.withColumn("_sink", route), "_sink", write_sinks)
            wall_ms = int((time.monotonic() - t0) * 1000)
            for s, t in write_sinks.items():
                n, r = got[s]["accepted"], got[s]["rejected"]
                ckpt.commit(f"write_{t}", n + r, n, wall_ms, {
                    "sink": t, "rejected": r, "partitions": lineage.get(s, []),
                    "files": lineage_ops.file_lineage(catalog.path(t)),
                })
        if agg_sinks:
            t0 = time.monotonic()
            got = fan_out_write(
                catalog, f"_staging_{ckpt.run_id}_aggs",
                agg_ops.hourly_sink_accounting(routed.filter(route.isin(list(agg_sinks)))),
                "route", agg_sinks, constraints=[],
            )
            wall_ms = int((time.monotonic() - t0) * 1000)
            for s, t in agg_sinks.items():
                n = got[s]["accepted"]
                ckpt.commit(t, n, n, wall_ms, {
                    "sink": tables[s], "files": lineage_ops.file_lineage(catalog.path(t)),
                })
        ckpt.gate("lineage", _lineage_table)
    finally:
        routed.unpersist()
    return {rv: f"write_{t}" for rv, t in tables.items()}
