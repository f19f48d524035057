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
logs.go:21-77).

Component IDs follow the reference's ``type`` or ``type/name`` format
(component/identifiable.go). Supported types:

* receivers:  ``transcripts`` (sf_dir option — the OTLP receiver
  analog over the events-derived table), ``parquet`` (path option)
* processors: ``parse``, ``enrich``, ``filter`` (column/strict/regexp/
  mode — filterprocessor), ``sample`` (conversation-hash sampler),
  ``route`` (adds the route column), ``attributes`` (verb list —
  attributesprocessor)
* exporters:  ``table`` (table option — Iceberg/parquet sink),
  ``debug`` (debugexporter), ``nop``
* connectors: ``forward`` (forwardconnector/forward.go:17-90),
  ``router`` (content routing to downstream pipelines by the route
  column — connector/logs_router.go:18-69)
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def _default_providers() -> dict[str, Callable[[str, Mapping[str, str]], str]]:
    """Built-in scheme providers, mirroring the reference's env, file
    and yaml providers. A provider maps a URI to raw text; the resolved
    text is YAML-parsed when the reference was the entire string (so
    ``port: ${env:PORT}`` yields an int, exactly like confmap).

    Out of scope v1: the reference's ``http://`` / ``https://``
    providers (confmap/provider/httpprovider, httpsprovider) — config
    fetched over the network at submit time is an anti-pattern for a
    Spark job (the driver may relaunch where the endpoint is absent;
    cluster configs belong in the artifact store shipped with the job),
    and this sandbox has no network. The provider registry is a plain
    dict, so a deployment that needs them registers a scheme in one
    line."""

    def env_provider(uri: str, env: Mapping[str, str]) -> str:
        if uri not in env:
            raise ConfigError(f"environment variable {uri!r} is not set")
        return env[uri]

    def file_provider(uri: str, env: Mapping[str, str]) -> str:
        try:
            with open(uri) as f:
                return f.read()
        except OSError as e:
            raise ConfigError(f"cannot read ${{file:{uri}}}: {e}") from e

    def yaml_provider(uri: str, env: Mapping[str, str]) -> str:
        """Inline-YAML provider (confmap/provider/yamlprovider): the
        URI body IS the value, e.g. ``${yaml:[a, b]}`` or
        ``${yaml:{timeout: 2s}}`` — returned as text here and
        YAML-parsed type-preservingly by _expand_value exactly like
        env/file payloads. Validation happens at parse time so a
        malformed fragment fails at config load, not at first use."""
        import yaml as _yaml

        try:
            _yaml.safe_load(uri)
        except _yaml.YAMLError as e:
            raise ConfigError(f"${{yaml:...}}: invalid YAML fragment: {e}") from e
        return uri

    return {"env": env_provider, "file": file_provider, "yaml": yaml_provider}


def _resolve_ref(inner: str, env: Mapping[str, str], providers) -> str:
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
    provider = providers.get(scheme)
    if provider is None:
        raise ConfigError(
            f"config reference ${{{inner}}}: unsupported scheme {scheme!r} "
            f"(have: {', '.join(sorted(providers))})"
        )
    try:
        return provider(uri, env)
    except ConfigError:
        if default is not None:
            return default
        raise


def _expand_value(v, env: Mapping[str, str], providers):
    """Recursively expand ``${scheme:uri}`` references in a loaded YAML
    structure. A string that is exactly one reference resolves to the
    YAML-parsed value (type-preserving); embedded references substitute
    as text. ``$$`` escapes a literal ``$``."""
    import yaml

    if isinstance(v, dict):
        return {k: _expand_value(x, env, providers) for k, x in v.items()}
    if isinstance(v, list):
        return [_expand_value(x, env, providers) for x in v]
    if not isinstance(v, str) or "$" not in v:
        return v

    whole = _REF_RE.fullmatch(v)
    if whole and whole.group(1) is not None:
        text = _resolve_ref(whole.group(1), env, providers)
        try:
            return yaml.safe_load(text)
        except yaml.YAMLError:
            return text

    def sub(m: re.Match) -> str:
        if m.group(0) == "$$":
            return "$"
        return _resolve_ref(m.group(1), env, providers)

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
    def from_yaml(
        text: str,
        env: Mapping[str, str] | None = None,
        providers: dict | None = None,
    ) -> "ServiceConfig":
        """Load one YAML source, resolving ``${env:VAR}`` /
        ``${env:VAR:-default}`` / ``${file:path}`` references
        (confmap/resolver.go:73-128; providers under confmap/provider/).
        ``env`` defaults to os.environ; pass a mapping to pin it in
        tests. Unresolvable references raise ConfigError."""
        import yaml

        raw = yaml.safe_load(text) or {}
        raw = _expand_value(
            raw, os.environ if env is None else env,
            providers or _default_providers(),
        )
        return ServiceConfig.from_dict(raw)

    @staticmethod
    def from_file(path: str, **kw) -> "ServiceConfig":
        with open(path) as f:
            return ServiceConfig.from_yaml(f.read(), **kw)

    @staticmethod
    def from_files(
        paths: list[str],
        env: Mapping[str, str] | None = None,
        providers: dict | None = None,
    ) -> "ServiceConfig":
        """Multi-source config: later files deep-merge over earlier ones
        (maps merge recursively, scalars/lists replace — the resolver's
        Conf.Merge semantics), THEN references expand over the merged
        result — matching the reference's resolve-after-merge order, so
        an override file can replace a ``${env:...}`` reference with a
        literal (or vice versa)."""
        import yaml

        merged: dict = {}
        for p in paths:
            with open(p) as f:
                merged = _deep_merge(merged, yaml.safe_load(f.read()) or {})
        merged = _expand_value(
            merged, os.environ if env is None else env,
            providers or _default_providers(),
        )
        return ServiceConfig.from_dict(merged)

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
        self.topo_order()  # raises on cycles

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
        return lambda df: route_ops.route_stage(df)
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


@dataclass
class BuiltGraph:
    """Resolved service graph, ready to run."""

    config: ServiceConfig
    order: list[str]
    # exporter component id -> rows written on run()
    sink_counts: dict[str, int] = field(default_factory=dict)


def build(config: ServiceConfig) -> BuiltGraph:
    """Validate + topo-sort (already done in from_dict; idempotent)."""
    return BuiltGraph(config=config, order=config.topo_order())


def run(
    graph: BuiltGraph,
    spark: SparkSession,
    warehouse: str,
    max_records_per_file: int = 0,
    run_id: str | None = None,
) -> dict[str, int]:
    """Execute the graph: pipelines in topo order, connectors carrying
    lazy sub-plans between them, one write action per table exporter.

    Returns per-exporter row counts (obsconsumer accounting). Connector
    outputs consumed more than once are persisted (single cached parent
    per fan-out, fanoutconsumer/logs.go:21-77) and released after run.

    Every table write is an idempotent deterministic overwrite
    (re-running a config converges; sinks/tables.py). With ``run_id``
    set, each table exporter's write is ACKED in the same CheckpointStore
    the flagship uses — re-running the config with the same run_id skips
    completed exporters (at-least-once execution + idempotent commit =
    effectively-once, persistent_queue.go:321-428).
    """
    from pyspark.sql import Observation

    from opentelemetry_collector_spark.plans.checkpoint import (
        CheckpointStore,
        StageMetric,
    )
    from opentelemetry_collector_spark.sinks.tables import TableCatalog

    cfg = graph.config
    catalog = TableCatalog(spark, warehouse)
    ckpt = CheckpointStore(warehouse, run_id) if run_id else None

    # connector id -> list of upstream DataFrames (exporter side)
    conn_inputs: dict[str, list[DataFrame]] = {c: [] for c in cfg.connectors}
    # how many pipelines consume each connector (for persist decision)
    consumers = {
        c: sum(c in p.receivers for p in cfg.pipelines.values())
        for c in cfg.connectors
    }
    persisted: list[DataFrame] = []
    counts: dict[str, int] = {}

    # receiver node dedup (graph.go:213-248): ONE DataFrame per receiver
    # id regardless of how many pipelines consume it, persisted when
    # shared so the source is scanned once, not once per pipeline.
    rcv_consumers: dict[str, int] = {}
    for _p in cfg.pipelines.values():
        for _r in _p.receivers:
            if _r not in cfg.connectors:
                rcv_consumers[_r] = rcv_consumers.get(_r, 0) + 1
    rcv_cache: dict[str, DataFrame] = {}

    def _receiver_df(rid: str) -> DataFrame:
        if rid not in rcv_cache:
            out = _make_receiver(rid, cfg.receivers[rid] or {}, spark)
            if rcv_consumers.get(rid, 0) > 1:
                out = out.persist()
                persisted.append(out)
            rcv_cache[rid] = out
        return rcv_cache[rid]

    def _connector_output(cid: str, consumer: ServicePipeline) -> DataFrame:
        t = _ctype(cid)
        ins = conn_inputs[cid]
        if not ins:
            raise ConfigError(f"connector {cid!r}: consumed before fed "
                              "(topo order violated)")
        merged = ins[0]
        for d in ins[1:]:
            merged = merged.unionByName(d)
        if t == "router":
            routes = (cfg.connectors[cid] or {}).get("routes", {})
            wanted = [
                rv for rv, pipes in routes.items() if consumer.name in (pipes or [])
            ]
            col = (cfg.connectors[cid] or {}).get("column", "route")
            merged = merged.filter(F.col(col).isin(wanted))
        elif t != "forward":
            raise ConfigError(f"connector {cid!r}: unknown type {t!r}")
        return merged

    try:
        for pname in graph.order:
            p = cfg.pipelines[pname]
            # receivers: sources + connector outputs, unioned
            dfs = []
            for r in p.receivers:
                if r in cfg.connectors:
                    dfs.append(_connector_output(r, p))
                else:
                    dfs.append(_receiver_df(r))
            df = dfs[0]
            for d in dfs[1:]:
                df = df.unionByName(d)
            # processors in declared order
            for prid in p.processors:
                df = _make_processor(prid, cfg.processors[prid] or {}, spark)(df)
            # exporters: connectors buffer the lazy plan; sinks write
            terminal = [e for e in p.exporters if e not in cfg.connectors]
            if len(terminal) > 1:
                df = df.persist()
                persisted.append(df)
            for e in p.exporters:
                if e in cfg.connectors:
                    out = df
                    if consumers[e] > 1:
                        out = out.persist()
                        persisted.append(out)
                    conn_inputs[e].append(out)
                    continue
                t = _ctype(e)
                opts = cfg.exporters[e] or {}
                if t == "table":
                    # "/" in component ids would nest checkpoint files
                    stage = f"{pname}:{e}".replace("/", "_")
                    if ckpt is not None and ckpt.is_done(stage):
                        counts[e] = next(
                            m["rows_out"] for m in ckpt.metrics()
                            if m["stage"] == stage
                        )
                        continue
                    import time as _time

                    t0 = _time.monotonic()
                    obs = Observation(f"cfg_{pname}_{e}")
                    catalog.overwrite(
                        opts.get("table", e.replace("/", "_")),
                        df.observe(obs, F.count(F.lit(1)).alias("n")),
                        max_records_per_file=max_records_per_file,
                    )
                    counts[e] = obs.get["n"]
                    if ckpt is not None:
                        ckpt.commit(stage, StageMetric(
                            run_id=ckpt.run_id, stage=stage,
                            rows_in=counts[e], rows_out=counts[e],
                            wall_ms=int((_time.monotonic() - t0) * 1000),
                            extra={"exporter": e, "pipeline": pname},
                        ))
                elif t == "debug":
                    from opentelemetry_collector_spark.sinks.tables import debug_format

                    out_df = df
                    # debugexporter sampling knobs (factory.go:29-30):
                    # first N per event-time second, then every Mth.
                    # thereafter defaults to the reference's 1 — keep
                    # every record after the burst; a config that sets
                    # only sampling_initial must not silently drop
                    # 499/500 records. validate() already rejected < 1
                    si = int(opts.get("sampling_initial", 0))
                    if si > 0:
                        from opentelemetry_collector_spark.operators.debugfmt import (
                            sample_per_second,
                        )

                        out_df = sample_per_second(
                            out_df,
                            sampling_initial=si,
                            sampling_thereafter=int(
                                opts.get("sampling_thereafter", 1)
                            ),
                            granularity=opts.get("sampling_granularity", "second"),
                        )
                    counts[e] = debug_format(
                        out_df, verbosity=opts.get("verbosity", "normal")
                    ).count()
                elif t == "otlp_proto_file":
                    # wire-format file exporter: parsed rows → LogsData
                    # .pb envelope files (one per conversation batch) —
                    # the exporter-side twin of the otlp_proto receiver
                    from opentelemetry_collector_spark.sources.otlp_proto import (
                        encode_logs_proto,
                        write_proto_files,
                    )

                    counts[e] = write_proto_files(
                        encode_logs_proto(
                            df, batch_size=int(opts.get("batch_size", 512))
                        ),
                        opts["path"],
                    )
                elif t == "nop":
                    counts[e] = 0
                else:
                    raise ConfigError(f"exporter {e!r}: unknown type {t!r}")
    finally:
        for d in persisted:
            d.unpersist()
    graph.sink_counts = counts
    return counts


def run_config_file(
    path: str, spark: SparkSession, warehouse: str, **kw
) -> dict[str, int]:
    return run(build(ServiceConfig.from_file(path)), spark, warehouse, **kw)
