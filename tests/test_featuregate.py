"""Feature-gate registry lifecycle (plans/featuregate.py; reference
semantics at featuregate/registry.go:109-196, flag.go:51-71)."""

import pytest

from opentelemetry_collector_spark.plans import featuregate as fg


def _reg():
    r = fg.Registry()
    r.register("a.alpha", fg.ALPHA, "off by default")
    r.register("b.beta", fg.BETA, "on by default")
    r.register("s.stable", fg.STABLE, to_version="v0.9.0")
    r.register("d.dep", fg.DEPRECATED, to_version="v0.9.0")
    return r


def test_stage_default_states():
    r = _reg()
    assert not r.is_enabled("a.alpha")
    assert r.is_enabled("b.beta")
    assert r.is_enabled("s.stable")
    assert not r.is_enabled("d.dep")


def test_register_validation():
    r = fg.Registry()
    with pytest.raises(fg.GateError, match="empty ID"):
        r.register("", fg.ALPHA)
    with pytest.raises(fg.GateError, match="invalid character"):
        r.register("bad-id", fg.ALPHA)
    with pytest.raises(fg.GateError, match="unknown stage"):
        r.register("x", "gamma")
    with pytest.raises(fg.GateError, match="no removal version"):
        r.register("x", fg.STABLE)
    r.register("x", fg.ALPHA)
    with pytest.raises(fg.GateError, match="already registered"):
        r.register("x", fg.BETA)


def test_set_unknown_and_terminal_stages():
    r = _reg()
    with pytest.raises(fg.GateError, match="no such feature gate"):
        r.set("nope", True)
    # stable cannot be disabled; re-enabling is a no-op
    with pytest.raises(fg.GateError, match="stable, can not be disabled"):
        r.set("s.stable", False)
    r.set("s.stable", True)
    # deprecated cannot be enabled; re-disabling is a no-op
    with pytest.raises(fg.GateError, match="deprecated, can not be enabled"):
        r.set("d.dep", True)
    r.set("d.dep", False)


def test_flag_grammar_and_string():
    r = _reg()
    r.apply_flag("a.alpha,-b.beta")
    assert r.is_enabled("a.alpha") and not r.is_enabled("b.beta")
    r.apply_flag("+b.beta")
    assert r.is_enabled("b.beta")
    r.apply_flag("")  # no-op
    # every failed assignment is reported
    with pytest.raises(fg.GateError, match="no such.*unknown1.*unknown2"):
        r.apply_flag("unknown1,-unknown2")


def test_global_registry_engine_gates():
    g = fg.global_registry()
    assert g.is_enabled("engine.aqeSkewJoin")
    assert g.is_enabled("engine.broadcastEnrich")
    assert not g.is_enabled("engine.reliableCheckpoint")


def test_main_flag_rejects_unknown_gate(capsys):
    """--feature-gates fails fast before a session starts."""
    import main as main_mod

    with pytest.raises(fg.GateError, match="no such feature gate"):
        main_mod.main(["--warehouse", "/tmp/x",
                       "--feature-gates", "does.not.exist"])


def test_broadcast_enrich_gate_governs_the_hint(spark):
    """Disabling engine.broadcastEnrich drops the explicit broadcast
    hint (AQE/size thresholds then decide); rows are identical either
    way. The gate is consulted at plan-build time, so flipping it
    changes the LOGICAL plan of a fresh enrich_stage call."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.operators.enrich import enrich_stage

    df = spark.createDataFrame(
        [("search", "assistant", 1)], "tool string, role string, x int"
    )
    tools = spark.createDataFrame(
        [("search", "web")], "tool string, tool_category string"
    )
    roles = spark.createDataFrame(
        [("assistant", "model")], "role string, role_kind string"
    )
    g = fg.global_registry()

    def logical(d):
        return d._jdf.queryExecution().analyzed().toString()

    hinted = logical(enrich_stage(df, tools, roles))
    assert "broadcast" in hinted.lower()
    try:
        g.set("engine.broadcastEnrich", False)
        unhinted_df = enrich_stage(df, tools, roles)
        assert "hint" not in logical(unhinted_df).lower()
        rows = unhinted_df.collect()
        assert rows[0]["tool_category"] == "web" and not rows[0]["enrich_miss"]
    finally:
        g.set("engine.broadcastEnrich", True)


def test_reliable_checkpoint_gate_switches_cc_checkpointing(spark, tmp_path):
    """Enabling engine.reliableCheckpoint makes connected_components use
    durable checkpoint() (requires a checkpoint dir) and still converge
    to the same labels."""
    from opentelemetry_collector_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a bigint, b bigint"
    )

    def labels():
        out = connected_components(edges, "a", "b")
        return sorted((r[0], r[1]) for r in out.collect())

    base = labels()
    g = fg.global_registry()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        g.set("engine.reliableCheckpoint", True)
        assert labels() == base
        # durable checkpoint files actually landed in the configured dir
        import os

        found = any(files for _, _, files in os.walk(str(tmp_path / "ckpt")))
        assert found
    finally:
        g.set("engine.reliableCheckpoint", False)
