"""functions/: Value.AsString rendering + pcommon.Map op semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions import maps, render


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_render_double_es6(spark):
    # value.go:419-434: integral floats → no '.0'; specials → literals
    cases = [
        (1.0, "1"),
        (-7.0, "-7"),
        (1.5, "1.5"),
        (0.0, "0"),
        (float("nan"), "NaN"),
        (float("inf"), "Infinity"),
        (float("-inf"), "-Infinity"),
        (185.22, "185.22"),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "v double")
    got = [r["s"] for r in df.select(render.render_double(F.col("v")).alias("s")).collect()]
    assert got == [e for _, e in cases]


def test_render_bool_bytes(spark):
    row = spark.range(1).select(
        render.render_bool(F.lit(True)).alias("t"),
        render.render_bool(F.lit(False)).alias("f"),
        render.render_bytes(F.lit(b"abc")).alias("b"),
    ).collect()[0]
    assert (row["t"], row["f"], row["b"]) == ("true", "false", "YWJj")


def test_map_ops(spark):
    m = F.create_map(F.lit("a"), F.lit("1"), F.lit("b"), F.lit("2"))
    row = spark.range(1).select(
        maps.map_get(m, "a").alias("get_a"),
        maps.map_get(m, "zz").alias("get_miss"),
        maps.map_len(maps.map_put(m, "c", F.lit("3"))).alias("len_after_put"),
        maps.map_len(maps.map_put(m, "a", F.lit("9"))).alias("len_after_upsert"),
        maps.map_get(maps.map_put(m, "a", F.lit("9")), "a").alias("upserted"),
        maps.map_len(maps.map_remove(m, "a")).alias("len_after_remove"),
        maps.map_as_raw_json(m).alias("js"),
    ).collect()[0]
    assert row["get_a"] == "1" and row["get_miss"] is None
    assert row["len_after_put"] == 3
    assert row["len_after_upsert"] == 2 and row["upserted"] == "9"
    assert row["len_after_remove"] == 1
    assert row["js"] == '{"a":"1","b":"2"}'


def test_variant_value_renderings(spark):
    """Nested Value model: AsString / AsRaw-JSON per type tag
    (pcommon/value.go:388-471), incl. escaping and ES6 doubles."""
    from opentelemetry_collector_spark.functions import values as V

    df = spark.range(1)
    row = df.select(
        V.value_as_string(V.vstr(F.lit('say "hi"\tnow'))).alias("s"),
        V.value_as_raw_json(V.vstr(F.lit('say "hi"\tnow'))).alias("sj"),
        V.value_as_string(V.vint(F.lit(42))).alias("i"),
        V.value_as_string(V.vdouble(F.lit(3.0))).alias("d_int"),
        V.value_as_string(V.vdouble(F.lit(2.5))).alias("d_frac"),
        V.value_as_string(V.vbool(F.lit(True))).alias("b"),
        V.value_as_string(V._variant("bytes", bin=F.lit(b"hi"))).alias("byt"),
        V.value_as_raw_json(V._variant("empty")).alias("e"),
        V.value_as_raw_json(
            V.vslice([V.vint(F.lit(1)), V.vstr(F.lit("x"))])
        ).alias("sl"),
        V.value_as_raw_json(
            V.vmap([("b", V.vbool(F.lit(False))), ("a", V.vint(F.lit(7)))])
        ).alias("m"),
    ).first()
    assert row["s"] == 'say "hi"\tnow'  # AsString: bare, unescaped
    assert row["sj"] == '"say \\"hi\\"\\tnow"'  # AsRaw JSON: escaped
    assert row["i"] == "42" and row["b"] == "true" and row["byt"] == "aGk="
    assert row["d_int"] == "3" and row["d_frac"] == "2.5"  # ES6 doubles
    assert row["e"] == "null"
    assert row["sl"] == '[1,"x"]'
    assert row["m"] == '{"a":7,"b":false}'  # sorted keys


def test_variant_map_verbs(spark):
    """P2 verbs generalized to variant-valued maps: put (last-write-
    wins), remove, nested raw-JSON rendering."""
    from opentelemetry_collector_spark.functions import values as V

    df = spark.range(1)
    bag = F.create_map(
        F.lit("x"), V.vint(F.lit(1)),
        F.lit("y"), V.vstr(F.lit("old")),
        F.lit("z"), V.vbool(F.lit(True)),
    )
    bag = V.vmap_put(bag, "y", V.vstr(F.lit("new")))  # upsert wins
    bag = V.vmap_remove(bag, "z")
    row = df.select(
        V.vmap_as_raw_json(bag).alias("j"),
    ).first()
    assert row["j"] == '{"x":1,"y":"new"}'
