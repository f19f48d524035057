"""Profiles signal — dictionary+sample model (operators/profiles.py;
reference model at pdata/pprofile/generated_profilesdictionary.go,
generated_sample.go, dictionary_helpers.go)."""

from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators import profiles


def _mini_parsed(spark):
    rows = [
        ("c1", 0, 100, "search", 50.0),
        ("c1", 1, 110, None, 20.0),       # 'none' frame
        ("c1", 2, 120, "python", None),   # value 0 sample
        ("c2", 0, 200, "search", 10.0),   # shares the depth-1 stack key
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts_s long, tool_parsed string, "
        "latency_ms double",
    ).withColumn("ts", F.timestamp_seconds(F.col("ts_s")))


def test_dense_index_is_dense_lexicographic(spark):
    df = spark.createDataFrame(
        [(s,) for s in ["m", "a", "z", "k"]], "s string"
    )
    out = {
        r["s"]: r["i"]
        for r in profiles.dense_index(df, "s", "i").collect()
    }
    assert out == {"a": 0, "k": 1, "m": 2, "z": 3}


def test_string_table_frame_is_released(spark):
    """dense_index pins one materialization of its indexed frame, and
    dedup.release_cached frees it: Spark's CacheManager holds a
    persisted plan until it is unpersisted, so dropping the DataFrame
    alone would keep the block for the session's life."""
    from opentelemetry_collector_spark.operators import dedup

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    dedup.release_cached()
    before = persistent()
    profiles.string_table(_mini_parsed(spark)).collect()
    dedup.release_cached()
    assert persistent() == before


def test_dictionary_tables_shapes(spark):
    t = profiles.dictionary_tables(_mini_parsed(spark))
    strings = {r["s"]: r["strindex"] for r in t["strings"].collect()}
    # lexicographic dense indices over the distinct frame names
    assert strings == {"none": 0, "python": 1, "search": 2}
    # c1 turn0 and c2 turn0 share the stack 'search' -> 3 distinct
    # stacks for 4 samples
    assert t["stacks"].count() == 3
    assert t["samples"].count() == 4
    # stack location indices resolve leaf-first
    stacks = {
        tuple(r["location_idxs"]): r["stack_idx"]
        for r in t["stacks"].collect()
    }
    assert (2,) in stacks                    # 'search'
    assert (0, 2) in stacks                  # 'none;search'
    assert (1, 0, 2) in stacks               # 'python;none;search'


def test_resolve_samples_round_trip(spark):
    """Resolution through stack → location → function → string
    reproduces the direct leaf-first tool path for every sample
    (the dictionary_helpers.go resolution pass)."""
    out = {
        (r["conv_id"], r["turn_idx"]): (
            r["path"], r["leaf_fn"], r["stack_depth"], r["value_us"]
        )
        for r in profiles.resolve_samples(
            profiles.dictionary_tables(_mini_parsed(spark))
        ).collect()
    }
    assert out == {
        ("c1", 0): ("search", "search", 1, 50000),
        ("c1", 1): ("none;search", "none", 2, 20000),
        ("c1", 2): ("python;none;search", "python", 3, 0),
        ("c2", 0): ("search", "search", 1, 10000),
    }


def test_profiles_wire_golden_bytes():
    """Hand-derived ExportProfilesServiceRequest for a 1-turn
    conversation: dictionary field layout (location=2, function=3,
    string=5, attribute=6, stack=7) with the pprof index-0 empty-string
    reservation, packed sample arrays, fixed64 timestamps."""
    from opentelemetry_collector_spark.sources import otlp_profiles_proto as opp

    buf = opp.encode_profiles_request(
        "c", [{"turn_idx": 0, "fname": "s", "value_us": 7,
               "ts_unix_nano": 3}],
    )
    out = opp.decode_profiles_request(buf)
    assert out == [{
        "conv_id": "c", "turn_idx": 0, "stack_depth": 1, "leaf_fn": "s",
        "path": "s", "value_us": 7, "ts_unix_nano": 3,
    }]
    # dictionary (field 2) golden bytes: one location {line{f=0 omitted}},
    # one function {name_strindex=1}, strings ["","s","turn.idx",
    # "latency","microseconds"], one turn.idx=0 attribute, one stack [0]
    dict_bytes = opp.decode(opp.Message({2: ("dictionary", opp.BYTES)}), buf)["dictionary"]
    expect = bytes.fromhex(
        "12" + "02" + "1a00"            # 2: location{3: line{} (f=0 omitted)}
        + "1a" + "02" + "0801"           # 3: function{1: name_strindex=1}
        + "2a" + "00"                    # 5: ""
        + "2a" + "01" + "73"             # 5: "s"
        + "2a" + "08" + "7475726e2e696478"  # 5: "turn.idx"
        + "2a" + "07" + "6c6174656e6379"    # 5: "latency"
        + "2a" + "0c" + "6d6963726f7365636f6e6473"  # 5: "microseconds"
        + "32" + "06" + "0802" + "1202" + "1800"    # 6: kvu{k=2,v=Int(0)}
        + "3a" + "03" + "0a0100"         # 7: stack{1: packed [0]}
    )
    assert dict_bytes == expect, (dict_bytes.hex(), expect.hex())


def test_profiles_turn_idx_is_keyed_on_turn_idx():
    """A sample's turn_idx is its turn.idx attribute's value, not that of
    whichever attribute it lists first."""
    from opentelemetry_collector_spark.sources import otlp_profiles_proto as opp

    buf = opp.encode(opp.EXPORT_PROFILES_REQUEST, {
        "resource_profiles": [{"scope_profiles": [{"profiles": [{"samples": [
            {"stack_index": 0, "attribute_indices": [0, 1], "values": [5]},
        ]}]}]}],
        "dictionary": {
            "location_table": [{"lines": [{"function_index": 0}]}],
            "function_table": [{"name_strindex": 1}],
            "string_table": ["", "s", "thread.id", "turn.idx"],
            "attribute_table": [
                {"key_strindex": 2, "value": {"int_value": 77}},
                {"key_strindex": 3, "value": {"int_value": 4}},
            ],
            "stack_table": [{"location_indices": [0]}],
        },
    })
    (row,) = opp.decode_profiles_request(buf)
    assert (row["turn_idx"], row["leaf_fn"], row["value_us"]) == (4, "s", 5)


def test_profiles_wire_spark_roundtrip_matches_resolver(spark):
    """decode(encode(parsed)) through the wire equals the in-engine
    dictionary cycle (resolve_samples) row-for-row."""
    from opentelemetry_collector_spark.sources import otlp_profiles_proto as opp

    p = _mini_parsed(spark)
    wire_rows = sorted(
        tuple(r) for r in opp.decode_profiles_proto(
            opp.encode_profiles_proto(p)
        ).collect()
    )
    engine_rows = sorted(
        tuple(r) for r in profiles.resolve_samples(
            profiles.dictionary_tables(p)
        ).select(
            "conv_id", "turn_idx", "stack_depth", "leaf_fn", "path",
            "value_us", "ts_unix_nano",
        ).collect()
    )
    assert wire_rows == engine_rows and len(wire_rows) == 4
