"""Property-based contract tests (hypothesis) — the analog of the
reference's fuzz and contract checkers (pdata fuzz_test.go,
receivertest/contract_checker.go): invariants that must hold for ANY
input, not just the fixtures.

Strategies deliberately include the nasty cases: empty strings, runs of
spaces, quotes/backslashes, unicode, huge/zero numbers.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# One shared moderate profile: each property runs a handful of examples
# per test session (each example is a Spark job — keep counts small).
PROPS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.lists(
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",),  # no lone surrogates
            max_codepoint=0x2FFF,
        ),
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@given(ts=texts)
@PROPS
def test_exact_dedup_conserves_rows(spark, ts):
    """Sum of duplicate-group sizes == input rows; keep_id is a member
    of the group (no loss, no invention — the contract checker's
    unique-ID property)."""
    from opentelemetry_collector_spark.operators import dedup

    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(ts)], "doc_id string, text string"
    )
    out = dedup.exact_dedup(df)
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == len(ts)


@given(
    sev=st.integers(min_value=0, max_value=24),
    body=st.text(max_size=300),
    event=st.text(max_size=40),
)
@PROPS
def test_proto_size_matches_real_encoding_any_input(spark, sev, body, event):
    """The sizer equals len(actual wire bytes) for arbitrary field
    values — same hand-rolled encoder as test_protosize, random data."""
    from tests.test_protosize import _encode_logrecord

    from opentelemetry_collector_spark.functions import protosize

    df = spark.createDataFrame(
        [(sev, body, event)], "sev int, body string, event string"
    ).withColumn("ts", F.to_timestamp(F.lit("2025-01-01 00:00:00")))
    size = protosize.log_record_proto_size(
        F.col("ts"), F.col("sev"), F.lit(""), F.col("body"), F.col("event"),
        attrs=[("msg", F.lit(None).cast("string"))],
    )
    got = df.select(size.alias("n")).collect()[0]["n"]
    expect = len(_encode_logrecord(True, sev, "", body, event, [("msg", None)]))
    assert got == expect


@given(rows=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=30))
@PROPS
def test_lineage_partition_counts_conserve_rows(spark, rows):
    """logical_lineage partitions every row exactly once: sum(rows)
    over partitions == input count, for any conv distribution."""
    from opentelemetry_collector_spark.plans import lineage as lineage_ops

    df = spark.createDataFrame(
        [("r", f"conv-{v}", "x" * (v + 1)) for v in rows], "route string, conv_id string, text string"
    )
    out = lineage_ops.logical_lineage(df).collect()
    assert sum(r["rows"] for r in out) == len(rows)
    assert sum(r["bytes"] for r in out) == sum(v + 1 for v in rows)
