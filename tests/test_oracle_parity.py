"""Every queries() entry must match its oracle_sql() twin value-for-value
— the same check the driver runs at sf0.01, here at sf0.001 for speed."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from opentelemetry_collector_spark import sqltext
from tests.parity import compare, duck_con


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


def test_all_queries_have_oracles_or_are_declared():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    missing = set(o) - set(q)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_parity(spark, sf_dir, con, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    compare(q(spark, sf_dir), con, sql, name=name)


def test_parse_errors_oracle_parses_through_parsed_sql():
    """The ``parse_errors`` oracle parses its corrupted turns with the
    one SQL twin of parse_stage, so its casts and severity mapping
    cannot drift from the ``parse`` oracle's (a private
    ``CAST(nullif(...))`` copy raised where parse_stage quarantines)."""
    sql = entrymod.oracle_sql()["parse_errors"]
    assert sqltext.PARSED_SQL in sql
    shared = sqltext.transcripts_sql("events") + sqltext.PARSED_SQL
    assert sql.count("regexp_extract") == shared.count("regexp_extract")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "turn_count" in df.columns
