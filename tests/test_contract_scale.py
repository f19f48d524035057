"""The core flagship entries at the scale the contract is checked at
(sf0.01): each one against its DuckDB oracle, and one run_pipeline whose
sink tables and aggregates match the oracle's ``sink_counts`` and
``agg_hourly``. The oracle suite (test_oracle_parity.py) runs them at
sf0.001 only."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from opentelemetry_collector_spark.plans.pipeline import run_pipeline
from opentelemetry_collector_spark.sqltext import SINK_NAMES
from tests.parity import compare, duck_con

CORE = ["parse", "enrich", "route", "sink_counts", "agg_hourly"]


@pytest.fixture(scope="module")
def con(contract_sf_dir):
    c = duck_con(contract_sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", CORE)
def test_core_entry_parity(spark, contract_sf_dir, con, name):
    q = entrymod.queries()[name]
    compare(q(spark, contract_sf_dir), con, entrymod.oracle_sql()[name], name=name)


def test_pipeline_matches_oracle(spark, contract_sf_dir, con, tmp_path):
    wh = str(tmp_path / "wh")
    res = run_pipeline(spark, contract_sf_dir, wh)
    oracle = entrymod.oracle_sql()

    want = dict(con.sql(oracle["sink_counts"]).fetchall())
    assert {s: n for s, n in res.sink_counts.items() if n} == want

    # the agg_<sink> tables, each tagged with its route, against
    # agg_hourly as multisets: EXCEPT ALL is empty both ways
    con.execute("CREATE OR REPLACE TEMP VIEW want_agg AS " + oracle["agg_hourly"])
    con.execute("CREATE OR REPLACE TEMP VIEW got_agg AS " + " UNION ALL ".join(
        f"SELECT '{s}' AS route, window_start, conv_id, tool, turn_count, "
        f"CAST(distinct_roles AS INT) AS distinct_roles, bytes_sum "
        f"FROM read_parquet('{wh}/agg_{s}/*.parquet')"
        for s in SINK_NAMES
    ))
    (n,) = con.sql("SELECT count(*) FROM want_agg").fetchone()
    assert n > 0
    for a, b in (("got_agg", "want_agg"), ("want_agg", "got_agg")):
        extra = con.sql(
            f"SELECT * FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) LIMIT 3"
        ).fetchall()
        assert not extra, (a, "not in", b, extra)
