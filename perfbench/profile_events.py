"""Profile an ``events`` parquet file: the figures the flagship's input
generator is fitted to.

    python3 perfbench/profile_events.py <sf_dir>/events.parquet [more.parquet ...]

Prints one JSON line per file: row and user counts, the per-user event
count quantiles (the conversation-size skew after TRANSCRIPTS_SQL), the
event_type mix (the route mix), the share of value < 50 (the 404 share
of non-error turns), value quantiles and the time span. Compare the
sf0.1 testdata table with ``loadgen.write_events`` output to check the
fit.
"""

from __future__ import annotations

import json
import sys

import duckdb


def profile(path: str) -> dict:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{path}')")
    n, users, lt50, days = con.sql(
        "SELECT count(*), count(DISTINCT user_id), avg((value < 50)::INT), "
        "round(epoch(max(ts) - min(ts)) / 86400, 2) FROM e").fetchone()
    (per_user,) = con.sql(
        "SELECT quantile_cont(n, [0, 0.1, 0.5, 0.9, 0.99, 1]) "
        "FROM (SELECT count(*) AS n FROM e GROUP BY user_id)").fetchone()
    mix = dict(con.sql("SELECT event_type, round(count(*) / sum(count(*)) OVER (), 4) "
                       "FROM e GROUP BY 1 ORDER BY 1").fetchall())
    (value_q,) = con.sql("SELECT quantile_cont(value, [0.1, 0.5, 0.9, 0.99]) FROM e").fetchone()
    return {"file": path, "events": n, "users": users,
            "events_per_user_q0_10_50_90_99_100": [round(x, 1) for x in per_user],
            "event_type_share": mix, "value_lt_50_share": round(lt50, 4),
            "value_q10_50_90_99": [round(x, 2) for x in value_q], "span_days": days}


if __name__ == "__main__":
    for p in sys.argv[1:]:
        print(json.dumps(profile(p)))
