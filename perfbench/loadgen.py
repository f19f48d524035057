"""Seeded inputs for the benchmark, written to parquet before any timing.

Two generators, both driven only by a numpy ``Generator`` built from the
seed, so the same seed always yields byte-identical inputs:

* :func:`write_events` — an ``events`` table shaped like the sf0.1
  testdata table (event_id, ts, user_id, event_type, value, props). The
  flagship job derives its transcripts from it with the repo's own
  ``TRANSCRIPTS_SQL``, exactly as ``main.py`` does.
* :func:`write_transcripts` — a transcripts table (conv_id, turn_idx,
  role, text, tool, ts) in the ``[seq=…] call|result …`` grammar the
  parse stage reads, with skew (a few hot conversations), a stated share
  of malformed turns (the quarantine path) and a stated share of tools
  the enrich lookup does not know (enrich misses).

Strings are assembled with Arrow compute kernels, so 2M turns take about
three seconds.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
KNOWN_TOOLS = ["search", "browser", "python", "editor", "none"]
UNKNOWN_TOOLS = ["shell", "calculator", "sql"]
ROLES = ["user", "assistant", "system", "tool"]
WORDS = ["ok", "retry", "done", "partial", "timeout", "cached", "stream", "page"]


@dataclass(frozen=True)
class TranscriptShape:
    """Size and mix of a synthetic transcripts table."""

    conversations: int = 120_000
    turns_per_conversation: int = 16
    hot_conversations: int = 3
    hot_turns: int = 20_000
    malformed_share: float = 0.005
    unknown_tool_share: float = 0.03
    files: int = 8

    @property
    def turns(self) -> int:
        return (self.conversations * self.turns_per_conversation
                + self.hot_conversations * self.hot_turns)


def _str(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _join(*parts) -> pa.Array:
    """Element-wise concatenation of string arrays and scalar strings."""
    return pc.binary_join_element_wise(*parts, "")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.choice(len(values), size=n)
    return pc.take(pa.array(values), pa.array(idx))


def write_events(path: str, seed: int, n_events: int = 100_000) -> int:
    """sf-shaped events table (1 user per 66.7 events, as in the
    testdata): returns the row count."""
    rng = np.random.default_rng([seed, 1])
    n_users = max(1, n_events * 3 // 200)
    month_us = 30 * 86_400 * 1_000_000
    ts = EPOCH_US + np.sort(rng.integers(0, month_us, n_events))
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": _join('{"k": ', _str(rng.integers(0, 100, n_events)), "}"),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "events.parquet"))
    return n_events


def transcripts_table(seed: int, shape: TranscriptShape) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n_base = shape.conversations * shape.turns_per_conversation
    n_hot = shape.hot_conversations * shape.hot_turns
    n = n_base + n_hot
    # base conversations: every conversation gets the same turn count;
    # hot conversations 0..hot-1 continue past it (skew), keeping
    # (conv_id, turn_idx) unique.
    conv = np.concatenate([
        np.repeat(np.arange(shape.conversations), shape.turns_per_conversation),
        np.repeat(np.arange(shape.hot_conversations), shape.hot_turns),
    ])
    turn = np.concatenate([
        np.tile(np.arange(shape.turns_per_conversation), shape.conversations),
        np.tile(np.arange(shape.hot_turns), shape.hot_conversations)
        + shape.turns_per_conversation,
    ])
    seq = rng.permutation(n).astype(np.int64) + 1
    phase = rng.integers(0, 4, shape.conversations)
    role_idx = (turn + phase[conv]) % 4
    known = rng.choice(len(KNOWN_TOOLS), size=n)
    unknown = rng.random(n) < shape.unknown_tool_share
    tools_all = KNOWN_TOOLS + UNKNOWN_TOOLS
    tool_idx = np.where(unknown, len(KNOWN_TOOLS) + rng.integers(0, len(UNKNOWN_TOOLS), n), known)
    tool = pc.take(pa.array(tools_all), pa.array(tool_idx))
    u = rng.random(n)
    status = np.where(u < 0.05, 500, np.where(u < 0.20, 404, 200))
    msg = _join(_pick(rng, WORDS, n), " k", _str(rng.integers(0, 97, n)))
    seq_s, status_s = _str(seq), _str(status)
    lat_s = _str(rng.integers(0, 5000, n))
    call = _join("[seq=", seq_s, "] call tool=", tool, " status=", status_s,
                 " latency_ms=", lat_s, " msg=", msg)
    result = _join("[seq=", seq_s, "] result status=", status_s,
                   " latency_ms=", lat_s, " bytes=", _str(rng.integers(0, 100_000, n)),
                   " msg=", msg)
    text = pc.if_else(pa.array(turn % 2 == 0), call, result)
    # malformed turns: half lose the status field (truncated line), half
    # lose the [seq=…] header; both fail parse_ok and go to quarantine.
    bad = rng.random(n) < shape.malformed_share
    truncated = _join("[seq=", seq_s, "] call tool=", tool, " stat")
    headless = _join("garbled turn ", msg)
    text = pc.if_else(pa.array(bad & (seq % 2 == 0)), truncated, text)
    text = pc.if_else(pa.array(bad & (seq % 2 == 1)), headless, text)
    # conversations start anywhere in one week; turns 20-80 s apart
    start = rng.integers(0, 7 * 86_400, shape.conversations)
    ts = EPOCH_US + (start[conv] + turn * 50 + rng.integers(0, 30, n)) * 1_000_000
    return pa.table({
        "conv_id": _join("conv-", pc.utf8_lpad(_str(conv), 8, "0")),
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": pc.take(pa.array(ROLES), pa.array(role_idx)),
        "text": text,
        "tool": tool,
        "ts": pa.array(ts, type=pa.timestamp("us")),
    })


def write_transcripts(path: str, seed: int, shape: TranscriptShape) -> int:
    """Write the table as ``shape.files`` parquet files with 64k-row row
    groups, so Spark splits the scan across every core; returns turns."""
    table = transcripts_table(seed, shape)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // shape.files)

    def write(i: int) -> None:
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       row_group_size=65_536)

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(write, range(shape.files)))
    return table.num_rows
