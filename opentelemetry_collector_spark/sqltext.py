"""Dialect-neutral SQL fragments shared by the Spark job and the DuckDB
correctness oracle.

The driver's correctness gate compares our Spark DataFrames against
DuckDB running ANSI SQL over the same parquet tables. The synthetic
``transcripts`` input (BASELINE.json input_hint shape: conv_id, turn_idx,
role, text, tool, ts) is derived deterministically from the driver's
``events`` table with the fragment below, written in the common subset of
Spark SQL and DuckDB SQL so both engines materialize the identical table:

* regex character classes only (``[0-9]``, no ``\\d``) — Spark SQL string
  literals process backslash escapes, DuckDB's do not;
* ``printf`` (present in both), ``row_number``, ``date_trunc``, ``md5``,
  ``floor`` + explicit casts (DuckDB rounds on double→int casts, Spark
  truncates — ``floor`` first makes them agree).

The generated text mirrors the reference's deterministic two-shape log
generator (pdata/testdata/log.go:30-56 alternates fillLogOne/fillLogTwo
under a pinned timestamp); (conv_id, turn_idx) is the unique-ID invariant
used for no-loss/no-duplication accounting, the analog of
UniqueIDAttrName (receiver/receivertest/contract_checker.go:32-35).
"""

from __future__ import annotations

# --- transcripts derivation ------------------------------------------------
# Maps the events table (event_id, ts, user_id, event_type, value, props)
# to transcripts(conv_id, turn_idx, role, text, tool, ts).
#
#   conv_id   one conversation per user_id (naturally skewed draw)
#   turn_idx  dense 0-based order of the user's events by event_id
#   role      4-cycle with per-conversation phase (FIXTURES.md §1)
#   tool      fixed event_type → tool map; 'none' for error turns
#   text      two alternating grok-parseable shapes ("call" / "result")
#   ts        event timestamp, unchanged

TRANSCRIPTS_SQL = """
WITH t0 AS (
  SELECT
    printf('conv-%08d', user_id)                                    AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
         AS INT)                                                    AS turn_idx,
    user_id,
    event_id                                                        AS seq,
    CASE event_type
      WHEN 'view' THEN 'search' WHEN 'click' THEN 'browser'
      WHEN 'purchase' THEN 'python' WHEN 'signup' THEN 'editor'
      ELSE 'none' END                                               AS tool,
    CASE WHEN event_type = 'error' THEN 500
         WHEN value < 50.0 THEN 404 ELSE 200 END                    AS status,
    CAST(floor(value * 10.0) AS BIGINT) % 5000                      AS lat_ms,
    CAST(floor(value * 100.0) AS BIGINT) % 100000                   AS nbytes,
    CASE WHEN regexp_extract(props, '"k": ([0-9]+)', 1) = '' THEN 'x'
         ELSE regexp_extract(props, '"k": ([0-9]+)', 1) END         AS k,
    event_type,
    ts
  FROM {events}
)
SELECT
  conv_id,
  turn_idx,
  CASE CAST((turn_idx + user_id) % 4 AS INT)
    WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
    WHEN 2 THEN 'system' ELSE 'tool' END                            AS role,
  CASE WHEN turn_idx % 2 = 0 THEN
    printf('[seq=%d] call tool=%s status=%d latency_ms=%d msg=%s k%s',
           seq, tool, status, lat_ms, event_type, k)
  ELSE
    printf('[seq=%d] result status=%d latency_ms=%d bytes=%d msg=%s k%s',
           seq, status, lat_ms, nbytes, event_type, k)
  END                                                               AS text,
  tool,
  ts
FROM t0
"""


def transcripts_sql(events_rel: str = "events") -> str:
    """The derivation with the events relation name substituted."""
    return TRANSCRIPTS_SQL.format(events=events_rel)


def transcripts_cte(events_rel: str = "events") -> str:
    """``WITH transcripts AS (...)``-ready body for composing oracles."""
    return f"WITH transcripts AS ({transcripts_sql(events_rel)})"


# --- enrichment lookups ------------------------------------------------------
# Broadcast-join right sides (FIXTURES.md §3). Expressed as VALUES so the
# oracle inlines the identical rows. Mirrors resource/attribute enrichment
# (docs/rfcs/processing.md:84-90,204-209): left join, miss → nulls.

TOOL_LOOKUP_ROWS = [
    ("search", "web", "infra", False),
    ("browser", "web", "infra", False),
    ("python", "code", "platform", True),
    ("editor", "code", "platform", False),
    ("none", "conversation", "product", False),
]

ROLE_LOOKUP_ROWS = [
    ("user", "human", "billable"),
    ("assistant", "model", "billable"),
    ("system", "control", "free"),
    ("tool", "machine", "free"),
]

TOOL_LOOKUP_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{t}', '{c}', '{o}', {str(p).lower()})" for t, c, o, p in TOOL_LOOKUP_ROWS
    )
    + ") AS tool_lookup(tool, tool_category, tool_owner, is_privileged)"
)

ROLE_LOOKUP_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{r}', '{k}', '{b}')" for r, k, b in ROLE_LOOKUP_ROWS)
    + ") AS role_lookup(role, role_kind, billing_class)"
)


# --- parse-stage regexes ------------------------------------------------------
# Character-class-only patterns (cross-dialect safe, see module docstring).
# Used by the Spark parse operator (operators/parse.py) via the DataFrame
# API and, verbatim, inside oracle SQL strings.

RE_SEQ = r"\[seq=([0-9]+)\]"
RE_KIND = r"^\[seq=[0-9]+\] ([a-z]+) "
RE_TOOL = r" tool=([a-z]+) "
RE_STATUS = r" status=([0-9]+) "
RE_LATENCY = r" latency_ms=([0-9]+) "
RE_BYTES = r" bytes=([0-9]+) "
RE_MSG = r" msg=(.*)$"

# severity mapping: status → SeverityNumber domain 0–24
# (pdata/plog/severity_number.go:14-38: 9=INFO, 13=WARN, 17=ERROR)
SEVERITY_CASE_SQL = (
    "CASE WHEN status_code >= 500 THEN 17 "
    "WHEN status_code >= 400 THEN 13 "
    "WHEN status_code >= 200 THEN 9 ELSE 0 END"
)

# parse stage as a SQL projection over transcripts — the oracle twin of
# operators/parse.py:parse_stage (keep the two in lockstep; tests assert
# equality between them via the driver's value-hash).
PARSE_SQL = f"""
SELECT
  conv_id, turn_idx, role, text, tool, ts,
  TRY_CAST(regexp_extract(text, '{RE_SEQ}', 1) AS BIGINT)              AS seq,
  regexp_extract(text, '{RE_KIND}', 1)                                 AS event_kind,
  TRY_CAST(regexp_extract(text, '{RE_STATUS}', 1) AS INT)              AS status_code,
  CAST(nullif(regexp_extract(text, '{RE_LATENCY}', 1), '') AS DOUBLE)  AS latency_ms,
  TRY_CAST(nullif(regexp_extract(text, '{RE_BYTES}', 1), '') AS BIGINT) AS bytes,
  nullif(regexp_extract(text, '{RE_MSG}', 1), '')                      AS msg,
  nullif(regexp_extract(text, '{RE_TOOL}', 1), '')                     AS tool_parsed
FROM transcripts
"""

PARSED_SQL = f"""
SELECT *,
  {SEVERITY_CASE_SQL}                                                  AS severity_num,
  (seq IS NOT NULL AND status_code IS NOT NULL)                        AS parse_ok
FROM ({PARSE_SQL})
"""


def parsed_cte(events_rel: str = "events") -> str:
    """``WITH transcripts AS (...), parsed AS (...)`` prefix for oracles."""
    return f"{transcripts_cte(events_rel)}, parsed AS ({PARSED_SQL})"


# --- routing -----------------------------------------------------------------
# Route key (tool, role) → sink name (FIXTURES.md §4): tool sinks for the
# four real tools, role-keyed default sink for non-tool turns. Mirrors the
# connector router choosing a pipeline subset per record
# (connector/logs_router.go:18-69).
ROUTE_CASE_SQL = (
    "CASE WHEN tool IN ('search', 'browser', 'python', 'editor') "
    "THEN concat('sink_', tool) ELSE 'sink_default' END"
)

SINK_NAMES = ["sink_search", "sink_browser", "sink_python", "sink_editor", "sink_default"]


def json_esc_sql(x: str) -> str:
    """DuckDB twin of the Spark-side JSON string escape — generated
    from the SAME table (functions/values.JSON_ESCAPES) so the two
    engines cannot drift: backslash first, then quote, then every
    control char < 0x20. Built from chr() so the Python source carries
    NO backslashes at all: an earlier version wrote the backslashes as
    Python escapes inside an f-string, which collapsed ('\\\\' -> '\\')
    and silently emitted no-op replaces."""
    from opentelemetry_collector_spark.functions.values import JSON_ESCAPES

    e = x
    for raw, esc in JSON_ESCAPES:
        # render both sides via chr() codes; the escape text itself is
        # chr(92) + its printable remainder (e.g. '\\n' -> chr(92)||'n')
        raw_sql = "||".join(f"chr({ord(ch)})" for ch in raw)
        esc_sql = "||".join(
            f"chr({ord(ch)})" if ord(ch) < 0x20 or ch in '\\"' else f"'{ch}'"
            for ch in esc
        )
        e = f"replace({e}, {raw_sql}, {esc_sql})"
    return e


# Deterministic special-char suffix appended to every 7th turn's text in
# the otlp_json round-trip (both engines): quote, backslash, newline,
# tab, and a bare ESC (the ANSI-color byte that needs  encoding).
JSON_SPICE_SQL = (
    "' say ' || chr(34) || 'hi' || chr(34) || ' via C:' || chr(92) || 'tmp'"
    " || chr(10) || 'line2' || chr(9) || 'end' || chr(27) || '[31m'"
)


# --- dedup / similarity fixtures ---------------------------------------------
# The driver's documents/embeddings tables have no duplicates, so dedup
# queries would return empty (a vacuous check). Both engines therefore
# augment the corpus with deterministic copies: every 7th doc gets an
# exact copy (+2_000_000 id), every 10th a near-copy with the first word
# replaced (+1_000_000 id); every 10th embedding gets an exact copy
# (+1_000_000 id). Same trick as the reference's deterministic test
# generators injecting known shapes (pdata/testdata/log.go:30-56).

DOCS_AUG_SQL = """
SELECT doc_id AS id, lower(trim(text)) AS text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS id,
       regexp_replace(lower(trim(text)), '^[^ ]+', 'zz') AS text
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 2000000 AS id, lower(trim(text)) AS text
FROM documents WHERE doc_id % 7 = 0
"""

EMB_AUG_SQL = """
SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS id, label, CAST(embedding AS DOUBLE[]) AS v
FROM embeddings WHERE vec_id % 10 = 0
"""

# Dialect-neutral shingle/words fragments (DuckDB side; the Spark twins
# are operators/textstats.words_col and operators/dedup.shingles_col).
WORDS_EXPR = "string_split_regex(lower(trim(text)), '[ ]+')"
# A NULL text has no shingles (NULL, not the empty text's one "" gram).
SHINGLES_EXPR = (
    "CASE WHEN w IS NOT NULL THEN list_distinct(list_transform("
    "generate_series(0, greatest(len(w) - 3, 0)), "
    "i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) END"
)

# MinHash family shared by Spark and the oracle: ONE md5 per shingle
# folded to a 32-bit int (first 8 hex chars), then n derived hashes via
# (a_i*h + b_i) mod P — int64-safe (a_i < 2^30, h < 2^32 → product
# < 2^62) and byte-identical in both engines. 12× fewer md5 calls than
# hashing (i, shingle) pairs, which dominates signature cost.
MINHASH_P = (1 << 61) - 1
MINHASH_COEFFS = [
    ((2654435761 * (i + 1)) % (1 << 30) | 1, (40503 * (i + 7)) % (1 << 30))
    for i in range(12)
]

# h(s): shingle → 32-bit int, identical in Spark (conv) and DuckDB (0x cast)
SHINGLE_HASH_EXPR = "CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT)"


def minhash_sig_sql_list(n_hashes: int = 12) -> str:
    """DuckDB list literal: [min_s (a_i*h(s)+b_i) % P for i in 0..n);
    NULL when the shingle hashes ``hs`` are NULL (a NULL text)."""
    return "CASE WHEN hs IS NOT NULL THEN [" + ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS[:n_hashes]
    ) + "] END"


# SimHash signature, the DuckDB side of dedup.simhash_signature_arrow:
# reads ``words(id, w)`` and yields ``(id, sh)``, a 64-char bit string.
# Bit j is the majority vote over the doc's words of bit j % 4 of the
# hex value of md5(word)[j // 4].
SIMHASH_SIG_SQL = """
              SELECT id, array_to_string(list_transform(generate_series(0, 63), j ->
                CASE WHEN 2 * list_sum(list_transform(
                       list_select(vs, list_transform(
                         generate_series(0, nw - 1),
                         wi -> wi*16 + CAST(floor(j/4) AS INT) + 1)),
                       v -> CAST(floor(v / pow(2.0, j % 4)) AS INT) % 2))
                     - nw > 0
                     THEN '1' ELSE '0' END), '') AS sh
              FROM (
                SELECT id, len(w) AS nw,
                       flatten(list_transform(w, x ->
                         list_transform(generate_series(1, 16), ci ->
                           CASE WHEN ascii(substring(md5(x), ci, 1)) <= 57
                                THEN ascii(substring(md5(x), ci, 1)) - 48
                                ELSE ascii(substring(md5(x), ci, 1)) - 87 END))) AS vs
                FROM words
              )
"""

def kmeans_cells_cte(
    k: int = 8, dim: int = 64, emb_sql: str | None = None,
    train_cap: int | None = None,
) -> str:
    """DuckDB CTE chain reproducing similarity.kmeans_cells (iters=1)
    bit-for-bit: id-ordered seeds, rounded+tie-broken argmin assignment,
    exact DECIMAL(20,8) centroid sums cast to double / count. Ends with
    ``kcells(vec_id, cell)``; append the consuming SELECT. ``emb_sql``
    overrides the vector source (must yield (vec_id, v double[])).
    ``train_cap`` mirrors the Spark side's deterministic hash-sampled
    training set — the train_cap rows smallest by (md5(id), id); seeds
    and the centroid update read the sample, the final assignment reads
    the full corpus. NULL vectors are left out of the training set and
    get a NULL cell."""
    if emb_sql is None:
        emb_sql = (
            "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
            " AS v FROM embeddings"
        )
    train_sql = "SELECT * FROM emb WHERE v IS NOT NULL" + (
        f" ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {train_cap}"
        if train_cap else ""
    )
    dist = (
        "round(list_sum(list_transform(generate_series(1,{dim}), "
        "i -> (e.v[i]-s.v[i])*(e.v[i]-s.v[i]))), 6)"
    ).format(dim=dim)
    return f"""
        WITH emb AS (
          {emb_sql}
        ),
        train AS (
          {train_sql}
        ),
        seeds AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
          FROM (SELECT * FROM train ORDER BY vec_id LIMIT {k})
        ),
        d0 AS (
          SELECT e.vec_id, s.cell, {dist} AS d2
          FROM train e CROSS JOIN seeds s
        ),
        a0 AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
            FROM d0
          ) WHERE rn = 1
        ),
        upd AS (
          SELECT a0.cell, t.i AS pos,
                 CAST(sum(CAST(e.v[t.i] AS DECIMAL(20,8))) AS DOUBLE)/count(*) AS cv
          FROM a0 JOIN train e USING (vec_id),
               UNNEST(generate_series(1,{dim})) AS t(i)
          GROUP BY a0.cell, t.i
        ),
        cent1 AS (SELECT cell, list(cv ORDER BY pos) AS v FROM upd GROUP BY cell),
        cents AS (
          SELECT s.cell, COALESCE(c.v, s.v) AS v
          FROM seeds s LEFT JOIN cent1 c USING (cell)
        ),
        d1 AS (
          SELECT e.vec_id, s.cell, {dist} AS d2
          FROM emb e CROSS JOIN cents s
        ),
        kcells AS (
          SELECT vec_id, CAST(CASE WHEN d2 IS NOT NULL THEN cell END AS INT) AS cell
          FROM (
            SELECT vec_id, cell, d2,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
            FROM d1
          ) WHERE rn = 1
        )
    """
