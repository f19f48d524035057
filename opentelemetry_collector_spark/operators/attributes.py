"""Attribute mutation operators — the attributesprocessor semantics
(SURVEY §2.2 P2; spec in docs/rfcs/processing.md:147-216).

The reference RFC defines the canonical mutation verbs over the
attribute bag. This module implements four of them: ``set``,
``delete``, ``keep_keys`` and ``replace_match``. Each is a pure column
rewrite of the ``attrs`` map built by the parse stage — map
higher-order functions that stay inside whole-stage codegen (no Python
in the row path).

Invariants carried over from the reference:

* upsert is last-write-wins (pcommon.Map.PutStr, pdata/pcommon/map.go:77-90);
* a missing key stays missing — mutations never materialize an entry
  from NULL ("empty ≠ unset", processor/batchprocessor/config.go:31-40).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions import maps

ATTRS = "attrs"


def set_attr(df: DataFrame, key: str, value: Column) -> DataFrame:
    """``set(attributes["key"], value)`` — upsert, last-write-wins."""
    return df.withColumn(ATTRS, maps.map_put(F.col(ATTRS), key, value))


def delete_attr(df: DataFrame, key: str) -> DataFrame:
    """``delete(attributes["key"])``."""
    return df.withColumn(ATTRS, maps.map_remove(F.col(ATTRS), key))


def keep_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``keep_keys(attributes, "k1", "k2", ...)`` — drop everything else
    (docs/rfcs/processing.md:171-176)."""
    keyset = F.array(*[F.lit(k) for k in keys])
    return df.withColumn(
        ATTRS,
        F.map_filter(F.col(ATTRS), lambda k, _: F.array_contains(keyset, k)),
    )


def replace_match(df: DataFrame, key: str, pattern: str, replacement: str) -> DataFrame:
    """``replace_match(attributes["key"], pattern, replacement)`` —
    regex-rewrite ONE key's value; absent key stays absent
    (docs/rfcs/processing.md:177-189)."""
    return df.withColumn(
        ATTRS,
        F.transform_values(
            F.col(ATTRS),
            lambda k, v: F.when(
                k == F.lit(key), F.regexp_replace(v, pattern, replacement)
            ).otherwise(v),
        ),
    )
