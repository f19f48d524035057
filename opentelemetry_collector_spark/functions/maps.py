"""Attribute-bag operations — pcommon.Map analog (SURVEY §2.2 P6).

The reference's Map is a sorted-insertion array of KeyValue pairs with
Get/Put*/Remove/Range (pdata/pcommon/map.go:65-319).
Spark's MapType column + higher-order functions express every one of
them declaratively; all run inside codegen. The mutating ops return new
map columns (immutability replaces the AssertMutable machinery,
pcommon/value.go:283-290).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def map_get(m: Column, key: str) -> Column:
    """Map.Get (map.go:65-75) — NULL when absent (Go returns ok=false)."""
    return F.element_at(m, F.lit(key))


def map_put(m: Column, key: str, value: Column) -> Column:
    """Map.PutStr (map.go:77-90): upsert, last-write-wins."""
    cleaned = F.map_filter(m, lambda k, _: k != F.lit(key))
    return F.map_concat(cleaned, F.create_map(F.lit(key), value.cast("string")))


def map_remove(m: Column, key: str) -> Column:
    """Map.Remove (map.go:95-105)."""
    return F.map_filter(m, lambda k, _: k != F.lit(key))


def map_len(m: Column) -> Column:
    """Map.Len (map.go:55-63)."""
    return F.size(m)


def map_sorted_entries(m: Column) -> Column:
    """Entries sorted by key — the canonical order for goldens (the
    batch processor sorts metadata keys case-insensitively,
    batch_processor.go:323-339)."""
    return F.array_sort(F.map_entries(m))


def map_as_raw_json(m: Column) -> Column:
    """Map.AsRaw rendered as JSON (value.go:405-412) in sorted-key order
    for deterministic golden comparison."""
    return F.to_json(F.map_from_entries(map_sorted_entries(m)))
