"""Canonical value rendering — pcommon.Value.AsString analog (SURVEY §2.2 P5).

The reference renders any attribute value to string with ES6-style
number formatting: integral floats print without a decimal point,
non-integral floats print shortest-round-trip, NaN/±Infinity print as
literals (pdata/pcommon/value.go:388-471; float encoding in
internal/json uses ES6 rules). Java's Double.toString differs ("1.0",
"1.0E21"), so golden-equality with reference output needs these
normalizers. All are column expressions — usable in golden tests and
debug-exporter rendering without leaving the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def render_double(c: Column) -> Column:
    """ES6 Number→String for doubles (value.go:419-434):
    NaN → 'NaN', ±Inf → '±Infinity', integral → no trailing '.0',
    else Java shortest repr (matches ES6 for the common range)."""
    d = c.cast("double")
    s = d.cast("string")
    return (
        F.when(F.isnan(d), F.lit("NaN"))
        .when(d == F.lit(float("inf")), F.lit("Infinity"))
        .when(d == F.lit(float("-inf")), F.lit("-Infinity"))
        # integral and within int64-exact range → integer rendering
        .when(
            (d == F.floor(d).cast("double"))
            & (F.abs(d) < F.lit(9.007199254740992e15)),
            F.floor(d).cast("long").cast("string"),
        )
        .otherwise(s)
    )


def render_bool(c: Column) -> Column:
    """strconv.FormatBool (value.go:415-417): 'true' / 'false'."""
    return F.when(c, F.lit("true")).otherwise(F.lit("false"))


def render_bytes(c: Column) -> Column:
    """Bytes render as base64 (value.go:435-437)."""
    return F.base64(c)
