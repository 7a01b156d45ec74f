"""ClickHouse type-string -> Spark DataType mapping (SURVEY.md T6).

The reference parses ClickHouse DDL type strings into a `ColumnType` enum
(ref table_info.rs:13-38, parser at table_info.rs:170-196) and serializes
string values into those types (ref table_info.rs:73-168). This module is
the Spark-side equivalent: a type-string parser plus a cast-expression
factory per type.

Fidelity notes (SURVEY.md §1.3):
- Unsigned ints widen to the next signed Spark type (no unsigned in Spark);
  UInt64 -> Decimal(20,0) to be overflow-safe. Each UIntN is bounded to
  [0, 2^N-1], as the reference's `parse::<uN>()` is.
- UInt128/Int128 and UInt256/Int256 exceed Decimal(38,0) (at most
  10^38-1): kept as canonical decimal strings at the boundary
  (validated, zero-padding stripped, bounded to the type's full range
  by digit count, then lexicographically). The reference parses Int256
  through an unsigned U256 parser — a bug we do NOT replicate; we
  accept a leading '-'.
- FixedString(N): reference zero-pads bytes to N (ref table_info.rs:140-146);
  Spark-side: binary rpad with zero bytes.
- DateTime: reference parses RFC3339 to epoch seconds as i32 (2038
  truncation, ref table_info.rs:151-156); we keep full TimestampType.
- Date / Nullable(T) / LowCardinality(T) / Decimal(p,s) are declared but
  `unimplemented!` in the reference (ref table_info.rs:157-162); trivial in
  Spark so they are supported here (documented divergence).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FIXED_STRING_RE = re.compile(r"^FixedString\((\d+)\)$")
_DECIMAL_RE = re.compile(r"^Decimal\((\d+),\s*(\d+)\)$")
_NULLABLE_RE = re.compile(r"^Nullable\((.+)\)$")
_LOWCARD_RE = re.compile(r"^LowCardinality\((.+)\)$")

_SIMPLE_TYPES: dict[str, T.DataType] = {
    "String": T.StringType(),
    "UInt8": T.ShortType(),
    "UInt16": T.IntegerType(),
    "UInt32": T.LongType(),
    "UInt64": T.DecimalType(20, 0),
    "UInt128": T.StringType(),
    "UInt256": T.StringType(),
    "Int8": T.ByteType(),
    "Int16": T.ShortType(),
    "Int32": T.IntegerType(),
    "Int64": T.LongType(),
    "Int128": T.StringType(),
    "Int256": T.StringType(),
    "Float32": T.FloatType(),
    "Float64": T.DoubleType(),
    "Bool": T.BooleanType(),
    "DateTime": T.TimestampType(),
    "Date": T.DateType(),
}


@dataclass(frozen=True)
class ColumnType:
    """Parsed ClickHouse column type (mirror of ref table_info.rs:13-38)."""

    name: str  # base type name, e.g. "UInt64", "FixedString", "Decimal"
    fixed_len: int | None = None  # FixedString(N)
    precision: int | None = None  # Decimal(p, s)
    scale: int | None = None
    nullable: bool = False

    @property
    def spark_type(self) -> T.DataType:
        if self.name == "FixedString":
            return T.BinaryType()
        if self.name == "Decimal":
            return T.DecimalType(self.precision, self.scale)
        return _SIMPLE_TYPES[self.name]


def parse_column_type(type_str: str) -> ColumnType:
    """Parse a ClickHouse DDL type string (ref table_info.rs:170-196).

    Unknown types raise ValueError (the reference's serde would error too).
    """
    s = type_str.strip()
    if m := _NULLABLE_RE.match(s):
        inner = parse_column_type(m.group(1))
        return ColumnType(
            inner.name, inner.fixed_len, inner.precision, inner.scale, nullable=True
        )
    if m := _LOWCARD_RE.match(s):
        # LowCardinality is a storage hint, not a logical type.
        return parse_column_type(m.group(1))
    if m := _FIXED_STRING_RE.match(s):
        return ColumnType("FixedString", fixed_len=int(m.group(1)))
    if m := _DECIMAL_RE.match(s):
        return ColumnType("Decimal", precision=int(m.group(1)), scale=int(m.group(2)))
    if s in _SIMPLE_TYPES:
        return ColumnType(s)
    raise ValueError(f"unsupported ClickHouse type: {type_str!r}")


# 2^N-1 per unsigned type held in a wider Spark numeric
_UINT_MAX = {
    "UInt8": (1 << 8) - 1,
    "UInt16": (1 << 16) - 1,
    "UInt32": (1 << 32) - 1,
    "UInt64": Decimal((1 << 64) - 1),
}

# bit width of the integer types kept as canonical decimal strings
_STRING_UINT_BITS = {"UInt128": 128, "UInt256": 256}
_STRING_INT_BITS = {"Int128": 128, "Int256": 256}


def _digits_at_most(digits: Column, bound: int) -> Column:
    """`digits` (canonical, no sign) <= `bound`: fewer digits, or as many
    and not greater as a string — equal-length digit strings order as
    their numbers."""
    b = str(bound)
    return (F.length(digits) < len(b)) | (
        (F.length(digits) == len(b)) & (digits <= F.lit(b))
    )


def cast_expr(col: Column, ct: ColumnType) -> Column:
    """Build the Spark cast expression string-value -> typed column
    (equivalent of ref table_info.rs:73-168's per-type serialization).

    The reference panics on malformed values (`.unwrap()`); Spark casts
    return NULL instead — callers wanting fail-fast wrap with a null-check
    (see cast.py permissive/strict modes).
    """
    if ct.name == "FixedString":
        # zero-pad bytes to N (ref table_info.rs:140-146); string->binary
        # never fails, so a plain cast is safe
        return F.rpad(col.cast("binary"), ct.fixed_len, bytes([0])).cast("binary")
    if ct.name in _STRING_UINT_BITS:
        # Exceeds Decimal(38,0): keep canonical decimal string. Strip
        # leading zeros; reject non-digits and values above 2^N-1.
        hi = (1 << _STRING_UINT_BITS[ct.name]) - 1
        canon = F.regexp_replace(col, r"^0+(?=\d)", "")
        return F.when(col.rlike(r"^\d+$") & _digits_at_most(canon, hi), canon)
    if ct.name in _STRING_INT_BITS:
        # Same, signed: the magnitude is at most 2^(N-1) when negative
        # and 2^(N-1)-1 otherwise.
        neg_max = 1 << (_STRING_INT_BITS[ct.name] - 1)
        canon = F.regexp_replace(col, r"^(-?)0+(?=\d)", "$1")
        mag = F.regexp_replace(canon, "^-", "")
        in_range = F.when(
            canon.startswith("-"), _digits_at_most(mag, neg_max)
        ).otherwise(_digits_at_most(mag, neg_max - 1))
        return F.when(col.rlike(r"^-?\d+$") & in_range, canon)
    if ct.name == "DateTime":
        # RFC3339 (ref table_info.rs:151-156) and plain 'yyyy-MM-dd HH:mm:ss'
        # both parse via Spark's timestamp cast (ISO-8601 aware). try_cast:
        # under ANSI mode a plain cast THROWS on malformed input, which
        # would break permissive mode; strict mode raises its own clearer
        # error from the NULL (see cast.typed_cast).
        return col.try_cast(T.TimestampType())
    typed = col.try_cast(ct.spark_type)
    if ct.name in _UINT_MAX:
        # the wider signed type also holds negatives and values past
        # 2^N-1, which the reference's unsigned parse rejects
        return F.when(typed.between(0, _UINT_MAX[ct.name]), typed)
    return typed


def schema_for(columns: dict[str, str]) -> list[tuple[str, ColumnType]]:
    """(name -> ClickHouse type string) -> alphabetically ordered parsed
    schema. Alphabetical order mirrors the reference's load-bearing insert
    ordering (ref table_info.rs:204-208, main.rs:183)."""
    return [(name, parse_column_type(ts)) for name, ts in sorted(columns.items())]
