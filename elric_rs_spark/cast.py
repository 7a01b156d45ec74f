"""Typed row cast: all-strings map -> typed columns (SURVEY.md T5).

The reference receives every row as HashMap<String, String> and serializes
it into the sink schema's types in alphabetical column order
(ref table_info.rs:73-168; ordering table_info.rs:204-208, main.rs:183).
The Spark equivalent is one `select` of cast expressions over a
MapType(String, String) column — fully inside whole-stage codegen, no UDF.
`typed_columns` builds those expressions (the one cast implementation);
`typed_cast` is its DataFrame projection, and the streaming sink nests
them in one struct column per table (streaming/pipeline.py).

Error policy: the reference panics on malformed values (`.unwrap()`
throughout ref table_info.rs:85-153). Spark casts yield NULL instead, so:
- mode="strict" (default, reference parity): any NULL produced from a
  non-NULL string raises at action time via an assert column.
- mode="permissive": keep NULLs (the 100 TB-friendly policy — one bad row
  must not kill a 6-hour job; route NULLs to a quarantine sink instead).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elric_rs_spark.types import ColumnType, cast_expr, schema_for


def typed_columns(
    row_map: Column, columns: dict[str, str], mode: str = "strict"
) -> list[Column]:
    """The typed columns of one MapType(String,String) column, in
    alphabetical order (the reference's insert-tuple order), each aliased
    to its name. `columns` maps column name -> ClickHouse type string.
    Missing map keys become NULL — note the reference would mis-align the
    insert tuple in that case (SURVEY.md §1.3); NULL is the sane analogue.
    """
    if mode not in ("strict", "permissive"):
        raise ValueError(f"bad mode {mode!r}")
    out: list[Column] = []
    for name, ct in schema_for(columns):
        raw = row_map.getItem(name)
        typed = cast_expr(raw, ct)
        if mode == "strict" and ct.name != "String":
            # Fail-fast parity with the reference's .unwrap(): a non-null
            # string that casts to NULL is a malformed value (a String
            # cast cannot fail, so it needs no guard).
            typed = F.when(
                raw.isNotNull() & typed.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(f"malformed value for column {name}: "), raw
                    )
                ).cast(ct.spark_type),
            ).otherwise(typed)
        out.append(typed.alias(name))
    return out


def _malformed(raw: Column, ct: ColumnType) -> Column:
    """The quarantine rule: a non-NULL string that casts to NULL."""
    return raw.isNotNull() & cast_expr(raw, ct).isNull()


def malformed_value(row_map: Column, columns: dict[str, str]) -> Column:
    """True when any declared column of `row_map` is malformed (the
    `typed_cast_split` rule); missing keys are fine."""
    return functools.reduce(
        operator.or_,
        (_malformed(row_map.getItem(name), ct) for name, ct in schema_for(columns)),
        F.lit(False),
    )


def typed_cast(
    df: DataFrame,
    map_col: str,
    columns: dict[str, str],
    mode: str = "strict",
) -> DataFrame:
    """Project a MapType(String,String) column into typed columns
    (`typed_columns`), keeping every other column of `df` in front."""
    typed = typed_columns(F.col(map_col), columns, mode)
    keep = [c for c in df.columns if c != map_col]
    return df.select(*keep, *typed)


def typed_cast_split(
    df: DataFrame, map_col: str, columns: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """The at-scale error policy: permissive cast + quarantine routing.

    Returns (good, quarantine). A row is quarantined when any declared
    column carried a non-NULL string that cast to NULL (malformed value);
    missing keys are fine (NULL column, clean row). `good` has the typed
    columns; `quarantine` keeps the ORIGINAL raw map plus a
    `_malformed_cols` array naming the offending columns — everything a
    replay/repair job needs. One bad row must never kill a 6-hour job,
    and it must never silently vanish either."""
    schema = schema_for(columns)
    flags = [
        _malformed(F.col(map_col).getItem(name), ct).alias(f"__bad_{name}")
        for name, ct in schema
    ]
    flagged = df.select("*", *flags)
    bad_any = None
    for name, _ in schema:
        c = F.col(f"__bad_{name}")
        bad_any = c if bad_any is None else (bad_any | c)
    bad_cols = F.array_compact(
        F.array(
            *[
                F.when(F.col(f"__bad_{name}"), F.lit(name))
                for name, _ in schema
            ]
        )
    )
    drop = [f"__bad_{name}" for name, _ in schema]
    good = typed_cast(
        flagged.filter(~bad_any).drop(*drop), map_col, columns, mode="permissive"
    )
    quarantine = (
        flagged.filter(bad_any)
        .withColumn("_malformed_cols", bad_cols)
        .drop(*drop)
    )
    return good, quarantine
