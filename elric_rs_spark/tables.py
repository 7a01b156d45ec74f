"""Fixture table loading.

The driver's synthetic star schema (TESTDATA.md): TPC-H-ish tables plus an
`events` stream stand-in, `documents` and `embeddings` for the LLM-pipeline
operators. Loaded as plain parquet scans so Catalyst gets predicate
pushdown + column pruning for free. The schema comes from one pyarrow
footer read, so loading a table runs no Spark schema-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from elric_rs_spark.storage import publish

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# inside this checkout (gitignored), so every copy of the repo keeps its own
_NS_CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch", "us_parquet_cache",
)


def _microsecond_copy(path: str) -> str:
    """Some fixture files carry TIMESTAMP(NANOS) columns, which Spark's
    parquet reader rejects outright (PARQUET_TYPE_ILLEGAL) unless the
    session was *created* with the legacy nanosAsLong conf — not an option
    when the caller owns the session. Convert ns -> us once via pyarrow
    into a content-addressed cache and read that. Truncation matches what
    DuckDB/Python expose (microseconds). pyarrow also reads a Spark-written
    INT96 column as naive ns; INT96 holds an instant, so its copy is
    `timestamp[us, UTC]`, which Spark types `timestamp`, as it does the
    INT96 column. Cache entries are named without a leading `_` or `.`,
    which Spark would skip."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    st = os.stat(path)
    key = f"{st.st_mtime_ns}_{st.st_size}_{os.path.abspath(path).replace('/', '_')}"
    out = os.path.join(_NS_CACHE_DIR, key)
    if not os.path.exists(os.path.join(out, "part-0.parquet")):
        footer = pq.ParquetFile(path)
        int96 = {
            c.path
            for c in map(footer.schema.column, range(len(footer.schema)))
            if c.physical_type == "INT96"
        }
        table = footer.read()
        fields = []
        for f in table.schema:
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
                tz = "UTC" if f.name in int96 else f.type.tz
                fields.append(pa.field(f.name, pa.timestamp("us", tz=tz)))
            else:
                fields.append(f)
        publish(out, "part-0.parquet", table.cast(pa.schema(fields), safe=False))
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table with the schema Spark would infer, built
    from the file's footer (naive timestamps map to timestamp_ntz when
    the session's `inferTimestampNTZ` says so, as Spark's inference
    does)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    schema = pq.read_schema(path)
    if any(pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema):
        path = _microsecond_copy(path)
        schema = pq.read_schema(os.path.join(path, "part-0.parquet"))
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return spark.read.schema(
        from_arrow_schema(schema, prefer_timestamp_ntz=ntz)
    ).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
