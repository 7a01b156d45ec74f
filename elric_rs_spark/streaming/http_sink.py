"""ClickHouse HTTP writer for the typed per-table sink (SURVEY.md S5's
live-wire form).

The reference streams typed rows into ClickHouse through the native
client (ref loader.rs:49-80) and proves the loader against a RECORDING
mock server, not a live database (ref loader.rs:358-402's `test::Mock`).
`ClickHouseHttpWriter` is the Spark twin of that wire path, built on
ClickHouse's public HTTP interface: `POST /?query=INSERT INTO t (cols)
FORMAT ArrowStream` (docs.clickhouse.com/interfaces/http +
/interfaces/formats). ArrowStream carries its own schema, so no Spark ->
ClickHouse type table is kept here: ClickHouse casts each Arrow field to
the declared column type on insert (decimal128(20,0) -> UInt64, binary
-> FixedString(8), timestamp[us, UTC] -> DateTime, ...). That cast is
documented ClickHouse behaviour; the tests run against a recording mock
(tests/test_sink.py), not a live server.

`pipeline.TypedPerTableSink` picks this writer for an `http(s)://`
target. Each append posts once per PARTITION from `mapInArrow` (the
executors ship their own rows as Arrow batches; no rows are collected)
and sums the acked row counts as the action. Columns go
in ALPHABETICAL order, the order the reference derives from its schema
map (ref loader.rs:86-99). Retries stay with Spark: a failed POST fails
its task, the task failure fails the append, so the sink raises before
the cursor append and the restarted query replays the epoch.
"""

from __future__ import annotations

import urllib.parse
import urllib.request

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the reference's end timeout (ref loader.rs:57); read when the POST
# closure is built, before it ships to the executors
TIMEOUT_S = 20.0


class ClickHouseHttpWriter:
    """Append DataFrames to ClickHouse tables over HTTP as ArrowStream."""

    def __init__(self, endpoint: str):
        self.endpoint = endpoint.rstrip("/")  # e.g. http://host:8123

    def append(self, df: DataFrame, table: str) -> int:
        """INSERT `df` into `table`; returns the rows ClickHouse acked."""
        cols = sorted(df.columns)
        stmt = f"INSERT INTO {table} ({', '.join(cols)}) FORMAT ArrowStream"
        url = f"{self.endpoint}/?query={urllib.parse.quote(stmt)}"
        timeout = TIMEOUT_S

        def _post(batches):
            batches = [b for b in batches if b.num_rows]
            if not batches:  # empty partition: nothing to insert
                return
            out = pa.BufferOutputStream()
            with pa.ipc.new_stream(out, batches[0].schema) as w:
                for b in batches:
                    w.write_batch(b)
            req = urllib.request.Request(url, data=out.getvalue().to_pybytes(),
                                         method="POST")
            req.add_header("Content-Type", "application/octet-stream")
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                resp.read()
            n = sum(b.num_rows for b in batches)
            yield pa.RecordBatch.from_pydict({"rows": [n]})

        acked = df.select(*cols).mapInArrow(_post, "rows long")
        return acked.agg(F.sum("rows")).collect()[0][0] or 0

    def append_cursor(self, df: DataFrame) -> int:
        return self.append(df, "cursors")
