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
-> FixedString(8), timestamp[us, UTC] -> DateTime, ...). UInt128,
Int128, UInt256 and Int256 travel as canonical decimal strings, which
ClickHouse parses into the declared wide integer. That cast is
documented ClickHouse behaviour; the tests run against a recording mock
(tests/test_sink.py), not a live server.

`pipeline.TypedPerTableSink` picks this writer for an `http(s)://`
target. The driver posts one INSERT per table with rows in the batch
(the reference's one inserter per table), then the cursor rows into
`cursors`. Columns go in ALPHABETICAL order, the order the reference
derives from its schema map (ref loader.rs:86-99). A failed POST raises
out of the batch before the cursor POST, so the restarted query replays
the epoch.
"""

from __future__ import annotations

import urllib.parse
import urllib.request

import pyarrow as pa

# the reference's end timeout (ref loader.rs:57), read at each POST
TIMEOUT_S = 20.0


def _post(endpoint: str, table: str, rows: pa.Table) -> None:
    """INSERT `rows` into `table` as one ArrowStream body, columns in
    alphabetical order."""
    rows = rows.select(sorted(rows.column_names))
    stmt = (f"INSERT INTO {table} ({', '.join(rows.column_names)}) "
            "FORMAT ArrowStream")
    out = pa.BufferOutputStream()
    with pa.ipc.new_stream(out, rows.schema) as w:
        w.write_table(rows)
    req = urllib.request.Request(
        f"{endpoint}/?query={urllib.parse.quote(stmt)}",
        data=out.getvalue().to_pybytes(), method="POST")
    req.add_header("Content-Type", "application/octet-stream")
    with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:
        resp.read()


class ClickHouseHttpWriter:
    """Insert Arrow rows into ClickHouse tables over HTTP."""

    def __init__(self, endpoint: str):
        self.endpoint = endpoint.rstrip("/")  # e.g. http://host:8123

    def commit(self, epoch_id: int, tables: dict[str, pa.Table],
               cursor: pa.Table) -> None:
        """One INSERT per table with rows, then one of the cursor rows.
        A table without rows gets no INSERT."""
        for table, rows in tables.items():
            if rows.num_rows:
                _post(self.endpoint, table, rows)
        if cursor.num_rows:
            _post(self.endpoint, "cursors", cursor)
