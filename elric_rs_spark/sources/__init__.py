"""Source surface (SURVEY.md S1-S4, S9-S11).

Batch sources: `elric_rs_spark.tables` — schema-safe parquet readers for
the fixture tables (incl. the ns->us timestamp conversion Spark's parquet
reader rejects) and catalog-view registration standing in for the
reference's `system.tables` / `information_schema.columns` introspection
(ref table_info.rs:216-267).

Stream source: `elric_rs_spark.streaming.source` — the reconnecting
block-stream reader (gRPC-shaped iterator injection; backoff/cursor
semantics of ref substreams_stream.rs:53-149), landing-dir writer, and
the `readStream` tail.
"""

from elric_rs_spark.streaming.source import (  # noqa: F401
    BLOCK_STREAM_SCHEMA,
    FatalStreamError,
    ReconnectingReader,
    demux,
    fixture_replay,
    land_blocks,
    read_block_stream,
    resume_cursor,
)
from elric_rs_spark.streaming.transport import (  # noqa: F401
    make_substreams_connect,
    open_grpc_channel,
    response_to_message,
)
from elric_rs_spark.tables import (  # noqa: F401
    load_table,
    load_tables,
    register_views,
)
