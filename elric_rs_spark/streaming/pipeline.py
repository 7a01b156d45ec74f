"""The full reference topology as ONE Structured Streaming pipeline
(SURVEY.md §3 lifecycle): landed final blocks -> change-set decode (T1)
-> field-map + composite-PK merge (T2/T3) -> split-by-table (T4) ->
typed cast in alphabetical column order (T5/T6) -> per-table sink +
cursor checkpoint, data first (S5/S6/T9). The finality buffer (T7/T8)
runs before landing, on the reader thread (`source.land_blocks`), so
the landing dir holds only final blocks and the query has no stateful
operator.

`TypedPerTableSink` is the one per-table `foreachBatch` sink. Its
target picks the writer every append goes through: a directory gets
`sink.ParquetWriter`, an `http(s)://` ClickHouse endpoint gets
`http_sink.ClickHouseHttpWriter` (ArrowStream INSERTs).

Two decode paths produce the same (table, fields, pk) intermediate and
share the merge/cast/sink stages:
- `decode_changes` — JSON stand-in payloads (`[{"table": t, "fields":
  {..}, "pk": {..}}, ...]`), pure Catalyst via `from_json`;
- `decode_changes_protobuf` — real `DatabaseChanges` wire bytes
  (base64 in the payload column), decoded by the pure-Python wire
  reader in functions/protowire.py inside an Arrow-batched
  `mapInPandas` kernel — the faithful equivalent of
  `DatabaseChanges::decode` (ref loader.rs:128-129) with no protobuf
  toolchain dependency.

Semantic gotchas preserved (SURVEY.md §2.4):
- composite PK merged into the field map, single PK ignored
  (ref loader.rs:143-149) — a single-entry pk map is assumed to already
  be among the fields;
- operation kind never inspected: append-only sink (ref loader.rs:140-156);
- alphabetical insert column order (ref main.rs:183, table_info.rs:204-208);
- cursor written AFTER the block's data (ref loader.rs:111-125).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elric_rs_spark.cast import typed_cast
from elric_rs_spark.streaming.http_sink import ClickHouseHttpWriter
from elric_rs_spark.streaming.sink import ParquetWriter

CHANGES_JSON_SCHEMA = (
    "array<struct<table: string, fields: map<string,string>, "
    "pk: map<string,string>>>"
)


def _merged_row_map(fields, pk) -> F.Column:
    """T3: single PK ignored / composite merged (ref loader.rs:143-149).
    HashMap::extend is LAST-wins on duplicate keys; Spark's map_concat
    default policy is EXCEPTION, so drop pk-shadowed field keys first —
    policy-independent, exact reference semantics."""
    fields_clean = F.map_filter(fields, lambda k, v: ~F.map_contains_key(pk, k))
    return F.when(
        pk.isNull() | (F.size(F.map_keys(pk)) <= 1), fields
    ).otherwise(F.map_concat(fields_clean, pk))


def decode_changes(block_df: DataFrame, mode: str = "strict") -> DataFrame:
    """T1+T2+T3: payload -> one row per table-change with the merged
    string->string field map. Pure Catalyst (from_json + explode +
    map_concat) — whole-stage codegen, no Python.

    Malformed-payload policy (the reference PANICS on a decode failure,
    loader.rs:128-131 `expect`): mode='strict' raises on the first
    non-null payload that fails to parse — fail-fast reference parity;
    mode='permissive' drops malformed rows (use `decode_errors` to
    quarantine them for inspection, the same split discipline as the
    typed-cast quarantine)."""
    parsed = F.from_json("payload", CHANGES_JSON_SCHEMA)
    if mode == "strict":
        # the guard must live INSIDE a consumed expression — a separate
        # guard column would be pruned by Catalyst before it evaluates
        # raise_error in the matched branch, the PARSED value in the
        # otherwise — one from_json per row, not a parse-check-reparse
        parsed = F.when(
            F.col("payload").isNotNull() & parsed.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("malformed change payload at block "),
                    F.col("block_num").cast("string"),
                )
            ).cast(CHANGES_JSON_SCHEMA),
        ).otherwise(parsed)
    changes = block_df.select(
        "stream_id",
        "block_num",
        "block_id",
        "cursor",
        F.explode(parsed).alias("c"),
    )
    merged = _merged_row_map(F.col("c.fields"), F.col("c.pk"))
    return changes.select(
        "stream_id",
        "block_num",
        "block_id",
        "cursor",
        F.col("c.table").alias("table"),
        merged.alias("row_map"),
    )


def decode_errors(block_df: DataFrame) -> DataFrame:
    """The quarantine half of mode='permissive': rows whose non-null
    payload failed to parse, with full provenance (stream/block/cursor)
    — same split discipline as cast.py's quarantine (T5)."""
    parsed = F.from_json("payload", CHANGES_JSON_SCHEMA)
    return block_df.filter(F.col("payload").isNotNull() & parsed.isNull()).select(
        "stream_id", "block_num", "block_id", "cursor", "payload"
    )


_PROTO_CHANGES_SCHEMA = (
    "stream_id string, block_num long, block_id string, cursor string, "
    "table string, fields map<string,string>, pk map<string,string>"
)


def decode_changes_protobuf(block_df: DataFrame, mode: str = "strict") -> DataFrame:
    """T1 on the real wire format: payload = base64 `DatabaseChanges`
    protobuf bytes, decoded by functions/protowire.py in one Arrow-batched
    mapInPandas pass (the sanctioned Python path — batch transfer, no
    per-row pickling). Emits the same (table, fields, pk) intermediate as
    the JSON path, then the SAME Catalyst merge stage, so pk semantics
    cannot drift between decoders.

    Malformed-payload policy as in `decode_changes`: mode='strict'
    raises on the first payload that fails to decode (bad base64 or bad
    wire bytes); mode='permissive' skips that block's rows."""
    import base64

    from elric_rs_spark.functions.protowire import table_change_rows

    def _decode(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "stream_id", "block_num", "block_id", "cursor",
                "table", "fields", "pk",
            )}
            for row in pdf.itertuples(index=False):
                try:
                    raw = base64.b64decode(row.payload) if row.payload else b""
                    changes = table_change_rows(raw)
                except ValueError:
                    if mode == "strict":
                        raise
                    continue
                for tc in changes:
                    out["stream_id"].append(row.stream_id)
                    out["block_num"].append(row.block_num)
                    out["block_id"].append(row.block_id)
                    out["cursor"].append(row.cursor)
                    out["table"].append(tc["table"])
                    out["fields"].append(tc["fields"])
                    out["pk"].append(tc["pk"])
            # an empty frame has object columns Arrow cannot type as maps
            if out["table"]:
                import pandas as pd

                yield pd.DataFrame(out)

    cols = ["stream_id", "block_num", "block_id", "cursor", "payload"]
    changes = block_df.select(*cols).mapInPandas(_decode, _PROTO_CHANGES_SCHEMA)
    merged = _merged_row_map(F.col("fields"), F.col("pk"))
    return changes.select(
        "stream_id",
        "block_num",
        "block_id",
        "cursor",
        "table",
        merged.alias("row_map"),
    )


class TypedPerTableSink:
    """S5/S6/T9 with the reference's typed-cast stage: route change rows
    by table, cast each table's string map to its declared schema
    (alphabetical column order), append to the per-table sink, then write
    the max cursor per stream — data first, cursor second, so a crash can
    repeat a block but never lose data the cursor claims is done.

    `target` is a directory (parquet: `{target}/data/{table}` and
    `{target}/cursors`) or an `http(s)://` ClickHouse endpoint (one
    ArrowStream INSERT per table partition, then one into `cursors`)."""

    def __init__(self, target: str, table_schemas: dict[str, dict[str, str]],
                 mode: str = "strict", decode=decode_changes):
        self.writer = (
            ClickHouseHttpWriter(target)
            if target.startswith(("http://", "https://"))
            else ParquetWriter(target)
        )
        self.table_schemas = table_schemas
        self.mode = mode
        self.decode = decode  # decode_changes (JSON) or decode_changes_protobuf

    def write_batch(self, block_df: DataFrame, epoch_id: int) -> None:
        block_df = block_df.cache()
        try:
            # the sink's strict/permissive mode reaches the decoder too — a
            # permissive sink must not die on the first malformed payload
            changes = self.decode(block_df, mode=self.mode).cache()
            try:
                for t, schema in sorted(self.table_schemas.items()):
                    rows = changes.filter(F.col("table") == t).select(
                        "stream_id", "block_num", "block_id", "row_map"
                    )
                    typed = typed_cast(rows, "row_map", schema, mode=self.mode)
                    self.writer.append(typed.withColumn("epoch_id", F.lit(epoch_id)), t)
                # cursor AFTER all table writes (ref loader.rs:111-125)
                cursor = (
                    block_df.groupBy("stream_id")
                    .agg(
                        F.max_by("cursor", "block_num").alias("cursor"),
                        F.max("block_num").alias("block_num"),
                        F.max_by("block_id", "block_num").alias("block_id"),
                    )
                    .withColumn("epoch_id", F.lit(epoch_id))
                )
                self.writer.append_cursor(cursor)
            finally:
                changes.unpersist()
        finally:
            block_df.unpersist()


def run_pipeline(
    spark,
    landing_dir: str,
    checkpoint_dir: str,
    sink: TypedPerTableSink,
    available_now: bool = True,
):
    """Wire the whole topology: tail the landing dir, which holds only
    final blocks, and fan out through the typed per-table sink. Returns
    the started StreamingQuery. Crash-recovery contract (kill -> restart
    on the same checkpoint: no loss, read-view exactly-once) is proven in
    tests/test_pipeline.py::TestCheckpointRestart."""
    from elric_rs_spark.streaming.source import read_block_stream

    writer = (
        read_block_stream(spark, landing_dir)
        .writeStream.foreachBatch(sink.write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    # the reference's 15s insert cadence (ref loader.rs:58)
    return writer.trigger(processingTime="15 seconds").start()
