"""The full reference topology as ONE Structured Streaming pipeline
(SURVEY.md §3 lifecycle): landed final blocks -> change-set decode (T1)
-> field-map + composite-PK merge (T2/T3) -> split-by-table (T4) ->
typed cast in alphabetical column order (T5/T6) -> per-table sink +
cursor checkpoint, data first (S5/S6/T9). The finality buffer (T7/T8)
runs before landing, on the reader thread (`source.land_blocks`), so
the landing dir holds only final blocks and the query has no stateful
operator.

`TypedPerTableSink` is the one per-table `foreachBatch` sink, and one
Spark job reads a micro-batch: one projection casts every table, the
driver collects it with one `toArrow()`, splits it by table, writes
each table once and then the cursor. Its target picks the writer: a
directory gets `sink.ParquetWriter` (pyarrow files), an `http(s)://`
ClickHouse endpoint gets `http_sink.ClickHouseHttpWriter` (ArrowStream
INSERTs). `run_pipeline` starts the query; a local checkpoint gets the
FileSystem-based checkpoint manager (`use_checkpoint_manager`).

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

import urllib.parse

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elric_rs_spark.cast import malformed_value, typed_columns
from elric_rs_spark.streaming.admin import detect_log_format, format_log_line
from elric_rs_spark.streaming.http_sink import ClickHouseHttpWriter
from elric_rs_spark.streaming.sink import ParquetWriter

_CHANGE = "struct<table: string, fields: map<string,string>, pk: map<string,string>>"
CHANGES_JSON_SCHEMA = f"array<{_CHANGE}>"


def _merged_row_map(fields, pk) -> F.Column:
    """T3: single PK ignored / composite merged (ref loader.rs:143-149).
    HashMap::extend is LAST-wins on duplicate keys; Spark's map_concat
    default policy is EXCEPTION, so drop pk-shadowed field keys first —
    policy-independent, exact reference semantics."""
    fields_clean = F.map_filter(fields, lambda k, v: ~F.map_contains_key(pk, k))
    return F.when(
        pk.isNull() | (F.size(F.map_keys(pk)) <= 1), fields
    ).otherwise(F.map_concat(fields_clean, pk))


def malformed_payload(payload: Column) -> Column:
    """The malformed-payload rule of the JSON decoder: a non-NULL payload
    that does not parse as a change list."""
    return payload.isNotNull() & F.from_json(payload, CHANGES_JSON_SCHEMA).isNull()


def decode_changes(block_df: DataFrame, mode: str = "strict") -> DataFrame:
    """T1+T2+T3: payload -> one row per table-change with the merged
    string->string field map. Pure Catalyst (from_json + explode +
    map_concat) — whole-stage codegen, no Python. The other columns of
    `block_df` pass through (the sink carries a per-block flag this way).

    A block whose payload is NULL decodes to one row for the block
    itself, with `table` and `row_map` NULL. The sink passes every block
    through once more with a NULL payload this way, so a block with no
    change rows still reaches its cursor stats (`TypedPerTableSink`).

    Malformed-payload policy (the reference PANICS on a decode failure,
    loader.rs:128-131 `expect`): mode='strict' raises on the first
    non-null payload that fails to parse — fail-fast reference parity;
    mode='permissive' drops malformed rows (`decode_errors` lists them,
    and the sink counts them, by the `malformed_payload` rule)."""
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
    parsed = F.when(
        F.col("payload").isNull(), F.array(F.lit(None).cast(_CHANGE))
    ).otherwise(parsed)
    keep = [c for c in block_df.columns if c != "payload"]
    changes = block_df.select(*keep, F.explode(parsed).alias("c"))
    merged = _merged_row_map(F.col("c.fields"), F.col("c.pk"))
    return changes.select(
        *keep,
        F.col("c.table").alias("table"),
        merged.alias("row_map"),
    )


def decode_errors(block_df: DataFrame) -> DataFrame:
    """The quarantine half of mode='permissive': rows whose non-null
    payload failed to parse, with full provenance (stream/block/cursor)
    — same split discipline as cast.py's quarantine (T5)."""
    return block_df.filter(malformed_payload(F.col("payload"))).select(
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
    wire bytes); mode='permissive' skips that block's rows. A NULL
    payload decodes to the block's own row, as in `decode_changes`."""
    import base64

    from elric_rs_spark.functions.protowire import table_change_rows

    def _decode(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "stream_id", "block_num", "block_id", "cursor",
                "table", "fields", "pk",
            )}
            for row in pdf.itertuples(index=False):
                if row.payload is None:  # the block itself
                    changes = [dict.fromkeys(("table", "fields", "pk"))]
                else:
                    try:
                        changes = table_change_rows(base64.b64decode(row.payload))
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


_KEY = ("stream_id", "block_num", "block_id")
_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


class TypedPerTableSink:
    """S5/S6/T9 with the reference's typed-cast stage: route change rows
    by table, cast each table's string map to its declared schema
    (alphabetical column order), write every table, then write the max
    cursor per stream — data first, cursor second, so a crash can repeat
    a block but never lose data the cursor claims is done.

    One Spark job reads a micro-batch, and with the JSON decoder no
    Python worker runs. Each block goes through `decode` twice: with its
    payload (its change rows) and with a NULL payload (one row for the
    block itself, so a block with no change rows — payload `[]`, NULL,
    or skipped as malformed in permissive mode — still moves the
    cursor). One projection casts every table (`cast.typed_columns`
    nested in one struct per table), and the driver collects it with
    one `toArrow()`: a strict-mode raise fails that collect, before
    anything is written. The driver splits the Arrow rows by table,
    writes each table once (the reference's one inserter per table),
    writes each stream's last block as its cursor, and prints one
    "batch committed" line (`admin.format_log_line`).

    The collect is bounded by construction: a micro-batch is at most
    `maxFilesPerTrigger` (8) landed chunks of `land_blocks`' batch size
    (500 messages by default; `source.read_block_stream`), and its
    decode and cast run in the executors.

    In permissive mode the same projection flags malformed input, and
    the line reports it: `quarantined={table: n}` counts rows with a
    malformed value (`cast.malformed_value`; the value is written as
    NULL), and with the JSON decoder `malformed_payloads=n` counts blocks
    whose payload does not parse (the `decode_errors` rule; their change
    rows are skipped).

    `target` is a directory (parquet: `{target}/data/{table}` and
    `{target}/cursors`, see `sink.ParquetWriter`) or an `http(s)://`
    ClickHouse endpoint (one ArrowStream INSERT per table with rows,
    then one into `cursors`, see `http_sink.ClickHouseHttpWriter`)."""

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
        tables = sorted(self.table_schemas)
        permissive = self.mode == "permissive"
        # the JSON decoder keeps its input's other columns, so the
        # malformed-payload flag can ride each block's own row
        flag_payloads = permissive and self.decode is not decode_changes_protobuf
        # every block also with a NULL payload: its own row, the cursor
        # candidate, rides the same scan as the change rows
        payload, null = F.col("payload"), F.lit(None).cast("string")
        copies = F.explode(F.array(payload, null)).alias("payload")
        if flag_payloads:
            copies = F.inline(F.array(
                F.struct(payload.alias("payload"), F.lit(False).alias("bad_payload")),
                F.struct(null.alias("payload"),
                         malformed_payload(payload).alias("bad_payload")),
            ))
        blocks = block_df.select(*_KEY, "cursor", copies)
        # the sink's strict/permissive mode reaches the decoder too — a
        # permissive sink must not die on the first malformed payload
        changes = self.decode(blocks, mode=self.mode)
        table, row_map = F.col("table"), F.col("row_map")
        block_row = table.isNull()
        flags = []
        if permissive:
            flags.append(F.coalesce(*(
                F.when(table == t, malformed_value(row_map, self.table_schemas[t]))
                for t in tables
            )).alias("bad_value"))
        if flag_payloads:
            flags.append("bad_payload")
        rows = changes.filter(block_row | table.isin(tables)).select(
            *_KEY, "table",
            F.when(block_row, F.col("cursor")).alias("cursor"),
            *(
                F.when(
                    table == t,
                    F.struct(*typed_columns(row_map, self.table_schemas[t], self.mode)),
                ).alias(f"_{i}")
                for i, t in enumerate(tables)
            ),
            *flags,
        ).toArrow()

        epoch = pa.scalar(epoch_id, pa.int32())
        out: dict[str, pa.Table] = {}
        quarantined: dict[str, int] = {}
        for i, t in enumerate(tables):
            sel = rows.filter(pc.equal(rows["table"], t))
            schema = pa.schema([*(rows.schema.field(c) for c in _KEY),
                                *rows.schema.field(f"_{i}").type,
                                pa.field("epoch_id", pa.int32())])
            out[t] = pa.Table.from_arrays(
                [*(sel[c] for c in _KEY), *sel[f"_{i}"].combine_chunks().flatten(),
                 pa.repeat(epoch, sel.num_rows)], schema=schema)
            if permissive:
                quarantined[t] = pc.sum(sel["bad_value"]).as_py() or 0
        blocks = rows.filter(pc.is_null(rows["table"]))
        last = (
            blocks.sort_by([("block_num", "descending")])
            .group_by("stream_id", use_threads=False)
            .aggregate([(k, "first") for k in ("block_num", "block_id", "cursor")])
            .sort_by("stream_id")
        )
        cursor = pa.table({
            "stream_id": last["stream_id"],
            "cursor": last["cursor_first"],
            "block_num": last["block_num_first"],
            "block_id": last["block_id_first"],
            "epoch_id": pa.repeat(epoch, last.num_rows),
        })
        # cursor AFTER all table writes (ref loader.rs:111-125)
        self.writer.commit(epoch_id, out, cursor)

        fields = dict(epoch=epoch_id, rows={t: out[t].num_rows for t in tables})
        if permissive:
            fields["quarantined"] = quarantined
        if flag_payloads:
            fields["malformed_payloads"] = pc.sum(blocks["bad_payload"]).as_py() or 0
        fmt = detect_log_format()
        committed = list(zip(cursor["stream_id"].to_pylist(),
                             cursor["block_num"].to_pylist()))
        for s, n in committed or [(None, None)]:
            print(format_log_line("batch committed", fmt=fmt, **fields,
                                  stream=s, block_num=n), flush=True)


def use_checkpoint_manager(spark, checkpoint_dir: str) -> None:
    """Pick the checkpoint file manager for a query checkpointing to
    `checkpoint_dir`. A local path (no scheme, or `file:`) gets Spark's
    FileSystem-based manager: the default one renames every offset,
    commit and source-log file through Hadoop's `FileContext`, which
    without the native Hadoop library forks `readlink` 8 times per
    rename. A remote checkpoint keeps Spark's default manager (its
    rename is the atomic one an object store needs).

    Call it before `start()` and leave the conf set: the query creates
    its offset and commit logs lazily on its own thread, which reads
    the session conf then."""
    if urllib.parse.urlparse(checkpoint_dir).scheme in ("", "file"):
        spark.conf.set(_CHECKPOINT_MANAGER, _FS_CHECKPOINT_MANAGER)
    elif spark.conf.get(_CHECKPOINT_MANAGER, None) == _FS_CHECKPOINT_MANAGER:
        spark.conf.unset(_CHECKPOINT_MANAGER)


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

    use_checkpoint_manager(spark, checkpoint_dir)
    writer = (
        read_block_stream(spark, landing_dir)
        .writeStream.foreachBatch(sink.write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        return writer.trigger(availableNow=True).start()
    # the reference's 15s insert cadence (ref loader.rs:58)
    return writer.trigger(processingTime="15 seconds").start()
