"""The full reference topology as ONE Structured Streaming pipeline
(SURVEY.md §3 lifecycle): landed final blocks -> change-set decode (T1)
-> field-map + composite-PK merge (T2/T3) -> split-by-table (T4) ->
typed cast in alphabetical column order (T5/T6) -> per-table sink +
cursor checkpoint, data first (S5/S6/T9). The finality buffer (T7/T8)
runs before landing, on the reader thread (`source.land_blocks`), so
the landing dir holds only final blocks and the query has no stateful
operator.

`TypedPerTableSink` is the one per-table `foreachBatch` sink, and one
Spark job writes a micro-batch: one projection casts every table, one
`mapInArrow` pass writes each partition's rows per table and returns
row counts and cursor candidates, and the driver writes the cursor
after the pass. Its target picks the writer: a directory gets
`sink.ParquetWriter` (pyarrow files), an `http(s)://` ClickHouse
endpoint gets `http_sink.ClickHouseHttpWriter` (ArrowStream INSERTs).

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

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from elric_rs_spark.cast import typed_columns
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


def decode_changes(block_df: DataFrame, mode: str = "strict") -> DataFrame:
    """T1+T2+T3: payload -> one row per table-change with the merged
    string->string field map. Pure Catalyst (from_json + explode +
    map_concat) — whole-stage codegen, no Python.

    A block whose payload is NULL decodes to one row for the block
    itself, with `table` and `row_map` NULL. The sink passes every block
    through once more with a NULL payload this way, so a block with no
    change rows still reaches its cursor stats (`TypedPerTableSink`).

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
    parsed = F.when(
        F.col("payload").isNull(), F.array(F.lit(None).cast(_CHANGE))
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


# what each partition of the sink's pass returns: one row per table it
# wrote (rows set) and one per stream it saw (the stream's last block)
_PASS_STATS = pa.schema([
    ("table", pa.string()), ("rows", pa.int64()), ("stream_id", pa.string()),
    ("block_num", pa.int64()), ("block_id", pa.string()), ("cursor", pa.string()),
])


def _pass(tables: list[str], schemas: dict[str, pa.Schema], write, epoch_id: int):
    """The per-partition function of the sink's pass. Its input rows are
    change rows (`table` set, the table's typed struct in column
    `_<index>`) and block rows (`table` null, `cursor` set). It splits
    the change rows by table, hands each table's rows to `write(table,
    rows, partition)`, and returns the row counts and each stream's
    highest (block_num, block_id, cursor)."""

    def run(batches):
        # the whole partition first: a strict-mode raise while Spark
        # produces its rows comes before this partition writes anything
        batches = list(batches)
        if not batches:
            return
        part = TaskContext.get().partitionId()
        rows = pa.Table.from_batches(batches)
        stats = {name: [] for name in _PASS_STATS.names}

        def add(**kw):
            for k, v in stats.items():
                v.append(kw.get(k))

        for i, t in enumerate(tables):
            sel = rows.filter(pc.equal(rows["table"], t))
            if not sel.num_rows:
                continue
            typed = sel[f"_{i}"].combine_chunks().flatten()
            epoch = pa.repeat(pa.scalar(epoch_id, pa.int32()), sel.num_rows)
            cols = [sel["stream_id"], sel["block_num"], sel["block_id"], *typed, epoch]
            write(t, pa.Table.from_arrays(cols, names=schemas[t].names)
                  .cast(schemas[t]), part)
            add(table=t, rows=sel.num_rows)
        blocks = rows.filter(pc.is_null(rows["table"]))
        last = (
            blocks.sort_by([("block_num", "descending")])
            .group_by("stream_id", use_threads=False)
            .aggregate([(k, "first") for k in ("block_num", "block_id", "cursor")])
        )
        for s, n, b, c in zip(*(last[k].to_pylist() for k in (
                "stream_id", "block_num_first", "block_id_first", "cursor_first"))):
            add(stream_id=s, block_num=n, block_id=b, cursor=c)
        yield pa.RecordBatch.from_pydict(stats, schema=_PASS_STATS)

    return run


class TypedPerTableSink:
    """S5/S6/T9 with the reference's typed-cast stage: route change rows
    by table, cast each table's string map to its declared schema
    (alphabetical column order), write every table, then write the max
    cursor per stream — data first, cursor second, so a crash can repeat
    a block but never lose data the cursor claims is done.

    One Spark job writes a micro-batch, reading it once. Each block
    goes through `decode` twice: with its payload (its change rows) and
    with a NULL payload (one row for the block itself, so a block with
    no change rows — payload `[]`, NULL, or skipped as malformed in
    permissive mode — still moves the cursor). One projection casts
    every table (`cast.typed_columns` nested in one struct per table),
    and one `mapInArrow` pass runs one Python task per partition of the
    batch: it writes that partition's rows per table and returns small
    stats. The driver then writes the cursor from the stats and prints
    one "batch committed" line (`admin.format_log_line`).

    `target` is a directory (parquet: `{target}/data/{table}` and
    `{target}/cursors`, see `sink.ParquetWriter`) or an `http(s)://`
    ClickHouse endpoint (one ArrowStream INSERT per table and partition,
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
        # every block also with a NULL payload: its own row, the cursor
        # candidate, rides the same scan as the change rows
        blocks = block_df.select(
            "stream_id", "block_num", "block_id", "cursor",
            F.explode(F.array("payload", F.lit(None).cast("string"))).alias("payload"),
        )
        # the sink's strict/permissive mode reaches the decoder too — a
        # permissive sink must not die on the first malformed payload
        changes = self.decode(blocks, mode=self.mode)
        block_row = F.col("table").isNull()
        typed = changes.filter(block_row | F.col("table").isin(tables)).select(
            "stream_id", "block_num", "block_id", "table",
            F.when(block_row, F.col("cursor")).alias("cursor"),
            *(
                F.when(
                    F.col("table") == t,
                    F.struct(*typed_columns(F.col("row_map"),
                                            self.table_schemas[t], self.mode)),
                ).alias(f"_{i}")
                for i, t in enumerate(tables)
            ),
        )
        schema = typed.schema
        arrow = {
            t: to_arrow_schema(StructType([
                *(schema[c] for c in ("stream_id", "block_num", "block_id")),
                *schema[f"_{i}"].dataType.fields,
                StructField("epoch_id", IntegerType()),
            ]))
            for i, t in enumerate(tables)
        }
        stats = typed.mapInArrow(
            _pass(tables, arrow, self.writer.part_writer(epoch_id), epoch_id),
            from_arrow_schema(_PASS_STATS),
        ).collect()
        rows = dict.fromkeys(tables, 0)
        last: dict[str, tuple] = {}
        for r in stats:
            if r.table is not None:
                rows[r.table] += r.rows
            elif r.stream_id not in last or r.block_num > last[r.stream_id][0]:
                last[r.stream_id] = (r.block_num, r.block_id, r.cursor)
        streams = sorted(last)
        # cursor AFTER all table writes (ref loader.rs:111-125)
        cursor = pa.table({
            "stream_id": pa.array(streams, pa.string()),
            "cursor": pa.array([last[s][2] for s in streams], pa.string()),
            "block_num": pa.array([last[s][0] for s in streams], pa.int64()),
            "block_id": pa.array([last[s][1] for s in streams], pa.string()),
            "epoch_id": pa.array([epoch_id] * len(streams), pa.int32()),
        })
        self.writer.commit(epoch_id, cursor,
                           {t: arrow[t] for t in tables if not rows[t]})
        fmt = detect_log_format()
        for s in streams or [None]:
            print(format_log_line(
                "batch committed", fmt=fmt, epoch=epoch_id, rows=rows,
                stream=s, block_num=last[s][0] if s else None), flush=True)


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
