"""Source-format breadth: CSV / JSON / ORC round-trips.

The reference reads exactly one wire format; an analytics engine's users
arrive with files. Each test writes a table out in the format, reads it
back with an explicit schema (schema inference is banned at scale — one
inference pass over 100 TB doubles the read), and asserts bit-exact row
equality plus a representative aggregate, covering the classic traps:
CSV timestamp formatting, JSON field reordering, null round-trips.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elric_rs_spark.tables import TABLES, load_table

SF = "/root/testdata/sf0.001"


def _rows(df, key):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture()
def orders(spark):
    return load_table(spark, SF, "orders")


class TestFileFormats:
    def test_csv_roundtrip(self, spark, orders, tmp_path):
        p = str(tmp_path / "orders_csv")
        (
            orders.write.option("header", True)
            .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .csv(p)
        )
        back = (
            spark.read.schema(orders.schema)
            .option("header", True)
            .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .csv(p)
        )
        assert back.schema == orders.schema
        assert _rows(back, "o_orderkey") == _rows(orders, "o_orderkey")

    def test_json_roundtrip(self, spark, orders, tmp_path):
        p = str(tmp_path / "orders_json")
        orders.write.json(p)
        back = spark.read.schema(orders.schema).json(p)
        assert _rows(back, "o_orderkey") == _rows(orders, "o_orderkey")

    def test_orc_roundtrip(self, spark, orders, tmp_path):
        p = str(tmp_path / "orders_orc")
        orders.write.orc(p)
        back = spark.read.orc(p)
        assert back.schema == orders.schema
        assert _rows(back, "o_orderkey") == _rows(orders, "o_orderkey")

    @pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
    def test_aggregate_identical_across_formats(self, spark, orders, tmp_path, fmt):
        """The same query over any source format returns identical
        results — formats change scan nodes, never semantics."""
        p = str(tmp_path / f"orders_{fmt}")
        w = orders.write
        r = spark.read.schema(orders.schema)
        if fmt == "csv":
            w = w.option("header", True).option(
                "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            )
            r = r.option("header", True).option(
                "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
            )
        getattr(w, fmt)(p)
        back = getattr(r, fmt)(p)

        def agg(df):
            return sorted(
                tuple(r)
                for r in df.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                        "cents"
                    ),
                )
                .collect()
            )

        assert agg(back) == agg(orders)

    def test_csv_null_roundtrip(self, spark, tmp_path):
        """NULLs survive CSV only under an explicit nullValue token —
        the silent-empty-string trap."""
        df = spark.createDataFrame(
            [(1, "a"), (2, None)], "id long, name string"
        )
        p = str(tmp_path / "nulls_csv")
        df.write.option("header", True).option("nullValue", "\\N").csv(p)
        back = (
            spark.read.schema(df.schema)
            .option("header", True)
            .option("nullValue", "\\N")
            .csv(p)
        )
        assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, None)]


class TestMalformedRecords:
    """File-source malformed-record policy — the batch mirror of the
    streaming decode policy (streaming/pipeline.py strict vs permissive+
    quarantine; the reference PANICS, loader.rs:128-131). An engine
    reading 100 TB of third-party JSON/CSV WILL hit bad records; the
    policy must be explicit, not an exception at hour nine."""

    def _land(self, tmp_path):
        p = tmp_path / "mixed.json"
        p.write_text(
            '{"id": 1, "v": "ok"}\n'
            "this is not json\n"
            '{"id": 2, "v": "also ok"}\n'
            '{"id": "NaN-ish", "v": 3}\n'
        )
        return str(p)

    def test_permissive_quarantines_to_corrupt_column(self, spark, tmp_path):
        path = self._land(tmp_path)
        df = spark.read.schema("id long, v string, _corrupt_record string").json(path)
        rows = df.collect()
        good = [r for r in rows if r._corrupt_record is None]
        bad = [r for r in rows if r._corrupt_record is not None]
        assert {r.id for r in good} == {1, 2}
        assert len(bad) == 2  # the non-JSON line and the type-mismatched id

    def test_dropmalformed_keeps_only_parseable(self, spark, tmp_path):
        path = self._land(tmp_path)
        df = (
            spark.read.schema("id long, v string")
            .option("mode", "DROPMALFORMED")
            .json(path)
        )
        assert sorted(r.id for r in df.collect()) == [1, 2]

    def test_failfast_raises(self, spark, tmp_path):
        path = self._land(tmp_path)
        df = (
            spark.read.schema("id long, v string")
            .option("mode", "FAILFAST")
            .json(path)
        )
        with pytest.raises(Exception):
            df.collect()


class TestBinaryFileSource:
    """`binaryFile` is the multimodal ingest path: raw image/audio blobs
    land as files, Spark reads (path, modificationTime, length, content)
    with content as an opaque binary column — exactly the schema
    operators/multimodal.py processes. At 100 TB this is how a media
    corpus enters the engine before any decode."""

    def _land(self, tmp_path) -> str:
        d = tmp_path / "blobs"
        d.mkdir()
        for i in range(4):
            # deterministic fake media payloads, distinct sizes
            (d / f"clip_{i}.bin").write_bytes(bytes([i]) * (100 + i))
        (d / "notes.txt").write_text("not media")
        return str(d)

    def test_reads_content_and_metadata(self, spark, tmp_path):
        path = self._land(tmp_path)
        df = spark.read.format("binaryFile").load(path)
        assert {f.name for f in df.schema.fields} == {
            "path", "modificationTime", "length", "content"
        }
        rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
        assert len(rows) == 5
        assert rows["clip_2.bin"].length == 102
        assert bytes(rows["clip_2.bin"].content) == bytes([2]) * 102

    def test_path_glob_filter_prunes_non_media(self, spark, tmp_path):
        """pathGlobFilter prunes at FILE-LISTING time — the non-matching
        files' bytes are never opened (the partition-pruning analogue
        for blob stores)."""
        path = self._land(tmp_path)
        df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(path)
        )
        names = sorted(r.path.rsplit("/", 1)[-1] for r in df.select("path").collect())
        assert names == [f"clip_{i}.bin" for i in range(4)]

    def test_feeds_multimodal_decode_schema(self, spark, tmp_path):
        """The binaryFile output plugs directly into the multimodal
        mapInPandas surface: select content as the blob column and the
        Arrow batches carry bytes end-to-end."""
        path = self._land(tmp_path)
        df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(path)
            .select(
                F.regexp_extract("path", r"clip_(\d+)", 1).cast("long").alias("blob_id"),
                F.col("content").alias("blob"),
            )
        )
        import pandas as pd

        def sizes(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {"blob_id": pdf["blob_id"], "n_bytes": pdf["blob"].map(len)}
                )

        out = df.mapInPandas(sizes, "blob_id long, n_bytes long").collect()
        assert {(r.blob_id, r.n_bytes) for r in out} == {
            (i, 100 + i) for i in range(4)
        }


class TestSchemaEvolution:
    """Landed batches drift (a new column appears in newer files) — the
    ingest reality mergeSchema exists for. Older rows must surface NULL
    for the new column, and the default (no mergeSchema) must keep the
    footer-sampled schema rather than failing."""

    def _land_two_generations(self, spark, tmp_path) -> str:
        d = str(tmp_path / "evolving")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).write.mode("append").parquet(d)
        spark.createDataFrame(
            [(3, "c", 30), (4, "d", 40)], "id long, v string, score long"
        ).write.mode("append").parquet(d)
        return d

    def test_merge_schema_unions_columns(self, spark, tmp_path):
        d = self._land_two_generations(spark, tmp_path)
        df = spark.read.option("mergeSchema", "true").parquet(d)
        assert set(df.columns) == {"id", "v", "score"}
        rows = {r.id: r.score for r in df.collect()}
        assert rows[1] is None and rows[3] == 30

    def test_explicit_schema_is_the_scale_path(self, spark, tmp_path):
        """At 100 TB, mergeSchema's footer sweep over millions of files
        is the slow path — an EXPLICIT schema skips it and still reads
        old and new files (missing columns null-filled)."""
        d = self._land_two_generations(spark, tmp_path)
        df = spark.read.schema("id long, v string, score long").parquet(d)
        rows = {r.id: (r.v, r.score) for r in df.collect()}
        assert rows == {1: ("a", None), 2: ("b", None),
                        3: ("c", 30), 4: ("d", 40)}


class TestLoadTable:
    """`load_table` builds the schema from one pyarrow footer read: the
    schema Spark's own inference gives, without the inference job."""

    @pytest.mark.parametrize("sf_dir", [
        "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "perfbench", "fixture"),
    ])
    def test_schema_equals_spark_inference(self, spark, sf_dir):
        for name in TABLES:
            df = load_table(spark, sf_dir, name)
            # the file it scans: the ns -> us copy for events
            (path,) = df.inputFiles()
            assert df.schema == spark.read.parquet(path).schema, name

    def test_pyarrow_and_spark_written_files(self, spark, tmp_path):
        import datetime
        from decimal import Decimal

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = tmp_path / "sf"
        d.mkdir()
        pq.write_table(pa.table(
            {"o_orderkey": [1, 2], "o_comment": ["a", None]},
            schema=pa.schema([pa.field("o_orderkey", pa.int64(), nullable=False),
                              pa.field("o_comment", pa.string())]),
        ), d / "orders.parquet")
        ts = datetime.datetime(2024, 8, 7, 1, 2, 3)
        spark.createDataFrame(
            [(1, "x", ts, ts, Decimal("1.50")), (2, None, None, None, None)],
            "c_custkey long, c_name string, c_ts timestamp, c_ntz timestamp_ntz, "
            "c_bal decimal(12,2)",
        ).coalesce(1).write.parquet(str(tmp_path / "spark_out"))
        (part,) = (tmp_path / "spark_out").glob("part-*.parquet")
        part.rename(d / "customer.parquet")
        for name in ("orders", "customer"):
            got = load_table(spark, str(d), name)
            # Spark writes INT96 timestamps, which pyarrow reads as ns: the
            # customer scan is the ns -> us copy, as for events
            (path,) = got.inputFiles()
            want = spark.read.parquet(path)
            assert got.schema == want.schema, name
            assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
        # INT96 holds an instant: typed `timestamp`, as Spark reads the
        # original file, with the same values
        from pyspark.sql.types import TimestampNTZType, TimestampType

        got = load_table(spark, str(d), "customer")
        assert got.schema["c_ts"].dataType == TimestampType()
        assert got.schema["c_ntz"].dataType == TimestampNTZType()
        spark_read = spark.read.parquet(str(d / "customer.parquet"))
        assert got.schema == spark_read.schema
        assert sorted(got.collect(), key=repr) == sorted(spark_read.collect(), key=repr)

    def test_runs_no_job(self, spark):
        from tests.test_streaming import _max_job_id

        before = _max_job_id(spark)
        for name in TABLES:
            load_table(spark, SF, name)
        assert _max_job_id(spark) == before
