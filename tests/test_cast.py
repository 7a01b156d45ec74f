"""Type-system + typed-cast tests (SURVEY.md T5/T6).

Modeled on the reference's commented-out encoder-equivalence test for a
realistic ERC-20 transfer schema (ref main.rs:330-400: contract_address
FixedString(40), evt_tx_hash String, evt_index UInt32, evt_block_time
DateTime, evt_block_number UInt32, from/to FixedString(40), value UInt256)
and the ColumnType parser (ref table_info.rs:170-196).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elric_rs_spark.cast import typed_cast
from elric_rs_spark.types import ColumnType, parse_column_type, schema_for

ERC20_SCHEMA = {
    "contract_address": "FixedString(40)",
    "evt_tx_hash": "String",
    "evt_index": "UInt32",
    "evt_block_time": "DateTime",
    "evt_block_number": "UInt32",
    "from": "FixedString(40)",
    "to": "FixedString(40)",
    "value": "UInt256",
}


class TestParser:
    @pytest.mark.parametrize(
        "ts,name,spark_type",
        [
            ("String", "String", T.StringType()),
            ("UInt8", "UInt8", T.ShortType()),
            ("UInt64", "UInt64", T.DecimalType(20, 0)),
            ("UInt128", "UInt128", T.StringType()),
            ("UInt256", "UInt256", T.StringType()),
            ("Int8", "Int8", T.ByteType()),
            ("Int64", "Int64", T.LongType()),
            ("Int256", "Int256", T.StringType()),
            ("Float32", "Float32", T.FloatType()),
            ("Bool", "Bool", T.BooleanType()),
            ("DateTime", "DateTime", T.TimestampType()),
            ("Date", "Date", T.DateType()),
        ],
    )
    def test_simple_types(self, ts, name, spark_type):
        ct = parse_column_type(ts)
        assert ct.name == name
        assert ct.spark_type == spark_type

    def test_fixed_string(self):
        ct = parse_column_type("FixedString(40)")
        assert ct == ColumnType("FixedString", fixed_len=40)
        assert ct.spark_type == T.BinaryType()

    def test_decimal(self):
        ct = parse_column_type("Decimal(18, 6)")
        assert ct.spark_type == T.DecimalType(18, 6)

    def test_nullable_and_lowcardinality_unwrap(self):
        assert parse_column_type("Nullable(UInt32)").nullable is True
        assert parse_column_type("Nullable(UInt32)").name == "UInt32"
        # LowCardinality is a storage hint only (documented divergence:
        # reference declares-but-panics on these, ref table_info.rs:157-162)
        assert parse_column_type("LowCardinality(String)").name == "String"
        assert parse_column_type("Nullable(FixedString(2))").fixed_len == 2

    def test_unknown_type_raises(self):
        with pytest.raises(ValueError):
            parse_column_type("Tuple(String, UInt8)")

    def test_alphabetical_schema_order(self):
        """The reference's load-bearing insert ordering
        (ref table_info.rs:204-208, main.rs:183)."""
        names = [n for n, _ in schema_for(ERC20_SCHEMA)]
        assert names == sorted(ERC20_SCHEMA)


class TestTypedCast:
    def _erc20_df(self, spark, value="123456789", ts="2024-08-07T12:34:56Z"):
        row_map = {
            "contract_address": "deadbeef",
            "evt_tx_hash": "0xabc",
            "evt_index": "7",
            "evt_block_time": ts,
            "evt_block_number": "1000",
            "from": "aa",
            "to": "bb",
            "value": value,
        }
        return spark.createDataFrame(
            [(row_map,)], "m map<string,string>"
        )

    def test_erc20_roundtrip(self, spark):
        out = typed_cast(self._erc20_df(spark), "m", ERC20_SCHEMA)
        assert out.columns == sorted(ERC20_SCHEMA)  # alphabetical order
        row = out.collect()[0]
        assert row.evt_index == 7
        assert row.evt_block_number == 1000
        assert row.value == "123456789"
        assert row.evt_block_time.year == 2024
        # FixedString(40): zero-padded to N bytes (ref table_info.rs:140-146)
        assert len(row.contract_address) == 40
        assert row.contract_address[:8] == b"deadbeef"
        assert set(row.contract_address[8:]) == {0}

    def test_u256_beyond_decimal38(self, spark):
        huge = str((1 << 255) + 12345)  # 77 digits, way past Decimal(38)
        out = typed_cast(self._erc20_df(spark, value=huge), "m", ERC20_SCHEMA)
        assert out.collect()[0].value == huge

    def test_u256_canonicalizes_leading_zeros(self, spark):
        out = typed_cast(self._erc20_df(spark, value="000123"), "m", ERC20_SCHEMA)
        assert out.collect()[0].value == "123"

    def test_int256_accepts_negative_unlike_reference(self, spark):
        """Documented divergence: ref parses Int256 via unsigned U256
        (ref table_info.rs:136-139) — a bug we do not replicate."""
        df = spark.createDataFrame([({"v": "-42"},)], "m map<string,string>")
        out = typed_cast(df, "m", {"v": "Int256"})
        assert out.collect()[0].v == "-42"

    @pytest.mark.parametrize(
        "ts, hi, over",
        [
            ("UInt8", 255, 256),
            ("UInt16", 65535, 65536),
            ("UInt32", (1 << 32) - 1, 1 << 32),
            ("UInt64", (1 << 64) - 1, 1 << 64),
            ("UInt128", (1 << 128) - 1, 1 << 128),
            ("UInt256", (1 << 256) - 1, 1 << 256),
        ],
    )
    def test_unsigned_range(self, spark, ts, hi, over):
        """The reference's `parse::<uN>()` rejects negatives and values
        past 2^N-1: strict mode raises on them and permissive mode NULLs
        them, while 0 and the maximum cast to themselves."""
        def cast(values, mode):
            df = spark.createDataFrame([({"v": v},) for v in values],
                                       "m map<string,string>")
            return typed_cast(df, "m", {"v": ts}, mode=mode)

        got = [r.v for r in cast(["0", str(hi)], "strict").collect()]
        assert [str(v) for v in got] == ["0", str(hi)]
        for bad in (str(over), "-1", "1" + "0" * 78):
            with pytest.raises(Exception, match="malformed value for column v"):
                cast([bad], "strict").collect()
        got = cast([str(over), "-1", "1" + "0" * 78], "permissive").collect()
        assert [r.v for r in got] == [None, None, None]

    @pytest.mark.parametrize("ts, bits", [("Int128", 128), ("Int256", 256)])
    def test_signed_range(self, spark, ts, bits):
        lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
        df = spark.createDataFrame(
            [({"v": v},) for v in (str(lo), str(hi), str(hi + 1), str(lo - 1), "-007")],
            "m map<string,string>",
        )
        got = typed_cast(df, "m", {"v": ts}, mode="permissive").collect()
        assert [r.v for r in got] == [str(lo), str(hi), None, None, "-7"]

    def test_strict_mode_raises_on_malformed(self, spark):
        df = self._erc20_df(spark, value="not-a-number")
        out = typed_cast(df, "m", ERC20_SCHEMA, mode="strict")
        with pytest.raises(Exception, match="malformed value"):
            out.collect()

    def test_permissive_mode_nulls_malformed(self, spark):
        df = self._erc20_df(spark, value="not-a-number")
        out = typed_cast(df, "m", ERC20_SCHEMA, mode="permissive")
        assert out.collect()[0].value is None

    def test_missing_key_is_null_not_misaligned(self, spark):
        """Reference would mis-align the insert tuple on a missing column
        (SURVEY.md §1.3); the Spark form yields NULL in the right slot."""
        df = spark.createDataFrame([({"a": "1"},)], "m map<string,string>")
        out = typed_cast(df, "m", {"a": "UInt32", "b": "String"})
        row = out.collect()[0]
        assert row.a == 1 and row.b is None

    def test_bool_and_floats(self, spark):
        df = spark.createDataFrame(
            [({"b": "true", "f": "1.5", "d": "2.25"},)], "m map<string,string>"
        )
        out = typed_cast(df, "m", {"b": "Bool", "f": "Float32", "d": "Float64"})
        row = out.collect()[0]
        assert row.b is True and row.f == 1.5 and row.d == 2.25

    def test_cast_stays_in_codegen(self, spark):
        """The whole cast pipeline must be pure Catalyst expressions — no
        Python UDF (BatchEvalPython) in the plan; that is the 100 TB story."""
        out = typed_cast(self._erc20_df(spark), "m", ERC20_SCHEMA)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestQuarantineSplit:
    def test_split_routes_malformed_rows(self, spark):
        from elric_rs_spark.cast import typed_cast_split

        df = spark.createDataFrame(
            [
                ({"a": "1", "b": "x"},),     # clean
                ({"a": "oops", "b": "y"},),  # malformed a
                ({"b": "z"},),               # missing a: clean (NULL)
                ({"a": "nope", "ts": "bad"},),  # two malformed cols
            ],
            "m map<string,string>",
        )
        schema = {"a": "UInt32", "b": "String", "ts": "DateTime"}
        good, quar = typed_cast_split(df, "m", schema)
        g = good.orderBy("b").collect()
        assert [r.a for r in g] == [1, None] and [r.b for r in g] == ["x", "z"]
        q = quar.collect()
        assert len(q) == 2
        bad_sets = sorted(sorted(r._malformed_cols) for r in q)
        assert bad_sets == [["a"], ["a", "ts"]]
        # quarantine keeps the raw map for replay
        assert all(r.m is not None for r in q)
