"""CLI surface (python -m elric_rs_spark): the reference binary's two
entry points (`setup <database_url> <file>`, `run <database_url> <id>`,
ref main.rs:279-289 / main.rs:160-235) driven end to end — DDL parse ->
persisted catalog -> full streaming topology over a landing dir."""

from __future__ import annotations

import json
import tempfile

import pytest

from elric_rs_spark.__main__ import main, parse_create_table

DDL = """
CREATE TABLE transfers (
    contract_address FixedString(8),
    evt_block_number UInt32,
    value UInt256,
    evt_block_time DateTime,
    evt_tx_hash String,
    evt_index UInt32
) ENGINE = ReplacingMergeTree ORDER BY (evt_tx_hash, evt_index);

CREATE TABLE approvals (
    owner String,
    spender String,
    amount UInt64
) ENGINE = MergeTree ORDER BY owner;
"""


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory(prefix="elric_cli_") as d:
        yield d


class TestParseCreateTable:
    def test_parses_columns_and_strips_engine(self):
        table, cols = parse_create_table(
            "CREATE TABLE db.t (a UInt64, b Decimal(38, 9), c FixedString(42))"
            " ENGINE = MergeTree ORDER BY a"
        )
        assert table == "t"
        assert cols == {"a": "UInt64", "b": "Decimal(38, 9)", "c": "FixedString(42)"}

    def test_non_create_returns_none(self):
        assert parse_create_table("DROP TABLE t") is None

    def test_unknown_type_fails_at_setup(self):
        with pytest.raises(ValueError):
            parse_create_table("CREATE TABLE t (a NotAType)")


class TestSetup:
    def test_writes_catalog(self, tmpdir):
        schema = f"{tmpdir}/schema.sql"
        with open(schema, "w") as fh:
            fh.write(DDL)
        rc = main(
            ["setup", "clickhouse://u:p@ch:8123/mainnet", schema, "--out", f"{tmpdir}/out"]
        )
        assert rc == 0
        cat = json.load(open(f"{tmpdir}/out/catalog.json"))
        assert cat["database"] == "mainnet"
        assert set(cat["tables"]) == {"transfers", "approvals"}
        assert cat["tables"]["approvals"]["amount"] == "UInt64"

    def test_bad_url_rejected(self, tmpdir):
        schema = f"{tmpdir}/schema.sql"
        with open(schema, "w") as fh:
            fh.write(DDL)
        with pytest.raises(ValueError):
            main(["setup", "mysql://h/db", schema, "--out", f"{tmpdir}/out"])


class TestRun:
    def test_setup_then_run_drains_topology(self, spark, tmpdir):
        from tests.test_pipeline import _blocks
        from elric_rs_spark.streaming.source import land_blocks

        schema = f"{tmpdir}/schema.sql"
        with open(schema, "w") as fh:
            fh.write(DDL)
        out = f"{tmpdir}/out"
        assert main(["setup", "clickhouse://ch:8123/db", schema, "--out", out]) == 0

        landing = f"{tmpdir}/landing"
        land_blocks(spark, _blocks(20, reorg_depth=5), landing)
        rc = main(
            [
                "run",
                "clickhouse://ch:8123/db",
                "erc20.spkg",  # no such file: treated as a module id
                "--landing",
                landing,
                "--out",
                out,
            ]
        )
        assert rc == 0
        transfers = spark.read.parquet(f"{out}/data/transfers")
        assert sorted(r.block_num for r in transfers.collect()) == list(range(15))
        approvals = spark.read.parquet(f"{out}/data/approvals")
        assert approvals.count() == 15
        # cursor written after data (T9): max finalized block
        cursors = spark.read.parquet(f"{out}/cursors")
        assert max(r.block_num for r in cursors.collect()) == 14

    def test_run_without_catalog_errors(self, tmpdir):
        rc = main(
            [
                "run",
                "clickhouse://ch:8123/db",
                "x.spkg",
                "--landing",
                f"{tmpdir}/landing",
                "--out",
                f"{tmpdir}/nonexistent",
            ]
        )
        assert rc == 2


class TestRunProtobufDecode:
    def test_decode_protobuf_path(self, spark, tmpdir):
        """--decode protobuf routes the pipeline through the wire
        decoder: DatabaseChanges bytes (base64 payloads) land, the CLI
        drains them into typed tables — proving the flag reaches
        TypedPerTableSink (the review found the first cut dropped it)."""
        import base64

        from tests.test_protowire import enc_database_changes, enc_table_change
        from elric_rs_spark.streaming.source import land_blocks

        schema = f"{tmpdir}/schema.sql"
        with open(schema, "w") as fh:
            fh.write("CREATE TABLE approvals (owner String, amount UInt64);")
        out = f"{tmpdir}/out"
        assert main(["setup", "clickhouse://ch:8123/db", schema, "--out", out]) == 0

        def payload(n: int) -> str:
            raw = enc_database_changes(
                enc_table_change("approvals", {"owner": f"o{n}", "amount": str(n)})
            )
            return base64.b64encode(raw).decode()

        msgs = [
            {
                "stream_id": "s1",
                "msg_type": "new",
                "block_num": n,
                "block_id": f"blk-{n:08d}",
                "block_ts": None,
                "cursor": str(n),
                "final_block_height": n,  # all final: every block lands
                "last_valid_block": None,
                "payload": payload(n),
            }
            for n in range(5)
        ]
        landing = f"{tmpdir}/landing"
        land_blocks(spark, msgs, landing)
        rc = main(
            [
                "run",
                "clickhouse://ch:8123/db",
                "db_out.spkg",
                "--landing",
                landing,
                "--out",
                out,
                "--decode",
                "protobuf",
            ]
        )
        assert rc == 0
        rows = spark.read.parquet(f"{out}/data/approvals").collect()
        assert sorted((r.owner, r.amount) for r in rows) == [
            (f"o{n}", n) for n in range(5)
        ]


class TestRunProgress:
    @pytest.mark.parametrize("fmt", ["dev", "prod"])
    def test_run_prints_progress_per_batch(self, spark, tmpdir, capsys, monkeypatch, fmt):
        """`run` prints `stream started`, one `stream progress` line per
        batch (with its duration_ms) and `stream terminated`, from the
        main thread, in the dev and the prod format. Ten landed chunks
        drain in two batches (8 files per trigger)."""
        from elric_rs_spark.streaming.source import land_blocks
        from tests.test_pipeline import _blocks

        monkeypatch.delenv("K_SERVICE", raising=False)
        monkeypatch.delenv("KUBERNETES_SERVICE_HOST", raising=False)
        if fmt == "prod":
            monkeypatch.setenv("K_SERVICE", "loader")
        schema = f"{tmpdir}/schema.sql"
        with open(schema, "w") as fh:
            fh.write(DDL)
        out, landing = f"{tmpdir}/out", f"{tmpdir}/landing"
        assert main(["setup", "clickhouse://ch:8123/db", schema, "--out", out]) == 0
        blocks = [dict(b, final_block_height=b["block_num"]) for b in _blocks(10, 0)]
        for b in blocks:  # one chunk, one file per block
            land_blocks(spark, [b], landing)
        capsys.readouterr()
        assert main(["run", "clickhouse://ch:8123/db", "x.spkg",
                     "--landing", landing, "--out", out]) == 0
        lines = capsys.readouterr().out.splitlines()
        if fmt == "prod":
            entries = [json.loads(ln) for ln in lines]
        else:  # "message k=v k=v": the words before the first field
            entries = [{"message": ln.split("=")[0].rsplit(" ", 1)[0]} for ln in lines]
        messages = [e["message"] for e in entries]
        assert messages[0] == "stream started"
        assert messages[-2:] == ["stream terminated", "pipeline drained"]
        assert messages.count("stream progress") == messages.count("batch committed") == 2
        if fmt == "prod":
            progress = [e for e in entries if e["message"] == "stream progress"]
            assert [(p["batch"], p["rows"]) for p in progress] == [(0, 8), (1, 2)]
            assert all(p["duration_ms"] >= 0 for p in progress)
        else:
            got = [ln for ln in lines if ln.startswith("stream progress")]
            assert [ln.rsplit(" duration_ms=", 1)[0] for ln in got] == [
                "stream progress batch=0 rows=8", "stream progress batch=1 rows=2"]
            assert all(ln.rsplit("=", 1)[1].isdigit() for ln in got)
