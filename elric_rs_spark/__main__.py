"""CLI entry points, mirroring the reference binary's surface
(SURVEY.md §3: `elric-rs setup <database_url> <file>` and
`elric-rs run <database_url> <id>`, ref main.rs:279-289 / main.rs:160-235):

    python -m elric_rs_spark setup <database_url> <schema.sql> --out DIR
    python -m elric_rs_spark run   <database_url> <spkg> --landing DIR --out DIR

`setup` validates the database URL, splits and parses the ClickHouse DDL
(the reference's ';' splitter, S8), resolves every column type through the
T6 type-string parser (fail-fast on unknown types, like the reference's
panic), and persists the resulting {table: {column: type}} catalog under
the sink directory — the stand-in for creating the tables in a live
ClickHouse (no server in this environment; `run` validates the URL and
writes the per-table parquet layout, streaming/sink.py).

`run` loads that catalog (the reference reads table_info back from
ClickHouse at startup, table_info.rs:204-208), optionally decodes the
.spkg package to pick the sink module (S4), then drives the full T1-T9
topology over the landing directory with graceful-shutdown and the
reference's progress-log line shape, printed from the main thread
(`admin.log_progress`). `--follow` keeps the 15 s insert cadence (ref
loader.rs:58); the default drains available data and exits
(availableNow) — the testable batch-replay mode.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

from elric_rs_spark.streaming.admin import (
    detect_log_format,
    format_log_line,
    parse_database_url,
    read_package,
    setup_schema,
)

_CREATE_RE = re.compile(
    r"^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:`?\w+`?\.)?`?(\w+)`?\s*\(",
    re.IGNORECASE | re.DOTALL,
)


def parse_create_table(stmt: str) -> tuple[str, dict[str, str]] | None:
    """(table, {column: clickhouse_type}) from one CREATE TABLE statement;
    None for non-CREATE statements (the reference forwards those to the
    server verbatim — we validate and skip). Column types are resolved
    through the T6 parser so an unsupported type fails HERE, at setup,
    not mid-stream."""
    stmt = stmt.strip()
    m = _CREATE_RE.match(stmt)
    if not m:
        return None
    from elric_rs_spark.types import parse_column_type

    table = m.group(1).split(".")[-1]
    cols: dict[str, str] = {}
    # scan to the MATCHING close paren of the column body (the tail may
    # hold more parens: ENGINE settings, ORDER BY tuples), splitting on
    # top-level commas (types may contain parenthesized args:
    # Decimal(38, 9), FixedString(42))
    depth, cur = 1, []
    parts: list[str] = []
    for ch in stmt[m.end():]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        if ch == "," and depth == 1:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    for part in parts:
        toks = part.strip().split(None, 1)
        if len(toks) != 2:
            continue  # table-level clauses (PRIMARY KEY ...) pass through
        name, type_str = toks[0].strip("`"), toks[1].strip()
        if name.upper() in ("PRIMARY", "ORDER", "PARTITION", "INDEX"):
            continue
        parse_column_type(type_str)  # fail fast on unknown types
        cols[name] = type_str
    return table, cols


def cmd_setup(args: argparse.Namespace) -> int:
    opts = parse_database_url(args.database_url)
    with open(args.schema_file, encoding="utf-8") as fh:
        ddl = fh.read()
    catalog: dict[str, dict[str, str]] = {}

    def execute(stmt: str) -> None:
        parsed = parse_create_table(stmt)
        if parsed:
            table, cols = parsed
            catalog[table] = cols

    n = setup_schema(ddl, execute)
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, "catalog.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"database": opts["database"], "tables": catalog}, fh, indent=2)
    print(
        format_log_line(
            "schema setup complete",
            fmt=detect_log_format(),
            statements=n,
            tables=len(catalog),
            catalog=path,
        )
    )
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    parse_database_url(args.database_url)  # validate early, like the reference
    cat_path = os.path.join(args.out, "catalog.json")
    if not os.path.exists(cat_path):
        print(f"no catalog at {cat_path}; run `setup` first", file=sys.stderr)
        return 2
    with open(cat_path, encoding="utf-8") as fh:
        catalog = json.load(fh)["tables"]
    sink_module = args.module
    if os.path.exists(args.package):
        pkg = read_package(args.package)
        sink_module = sink_module or pkg.get("sink_module")
        print(
            format_log_line(
                "package loaded",
                fmt=detect_log_format(),
                modules=len(pkg.get("modules", [])),
                sink_module=sink_module or "<unset>",
            )
        )

    from elric_rs_spark.session import get_spark
    from elric_rs_spark.streaming.admin import GracefulShutdown, log_progress
    from elric_rs_spark.streaming.pipeline import (
        TypedPerTableSink,
        decode_changes,
        decode_changes_protobuf,
        run_pipeline,
    )

    spark = get_spark("elric_rs_spark_run")
    # the sink module's declared output decides the decode path: the
    # reference consumes `DatabaseChanges` protobuf from `db_out`-style
    # modules (ref substreams.rs:26-78); JSON change-sets are this
    # engine's test/replay payload format
    decode = (
        decode_changes_protobuf
        if args.decode == "protobuf"
        or (args.decode == "auto" and sink_module and "db_out" in sink_module)
        else decode_changes
    )
    sink = TypedPerTableSink(args.out, catalog, mode=args.mode, decode=decode)
    query = run_pipeline(
        spark,
        args.landing,
        args.checkpoint or os.path.join(args.out, "_checkpoint"),
        sink,
        available_now=not args.follow,
    )
    with GracefulShutdown(query):
        log_progress(query)
    print(format_log_line("pipeline drained", fmt=detect_log_format(), out=args.out))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="elric_rs_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("setup", help="parse DDL and persist the table catalog")
    s.add_argument("database_url")
    s.add_argument("schema_file")
    s.add_argument("--out", required=True, help="sink/catalog directory")
    s.set_defaults(fn=cmd_setup)

    r = sub.add_parser("run", help="drive the streaming topology")
    r.add_argument("database_url")
    r.add_argument("package", help=".spkg path (or module id when no file exists)")
    r.add_argument("--landing", required=True, help="block landing directory")
    r.add_argument("--out", required=True, help="sink/catalog directory")
    r.add_argument("--checkpoint", default=None)
    r.add_argument("--module", default=None, help="override the package's sink module")
    r.add_argument(
        "--decode",
        choices=("auto", "json", "protobuf"),
        default="auto",
        help="payload decode path; auto = protobuf for db_out-style sink modules",
    )
    r.add_argument("--mode", choices=("strict", "permissive"), default="strict")
    r.add_argument(
        "--follow",
        action="store_true",
        help="stay up on the reference's 15s cadence instead of drain-and-exit",
    )
    r.set_defaults(fn=cmd_run)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
