"""In-memory spans and the instrumentation the traced run installs.

Spans are kept in a list and written out once at the end of the run
(name, start, end, parent, workload-run id). Instrumentation only wraps
public functions from outside the package, and is removed again with
`Instrumentation.remove()`:

- `DataFrameWriter.parquet` -> one span per write, named by target
  (landing chunk, per-table sink write, cursor write);
- `TypedPerTableSink.write_batch` -> a batch span whose first child
  materializes the finalized micro-batch (`finality`);
- the pipeline's JSON decoder -> a `decode` span that materializes the
  decoded change rows once (the sink's own cache() then reuses them);
- `buildlog.record` -> one span per session-memo build.

The forced materializations are what the traced run pays on top of the
untraced one; the run reports that difference as the tracing overhead.
"""

from __future__ import annotations

import functools
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.counters: dict[str, float] = {}

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    def begin(self, name: str) -> int:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(dict(name=name, start=self._now(), end=None,
                                   parent=parent, run=self.run_id))
            idx = len(self.spans) - 1
            self._stack.append(idx)
            return idx

    def end(self, idx: int) -> float:
        with self._lock:
            sp = self.spans[idx]
            sp["end"] = self._now()
            if idx in self._stack:
                self._stack.remove(idx)
            return sp["end"] - sp["start"]

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = tracer.begin(name)
                return self

            def __exit__(self, *exc):
                self.sec = tracer.end(self.idx)
                return False

        return _Span()

    def add_closed(self, name: str, sec: float) -> None:
        """Record a span that was timed elsewhere and just ended."""
        with self._lock:
            end = self._now()
            parent = self._stack[-1] if self._stack else None
            self.spans.append(dict(name=name, start=end - sec, end=end,
                                   parent=parent, run=self.run_id))

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def total(self, name: str, prefix: bool = False) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["end"] is not None
            and (s["name"].startswith(name) if prefix else s["name"] == name)
        )

    def export(self) -> list[dict]:
        return [
            dict(s, start=round(s["start"], 6), end=round(s["end"] or 0, 6))
            for s in self.spans
        ]


def _write_span_name(path: str, roots: dict[str, str]) -> str:
    p = str(path).rstrip("/")
    for prefix, name in roots.items():
        if p.startswith(prefix):
            rest = p[len(prefix):].strip("/")
            return name.format(rest=rest)
    return "write.other"


class Instrumentation:
    """Install/remove the wrappers listed in the module docstring.
    `roots` maps a path prefix to a span-name template for parquet
    writes, e.g. {landing: "source.chunk", out + "/data": "sink.write.{rest}"}."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.roots: dict[str, str] = {}
        self._undo: list = []

    def _patch(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install_writes(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        tracer, roots = self.tracer, self.roots
        orig = DataFrameWriter.parquet

        @functools.wraps(orig)
        def parquet(self_w, path, *a, **kw):
            with tracer.span(_write_span_name(path, roots)):
                return orig(self_w, path, *a, **kw)

        self._patch(DataFrameWriter, "parquet", parquet)

    def install_stream(self) -> None:
        from elric_rs_spark.streaming import pipeline

        tracer = self.tracer
        orig_wb = pipeline.TypedPerTableSink.write_batch

        @functools.wraps(orig_wb)
        def write_batch(sink, block_df, epoch_id):
            with tracer.span("sink.write_batch"):
                with tracer.span("finality"):
                    block_df = block_df.cache()
                    tracer.count("finality.blocks_out", block_df.count())
                return orig_wb(sink, block_df, epoch_id)

        self._patch(pipeline.TypedPerTableSink, "write_batch", write_batch)

        orig_decode = pipeline.decode_changes

        @functools.wraps(orig_decode)
        def decode(*a, **kw):
            with tracer.span("decode"):
                df = orig_decode(*a, **kw).cache()
                tracer.count("decode.rows_out", df.count())
            return df

        self._patch(pipeline, "decode_changes", decode)

    def install_memo(self) -> None:
        from elric_rs_spark import buildlog

        tracer = self.tracer
        orig = buildlog.record

        @functools.wraps(orig)
        def record(name, sec):
            tracer.add_closed(f"memo.{name}", sec)
            return orig(name, sec)

        self._patch(buildlog, "record", record)

    def remove(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)
