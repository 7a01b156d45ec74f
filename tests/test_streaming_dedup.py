"""Ingest-time near-dup: stream == batch equivalence (VERDICT r07 #4).

The incremental foreachBatch probe (streaming/ingest_dedup.py) must
reproduce `q_dedup_stream_batch` — the batch per-doc ingest-order
verdict over the full corpus — exactly, when micro-batches arrive in
doc_id order. Plus planted tests for the bucket-cap freeze and the
replay/ordering guards that TPC-H-shaped data never exercises.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elric_rs_spark import registry
from elric_rs_spark.streaming.ingest_dedup import (
    IngestDedupIndex,
    run_ingest_dedup_stream,
)

registry.load_all()

SF_DIR = "/root/testdata/sf0.001"
N_BATCHES = 4


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_landing_batches(pdf, landing, n_batches, per):
    """One parquet file per micro-batch with STRICTLY INCREASING mtimes:
    Spark's FileStreamSource orders by modification time, not name, and
    rapidly-written files can share an mtime — which would deliver
    batches out of order and trip the watermark guard."""
    import os
    import time

    t0 = time.time()
    for b in range(n_batches):
        chunk = pdf.iloc[b * per : (b + 1) * per]
        if len(chunk):
            p = landing / f"batch_{b:04d}.parquet"
            chunk.to_parquet(p, index=False)
            os.utime(p, (t0 + b, t0 + b))


def test_stream_equals_batch(spark, tmp_path):
    """Full corpus through 4 id-ordered micro-batches == the batch
    verdict query, value-exact (including rounded Jaccard)."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    n = docs.count()
    per = (n + N_BATCHES - 1) // N_BATCHES
    landing = tmp_path / "landing"
    landing.mkdir()
    # one parquet FILE per micro-batch, written in id order; file names
    # sort in delivery order so maxFilesPerTrigger=1 tails them 0,1,2,3
    pdf = docs.toPandas()
    _write_landing_batches(pdf, landing, N_BATCHES, per)

    index = run_ingest_dedup_stream(
        spark,
        str(landing),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    got = _rows(index.read_verdicts(spark))
    want = _rows(registry.QUERIES["q_dedup_stream_batch"](spark, SF_DIR))
    assert got == want
    assert len(got) > 0, "fixture produced no near-dup verdicts: vacuous test"


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


DUP_TEXT = "the quick brown fox jumps over the lazy dog again and again"


def test_bucket_cap_freezes_incremental_index(spark, tmp_path):
    """cap=2: identical docs 0,1 land in batch 0 and fill every bucket;
    identical docs 2,3 in batch 1 must be REJECTED by the frozen
    buckets — no verdicts, no index growth — matching the batch slice
    rule (pairs only among the lowest-cap ids of a bucket)."""
    idx = IngestDedupIndex(str(tmp_path / "state"), cap=2)
    idx.process_batch(
        _mk_batch(spark, [(0, DUP_TEXT), (1, DUP_TEXT)]), epoch_id=0
    )
    v0 = _rows(idx.read_verdicts(spark))
    assert [r[:3] for r in v0] == [(1, 1, 0)]  # doc 1 dups doc 0
    assert v0[0][3] == 1.0
    idx.process_batch(
        _mk_batch(spark, [(2, DUP_TEXT), (3, DUP_TEXT)]), epoch_id=1
    )
    # frozen buckets: docs 2,3 generate nothing and are not admitted
    assert _rows(idx.read_verdicts(spark)) == v0
    members = idx.read_index(spark).select("doc_id").distinct()
    assert sorted(r[0] for r in members.collect()) == [0, 1]


def test_replayed_epoch_is_absorbed(spark, tmp_path):
    """Re-delivering a committed epoch (same epoch_id) must not change
    verdicts or index state — the crash-replay contract."""
    idx = IngestDedupIndex(str(tmp_path / "state"))
    b0 = _mk_batch(spark, [(0, DUP_TEXT), (1, DUP_TEXT)])
    idx.process_batch(b0, epoch_id=0)
    before = _rows(idx.read_verdicts(spark))
    idx.process_batch(b0, epoch_id=0)  # replay: watermark short-circuits
    assert _rows(idx.read_verdicts(spark)) == before


def test_partial_commit_replay_is_absorbed(spark, tmp_path):
    """Crash window BETWEEN the gram-store append and the watermark
    write: the replayed epoch (epoch_id != last_epoch, so the
    short-circuit does not fire) re-reads its own batch docs from the
    gram store while also unioning grams_b. Without the union dedup,
    ga holds two rows per batch doc, same-batch candidate pairs join
    twice, and a divergent double-counted verdict row survives
    read_verdicts().distinct(). The replay must be value-absorbed:
    identical verdicts, exactly one row per doc_id."""
    idx = IngestDedupIndex(str(tmp_path / "state"))
    idx.process_batch(_mk_batch(spark, [(0, DUP_TEXT)]), epoch_id=0)
    with open(idx._watermark_path) as f:
        wm_committed = f.read()
    # batch 1 has a SAME-BATCH dup pair (1,2) — the pair class that
    # double-counts when ga duplicates batch docs
    b1 = _mk_batch(spark, [(1, DUP_TEXT), (2, DUP_TEXT)])
    idx.process_batch(b1, epoch_id=1)
    clean = _rows(idx.read_verdicts(spark))
    assert [r[:3] for r in clean] == [(1, 1, 0), (2, 2, 0)]
    # simulate the crash: all three stores hold epoch-1 rows, but the
    # watermark still says epoch 0 -> foreachBatch redelivers epoch 1
    with open(idx._watermark_path, "w") as f:
        f.write(wm_committed)
    idx.process_batch(b1, epoch_id=1)
    replayed = _rows(idx.read_verdicts(spark))
    assert replayed == clean
    ids = [r[0] for r in replayed]
    assert len(ids) == len(set(ids)), "divergent duplicate verdict rows"


def test_out_of_order_batch_rejected(spark, tmp_path):
    """Arrival order is the equivalence precondition; a batch whose ids
    regress below the watermark must fail loudly, not corrupt state."""
    idx = IngestDedupIndex(str(tmp_path / "state"))
    idx.process_batch(_mk_batch(spark, [(10, DUP_TEXT)]), epoch_id=0)
    with pytest.raises(ValueError, match="ingest order violation"):
        idx.process_batch(_mk_batch(spark, [(5, DUP_TEXT)]), epoch_id=1)


def test_single_member_new_bucket_is_admitted(spark, tmp_path):
    """A bucket first touched by ONE batch doc has no pairs, but its
    member must still enter the index — the next batch's identical doc
    has to find it."""
    idx = IngestDedupIndex(str(tmp_path / "state"))
    idx.process_batch(_mk_batch(spark, [(0, DUP_TEXT)]), epoch_id=0)
    assert _rows(idx.read_verdicts(spark)) == []
    idx.process_batch(_mk_batch(spark, [(1, DUP_TEXT)]), epoch_id=1)
    v = _rows(idx.read_verdicts(spark))
    assert [r[:3] for r in v] == [(1, 1, 0)]


def test_verdicts_match_oracle_sql(spark, tmp_path):
    """The registry key's own oracle replays the stream result too:
    run the DuckDB oracle for q_dedup_stream_batch and compare against
    the STREAMED verdicts — closing the triangle (stream == batch ==
    oracle)."""
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import run_oracle

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    pdf = docs.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    per = (len(pdf) + 1) // 2
    _write_landing_batches(pdf, landing, 2, per)
    index = run_ingest_dedup_stream(
        spark, str(landing), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    got = _rows(
        index.read_verdicts(spark).select(
            "doc_id", "n_earlier_dups", "first_partner", "best_jaccard"
        )
    )
    cols, rows = run_oracle(registry.ORACLES["q_dedup_stream_batch"], SF_DIR)
    order = [cols.index(c) for c in
             ("doc_id", "n_earlier_dups", "first_partner", "best_jaccard")]
    want = sorted(tuple(r[i] for i in order) for r in rows)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], abs=1e-6)


def test_compaction_folds_files_and_preserves_semantics(spark, tmp_path):
    """compact_state (round 9): fold the epoch-written stores without
    changing ANY observable state. Twin protocol: index A is compacted
    mid-stream, index B never is; after the same three epochs their
    verdicts and memberships must be value-identical, A's index must
    fold to one file, and a replayed committed epoch must still be
    absorbed."""
    import os

    def _pq_files(path):
        return [
            os.path.join(r, n)
            for r, _d, ns in os.walk(path)
            for n in ns
            if n.endswith(".parquet")
        ]

    batches = [
        [(0, DUP_TEXT), (1, DUP_TEXT)],
        [(2, DUP_TEXT), (3, "completely different words here entirely")],
        [(4, DUP_TEXT), (5, "another unrelated body of fresh tokens")],
    ]
    a = IngestDedupIndex(str(tmp_path / "a"))
    b = IngestDedupIndex(str(tmp_path / "b"))
    for e, rows in enumerate(batches[:2]):
        a.process_batch(_mk_batch(spark, rows), epoch_id=e)
        b.process_batch(_mk_batch(spark, rows), epoch_id=e)

    files_before = len(_pq_files(a.index_path))
    stats = a.compact_state(spark)
    assert stats["index_files"] == (files_before, 1)
    assert len(_pq_files(a.index_path)) == 1
    # fold changed no observable state
    assert _rows(a.read_verdicts(spark)) == _rows(b.read_verdicts(spark))
    assert _rows(a.read_index(spark)) == _rows(b.read_index(spark))
    assert _rows(a.read_grams(spark)) == _rows(b.read_grams(spark))

    # the pipeline keeps working: epoch 2 on both, same verdicts
    a.process_batch(_mk_batch(spark, batches[2]), epoch_id=2)
    b.process_batch(_mk_batch(spark, batches[2]), epoch_id=2)
    va, vb = _rows(a.read_verdicts(spark)), _rows(b.read_verdicts(spark))
    assert va == vb
    assert len(va) >= 2, "fixture produced too few dup verdicts: vacuous"

    # crash-replay of a committed epoch AFTER a fold is still absorbed
    a.compact_state(spark)
    before = _rows(a.read_verdicts(spark))
    a.process_batch(_mk_batch(spark, batches[2]), epoch_id=2)
    assert _rows(a.read_verdicts(spark)) == before


def _store_files(idx):
    """Every file under each store, as paths relative to the store."""
    import os

    return {
        path: sorted(
            os.path.relpath(os.path.join(r, n), path)
            for r, _d, ns in os.walk(path)
            for n in ns
        )
        for path in (idx.verdicts_path, idx.index_path, idx.grams_path)
    }


def test_partial_commit_replay_replaces_its_own_files(spark, tmp_path):
    """A delivery publishes one epoch-named file per store: a replay
    after a crash before the watermark write replaces those files
    instead of adding copies, and leaves the index rows as they were.
    Docs 3..14 share no bucket with any other doc, so their buckets are
    single-member on first delivery and hold their own index rows on
    the replay, in the file the replay also rewrites for docs 1 and 2:
    they must stay admitted."""
    idx = IngestDedupIndex(str(tmp_path / "state"))
    idx.process_batch(_mk_batch(spark, [(0, DUP_TEXT)]), epoch_id=0)
    with open(idx._watermark_path) as f:
        wm_committed = f.read()
    unique = [
        (i, f"document {i} alone says " + " ".join(f"u{i}w{j}" for j in range(12)))
        for i in range(3, 15)
    ]
    b1 = _mk_batch(spark, [(1, DUP_TEXT), (2, DUP_TEXT), *unique])
    idx.process_batch(b1, epoch_id=1)
    files = _store_files(idx)
    index = _rows(idx.read_index(spark))
    assert {r[2] for r in index} == set(range(15))
    assert all(len(names) > 0 for names in files.values()), files
    with open(idx._watermark_path, "w") as f:
        f.write(wm_committed)
    idx.process_batch(b1, epoch_id=1)
    assert _store_files(idx) == files
    assert _rows(idx.read_index(spark)) == index


def test_each_delivery_publishes_one_index_file(spark, tmp_path):
    """N deliveries leave exactly N files in the band index (and in the
    gram store): one flat epoch file per store per delivery, however
    many band buckets a delivery touches."""
    idx = IngestDedupIndex(str(tmp_path / "state"))
    n = 3
    for e in range(n):
        rows = [
            (i, f"doc {i} alone says " + " ".join(f"d{i}w{j}" for j in range(12)))
            for i in range(10 * e, 10 * e + 10)
        ]
        idx.process_batch(_mk_batch(spark, rows), epoch_id=e)
    files = _store_files(idx)
    want = [f"part-{e:020d}.parquet" for e in range(n)]
    assert files[idx.index_path] == want
    assert files[idx.grams_path] == want


def test_gram_store_read_runs_no_job(spark, tmp_path):
    """The gram store is read with its declared schema: no schema
    inference job."""
    from tests.test_streaming import _max_job_id

    idx = IngestDedupIndex(str(tmp_path / "state"))
    idx.process_batch(_mk_batch(spark, [(0, DUP_TEXT)]), epoch_id=0)
    before = _max_job_id(spark)
    grams = idx.read_grams(spark)
    assert _max_job_id(spark) == before
    assert grams.schema.simpleString() == "struct<doc_id:bigint,g:array<string>>"


# Spark jobs of one delivery (the second of two sf0.001 halves, so the
# probe reads a persisted index and gram store), local[8]: 22 with a
# flat band index (one epoch file per store), 29 when the index was
# split into 64 hash-bucket dirs and each probe collected its touched
# buckets first, 34 when three DataFrameWriter appends wrote the stores
# and the gram store was read with schema inference
DELIVERY_JOB_CEILING = 22


def test_delivery_job_ceiling(spark, tmp_path):
    from tests.test_streaming import _max_job_id

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    half = len(docs) // 2
    idx = IngestDedupIndex(str(tmp_path / "state"))
    idx.process_batch(_mk_batch(spark, docs[:half]), epoch_id=0)
    batch = _mk_batch(spark, docs[half:])
    before = _max_job_id(spark)
    idx.process_batch(batch, epoch_id=1)
    jobs = _max_job_id(spark) - before
    assert jobs <= DELIVERY_JOB_CEILING, jobs
