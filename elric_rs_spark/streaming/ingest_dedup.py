"""Ingest-time near-duplicate detection (VERDICT r07 #4): the streaming
twin of the batch portable-MinHash dedup, run as a foreachBatch probe of
each new micro-batch against a PERSISTED band index.

A 100 TB training-data pipeline does not re-run corpus-wide dedup per
delivery; it keeps a fingerprint index and judges each arriving document
against what it has already accepted (reference topology: the cursor-
persisted incremental sink of loader.rs:111-125 — state lives next to
the data, each batch advances it transactionally). This module composes
the EXISTING batch kernels into that incremental path:

- band signatures per new doc: `portable_band_signatures`
  (operators/dedup.py) — the row-local half of the portable pipeline,
  bit-identical to what the batch query computes;
- candidate generation: (band, sig) probe of the persisted index with
  the same PMH_BUCKET_CAP keep-lowest-ids rule;
- verification: exact word-3-gram Jaccard >= 0.5 against the persisted
  gram store, the batch threshold.

EQUIVALENCE CONTRACT (tests/test_streaming_dedup.py): when micro-batches
arrive in doc_id order, the union of per-batch verdicts equals
`q_dedup_stream_batch` run batch-side on the full corpus. The claim is
sound because every stage is prefix-stable under id-ordered arrival:
signatures are row-local; the cap admits the lowest `cap` ids of each
bucket, and ids arrive ascending, so a bucket frozen at `cap` members
holds exactly the members the batch slice would keep; Jaccard is
pairwise. Arrival order is ENFORCED (watermark file, ValueError on
regression) — out-of-order delivery belongs upstream in the finality
buffer (streaming/finality.py), which releases blocks in order.

Scale shape per batch: batch-side work is batch-sized (signatures,
grams); the index probe is a broadcast-semi join (batch bands broadcast,
index scanned — no index shuffle); the bucket re-slice groups ONLY the
affected buckets (left-semi pruned), each bounded at cap + batch
members. All three stores are FLAT directories of the same form:
each delivery publishes exactly one file per store (band index, gram
store, verdicts), named `part-<epoch>.parquet` and renamed into place
(storage.publish, the typed sink's write path), so a replayed
foreachBatch epoch (deterministic recompute) replaces its own files;
every read still de-duplicates, as SummingMart does
(streaming/mart.py). The index is not split into hash buckets on disk:
with band signatures spread uniformly, a 25-doc delivery already
touches most of 64 hash buckets and a 250-doc one all of them, so a
bucket filter would prune nothing. The probe's real filter is the
broadcast left-semi on the batch's (band, sig) set. A state dir
written before this layout holds one hash-bucket subdirectory per
bucket under ``band_index/``; it is not migrated: rebuild it by
replaying the deliveries into an empty state dir.

Long-run maintenance: each EPOCH adds one file per store, so probe
file-count grows with delivery count; ``compact_state`` folds all
three stores the same way, back to ~128 MB-target files, between
deliveries — the routine part-merge every long-lived streaming table
needs. Replay-safe without a fold watermark because all three stores
hold membership facts absorbed by the readers' distinct().
"""

from __future__ import annotations

import math
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from elric_rs_spark.buildlog import pin
from elric_rs_spark.functions.hashing import word_ngrams
from elric_rs_spark.functions.vector import sorted_pairs
from elric_rs_spark.operators.dedup import (
    PMH_BUCKET_CAP,
    portable_band_signatures,
)
from elric_rs_spark.storage import (
    COMPACTED_EPOCH,
    guard_missing,
    parquet_files,
    publish,
    swap_in,
)

INDEX_SCHEMA = StructType(
    [
        StructField("band", LongType()),
        StructField("sig", StringType()),
        StructField("doc_id", LongType()),
        StructField("epoch_id", LongType()),
    ]
)

GRAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("g", ArrayType(StringType())),
        StructField("epoch_id", LongType()),
    ]
)

VERDICT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_earlier_dups", LongType()),
        StructField("first_partner", LongType()),
        StructField("best_jaccard", DoubleType()),
        StructField("epoch_id", LongType()),
    ]
)


def _publish(rows: pa.Table, directory: str, name: str) -> int:
    """Publish a delivery's `rows` as `directory/name`, or nothing when
    it has none. Returns the bytes published."""
    return publish(directory, name, rows) if rows.num_rows else 0


class IngestDedupIndex:
    """Persisted near-dup state: band index + gram store + verdicts,
    all epoch-tagged parquet under `base_dir`. One instance per
    pipeline; `process_batch` is the foreachBatch handler."""

    def __init__(self, base_dir: str, cap: int = PMH_BUCKET_CAP):
        self.base = base_dir.rstrip("/")
        self.cap = cap
        self.index_path = f"{self.base}/band_index"
        self.grams_path = f"{self.base}/gram_store"
        self.verdicts_path = f"{self.base}/verdicts"
        self._watermark_path = f"{self.base}/ingest_watermark"
        # per-epoch probe accounting (index-growth curve: probe wall vs
        # the bytes each delivery published — the number that predicts
        # 100 TB probe cost). Driver-side bookkeeping only; no effect on
        # results.
        self.epoch_stats: list[dict] = []

    # -- watermark: enforce the id-ordered-arrival precondition --------
    def _read_watermark(self) -> tuple[int, int]:
        """(max_doc_id_seen, last_epoch). -1/-1 before the first batch."""
        try:
            with open(self._watermark_path) as f:
                a, b = f.read().strip().split(":")
                return int(a), int(b)
        except (FileNotFoundError, ValueError):
            return -1, -1

    def _write_watermark(self, max_id: int, epoch_id: int) -> None:
        publish(*os.path.split(self._watermark_path), f"{max_id}:{epoch_id}")

    # -- persisted-state readers (replay-absorbing) --------------------
    @staticmethod
    def _read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
        """The store at `path` with its declared schema (no inference
        job), or an empty frame if it was never written. A store that
        an interrupted compaction left missing raises instead."""
        guard_missing(path)
        if os.path.isdir(path):
            return spark.read.schema(schema).parquet(path)
        return spark.createDataFrame([], schema)

    def read_index(self, spark: SparkSession) -> DataFrame:
        """(band, sig, doc_id) membership; distinct absorbs the rows a
        replayed epoch's files repeat from a fold."""
        return (
            self._read_or_empty(spark, self.index_path, INDEX_SCHEMA)
            .select("band", "sig", "doc_id")
            .distinct()
        )

    def read_grams(self, spark: SparkSession) -> DataFrame:
        """One gram-array row per doc; a replayed epoch's file repeats
        whole rows a fold already holds."""
        return (
            self._read_or_empty(spark, self.grams_path, GRAM_SCHEMA)
            .select("doc_id", "g")
            .dropDuplicates(["doc_id"])
        )

    def read_verdicts(self, spark: SparkSession) -> DataFrame:
        """Union of per-batch verdicts: (doc_id, n_earlier_dups,
        first_partner, best_jaccard) — the q_dedup_stream_batch
        contract columns."""
        return (
            self._read_or_empty(spark, self.verdicts_path, VERDICT_SCHEMA)
            .select("doc_id", "n_earlier_dups", "first_partner", "best_jaccard")
            .distinct()
        )

    # -- the foreachBatch handler --------------------------------------
    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Judge `batch_df` (doc_id, text) against the persisted index,
        publish its verdicts, admit new docs to the index, store their
        grams. All judging is DataFrame-plan; the driver collects the
        batch id range (the ordering guard) and the three outputs,
        which it publishes as epoch files in the order verdicts, index,
        grams, then the watermark."""
        spark = batch_df.sparkSession
        t_epoch = time.monotonic()
        rng = batch_df.agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if rng["n"] == 0:
            return
        max_seen, last_epoch = self._read_watermark()
        if epoch_id == last_epoch:
            # foreachBatch replay of a committed epoch (crash between
            # our writes and the checkpoint commit): recompute is
            # deterministic and replaces its own files, so re-running is
            # safe — but skipping is cheaper.
            return
        if rng["lo"] <= max_seen:
            raise ValueError(
                f"ingest order violation: batch min doc_id {rng['lo']} <= "
                f"watermark {max_seen}; the stream==batch equivalence "
                "requires id-ordered arrival (order upstream via the "
                "finality buffer)"
            )

        epoch = F.lit(int(epoch_id)).cast("long")
        grams_b = batch_df.select(
            "doc_id", F.array_distinct(word_ngrams(F.col("text"), 3)).alias("g")
        ).filter(F.size("g") > 0)
        # bands_b feeds two consumers (touched probe, member union) —
        # materialize the batch-sized signature set once instead of
        # re-hashing per consumer
        bands_b = pin(portable_band_signatures(spark, grams_b))
        idx = self.read_index(spark)
        # existing members of AFFECTED buckets only (left-semi prune);
        # the batch band set is small — broadcast it, never shuffle the
        # index
        touched = bands_b.select("band", "sig").distinct()
        existing = idx.join(F.broadcast(touched), ["band", "sig"], "left_semi")
        members = existing.unionByName(bands_b.select("band", "sig", "doc_id"))
        # the batch cap rule, incrementally: sorted member slice per
        # bucket. Existing ids are all < batch ids (watermark guard), so
        # existing members always survive the slice — admission only
        # fills the remaining cap slots, lowest batch ids first.
        # collect_set also absorbs a replayed epoch's own index rows.
        ds = F.slice(F.array_sort(F.collect_set("doc_id")), 1, self.cap)
        buckets = members.groupBy("band", "sig").agg(ds.alias("ds"))
        pair_expr = sorted_pairs(
            "ds",
            lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        )
        lo = int(rng["lo"])
        cand = (
            buckets.filter(F.size("ds") > 1)
            .select(F.explode(pair_expr).alias("p"))
            .select("p.doc_a", "p.doc_b")
            # only pairs whose LATER member is in this batch are new;
            # earlier-earlier pairs were emitted by previous epochs
            .filter(F.col("doc_b") >= lo)
            .distinct()
        )
        # exact Jaccard verification against gram sets: doc_a may be an
        # index doc (gram store) or an earlier batch doc (batch grams).
        # dropDuplicates: after a crash between the gram-store write and
        # the watermark write, the replayed epoch reads its own batch docs
        # from the store AND unions grams_b — without the dedup, ga holds
        # two rows per batch doc and same-batch pairs join twice, doubling
        # n_earlier_dups into a divergent verdict row.
        grams_all = (
            self.read_grams(spark)
            .unionByName(grams_b)
            .dropDuplicates(["doc_id"])
        )
        ga = grams_all.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
        gb = grams_b.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
        inter = F.size(F.array_intersect("ga", "gb")).cast("double")
        union = F.size(F.array_union("ga", "gb"))
        pairs = (
            cand.join(ga, "doc_a")
            .join(gb, "doc_b")
            .filter(inter / union >= 0.5)
            .select("doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard"))
        )
        verdicts = (
            pairs.groupBy(F.col("doc_b").alias("doc_id"))
            .agg(
                F.count(F.lit(1)).alias("n_earlier_dups"),
                F.min("doc_a").alias("first_partner"),
                F.max("jaccard").alias("best_jaccard"),
            )
            .withColumn("epoch_id", epoch)
        )
        # admitted newcomers = slice members that are batch docs; a
        # bucket's single member (first touched by one batch doc) has no
        # pair but is admitted too, or the next batch would miss it
        admitted = (
            buckets.select("band", "sig", F.explode("ds").alias("doc_id"))
            .filter(F.col("doc_id") >= lo)
            .withColumn("epoch_id", epoch)
        )
        name = f"part-{int(epoch_id):020d}.parquet"
        stats = {"epoch_id": int(epoch_id), "n_docs": int(rng["n"])}
        stats["verdicts_bytes"] = _publish(
            verdicts.toArrow(), self.verdicts_path, name
        )
        stats["index_bytes"] = _publish(admitted.toArrow(), self.index_path, name)
        stats["grams_bytes"] = _publish(
            grams_b.withColumn("epoch_id", epoch).toArrow(), self.grams_path, name
        )
        self._write_watermark(int(rng["hi"]), int(epoch_id))
        stats["wall_sec"] = round(time.monotonic() - t_epoch, 2)
        self.epoch_stats.append(stats)

    # -- table maintenance ----------------------------------------------
    def compact_state(self, spark: SparkSession) -> dict:
        """Fold each epoch-written store (band index, gram store,
        verdicts) to ~128 MB-target files.

        Why a long-lived pipeline needs this: every epoch writes one
        file per store, so after E deliveries a probe opens E index and
        E gram files — footer reads and scan planning grow with
        delivery count. Folding restores a size-proportional file
        count. Run it between deliveries (e.g. every N epochs); at
        100 TB this is the routine part-merge every streaming table
        needs (plans/compaction.py rationale).

        Why it is replay-safe WITHOUT SummingMart's watermark dance
        (mart.py): index/gram/verdict rows are MEMBERSHIP FACTS, not
        summed partials — every reader distincts or dropDuplicates, so a
        crash-replayed epoch writing its files again after a fold is
        absorbed exactly as before, and the fold itself only collapses
        physical duplicates. The ingest watermark file is untouched, so
        the ordering guard and the committed-epoch short-circuit behave
        identically. Each store is swapped in crash-safely
        (storage.swap_in). NOT safe concurrently with an active writer
        on the same base_dir (same contract as SummingMart.compact).

        Verdicts dedup on ALL contract columns (ADVICE r9): keying on
        doc_id alone would silently collapse a divergent replayed
        verdict row — exactly the divergence read_verdicts().distinct()
        exists to surface — so the fold collapses physical duplicates
        only and then ASSERTS one row per doc_id, failing loudly on a
        real divergence instead of picking an arbitrary winner."""
        stats: dict = {}
        for path, schema, key, label in (
            (self.index_path, INDEX_SCHEMA, ["band", "sig", "doc_id"], "index_files"),
            (self.grams_path, GRAM_SCHEMA, ["doc_id"], "grams_files"),
            (
                self.verdicts_path,
                VERDICT_SCHEMA,
                ["doc_id", "n_earlier_dups", "first_partner", "best_jaccard"],
                "verdicts_files",
            ),
        ):
            if not os.path.isdir(path):
                continue
            before = parquet_files(path)
            df = (
                self._read_or_empty(spark, path, schema)
                .dropDuplicates(key)
                .withColumn("epoch_id", F.lit(COMPACTED_EPOCH).cast("long"))
            )
            if path == self.verdicts_path:
                div = (
                    df.groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .filter(F.col("n") > 1)
                    .limit(1)
                    .collect()
                )
                if div:
                    raise RuntimeError(
                        f"verdict divergence for doc_id={div[0]['doc_id']}: "
                        "a replayed epoch produced conflicting verdict rows; "
                        "refusing to compact (inspect read_verdicts() output)"
                    )
            tmp = f"{path}__compact"
            n_out = max(1, math.ceil(sum(before.values()) / (128 << 20)))
            df.repartition(n_out).write.mode("overwrite").parquet(tmp)
            swap_in(tmp, path)
            stats[label] = (len(before), len(parquet_files(path)))
        return stats


def run_ingest_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cap: int = PMH_BUCKET_CAP,
    max_files_per_trigger: int = 1,
) -> IngestDedupIndex:
    """Tail `landing_dir` (parquet doc deliveries, id-ordered) through
    the incremental near-dup probe with availableNow semantics; returns
    the index handle for verdict reads. The production form replaces
    the trigger with a continuous one and puts the finality buffer
    upstream; the topology is identical.

    Delivery-order requirement: Spark's FileStreamSource orders files by
    MODIFICATION TIME, not name — writers must give landing files
    strictly increasing mtimes (os.utime with an incrementing timestamp)
    or same-mtime files may be delivered out of id order and trip the
    watermark ValueError (loud, but avoidable)."""
    doc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    index = IngestDedupIndex(state_dir, cap=cap)
    (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
        .writeStream.foreachBatch(index.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return index
