"""At-scale physical patterns, proven at the plan level on local data:

- salted join: equals the plain join, shuffles on (key, salt)
- bucketed tables: co-located join with NO shuffle exchange
- partition pruning: a cell filter becomes PartitionFilters at the scan
  (the IVF "probe = pruning" claim from operators/similarity.py)
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from elric_rs_spark.functions.skew import salted_join
from tests.conftest import SF_DIR
from elric_rs_spark.plans.inspect import formatted_plan, physical_plan


@pytest.fixture()
def skewed(spark):
    # hot key: 90% of fact rows hit key 7
    fact = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    return fact, dim


class TestSaltedJoin:
    def test_matches_plain_join(self, spark, skewed):
        fact, dim = skewed
        plain = fact.join(dim, "k").groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
        salted = salted_join(fact, dim, "k").groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_shuffle_key_includes_salt(self, spark, skewed):
        fact, dim = skewed
        # disable auto-broadcast so the join actually shuffles (the salt
        # only matters for shuffle joins; broadcast joins don't skew)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = salted_join(fact, dim, "k")
            assert "__salt" in physical_plan(df)
            assert "__salt" not in df.columns  # never leaks
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )


class TestBucketedJoin:
    def test_colocated_join_no_shuffle(self, spark, tmp_path):
        """Two tables bucketed by the join key: the sort-merge join reads
        bucket-aligned files and the plan has NO shuffle exchange — the
        pre-partitioned co-located join of a 100 TB star schema."""
        # (spark.sql.warehouse.dir is static; tables land in ./spark-warehouse,
        # dropped below and gitignored)
        a = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("va")
        )
        b = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 5).alias("vb")
        )
        for name, df in (("bkt_a", a), ("bkt_b", b)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.format("parquet")
                .bucketBy(8, "k")
                .sortBy("k")
                .mode("overwrite")
                .saveAsTable(name)
            )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            plan = physical_plan(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() == 10_000
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
            for name in ("bkt_a", "bkt_b"):
                spark.sql(f"DROP TABLE IF EXISTS {name}")


class TestPartitionPruning:
    def test_cell_filter_prunes_partitions(self, spark, tmp_path):
        """Corpus written partitionBy(cell): a cell predicate shows up as
        PartitionFilters on the scan and non-probed cells are never read —
        the at-scale form of the IVF probe (operators/similarity.py)."""
        out = str(tmp_path / "cells")
        df = spark.range(0, 1000).select(
            (F.col("id") % 16).alias("cell"), F.col("id").alias("vec_id")
        )
        df.write.partitionBy("cell").mode("overwrite").parquet(out)
        probed = spark.read.parquet(out).filter(F.col("cell").isin(3, 7))
        fp = formatted_plan(probed)
        part_lines = [
            ln for ln in fp.splitlines() if "PartitionFilters" in ln
        ]
        assert part_lines and "cell" in part_lines[0]
        # cells 0..7 hold 63 rows each (1000 = 16*62 + 8): 2 cells -> 126
        assert probed.count() == 126


class TestTrainedIVF:
    def test_recall_against_exact_topk(self, spark):
        """q_sim_ivf_trained probes 4 of 16 k-means cells; with the
        clustered synthetic embeddings it must recover most of the exact
        brute-force top-10 (deterministic: fixed seed, fixed data). This
        is the ANN quality gate — a broken quantizer or probe selection
        drops recall to ~nprobe/cells of random."""
        from elric_rs_spark.operators.similarity import (
            q_sim_ivf_trained,
            q_sim_topk,
        )

        sf = "/root/testdata/sf0.001"
        got = {r.vec_id for r in q_sim_ivf_trained(spark, sf).collect()}
        exact = {r.vec_id for r in q_sim_topk(spark, sf).collect()}
        assert len(got) == 10
        assert len(got & exact) >= 6, f"recall too low: {len(got & exact)}/10"


class TestRealAudioDecode:
    def test_wav_roundtrip_and_rms(self):
        """decode_wav is a REAL container parse: synth a WAV, decode it,
        check header fields exactly and RMS against the analytic sine
        value A/sqrt(2) (within quantization tolerance)."""
        from elric_rs_spark.operators.multimodal import decode_wav, synth_wav

        d = decode_wav(synth_wav(doc_id=7, n_samples=800))
        assert d["sample_rate"] == 8000 and d["n_channels"] == 1
        assert d["n_samples"] == 800 and d["duration_ms"] == 100
        amp = 1000 + 7
        assert abs(d["rms"] - amp / 2**0.5) / amp < 0.02

    def test_wav_is_spec_conformant(self):
        """The synthesized bytes are a genuine RIFF/WAVE file."""
        from elric_rs_spark.operators.multimodal import synth_wav

        b = synth_wav(doc_id=1, n_samples=80)
        assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"


class TestRealImageDecode:
    def test_bmp_roundtrip_and_channel_means(self):
        from elric_rs_spark.operators.multimodal import BMP_HEIGHT, decode_bmp, synth_bmp

        d = decode_bmp(synth_bmp(doc_id=5, width=7))
        assert d["width"] == 7 and d["height"] == BMP_HEIGHT and d["bpp"] == 24
        assert d["n_pixels"] == 7 * BMP_HEIGHT
        # channel means follow the gradient formula exactly
        vals = [(5 * 31 + y * 17 + x * 7) % 256 for y in range(BMP_HEIGHT) for x in range(7)]
        assert abs(d["mean_b"] - sum(vals) / len(vals)) < 1e-9

    def test_bmp_is_spec_conformant(self):
        from elric_rs_spark.operators.multimodal import synth_bmp

        b = synth_bmp(doc_id=1, width=5)
        assert b[:2] == b"BM"
        import struct
        assert struct.unpack_from("<I", b, 2)[0] == len(b)  # declared size == actual


class TestConnectedComponents:
    """connected_components (dedup.py) vs a reference union-find, on
    graph shapes chosen to break weak implementations: a long path
    (diameter ~ n, where naive min-label propagation needs n rounds — the
    star-contraction must still converge inside its 12-round guard), a
    union of cliques, and a seeded random graph."""

    @staticmethod
    def _union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        return {x: find(x) for x in parent}

    def _check(self, spark, edges):
        from elric_rs_spark.operators.dedup import connected_components

        df = spark.createDataFrame(edges, "u long, v long")
        got = {r.doc_id: r.rep for r in connected_components(df).collect()}
        want = self._union_find(edges)
        assert got == want

    def test_long_path(self, spark):
        # 60-node path: one component rooted at 0; diameter 60 >> 12
        # rounds, so this fails if contraction were diameter-bound
        self._check(spark, [(i, i + 1) for i in range(60)])

    def test_disjoint_cliques(self, spark):
        edges = []
        for base in (0, 100, 200):
            nodes = [base + i for i in range(6)]
            edges += [(a, b) for a in nodes for b in nodes if a < b]
        self._check(spark, edges)

    def test_seeded_random_graph(self, spark):
        import random

        rng = random.Random(42)
        edges = [
            (rng.randrange(80), rng.randrange(80)) for _ in range(120)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        self._check(spark, edges)


class TestPackShardsDistributedEqualsSerial:
    def test_random_token_lengths(self, spark):
        """The distributed shard packing (per-bucket cumsum + broadcast
        offsets, operators/sampling.py) must produce BIT-IDENTICAL shard
        ids to the serial greedy definition (global exclusive running sum
        div budget) on adversarial inputs: sparse doc_ids (empty
        buckets), docs bigger than a whole shard, zero-token docs."""
        import random

        from pyspark.sql import functions as F

        from elric_rs_spark.operators.sampling import (
            PACK_BUCKET_SPAN,
            SHARD_TOKEN_BUDGET,
        )

        rng = random.Random(42)
        # sparse ids across many buckets; extreme token counts included
        ids = sorted(rng.sample(range(0, PACK_BUCKET_SPAN * 7), 400))
        toks = [
            rng.choice([0, 1, 17, 399, SHARD_TOKEN_BUDGET + 5000, 2048])
            for _ in ids
        ]
        # serial reference: greedy running sum
        serial, running = {}, 0
        for i, t in zip(ids, toks):
            serial[i] = running // SHARD_TOKEN_BUDGET
            running += t
        df = spark.createDataFrame(
            list(zip(ids, toks)), "doc_id long, n_tokens long"
        ).withColumn("bucket", F.expr(f"doc_id div {PACK_BUCKET_SPAN}"))
        from pyspark.sql import Window

        wloc = (
            Window.partitionBy("bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = df.withColumn(
            "local_excl", F.sum("n_tokens").over(wloc) - F.col("n_tokens")
        )
        woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
        offsets = (
            df.groupBy("bucket")
            .agg(F.sum("n_tokens").alias("bt"))
            .withColumn("off", F.coalesce(F.sum("bt").over(woff), F.lit(0)))
            .select("bucket", "off")
        )
        got = {
            r.doc_id: r.shard
            for r in local.join(F.broadcast(offsets), "bucket")
            .withColumn(
                "shard",
                F.expr(f"(off + local_excl) div {SHARD_TOKEN_BUDGET}").cast("long"),
            )
            .collect()
        }
        assert got == serial


class TestAQESkewJoin:
    def test_aqe_splits_skewed_partition(self, spark, tmp_path):
        """The zero-code skew answer: AQE's OptimizeSkewedJoin splits a
        hot partition of a sort-merge join into parallel sub-splits at
        RUNTIME (the final adaptive plan marks the join `skew=true`).
        Salting (functions/skew.py) remains the fallback for aggregate
        skew and engines without AQE, but a plain shuffle join on skewed
        data should need no hand-tuning — this pins that behavior so a
        session-conf regression (AQE accidentally off) is caught."""
        import math

        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), F.col("id")).alias("name"),
        )
        fp, dp = str(tmp_path / "fact"), str(tmp_path / "dim")
        fact.write.parquet(fp)
        dim.write.parquet(dp)
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            f = spark.read.parquet(fp)
            d = spark.read.parquet(dp)
            # global aggregate downstream: a KEYED aggregate right after
            # the join would require hashpartitioning(k) and AQE refuses
            # to split skew when the split breaks a required downstream
            # distribution (split partitions duplicate keys) — itself a
            # design rule worth knowing: put skew-join outputs through a
            # distribution-free consumer, or re-shuffle explicitly
            joined = f.join(d, "k").agg(F.sum("v").alias("sv"))
            joined.collect()  # materialize so AQE finalizes the plan
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, plan
        finally:
            for k, v in prev.items():
                if v is not None:
                    spark.conf.set(k, v)


class TestBloomDecontamination:
    def test_bloom_probe_is_superset_of_exact(self, spark):
        """q_decontaminate broadcasts the benchmark gram SET — right
        while it fits. At a few billion grams the at-scale form is a
        BLOOM filter (bloom_filter_agg / might_contain): probe cost
        stays O(1) per gram with a fixed memory budget. Correctness
        contract: bloom hits are a SUPERSET of exact hits (no false
        negatives — a contaminated doc can never slip through), and the
        false-positive overshoot stays within the configured fpp."""
        from pyspark.sql import functions as F

        docs = spark.range(0, 20_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("g"), (F.col("id") % 5_000)).alias("gram"),
        )
        bench = spark.range(0, 500).select(
            F.concat(F.lit("g"), F.col("id")).alias("gram")
        )
        # exact: broadcast semi join
        exact = docs.join(
            F.broadcast(bench), "gram", "left_semi"
        ).select("doc_id")
        n_exact = exact.count()
        # bloom built from DataFrame primitives (bloom_filter_agg is not
        # SQL-registered in this build, and this form is engine-portable
        # anyway): m=8000 bits, k=2 hash functions; the filter is the
        # sorted distinct bit-position array, broadcast as one row
        M = 8000

        def positions(col):
            return [
                F.pmod(F.xxhash64(col), F.lit(M)),
                F.pmod(F.xxhash64(col, F.lit(1)), F.lit(M)),
            ]

        bits = (
            bench.select(F.explode(F.array(*positions(F.col("gram")))).alias("p"))
            .agg(F.sort_array(F.collect_set("p")).alias("bits"))
        )
        h1, h2 = positions(F.col("gram"))
        probed = docs.crossJoin(F.broadcast(bits)).filter(
            F.array_contains("bits", h1) & F.array_contains("bits", h2)
        )
        n_bloom = probed.count()
        assert n_bloom >= n_exact  # no false negatives, ever
        # exact hits: gram ids 0..499 over 4 cycles = 2000 rows; fpp
        # bound keeps the overshoot modest
        assert n_exact == 2_000
        assert n_bloom <= n_exact * 1.25
        # and every exact hit is inside the bloom hit set
        missing = exact.join(probed.select("doc_id"), "doc_id", "left_anti")
        assert missing.count() == 0


class TestInvertedIndexHotKeyCap:
    """A stop-word term appears in EVERY document; the posting list must
    stay bounded at POSTING_CAP regardless of corpus size (VERDICT r03
    "What's wrong" #3 — unbounded collect_list is an executor OOM at
    100 TB)."""

    def test_stop_word_posting_bounded(self, spark, tmp_path):
        from elric_rs_spark.operators.text import POSTING_CAP, q_inverted_index

        import pyarrow as pa
        import pyarrow.parquet as pq

        n = POSTING_CAP * 50  # stop word is 50x over the cap
        texts = [f"the tok{i}" for i in range(n)]
        tbl = pa.table(
            {
                # 'the' in every doc (hot key), plus a unique rare token
                "doc_id": pa.array(range(n), type=pa.int64()),
                "text": texts,
                "lang": ["en"] * n,
                "source": ["synth"] * n,
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        )
        d = tmp_path / "hot"
        d.mkdir()
        pq.write_table(tbl, str(d / "documents.parquet"))
        out = q_inverted_index(spark, str(d)).collect()
        by_term = {r["term"]: r for r in out}
        hot = by_term["the"]
        assert hot["df"] == n  # df stays EXACT despite the cap
        postings = hot["postings"].split(",")
        assert len(postings) == POSTING_CAP  # materialized list is capped
        assert postings == [str(i) for i in range(POSTING_CAP)]  # lowest ids
        # rare terms: full (single-element) postings, untouched by the cap
        rare = by_term["tok7"]
        assert rare["df"] == 1 and rare["postings"] == "7"


class TestKMVSketchAccuracy:
    """q_agg_approx_portable's KMV estimate must land near the exact
    distinct count (the oracle test proves cross-engine equality; this
    pins that the estimator itself is sane — equality of two wrong
    numbers would also pass the oracle)."""

    def test_estimate_within_bounds(self, spark):
        from elric_rs_spark.operators.aggregates import q_agg_approx_portable
        from elric_rs_spark.tables import load_table

        sf = "/root/testdata/sf0.01"
        est = {
            r["l_returnflag"]: r["est_distinct"]
            for r in q_agg_approx_portable(spark, sf).collect()
        }
        li = load_table(spark, sf, "lineitem")
        exact = {
            r["l_returnflag"]: r["n"]
            for r in li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_orderkey").alias("n"))
            .collect()
        }
        assert set(est) == set(exact)
        for k in exact:
            # KMV with K=64 has ~1/sqrt(62) ≈ 13% relative std error
            assert abs(est[k] - exact[k]) / exact[k] < 0.40, (k, est[k], exact[k])


class TestZOrder:
    """Z-order clustering (plans/zorder.py): after a Morton-code write,
    min/max pruning works on BOTH filter dimensions; a single-column
    sort skips on that column only. Verified directly against the
    parquet footers (file-level column statistics), which is exactly
    the information the scan's row-group skipping consumes."""

    @staticmethod
    def _candidate_files(path, col, value):
        import os

        import pyarrow.parquet as pq

        total, cand = 0, 0
        for name in os.listdir(path):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, name)).metadata
            total += 1
            admit = False
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        s = c.statistics
                        if s.min <= value <= s.max:
                            admit = True
            if admit:
                cand += 1
        return cand, total

    def test_both_dimensions_skip(self, spark, tmp_path):
        from elric_rs_spark.plans.zorder import write_zordered
        from elric_rs_spark.tables import load_table

        d = load_table(spark, "/root/testdata/sf0.01", "documents").select(
            "doc_id", "lang", "source", "n_chars"
        )
        zpath = str(tmp_path / "zorder")
        write_zordered(d, zpath, ["lang", "source"], n_files=8)
        # layout must preserve the data
        assert spark.read.parquet(zpath).count() == d.count()

        lang_cand, total = self._candidate_files(zpath, "lang", "zh")
        src_cand, _ = self._candidate_files(zpath, "source", "src7")
        assert total >= 4
        assert lang_cand < total, "lang filter prunes no files"
        assert src_cand < total, "source filter prunes no files"

        # contrast: single-column sort skips on lang but NOT on source
        spath = str(tmp_path / "langsort")
        (
            d.repartitionByRange(8, "lang", "doc_id")
            .sortWithinPartitions("lang")
            .write.mode("overwrite")
            .parquet(spath)
        )
        s_lang_cand, s_total = self._candidate_files(spath, "lang", "zh")
        s_src_cand, _ = self._candidate_files(spath, "source", "src7")
        assert s_lang_cand < s_total
        assert s_src_cand == s_total, (
            "a lang-sorted layout should NOT skip on source — if it does, "
            "the fixture changed and this contrast test needs new columns"
        )


class TestSemanticDedupPlanted:
    """q_dedup_semantic on a hand-built fixture where every pairwise
    decision is known: identical vectors in the same cluster must drop
    (keep-lowest-id), orthogonal ones must survive — independent of the
    DuckDB oracle, which replays the same arithmetic."""

    def test_planted_duplicates(self, spark, tmp_path):
        from elric_rs_spark.operators.dedup import q_dedup_semantic

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [1.0, 0.0, 0.0, 0.0], 0),  # dup of 0 -> dropped
            (2, [0.0, 1.0, 0.0, 0.0], 0),  # orthogonal -> kept
            (3, [0.0, 0.0, 1.0, 0.0], 1),
            (4, [0.0, 0.0, 1.0, 0.0], 1),  # dup of 3 -> dropped
            (5, [0.0, 0.0, 0.0, 1.0], 1),  # orthogonal -> kept
            # all-zero vectors: nsq=0, dot=0 vs everyone — must not drop
            # (or be dropped by) any NONZERO vector (strict dot > 0
            # guard), but two all-zero vectors are exact duplicates of
            # each other and must still collapse (7 dropped, 6 kept);
            # assignment tie-breaks to the smallest label -> cluster 0
            (6, [0.0, 0.0, 0.0, 0.0], 1),
            (7, [0.0, 0.0, 0.0, 0.0], 1),
        ]
        import pyarrow as pa
        import pyarrow.parquet as pq

        # load_table reads a single parquet FILE (the ns-fix path), not
        # a Spark output directory — write via pyarrow
        tbl = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
        out = {
            r["cluster"]: r
            for r in q_dedup_semantic(spark, str(tmp_path)).collect()
        }
        assert set(out) == {0, 1}
        assert (out[0]["n_vecs"], out[0]["n_dropped"], out[0]["drop_id_sum"]) == (5, 2, 8)
        assert (out[1]["n_vecs"], out[1]["n_dropped"], out[1]["drop_id_sum"]) == (3, 1, 4)


class TestSubstringDedupPlanted:
    """q_substring_dedup interval-union arithmetic on a corpus with one
    known shared 26-token prefix: coverage ratios are computable by
    hand (doc A fully covered; doc B covered only on the prefix)."""

    def test_shared_prefix_coverage(self, spark, tmp_path):
        from elric_rs_spark.operators.dedup import q_substring_dedup

        prefix = " ".join(f"a{i}" for i in range(26))
        tail = " ".join(f"b{i}" for i in range(6))
        unique = " ".join(f"c{i}" for i in range(20))
        rows = [
            (0, prefix, "xx", "s", len(prefix)),
            (1, f"{prefix} {tail}", "xx", "s", len(prefix) + 1 + len(tail)),
            (2, unique, "xx", "s", len(unique)),
        ]
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["doc_id"]: r for r in q_substring_dedup(spark, str(tmp_path)).collect()}
        # doc 2 has no duplicated window -> absent
        assert set(out) == {0, 1}
        # doc 0: 26 tokens, 14 windows, all duplicated, fully covered
        assert (out[0]["n_tokens"], out[0]["n_dup_windows"], out[0]["covered_tokens"]) == (26, 14, 26)
        assert out[0]["coverage_ratio"] == 1.0
        # doc 1: 32 tokens; only the 14 prefix-contained windows repeat,
        # covering tokens 1..26
        assert (out[1]["n_tokens"], out[1]["n_dup_windows"], out[1]["covered_tokens"]) == (32, 14, 26)
        assert out[1]["coverage_ratio"] == round(26 / 32, 6)


class TestTriangleOrientation:
    """The scale property of q_graph_triangles: degree-ordered
    orientation keeps wedge fan-out away from hubs. On a star graph the
    naive wedge join at the hub is C(k, 2); oriented, every edge points
    INTO the hub (spokes have lower degree), the hub's out-degree is 0,
    and zero wedges materialize."""

    def test_star_graph_orientation_and_counts(self, spark):
        from pyspark.sql import functions as F

        from elric_rs_spark.operators.graph import oriented_edges, triangle_counts

        k = 50
        star = spark.createDataFrame(
            [(0, i) for i in range(1, k + 1)], "a long, b long"
        )
        o = oriented_edges(spark, star)
        out_deg = o.groupBy("u").agg(F.count(F.lit(1)).alias("od"))
        hub_out = out_deg.filter(F.col("u") == 0).collect()
        assert hub_out == []  # every edge points INTO the hub
        assert out_deg.agg(F.max("od")).collect()[0][0] == 1
        assert triangle_counts(spark, star).count() == 0  # no triangles

    def test_star_plus_one_closing_edge(self, spark):
        from elric_rs_spark.operators.graph import triangle_counts

        k = 50
        rows = [(0, i) for i in range(1, k + 1)] + [(1, 2)]
        g = spark.createDataFrame(rows, "a long, b long")
        out = {r["node"]: r["n_triangles"] for r in triangle_counts(spark, g).collect()}
        # exactly one triangle (0,1,2); each member counted once
        assert out == {0: 1, 1: 1, 2: 1}


class TestRollingActivePlanted:
    """q_rolling_active trailing-7-day boundary on a hand-built event
    log: a (user, day) pair exactly 7 days back must NOT count — both
    the Spark query and its oracle use the same contribution-explode
    construction, so a shared off-by-one would pass the parity gate;
    this pins the window arithmetic independently."""

    def test_trailing_window_boundary(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_rolling_active

        D0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

        def ev(i, user, day_offset):
            return (i, D0 + datetime.timedelta(days=day_offset), user, "t", 1.0, "{}")

        rows = [
            ev(0, 1, 0),   # user 1 on day 0
            ev(1, 2, 0),   # user 2 on day 0
            ev(2, 2, 6),   # user 2 again on day 6
            ev(3, 4, 6),   # user 4 on day 6
            ev(4, 3, 7),   # user 3 on day 7
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = {
            str(r["window_day"]): r["active_users"]
            for r in q_rolling_active(spark, str(tmp_path)).collect()
        }
        # day 0: {1, 2}; day 6: window [day0..day6] -> {1, 2, 4};
        # day 7: window [day1..day7] — day-0 pairs are EXACTLY 7 days
        # back and must be excluded -> {2, 3, 4}
        assert out == {
            "2024-01-01": 2,
            "2024-01-07": 3,
            "2024-01-08": 3,
        }


class TestMinhashPortablePlanted:
    """q_dedup_minhash_portable on a planted corpus: exact duplicates
    have identical minhash signatures, so every band matches and the
    candidate pair is GUARANTEED (near-dups are only probabilistically
    banded — only J=1 gives a deterministic recall assertion). An
    unrelated doc must produce no pair. Pins the banding wiring and the
    Jaccard verify independent of the oracle replay."""

    def test_exact_duplicates_always_pair(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.dedup import q_dedup_minhash_portable

        shared = " ".join(f"tok{i}" for i in range(20))
        other = " ".join(f"zzz{i}" for i in range(20))
        rows = [(0, shared), (1, shared), (2, other)]
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["s"] * 3, pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        pairs = [
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in q_dedup_minhash_portable(spark, str(tmp_path)).collect()
        ]
        assert pairs == [(0, 1, 1.0)]


class TestSessionizePlanted:
    """q_sessionize 6-hour-gap boundary on a hand-built log: a gap of
    EXACTLY 6h continues the session (the cut is strictly greater);
    6h + 1us starts a new one. Query and oracle share the lag+cumsum
    construction, so the parity gate cannot see a shared boundary bug."""

    def test_gap_boundary(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_sessionize

        T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
        SIX_H = datetime.timedelta(hours=6)
        US = datetime.timedelta(microseconds=1)
        rows = [
            (0, T0, 1),
            (1, T0 + SIX_H, 1),               # exactly 6h -> same session
            (2, T0 + SIX_H + SIX_H + US, 1),  # 6h + 1us -> NEW session
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["t"] * 3, pa.string()),
                "value": pa.array([1.0] * 3, pa.float64()),
                "props": pa.array(["{}"] * 3, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = sorted(
            (r["session_id"], r["n_events"])
            for r in q_sessionize(spark, str(tmp_path)).collect()
        )
        assert out == [(1, 2), (2, 1)]


class TestEwmaPlanted:
    """q_ewma hand-check: weights 128,64,... over integer cents; early
    rows renormalize over existing lags. Query and oracle share the
    lag construction, so the arithmetic is pinned here independently."""

    def test_two_point_stream(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_ewma

        T0 = datetime.datetime(2024, 1, 1)
        rows = [(0, T0, 1, 1.0), (1, T0 + datetime.timedelta(minutes=1), 1, 2.0)]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["t"] * 2, pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * 2, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = {r["event_id"]: r for r in q_ewma(spark, str(tmp_path)).collect()}
        # row 0: only itself -> num 100*128, den 128, ewma 100
        assert (out[0]["num"], out[0]["den"], out[0]["ewma_cents"]) == (12800, 128, 100)
        # row 1: 200*128 + 100*64 = 32000, den 192 -> floor(166.67) = 166
        assert (out[1]["num"], out[1]["den"], out[1]["ewma_cents"]) == (32000, 192, 166)


class TestFunnelPlanted:
    """q_funnel strict-order boundaries on a hand-built log: a click AT
    the signup timestamp must not advance (strict >), and a purchase
    BEFORE the click must not reach stage 3. Query and oracle share the
    min-chain construction, so the parity gate cannot see a shared
    strictness bug."""

    def test_strict_order(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_funnel

        T0 = datetime.datetime(2024, 1, 1)
        M = datetime.timedelta(minutes=1)
        rows = [
            # user 1: full ordered funnel
            (0, T0, 1, "signup"),
            (1, T0 + M, 1, "click"),
            (2, T0 + 2 * M, 1, "purchase"),
            # user 2: click at EXACTLY the signup ts -> no advance
            (3, T0, 2, "signup"),
            (4, T0, 2, "click"),
            # user 3: purchase BEFORE click -> stops at click
            (5, T0, 3, "signup"),
            (6, T0 + 2 * M, 3, "click"),
            (7, T0 + M, 3, "purchase"),
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = {r["stage"]: r["n_users"] for r in q_funnel(spark, str(tmp_path)).collect()}
        assert out == {"1_signup": 3, "2_click": 2, "3_purchase": 1}


class TestWindowRangePlanted:
    """q_window_range trailing-30-day RANGE frame boundary: an order
    EXACTLY 30 days earlier is inside the frame (30 PRECEDING is
    inclusive), 31 days is out. Spark uses a numeric epoch-days frame
    while the oracle uses INTERVAL — this pins the agreed-on boundary
    on a hand-built fixture."""

    def test_frame_boundary(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.windows import q_window_range

        D = lambda d: datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)  # noqa: E731
        rows = [
            (1, 7, 100.0, D(0)),
            (2, 7, 10.0, D(30)),   # day 30: order 1 is exactly 30 days back -> IN
            (3, 7, 1.0, D(61)),    # day 61: order 2 is 31 days back -> OUT
        ]
        tbl = pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
                "o_orderstatus": pa.array(["O"] * 3, pa.string()),
                "o_totalprice": pa.array([r[2] for r in rows], pa.float64()),
                "o_orderdate": pa.array([r[3] for r in rows], pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * 3, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "orders.parquet"))
        out = {r["o_orderkey"]: r for r in q_window_range(spark, str(tmp_path)).collect()}
        assert (out[1]["n_30d"], out[1]["cents_30d"]) == (1, 10000)
        assert (out[2]["n_30d"], out[2]["cents_30d"]) == (2, 11000)  # includes day-0
        assert (out[3]["n_30d"], out[3]["cents_30d"]) == (1, 100)    # day-30 is 31 back


class TestDecontaminatePlanted:
    """q_decontaminate 4-gram granularity on a hand-built corpus: a doc
    sharing a full 4-gram with a benchmark doc is flagged; a doc whose
    overlap tops out at 3 consecutive tokens is NOT — pins the gram
    width both engines share."""

    def test_four_gram_boundary(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.curation import q_decontaminate

        rows = [
            (0, "a b c d e"),      # benchmark (0 % 97 == 0)
            (1, "z a b c d"),      # shares the 4-gram 'a b c d' -> flagged
            (2, "x b c d y"),      # only 3 consecutive shared tokens -> clean
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["s"] * 3, pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {
            r["doc_id"]: (r["n_shared_grams"], r["n_benchmarks"])
            for r in q_decontaminate(spark, str(tmp_path)).collect()
        }
        assert out == {1: (1, 1)}


class TestCounterRatePlanted:
    """q_counter_rate PromQL-increase semantics hand-checked: a counter
    reset (delta < 0) contributes the post-reset VALUE, an equal sample
    (delta = 0) is not a reset, and the first sample contributes
    nothing. Query and oracle share the lag construction."""

    def test_reset_semantics(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_counter_rate

        T0 = datetime.datetime(2024, 1, 1)
        M = datetime.timedelta(minutes=1)
        # counter: 1.00 -> 3.00 (+200) -> 3.00 (0, NOT a reset)
        #          -> 0.50 (reset: contributes 50) -> 2.50 (+200)
        vals = [1.0, 3.0, 3.0, 0.5, 2.5]
        rows = [(i, T0 + i * M, 1, "t", v, "{}") for i, v in enumerate(vals)]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        [r] = q_counter_rate(spark, str(tmp_path)).collect()
        assert (r["n_samples"], r["increase_cents"], r["n_resets"]) == (5, 450, 1)


class TestGapFillPlanted:
    """q_gap_fill calendar bounds hand-checked: the dense day spine runs
    from each user's FIRST to LAST event day inclusive; interior days
    with no events appear as zero-count gap rows, days outside the
    bounds do not."""

    def test_bounds_and_gaps(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_gap_fill

        D = lambda d, h=12: datetime.datetime(2024, 1, 1 + d, h)  # noqa: E731
        rows = [
            (0, D(0), 1),  # day 0
            (1, D(0, 13), 1),  # day 0 again (2 events)
            (2, D(3), 1),  # day 3 -> days 1, 2 are gaps
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["t"] * 3, pa.string()),
                "value": pa.array([1.0] * 3, pa.float64()),
                "props": pa.array(["{}"] * 3, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = {
            str(r["day"]): (r["n_events"], r["is_gap"])
            for r in q_gap_fill(spark, str(tmp_path)).collect()
        }
        assert out == {
            "2024-01-01": (2, 0),
            "2024-01-02": (0, 1),
            "2024-01-03": (0, 1),
            "2024-01-04": (1, 0),
        }


class TestOhlcPlanted:
    """q_ohlc open/close tie-break hand-checked: two samples at the SAME
    timestamp resolve by event_id (open = lowest id, close = highest id
    at the last ts), and high/low are independent of order."""

    def test_same_timestamp_tiebreak(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_ohlc

        T0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
        rows = [
            (0, T0, 1.0),                                    # open (ts tie, lower id)
            (1, T0, 5.0),                                    # same ts, higher id
            (2, T0 + datetime.timedelta(minutes=30), 0.5),   # low
            (3, T0 + datetime.timedelta(minutes=59), 2.0),   # close
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * 4, pa.int64()),
                "event_type": pa.array(["t"] * 4, pa.string()),
                "value": pa.array([r[2] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * 4, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        [r] = q_ohlc(spark, str(tmp_path)).collect()
        assert (
            r["open_cents"], r["high_cents"], r["low_cents"], r["close_cents"]
        ) == (100, 500, 50, 200)


class TestRetentionPlanted:
    """q_retention day-7 boundary hand-checked: activity on EXACTLY
    cohort_day + 7 retains; day 6 or 8 does not."""

    def test_day7_boundary(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_retention

        D = lambda d: datetime.datetime(2024, 1, 1 + d, 12)  # noqa: E731
        rows = [
            (0, D(0), 1), (1, D(7), 1),    # user 1: day-7 return -> retained
            (2, D(0), 2), (3, D(6), 2),    # user 2: day 6 -> NOT retained
            (4, D(0), 3), (5, D(8), 3),    # user 3: day 8 -> NOT retained
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["t"] * 6, pa.string()),
                "value": pa.array([1.0] * 6, pa.float64()),
                "props": pa.array(["{}"] * 6, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        [r] = q_retention(spark, str(tmp_path)).collect()
        assert (r["cohort_size"], r["retained_d7"], r["retained_d14"]) == (3, 1, 0)


class TestAsofPlanted:
    """q_join_asof inclusive boundary hand-checked: a click exactly AT a
    purchase timestamp matches that purchase (>= bound); a click before
    any purchase matches nothing (left join, NULL purchase)."""

    def test_at_boundary_and_no_match(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_join_asof

        T0 = datetime.datetime(2024, 1, 1, 12)
        M = datetime.timedelta(minutes=1)
        rows = [
            (0, T0 - M, 1, "click", 1.0),       # before any purchase -> NULL
            (1, T0, 1, "purchase", 50.0),
            (2, T0, 1, "click", 2.0),           # exactly AT purchase -> match
            (3, T0 + 2 * M, 1, "purchase", 70.0),
            (4, T0 + 3 * M, 1, "click", 3.0),   # most RECENT purchase (70), not first
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = {r["event_id"]: r for r in q_join_asof(spark, str(tmp_path)).collect()}
        assert out[0]["purchase_cents"] is None
        assert (out[2]["purchase_cents"], out[2]["gap_us"]) == (5000, 0)
        assert (out[4]["purchase_cents"], out[4]["gap_us"]) == (7000, 60_000_000)


class TestHistogramPlanted:
    """q_histogram bucket edges hand-checked: a price exactly at a
    $5,000 edge lands in the UPPER bucket (integer division), and
    prices past bucket 19 clamp into it."""

    def test_edges_and_clamp(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.sampling import q_histogram

        prices = [4999.99, 5000.00, 5000.01, 999999.0]
        tbl = pa.table(
            {
                "l_orderkey": pa.array(range(4), pa.int64()),
                "l_partkey": pa.array([1] * 4, pa.int64()),
                "l_suppkey": pa.array([1] * 4, pa.int64()),
                "l_quantity": pa.array([1.0] * 4, pa.float64()),
                "l_extendedprice": pa.array(prices, pa.float64()),
                "l_discount": pa.array([0.0] * 4, pa.float64()),
                "l_tax": pa.array([0.0] * 4, pa.float64()),
                "l_returnflag": pa.array(["N"] * 4, pa.string()),
                "l_linestatus": pa.array(["O"] * 4, pa.string()),
                "l_shipdate": pa.array(
                    [__import__("datetime").datetime(2024, 1, 1)] * 4,
                    pa.timestamp("us"),
                ),
            }
        )
        pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
        out = {r["bucket"]: r["n_items"] for r in q_histogram(spark, str(tmp_path)).collect()}
        # 4999.99 -> bucket 0; 5000.00 and 5000.01 -> bucket 1; huge -> clamp 19
        assert out == {0: 1, 1: 2, 19: 1}


class TestOutlierIqrPlanted:
    """q_outlier_iqr Tukey-fence boundary hand-checked: with quartiles
    Q1=200, Q3=400 cents the high fence is Q3 + 1.5*IQR = 700; a value
    exactly AT the fence is NOT an outlier (strict >), one cent past
    it is."""

    def test_fence_boundary(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_outlier_iqr

        T0 = datetime.datetime(2024, 1, 1)
        M = datetime.timedelta(minutes=1)
        a_vals = [1.0, 2.0, 3.0, 4.0, 7.00]   # max exactly at fence -> clean
        b_vals = [1.0, 2.0, 3.0, 4.0, 7.01]   # one cent past -> outlier
        rows = [(i, T0 + i * M, 1, "a", v) for i, v in enumerate(a_vals)]
        rows += [(10 + i, T0 + i * M, 1, "b", v) for i, v in enumerate(b_vals)]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = [(r["event_id"], r["side"]) for r in q_outlier_iqr(spark, str(tmp_path)).collect()]
        assert out == [(14, "high")]


class TestFuzzyMatchPlanted:
    """q_fuzzy_match Levenshtein threshold hand-checked: prefix distance
    exactly 12 is kept (<=), 13 is dropped; blocking on (lang,
    len_bucket) holds the pairs together."""

    def test_distance_threshold(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.sampling import q_fuzzy_match

        texts = [
            "a" * 20,              # doc 0
            "b" * 12 + "a" * 8,    # doc 1: dist(0,1) = 12 -> kept
            "b" * 13 + "a" * 7,    # doc 2: dist(0,2) = 13 -> dropped; dist(1,2) = 1
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(3), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["s"] * 3, pa.string()),
                "n_chars": pa.array([20] * 3, pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {
            (r["doc_a"], r["doc_b"]): r["dist"]
            for r in q_fuzzy_match(spark, str(tmp_path)).collect()
        }
        assert out == {(0, 1): 12, (1, 2): 1}


class TestPackShardsPlanted:
    """q_pack_shards boundary hand-checked: a doc whose exclusive
    token offset is EXACTLY the 4,000 budget starts shard 1 (integer
    division on the offset); the budget-filling doc itself stays in
    shard 0."""

    def test_exact_budget_boundary(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.sampling import q_pack_shards

        texts = ["t " * 3999 + "t", "x", "y " * 3999 + "y"]  # 4000, 1, 4000 tokens
        tbl = pa.table(
            {
                "doc_id": pa.array(range(3), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["s"] * 3, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {
            r["shard_id"]: (r["n_docs"], r["sum_tokens"], r["first_doc"], r["last_doc"])
            for r in q_pack_shards(spark, str(tmp_path)).collect()
        }
        assert out == {0: (1, 4000, 0, 0), 1: (2, 4001, 1, 2)}


class TestQualityScorePlanted:
    """q_quality_score keep-gate boundaries hand-checked: exactly 10
    tokens is inside the length band (inclusive), a unique-token ratio
    of exactly 0.3 fails the strictly-greater diversity gate."""

    def test_gate_boundaries(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.text import q_quality_score

        texts = [
            "a b c d e f g h i j",   # 10 tokens, ratio 1.0 -> keep
            "a a a a b b b c c c",   # 10 tokens, 3/10 = 0.3 exactly -> drop
            "a b c d e f g h i",     # 9 tokens -> below band -> drop
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(3), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["s"] * 3, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["doc_id"]: r["quality_keep"] for r in q_quality_score(spark, str(tmp_path)).collect()}
        assert out == {0: 1, 1: 0, 2: 0}


class TestPkMergePlanted:
    """T3 composite-PK merge last-wins semantics (ref loader.rs:143-146,
    HashMap::extend): when a field key COLLIDES with a PK key, the PK
    value wins and non-colliding fields survive — the collision case the
    fixture's disjoint key sets never exercise."""

    def test_pk_shadows_colliding_field_key(self, spark):
        from pyspark.sql import functions as F

        from elric_rs_spark.operators.maps import fields_to_map

        df = spark.createDataFrame([("field-val", "pk-val")], "a string, b string")
        fields = fields_to_map(("k1", F.col("a")), ("shared", F.col("a")))
        pk = fields_to_map(("shared", F.col("b")))
        fields_clean = F.map_filter(
            fields, lambda k, _v: ~F.map_contains_key(pk, k)
        )
        merged = F.map_concat(fields_clean, pk)
        [row] = df.select(
            merged.getItem("k1").alias("k1"),
            merged.getItem("shared").alias("shared"),
        ).collect()
        assert row["k1"] == "field-val"
        assert row["shared"] == "pk-val"  # PK wins the collision


class TestLatestPerKeyPlanted:
    """q_latest_per_key tie-break hand-checked: two events at the SAME
    timestamp resolve to the higher event_id (ts DESC, event_id DESC)."""

    def test_same_timestamp_tiebreak(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_latest_per_key

        T0 = datetime.datetime(2024, 1, 1, 12)
        rows = [
            (5, T0, 1, "t", 1.0),
            (9, T0, 1, "t", 2.0),  # same ts, higher id -> wins
            (7, T0 - datetime.timedelta(minutes=1), 1, "t", 3.0),
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * 3, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        [r] = q_latest_per_key(spark, str(tmp_path)).collect()
        assert (r["latest_event_id"], r["latest_cents"]) == (9, 200)


class TestLangIdPlanted:
    """q_lang_id stopword-density threshold hand-checked: density of
    exactly 0.05 guesses 'other' (strict >), just above guesses 'en'."""

    def test_density_boundary(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.text import q_lang_id

        texts = [
            "the " + "x " * 18 + "y",   # 1 stopword / 20 tokens = 0.05 -> other
            "the " + "x " * 17 + "y",   # 1 / 19 > 0.05 -> en
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(2), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 2, pa.string()),
                "source": pa.array(["s"] * 2, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["doc_id"]: r["lang_guess"] for r in q_lang_id(spark, str(tmp_path)).collect()}
        assert out == {0: "other", 1: "en"}


class TestArgMinMaxPlanted:
    """q_agg_argminmax tie-break hand-checked: equal extreme values
    resolve to the SMALLER event_id on both the max and min side."""

    def test_value_tie_resolves_to_smaller_id(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.aggregates import q_agg_argminmax

        T0 = datetime.datetime(2024, 1, 1)
        rows = [
            (3, 9.0),  # tied max, smaller id -> argmax
            (8, 9.0),
            (5, 1.0),  # tied min, smaller id -> argmin
            (6, 1.0),
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([T0] * 4, pa.timestamp("us")),
                "user_id": pa.array([1] * 4, pa.int64()),
                "event_type": pa.array(["t"] * 4, pa.string()),
                "value": pa.array([r[1] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * 4, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        [r] = q_agg_argminmax(spark, str(tmp_path)).collect()
        assert (r["max_value_event"], r["min_value_event"]) == (3, 5)


class TestDomainCapPlanted:
    """q_domain_cap hand-checked: a (lang, source) block one past the
    cap keeps exactly DOMAIN_CAP docs; a block at the cap keeps all."""

    def test_cap_boundary(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.curation import DOMAIN_CAP, q_domain_cap

        n_over, n_at = DOMAIN_CAP + 1, DOMAIN_CAP
        rows = [(i, "en", "big") for i in range(n_over)]
        rows += [(1000 + i, "en", "ok") for i in range(n_at)]
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array(["w " * 10] * len(rows), pa.string()),
                "lang": pa.array([r[1] for r in rows], pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array([20] * len(rows), pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["source"]: (r["n_total"], r["n_kept"]) for r in q_domain_cap(spark, str(tmp_path)).collect()}
        assert out == {"big": (n_over, DOMAIN_CAP), "ok": (n_at, n_at)}


class TestDoclenTrimPlanted:
    """q_doclen_trim percentile boundary hand-checked: percent_rank of
    the largest of N docs is 1.0 (> 0.95, trimmed); with 21 docs the
    20th has pr = 19/20 = 0.95 exactly and is KEPT (<=)."""

    def test_p95_boundary(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.text import q_doclen_trim

        # 21 docs with strictly increasing n_chars 10..30
        n = 21
        tbl = pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(["w"] * n, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([10 + i for i in range(n)], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        [r] = q_doclen_trim(spark, str(tmp_path)).collect()
        # ranks 0..20 over 20 -> pr = i/20; kept: pr <= 0.95 -> i <= 19
        assert (r["n_kept"], r["max_chars"]) == (20, 29)
        assert r["sum_chars"] == sum(10 + i for i in range(20))


class TestTemplateDetectPlanted:
    """q_template_detect group floor hand-checked: an 8-token-prefix
    group needs >= 5 docs to surface; 4 stays silent."""

    def test_group_floor(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.text import q_template_detect

        shared = "common prefix tokens one two three four five"  # 8 tokens
        texts = [f"{shared} tail{i}" for i in range(5)]          # 5 docs -> surfaces
        texts += [f"other start words a b c d e tail{i}" for i in range(4)]  # 4 -> silent
        n = len(texts)
        tbl = pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = q_template_detect(spark, str(tmp_path)).collect()
        assert len(out) == 1
        assert (out[0]["n_docs"], out[0]["example_doc"]) == (5, 0)


class TestTopkPlanted:
    """q_topk cut-line tie hand-checked: 11 orders tied on price keep
    the 10 smallest orderkeys (price DESC, orderkey ASC) — membership
    at the LIMIT boundary is key-deterministic, never arbitrary."""

    def test_tie_at_cut_line(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.setops import q_topk

        n = 11
        tbl = pa.table(
            {
                "o_orderkey": pa.array(range(n), pa.int64()),
                "o_custkey": pa.array([1] * n, pa.int64()),
                "o_orderstatus": pa.array(["O"] * n, pa.string()),
                "o_totalprice": pa.array([500.0] * n, pa.float64()),
                "o_orderdate": pa.array(
                    [datetime.datetime(2024, 1, 1)] * n, pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(["1-URGENT"] * n, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "orders.parquet"))
        keys = [r["o_orderkey"] for r in q_topk(spark, str(tmp_path)).collect()]
        assert keys == list(range(10))  # orderkey 10 is cut, 0..9 kept in order


class TestEwmaNegativeValues:
    """q_ewma's floor division must stay engine-exact for NEGATIVE
    metric values (ADVICE r04: the bare `div`/`//` pair agrees only for
    non-negative numerators; the pmod pre-subtraction form floors on
    both engines for any sign). Planted fixture with negative cents,
    Spark vs DuckDB oracle compared directly."""

    def test_negative_cents_match_oracle(self, spark, tmp_path):
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entrymod

        base = dt.datetime(2024, 3, 1)
        n = 40
        tbl = pa.table(
            {
                "event_id": pa.array(range(n), type=pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(seconds=i) for i in range(n)],
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array([i % 3 for i in range(n)], type=pa.int64()),
                "event_type": ["m"] * n,
                # alternating negative values: num goes negative, so a
                # truncating div would diverge from the floored oracle
                "value": [(-1.37 * (i + 1)) if i % 2 else 0.25 * i for i in range(n)],
                "props": ["{}"] * n,
            }
        )
        d = tmp_path / "neg"
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        # (the full oracle harness registers every table; this planted
        # fixture is events-only, so run the oracle SQL directly)
        import duckdb

        qs, os_ = entrymod.queries(), entrymod.oracle_sql()
        spark_rows = {
            (r.user_id, r.event_id): (r.num, r.den, r.ewma_cents)
            for r in qs["q_ewma"](spark, str(d)).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
        )
        duck_rows = {
            (u, e): (num, den, ew)
            for u, e, num, den, ew in con.execute(os_["q_ewma"]).fetchall()
        }
        assert spark_rows == duck_rows
        # the fixture genuinely exercises the negative inexact branch,
        # and the result is the true FLOOR there (not truncation)
        hit = [(num, den, ew) for num, den, ew in spark_rows.values()
               if num < 0 and num % den != 0]
        assert hit
        for num, den, ew in hit:
            assert ew == num // den  # python // floors: the true floor
            assert ew != -((-num) // den)  # and truncation would differ


def _planted_embeddings(tmp_path, vecs):
    """Write a 64-dim embeddings fixture; returns the dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "emb"
    d.mkdir()
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(len(vecs))], type=pa.int32()),
        }),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def _micro(vecs):
    """(vec_id, d->micro) exact integer micro-components, 1-based dims —
    the reference arithmetic both engines must reproduce. float32
    round-trip first: the fixture stores float32, engines read float32."""
    import struct

    out = []
    for e in vecs:
        comps = {}
        for i, x in enumerate(e):
            x32 = struct.unpack("f", struct.pack("f", x))[0]
            # Spark/DuckDB round() = half away from zero on doubles
            v = x32 * 1_000_000
            import decimal

            comps[i + 1] = int(
                decimal.Decimal(repr(v)).quantize(0, rounding=decimal.ROUND_HALF_UP)
            ) if v >= 0 else -int(
                decimal.Decimal(repr(-v)).quantize(0, rounding=decimal.ROUND_HALF_UP)
            )
        out.append(comps)
    return out


class TestTrainedIvfPortablePlanted:
    """Third-implementation check for q_sim_ivf_trained_portable: the
    Spark query and its DuckDB oracle share the md5-Lloyd construction,
    so a shared bug passes parity (the triangle-counting lesson). This
    pure-Python replay is independent of both engines."""

    def test_matches_pure_python_lloyd(self, spark, tmp_path):
        import hashlib

        from elric_rs_spark.operators.similarity import (
            KM_CELLS,
            KM_INIT_MOD,
            q_sim_ivf_trained_portable,
        )

        # 9 vectors in 3 tight direction-clusters (scaled differently so
        # centroid updates move), 64 dims
        base = []
        for c in range(3):
            proto = [(1.0 if (d % 3) == c else -0.5) * (0.3 + 0.2 * c)
                     for d in range(64)]
            for k in range(3):
                base.append([x * (1 + 0.05 * k) for x in proto])
        d = _planted_embeddings(tmp_path, base)

        comp = _micro(base)

        def h13(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:13], 16)

        cent = {
            (c, dd): h13(f"k{c}#{dd}") % KM_INIT_MOD - 1_000_000
            for c in range(KM_CELLS) for dd in range(1, 65)
        }

        def assign(cent):
            out = {}
            for vid, comps in enumerate(comp):
                best = None
                for c in range(KM_CELLS):
                    sse = sum((comps[dd] - cent[(c, dd)]) ** 2 for dd in range(1, 65))
                    if best is None or (sse, c) < best[:2]:
                        best = (sse, c)
                out[vid] = (best[1], best[0])
            return out

        def update(cent, asg):
            new = dict(cent)
            members = {}
            for vid, (c, _) in asg.items():
                members.setdefault(c, []).append(vid)
            for c, vids in members.items():
                for dd in range(1, 65):
                    s = sum(comp[v][dd] for v in vids)
                    n = len(vids)
                    new[(c, dd)] = (s - ((s % n + n) % n)) // n
            return new

        for _ in range(2):
            asg = assign(cent)
            cent = update(cent, asg)
        final = assign(cent)
        expected = {}
        for vid, (c, sse) in final.items():
            expected.setdefault(c, []).append(sse)
        expected = {
            c: (len(v), (sum(v) - ((sum(v) % len(v) + len(v)) % len(v))) // len(v))
            for c, v in expected.items()
        }

        got = {
            r.cell: (r.n_vecs, r.avg_sse)
            for r in q_sim_ivf_trained_portable(spark, d).collect()
        }
        assert got == expected


class TestDedupEmbedLshPortablePlanted:
    """Same triple-implementation stance for q_dedup_embed_lsh_portable:
    pure-Python md5 hyperplanes + integer cosine, independent of both
    engines."""

    def test_matches_pure_python_lsh(self, spark, tmp_path):
        import hashlib
        import math

        from elric_rs_spark.operators.dedup import (
            PDLSH_BUCKET_CAP,
            PDLSH_MAX_BITS,
            PDLSH_MIN_BITS,
            PDLSH_PLANES,
            PDLSH_TABLES,
            PDLSH_TARGET_BUCKET,
            q_dedup_embed_lsh_portable,
        )

        # two near-dup pairs + noise vectors
        import random

        rng = random.Random(7)
        vecs = []
        for _ in range(2):
            proto = [rng.uniform(-1, 1) for _ in range(64)]
            vecs.append(proto)
            vecs.append([x + rng.uniform(-0.01, 0.01) for x in proto])
        for _ in range(6):
            vecs.append([rng.uniform(-1, 1) for _ in range(64)])
        d = _planted_embeddings(tmp_path, vecs)
        comp = _micro(vecs)

        def sign(p, dd):
            return 1 if hashlib.md5(f"{p}#{dd}".encode()).hexdigest()[0] in "01234567" else -1

        sigs = {}
        for vid, comps in enumerate(comp):
            s = 0
            for p in range(PDLSH_PLANES):
                dot = sum(comps[dd] * sign(p, dd) for dd in range(1, 65))
                if dot >= 0:
                    s |= 1 << p
            sigs[vid] = s
        # corpus-adaptive band width (10 vectors -> the MIN_BITS floor)
        bits = max(
            PDLSH_MIN_BITS,
            min(
                PDLSH_MAX_BITS,
                math.ceil(math.log2(len(vecs) / PDLSH_TARGET_BUCKET)),
            ),
        )
        cand = set()
        for t in range(PDLSH_TABLES):
            mask = (1 << bits) - 1
            buckets = {}
            for vid, s in sigs.items():
                buckets.setdefault((s >> (bits * t)) & mask, []).append(vid)
            for vids in buckets.values():
                vids = sorted(vids)[:PDLSH_BUCKET_CAP]
                for i in range(len(vids)):
                    for j in range(i + 1, len(vids)):
                        cand.add((vids[i], vids[j]))
        rows = []
        for a, b in cand:
            sab = sum(comp[a][dd] * comp[b][dd] for dd in range(1, 65))
            saa = sum(comp[a][dd] ** 2 for dd in range(1, 65))
            sbb = sum(comp[b][dd] ** 2 for dd in range(1, 65))
            cos = float(sab) / (math.sqrt(float(saa)) * math.sqrt(float(sbb)))
            rows.append((a, b, a % 3, round(cos, 6)))
        rows.sort(key=lambda r: (-r[3], r[0], r[1]))
        expected = rows[:20]

        got = [
            (r.vec_a, r.vec_b, r.label, r.cosine)
            for r in q_dedup_embed_lsh_portable(spark, d).collect()
        ]
        assert sorted(got) == sorted(expected)
        # the planted near-dup pairs must surface as candidates
        pairs = {(g[0], g[1]) for g in got}
        assert (0, 1) in pairs and (2, 3) in pairs


class TestMmrDiversifyPlanted:
    """q_mmr_diversify greedy hand-check on unit-norm planted vectors:
    pick 1 is the most relevant candidate; pick 2 must be the DIVERSE
    candidate (the near-duplicate of pick 1 scores rel - sim lower
    despite higher raw relevance); the near-duplicate only enters at
    pick 3. Exact micro-int products make every score hand-computable."""

    def test_query0_picks_and_scores(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.similarity import q_mmr_diversify

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),    # query 0
            (1, [0.0, 1.0, 0.0, 0.0]),    # query 1
            (2, [0.0, 0.0, 1.0, 0.0]),    # query 2
            (3, [0.0, 0.0, 0.0, 1.0]),    # query 3
            (10, [0.9, 0.2, 0.0, 0.0]),   # most relevant to q0
            (11, [0.88, 0.22, 0.0, 0.0]), # near-dup of 10
            (12, [0.7, 0.0, 0.7, 0.0]),   # diverse, mid relevance
            (13, [0.2, 0.0, 0.0, 0.9]),   # diverse, low relevance
        ]
        tbl = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
        out = q_mmr_diversify(spark, str(tmp_path)).collect()
        assert len(out) == 12  # 4 queries x 3 picks
        assert len({(r["qid"], r["pick"]) for r in out}) == 12
        q0 = {r["pick"]: r for r in out if r["qid"] == 0}
        # pick 1: raw argmax rel = 10 (rel 0.9 in micro^2 units)
        assert (q0[1]["vec_id"], q0[1]["mmr_score"]) == (10, 900000 * 1000000)
        # pick 2: 12 wins on rel - dot(x, 10): 0.70 - 0.63 = 0.07 beats
        # the near-dup 11's 0.88 - 0.836 = 0.044
        assert (q0[2]["vec_id"], q0[2]["mmr_score"]) == (12, 70000 * 1000000)
        # pick 3: 11 finally enters; max dot to selected is still vs 10
        assert (q0[3]["vec_id"], q0[3]["mmr_score"]) == (11, 44000 * 1000000)


class TestPackPaddingPlanted:
    """q_pack_padding ceil/bucket boundaries: 512 tokens fills one
    sequence exactly (zero waste, bucket 1), 513 spills into a second
    sequence (511 padding, bucket 1), 1 token wastes 511 in bucket 0."""

    def test_boundaries(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.sampling import q_pack_padding

        texts = ["t", "w " * 511 + "w", "x " * 512 + "x"]  # 1, 512, 513 toks
        tbl = pa.table(
            {
                "doc_id": pa.array(range(3), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 3, pa.string()),
                "source": pa.array(["s"] * 3, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {
            r["len_bucket"]: (r["n_docs"], r["sum_seqs"], r["sum_padding"], r["waste_permille"])
            for r in q_pack_padding(spark, str(tmp_path)).collect()
        }
        # bucket 0: the 1-token doc -> 1 seq, 511 padding, 998 permille
        # bucket 1: 512 toks (1 seq, 0 pad) + 513 toks (2 seqs, 511 pad)
        #           -> 3 seqs, 511 pad, 1000*511 // 1536 = 332
        assert out == {0: (1, 1, 511, 998), 1: (2, 3, 511, 332)}


class TestTokenBudgetMixPlanted:
    """q_token_budget_mix dedup-aware accounting: a source whose corpus
    is one text repeated collapses to a single effective doc; quota is
    an even split; epochs are measured over EFFECTIVE tokens."""

    def test_duplicate_collapse(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.curation import (
            MIX_TOKEN_BUDGET,
            q_token_budget_mix,
        )

        dup = "a b c d"                       # 4 tokens
        uniq = " ".join(f"u{i}" for i in range(10))  # 10 tokens
        rows = [(0, dup, "sa"), (1, dup, "sa"), (2, dup, "sa"), (3, uniq, "sb")]
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * 4, pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["source"]: r for r in q_token_budget_mix(spark, str(tmp_path)).collect()}
        quota = MIX_TOKEN_BUDGET // 2
        sa, sb = out["sa"], out["sb"]
        assert (sa["n_docs"], sa["total_tokens"], sa["effective_tokens"]) == (3, 12, 4)
        assert (sb["n_docs"], sb["total_tokens"], sb["effective_tokens"]) == (1, 10, 10)
        assert sa["quota"] == sb["quota"] == quota
        assert sa["epochs_permille"] == (1000 * quota) // 4
        assert sb["epochs_permille"] == (1000 * quota) // 10


class TestQualityCalibrationPlanted:
    """q_quality_calibration vs a pure-Python third implementation of
    the full pipeline (md5 weight table, md5 token bucketing, pmod-floor
    mean, heuristic label, decile rollup) on a tiny corpus."""

    def test_matches_pure_python(self, spark, tmp_path):
        import hashlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.curation import (
            CALIB_BUCKETS,
            CALIB_WIDTH,
            QLOGIT_SPAN,
            q_quality_calibration,
        )

        texts = [
            "alpha beta gamma delta",                      # short: label 0
            " ".join(f"w{i}" for i in range(12)),          # 12 distinct: label 1
            " ".join(["dup"] * 20),                        # 20 toks 1 distinct: label 0
            " ".join(f"v{i % 8}" for i in range(16)),      # 16 toks 8 distinct: label 1
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["s"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))

        def weight(tok: str) -> int:
            bucket = hashlib.md5(tok.encode()).hexdigest()[:2]
            h = int(hashlib.md5(f"w{bucket}".encode()).hexdigest()[:13], 16)
            return h % QLOGIT_SPAN - 1000

        expect: dict[int, list[int]] = {}
        for t in texts:
            toks = t.lower().strip().split(" ")
            n, nd = len(toks), len(set(toks))
            s = sum(weight(tok) for tok in toks)
            mean = (s - (s % n + n) % n) // n
            label = 1 if n >= 10 and 2 * nd >= n else 0
            b = min(max((mean + 1000) // CALIB_WIDTH, 0), CALIB_BUCKETS - 1)
            expect.setdefault(b, []).append(label)
        want = {
            b: (len(ls), sum(ls), (1000 * sum(ls)) // len(ls))
            for b, ls in expect.items()
        }
        got = {
            r["score_bucket"]: (r["n_docs"], r["n_pos"], r["pos_permille"])
            for r in q_quality_calibration(spark, str(tmp_path)).collect()
        }
        assert got == want


class TestTopSupplierPlanted:
    """q_top_supplier (TPC-H Q15 shape): a revenue TIE at the global max
    must surface BOTH suppliers (the view-plus-max construction keeps
    ties, unlike an arbitrary top-1 pick), and rows outside the quarter
    window must not contribute."""

    def test_tie_at_max_and_window(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.aggregates import q_top_supplier

        IN = datetime.datetime(1996, 2, 1)
        OUT = datetime.datetime(1997, 2, 1)
        # (suppkey, extprice, discount, shipdate)
        items = [
            (1, 100.0, 0.1, IN),   # 9000 cents
            (1, 100.0, 0.1, IN),   # 9000 cents -> supplier 1: 18000
            (2, 180.0, 0.0, IN),   # supplier 2: 18000 -> TIE at max
            (3, 50.0, 0.0, IN),    # supplier 3: 5000
            (3, 999.0, 0.0, OUT),  # outside the quarter -> ignored
        ]
        li = pa.table(
            {
                "l_orderkey": pa.array(range(len(items)), pa.int64()),
                "l_partkey": pa.array([1] * len(items), pa.int64()),
                "l_suppkey": pa.array([r[0] for r in items], pa.int64()),
                "l_linenumber": pa.array([1] * len(items), pa.int64()),
                "l_quantity": pa.array([1.0] * len(items), pa.float64()),
                "l_extendedprice": pa.array([r[1] for r in items], pa.float64()),
                "l_discount": pa.array([r[2] for r in items], pa.float64()),
                "l_tax": pa.array([0.0] * len(items), pa.float64()),
                "l_returnflag": pa.array(["N"] * len(items), pa.string()),
                "l_linestatus": pa.array(["O"] * len(items), pa.string()),
                "l_shipdate": pa.array([r[3] for r in items], pa.timestamp("us")),
            }
        )
        pq.write_table(li, str(tmp_path / "lineitem.parquet"))
        sup = pa.table(
            {
                "s_suppkey": pa.array([1, 2, 3], pa.int64()),
                "s_name": pa.array(["Supplier#1", "Supplier#2", "Supplier#3"], pa.string()),
                "s_nationkey": pa.array([0, 1, 2], pa.int64()),
                "s_acctbal": pa.array([0.0, 0.0, 0.0], pa.float64()),
            }
        )
        pq.write_table(sup, str(tmp_path / "supplier.parquet"))
        out = sorted(
            (r["s_suppkey"], r["total_cents"])
            for r in q_top_supplier(spark, str(tmp_path)).collect()
        )
        assert out == [(1, 18000), (2, 18000)]


class TestCrossSourceDedupPlanted:
    """q_dedup_cross_source: identical texts across THREE docs in two
    sources produce three verified pairs; only the two cross-source
    pairs survive the provenance filter, rolled up into one unordered
    source-pair row. The same-source duplicate pair must not leak in."""

    def test_cross_source_only(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.dedup import q_dedup_cross_source

        shared = " ".join(f"tok{i}" for i in range(20))
        other = " ".join(f"zzz{i}" for i in range(20))
        rows = [
            (0, shared, "crawl"),
            (1, shared, "bench"),
            (2, other, "crawl"),
            (3, shared, "crawl"),
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = q_dedup_cross_source(spark, str(tmp_path)).collect()
        assert len(out) == 1
        r = out[0]
        # pairs (0,1) and (1,3) cross bench<->crawl; (0,3) is same-source
        assert (r["src_lo"], r["src_hi"], r["n_pairs"], r["max_jaccard"],
                r["pair_id_sum"]) == ("bench", "crawl", 2, 1.0, 5)


class TestSketchUnionMergeProperty:
    """q_sketch_union's 'ALL' row must equal the DIRECT global bottom-K
    sketch (bottom-K of a union of per-group bottom-Ks == bottom-K of
    the union — the KMV merge property), computed here in pure Python
    over the raw parquet, independent of both engines."""

    def test_merged_equals_direct_global(self, spark):
        import hashlib

        import pyarrow.parquet as pq

        from elric_rs_spark.operators.aggregates import KMV_K, q_sketch_union

        sf = "/root/testdata/sf0.001"
        keys = pq.read_table(
            f"{sf}/lineitem.parquet", columns=["l_orderkey"]
        )["l_orderkey"].to_pylist()
        hashes = sorted({hashlib.md5(str(k).encode()).hexdigest() for k in keys})
        bottom = hashes[:KMV_K]
        k_used = len(bottom)
        if k_used < KMV_K:
            want = k_used
        else:
            v = int(bottom[-1][:13], 16)
            want = ((KMV_K - 1) * (1 << 52)) // v
        rows = {r["scope"]: r for r in q_sketch_union(spark, sf).collect()}
        assert rows["ALL"]["est_distinct"] == want
        assert rows["ALL"]["k_used"] == k_used
        assert rows["ALL"]["kth_hash"] == bottom[-1]
        # sanity: the estimate lands near the exact global distinct count
        exact = len(set(keys))
        assert abs(rows["ALL"]["est_distinct"] - exact) / exact < 0.40


class TestKmvTwoLevelBuild:
    """_kmv_bottom_k (salted two-level build, VERDICT r06 #2) must return
    EXACTLY the rows of the naive single-window bottom-K — the in-plan
    application of the KMV merge property TestSketchUnionMergeProperty
    pins externally. Checked per flag against pure Python over the raw
    parquet, so neither Spark build is trusted as its own oracle."""

    def test_two_level_equals_single_window(self, spark):
        import hashlib
        from collections import defaultdict

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from elric_rs_spark.operators.aggregates import KMV_K, _kmv_bottom_k
        from elric_rs_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        tbl = pq.read_table(
            f"{sf}/lineitem.parquet", columns=["l_returnflag", "l_orderkey"]
        )
        per_flag = defaultdict(set)
        for flag, k in zip(
            tbl["l_returnflag"].to_pylist(), tbl["l_orderkey"].to_pylist()
        ):
            per_flag[flag].add(hashlib.md5(str(k).encode()).hexdigest())
        want = {
            (flag, h)
            for flag, hs in per_flag.items()
            for h in sorted(hs)[:KMV_K]
        }
        hashes = (
            load_table(spark, sf, "lineitem")
            .select(
                "l_returnflag",
                F.md5(F.col("l_orderkey").cast("string")).alias("h"),
            )
            .distinct()
        )
        got = {
            (r["l_returnflag"], r["h"])
            for r in _kmv_bottom_k(hashes, ["l_returnflag"]).collect()
        }
        assert got == want


class TestCompaction:
    """plans/compaction.py: a directory of tiny files compacts to the
    byte-budgeted count, preserves every row, and (with a sort column)
    produces DISJOINT per-file min/max ranges — verified against the
    parquet footers, the stats the scan's file skipping consumes."""

    def test_compact_preserves_and_clusters(self, spark, tmp_path):
        import os

        import pyarrow.parquet as pq

        from elric_rs_spark.plans.compaction import compact
        from elric_rs_spark.storage import parquet_files
        from pyspark.sql import functions as F

        src = str(tmp_path / "small")
        out = str(tmp_path / "compacted")
        # 64 tiny files
        spark.range(0, 64_000).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
        ).repartition(64).write.parquet(src)
        n_src = sum(1 for n in os.listdir(src) if n.endswith(".parquet"))
        assert n_src == 64
        total = sum(parquet_files(src).values())
        n_out = compact(spark, src, out, target_bytes=total // 4 + 1, sort_col="k")
        assert n_out <= 4
        assert spark.read.parquet(out).count() == 64_000
        # footer check: per-file k-ranges must not overlap
        ranges = []
        for name in os.listdir(out):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(out, name)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == "k" and c.statistics is not None:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            ranges.append((min(mins), max(maxs)))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, hi2)}"

    def test_sizing_walks_hive_partitioned_source(self, spark, tmp_path):
        """ADVICE r05: partitionBy output keeps files in key=value
        subdirs; a flat listdir saw 0 bytes and compacted EVERYTHING to
        one file. Sizing and the returned output count must both walk
        recursively, and an empty source must raise, not return 0."""
        import pytest

        from elric_rs_spark.plans.compaction import compact
        from elric_rs_spark.storage import parquet_files
        from pyspark.sql import functions as F

        src = str(tmp_path / "hive")
        out = str(tmp_path / "hive_out")
        spark.range(0, 32_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("part"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        ).repartition(16).write.partitionBy("part").parquet(src)
        total = sum(parquet_files(src).values())
        assert total > 0
        n_out = compact(spark, src, out, target_bytes=total // 4 + 1)
        assert 2 <= n_out <= 4, n_out
        assert spark.read.parquet(out).count() == 32_000
        with pytest.raises(FileNotFoundError):
            compact(spark, str(tmp_path / "hive" / "_nope_"), str(tmp_path / "nope_out"))


class TestAdaptiveBandBitsIntegerForm:
    """ADVICE r05: the corpus-adaptive LSH band width must not depend on
    cross-engine libm log2 agreement. The integer threshold-counting
    form must be value-identical to clamp(ceil(log2(n/16)), 4, 14) for
    every corpus size, and the SQL/Spark forms must share thresholds."""

    def test_matches_log2_form_everywhere(self):
        import math

        from elric_rs_spark.operators.dedup import (
            PDLSH_BIT_THRESHOLDS,
            PDLSH_MAX_BITS,
            PDLSH_MIN_BITS,
            PDLSH_TARGET_BUCKET,
        )

        def int_bits(n: int) -> int:
            return PDLSH_MIN_BITS + sum(1 for t in PDLSH_BIT_THRESHOLDS if n > t)

        # exhaustive over every threshold neighborhood + a broad sweep
        probes = {1, 2, 15, 16, 17}
        for t in PDLSH_BIT_THRESHOLDS:
            probes |= {t - 1, t, t + 1}
        probes |= set(range(1, 5000, 7))
        probes |= {10**6, 10**9}
        for n in sorted(probes):
            ref = max(
                PDLSH_MIN_BITS,
                min(
                    PDLSH_MAX_BITS,
                    math.ceil(math.log2(n / PDLSH_TARGET_BUCKET)) if n > PDLSH_TARGET_BUCKET else PDLSH_MIN_BITS,
                ),
            )
            assert int_bits(n) == ref, (n, int_bits(n), ref)

    def test_sql_and_spark_forms_agree(self, spark):
        import duckdb

        from elric_rs_spark.operators.dedup import (
            _PDLSH_BITS_SQL,
            _pdlsh_bits_col,
        )

        for n in (3, 16, 256, 257, 4096, 70000, 10**6):
            con = duckdb.connect()
            (sql_bits,) = con.execute(
                f"SELECT {_PDLSH_BITS_SQL} AS bits FROM range({n})"
            ).fetchone()
            (spark_bits,) = (
                spark.range(n).agg(_pdlsh_bits_col().alias("bits")).first()
            )
            assert sql_bits == spark_bits, (n, sql_bits, spark_bits)


class TestSketchQuantileMergeProperty:
    """q_sketch_quantile's 'ALL' row must equal a DIRECT pure-Python
    global median-bucket computation over the raw parquet (merging the
    per-group histograms by addition reproduces the global histogram
    exactly — the property the sketch's shard-and-combine contract
    rests on), and the bucket estimate must bracket the true median
    within one bucket width."""

    def test_merged_matches_direct(self, spark):
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.aggregates import (
            QSK_BUCKETS,
            QSK_WIDTH,
            q_sketch_quantile,
        )

        sf = "/root/testdata/sf0.001"
        prices = pq.read_table(
            f"{sf}/orders.parquet", columns=["o_totalprice"]
        )["o_totalprice"].to_pylist()
        cents = sorted(round(p * 100) for p in prices)
        buckets = sorted(min(c // QSK_WIDTH, QSK_BUCKETS - 1) for c in cents)
        n = len(buckets)
        target = (n + 1) // 2
        # smallest bucket whose cumulative count reaches target
        seen, med_bucket = 0, None
        from collections import Counter

        for b, cnt in sorted(Counter(buckets).items()):
            seen += cnt
            if seen >= target:
                med_bucket = b
                break
        rows = {r["scope"]: r for r in q_sketch_quantile(spark, sf).collect()}
        assert rows["ALL"]["n"] == n
        assert rows["ALL"]["med_bucket"] == med_bucket
        est = rows["ALL"]["est_median_cents"]
        true_median = cents[target - 1]
        assert abs(est - true_median) <= QSK_WIDTH


class TestDynamicPartitionPruning:
    """Join-driven partition pruning (DPP): a fact table partitioned by
    day, joined to a dimension filtered on an attribute the fact never
    stores — the scan must receive a runtime dynamicpruning subquery
    (only the 3 qualifying day-partitions are read), not scan all 50
    partitions and filter post-join. This is the static
    TestPartitionPruning's at-scale sibling: at 100 TB the pruning
    values are only known at runtime, and a conf regression that turns
    DPP off silently multiplies every star-join scan by the partition
    count."""

    def test_join_prunes_fact_partitions(self, spark, tmp_path):
        from pyspark.sql import functions as F

        fact = spark.range(0, 100_000).select(
            (F.col("id") % 50).alias("day"), F.col("id").alias("v")
        )
        fact.write.partitionBy("day").parquet(str(tmp_path / "fact"))
        dim = spark.range(0, 50).select(
            F.col("id").alias("day"),
            F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tag"),
        )
        dim.write.parquet(str(tmp_path / "dim"))
        f = spark.read.parquet(str(tmp_path / "fact"))
        dm = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("tag") == "hot")
        j = f.join(dm, "day").agg(F.sum("v").alias("sv"))
        [row] = j.collect()
        # days 0, 1, 2: ids congruent mod 50 -> sum over 3 residues
        want = sum(i for i in range(100_000) if i % 50 < 3)
        assert row["sv"] == want
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan


class TestCurationV3Planted:
    """q_curation_v3 on a corpus where each stage's effect is known:
    a doc the classifier rejects must not reach dedup; surviving exact
    duplicates collapse to the lowest doc_id; shard count ceil-divides
    the kept token mass."""

    def test_stage_composition(self, spark, tmp_path):
        import hashlib

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.curation import (
            QLOGIT_SPAN,
            V3_SHARD_TOKENS,
            q_curation_v3,
        )

        def weight(tok):
            b = hashlib.md5(tok.encode()).hexdigest()[:2]
            return int(hashlib.md5(f"w{b}".encode()).hexdigest()[:13], 16) % QLOGIT_SPAN - 1000

        # find a token with positive weight and one with negative weight
        pos = next(f"p{i}" for i in range(1000) if weight(f"p{i}") > 0)
        neg = next(f"n{i}" for i in range(1000) if weight(f"n{i}") < 0)
        good = " ".join([pos] * 8)   # mean logit > 0 -> kept, 8 tokens
        bad = " ".join([neg] * 8)    # mean logit < 0 -> rejected
        rows = [
            (0, good, "sa"),
            (1, good, "sa"),   # exact dup of 0 -> collapses, keep_id 0
            (2, bad, "sa"),    # classifier reject
            (3, good, "sb"),   # same text, different source -> separate
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["source"]: r for r in q_curation_v3(spark, str(tmp_path)).collect()}
        assert set(out) == {"sa", "sb"}
        sa = out["sa"]
        assert (sa["n_docs"], sa["total_tokens"], sa["keep_id_sum"]) == (1, 8, 0)
        assert sa["n_shards"] == (8 + V3_SHARD_TOKENS - 1) // V3_SHARD_TOKENS
        sb = out["sb"]
        assert (sb["n_docs"], sb["total_tokens"], sb["keep_id_sum"]) == (1, 8, 3)


class TestPretokenizePlanted:
    """q_token_pretokenize vs a pure-Python re replay on strings chosen
    to stress the pattern: contractions, hyphens, digit runs, doubled
    spaces and quotes."""

    def test_matches_pure_python_re(self, spark, tmp_path):
        import re

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.text import PRETOK_RE, q_token_pretokenize

        texts = [
            "It's a test-case, 42 tokens!  double  space",
            "don't you'll we've i'm they're he'd",
            "abc123def 10x10",
            "a'b''c",
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["s"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["doc_id"]: r for r in q_token_pretokenize(spark, str(tmp_path)).collect()}
        for i, t in enumerate(texts):
            # finditer whole matches == regexp_extract_all(.., 0); findall
            # would return the capture GROUP for this pattern
            toks = [m.group(0) for m in re.finditer(PRETOK_RE, t.lower().strip())]
            ws = len(t.strip().split(" "))
            r = out[i]
            assert r["ws_tokens"] == ws
            assert r["re_tokens"] == len(toks)
            assert r["distinct_re_tokens"] == len(dict.fromkeys(toks))
            assert r["fertility_permille"] == (1000 * len(toks)) // ws


class TestWinnowFingerprintPlanted:
    """q_winnow_fingerprint vs a pure-Python winnowing replay, plus the
    scheme's coverage guarantee: two docs sharing a token run of length
    >= k + w - 1 (= 8) must share at least one selected fingerprint."""

    @staticmethod
    def _fingerprints(text):
        import hashlib

        from elric_rs_spark.operators.text import (
            WINNOW_BASE,
            WINNOW_K,
            WINNOW_W,
        )

        toks = text.lower().strip().split(" ")
        vals = [
            int(hashlib.md5(t.encode()).hexdigest()[:13], 16) % 1000000
            for t in toks
        ]
        ghs = [
            sum(
                vals[i + j] * WINNOW_BASE ** (WINNOW_K - 1 - j)
                for j in range(WINNOW_K)
            )
            for i in range(len(vals) - WINNOW_K + 1)
        ]
        sel = {
            min(ghs[p : p + WINNOW_W])
            for p in range(len(ghs) - WINNOW_W + 1)
        }
        return ghs, sel

    def test_replay_and_shared_run_guarantee(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.text import q_winnow_fingerprint

        shared_run = " ".join(f"s{i}" for i in range(8))  # k + w - 1 tokens
        texts = [
            f"aa bb cc {shared_run} dd ee",
            f"xx yy {shared_run} zz ww vv uu",
            " ".join(f"q{i}" for i in range(15)),  # unrelated
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["s"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = {r["doc_id"]: r for r in q_winnow_fingerprint(spark, str(tmp_path)).collect()}
        fsets = {}
        for i, t in enumerate(texts):
            ghs, sel = self._fingerprints(t)
            fsets[i] = sel
            assert out[i]["n_grams"] == len(ghs)
            assert out[i]["n_fingerprints"] == len(sel)
            assert out[i]["fp_sum"] == sum(sel)
        # the winnowing guarantee: docs 0 and 1 share the 8-token run
        assert fsets[0] & fsets[1], "shared run produced no shared fingerprint"
        assert not (fsets[0] & fsets[2])
        assert not (fsets[1] & fsets[2])


class TestDedupWinnowPlanted:
    """q_dedup_winnow on the winnowing fixture: the two docs sharing a
    12-token run must surface as the ONLY pair, with n_shared equal to
    the pure-Python fingerprint-set intersection and the overlap
    permille replayed exactly; the unrelated doc pairs with no one."""

    def test_shared_run_pairs(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.text import q_dedup_winnow

        shared_run = " ".join(f"s{i}" for i in range(12))
        texts = [
            f"aa bb cc {shared_run} dd ee",
            f"xx yy {shared_run} zz ww vv uu",
            " ".join(f"q{i}" for i in range(15)),
        ]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["s"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        out = [
            (r["doc_a"], r["doc_b"], r["n_shared"], r["overlap_permille"])
            for r in q_dedup_winnow(spark, str(tmp_path)).collect()
        ]
        assert len(out) == 1
        doc_a, doc_b, n_shared, permille = out[0]
        assert (doc_a, doc_b) == (0, 1)
        # pure-python replay of the expected overlap
        fa = TestWinnowFingerprintPlanted._fingerprints(texts[0])[1]
        fb = TestWinnowFingerprintPlanted._fingerprints(texts[1])[1]
        assert n_shared == len(fa & fb) >= 2
        assert permille == (1000 * n_shared) // min(len(fa), len(fb))


class TestIvfIndexPersistence:
    """The DEPLOY.md claim made real: persist the IVF assignment
    `partitionBy(cell)` and the probe semi-join becomes PARTITION
    PRUNING on the stored index — the scan plans PartitionFilters on
    cell and reads only the probed cells, and the top-10 from the
    pruned index is identical to the in-memory q_sim_ivf answer."""

    def test_partitioned_index_probe(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from elric_rs_spark.operators.similarity import (
            IVF_NPROBE,
            _anchors,
            _as_double,
            _dot,
            _norm,
            q_sim_ivf,
        )
        from elric_rs_spark.plans.inspect import formatted_plan
        from elric_rs_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        anchors = _anchors()
        e = load_table(spark, sf, "embeddings").select(
            "vec_id", "label", _as_double("embedding").alias("v")
        )
        dots = F.array(
            *[_dot(F.col("v"), F.array(*[F.lit(x) for x in a])) for a in anchors]
        )
        cells = e.withColumn("dots", dots).select(
            "vec_id",
            "label",
            "v",
            "dots",
            F.array_position(F.col("dots"), F.array_max("dots")).alias("cell"),
        )
        idx = str(tmp_path / "ivf_index")
        cells.drop("dots").write.partitionBy("cell").parquet(idx)

        # probe list for query vec 0 — k-sized driver math, like the
        # trained-IVF path
        [qrow] = cells.filter(F.col("vec_id") == 0).collect()
        order = sorted(range(len(qrow["dots"])), key=lambda i: -qrow["dots"][i])
        probe = [i + 1 for i in order[:IVF_NPROBE]]

        index = spark.read.parquet(idx).filter(
            F.col("cell").isin(probe) & (F.col("vec_id") != 0)
        )
        fp = formatted_plan(index)
        pf = [ln for ln in fp.splitlines() if "PartitionFilters" in ln]
        assert pf and "cell" in pf[0], fp

        qv = F.array(*[F.lit(float(x)) for x in qrow["v"]])
        cosine = F.round(
            _dot(F.col("v"), qv) / (_norm(F.col("v")) * _norm(qv)), 6
        )
        got = [
            (r["vec_id"], r["cosine"])
            for r in index.select("vec_id", cosine.alias("cosine"))
            .orderBy(F.col("cosine").desc(), "vec_id")
            .limit(10)
            .collect()
        ]
        want = [(r["vec_id"], r["cosine"]) for r in q_sim_ivf(spark, sf).collect()]
        assert got == want


class TestAsofForwardPlanted:
    """q_join_asof_forward boundaries: a purchase exactly AT the click
    timestamp matches (at-or-after); a purchase exactly AT the 10-minute
    tolerance is included (<=); one microsecond past it yields a NULL
    unconverted row; a purchase BEFORE the click never matches."""

    def test_boundaries(self, spark, tmp_path):
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.temporal import q_join_asof_forward

        T0 = datetime.datetime(2024, 1, 1, 12)
        MIN10 = datetime.timedelta(minutes=10)
        US = datetime.timedelta(microseconds=1)
        rows = [
            (0, T0, 1, "click", 1.0),              # purchase at same ts -> match
            (1, T0, 1, "purchase", 50.0),
            (2, T0 + US, 2, "click", 2.0),         # next purchase exactly 10m later
            (3, T0 + US + MIN10, 2, "purchase", 70.0),
            (4, T0, 3, "click", 3.0),              # purchase 10m + 1us -> NULL
            (5, T0 + MIN10 + US, 3, "purchase", 99.0),
            (6, T0 + MIN10, 4, "click", 4.0),      # purchase BEFORE click -> NULL
            (7, T0, 4, "purchase", 11.0),
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = {r["event_id"]: r for r in q_join_asof_forward(spark, str(tmp_path)).collect()}
        assert (out[0]["next_purchase_cents"], out[0]["gap_us"]) == (5000, 0)
        assert (out[2]["next_purchase_cents"], out[2]["gap_us"]) == (7000, 600_000_000)
        assert out[4]["next_purchase_cents"] is None and out[4]["gap_us"] is None
        assert out[6]["next_purchase_cents"] is None


class TestMinwiseFamilyIndependence:
    """Regression guard for the round-6 hash-family fix: the original
    Kirsch-Mitzenmacher double hashing (g_k = h1 + k*h2) had CORRELATED
    minwise members — one shared low-hash gram collided whole bands,
    inflating candidates 345x over true pairs at sf1 (quadratic at
    scale, BASELINE.md round-6). With independent Carter-Wegman
    members, candidate volume must track verified-pair volume. Pinned
    at sf0.001 where the corpus has a known small near-dup population:
    a correlated family regression re-inflates candidates by orders of
    magnitude and trips the bound immediately."""

    def test_candidate_inflation_bounded(self, spark):
        from pyspark.sql import functions as F

        import elric_rs_spark.operators.dedup as dd
        from elric_rs_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        d = load_table(spark, sf, "documents").repartition(8, "doc_id")
        hashed = d.select("doc_id", dd._token_hashes(F.col("text")).alias("th"))
        grams = hashed.select(
            "doc_id",
            F.array_distinct(
                dd._grams_from_token_hashes(F.col("th"), 3)
            ).alias("g"),
        ).filter(F.size("g") > 0)
        sigs = (
            grams.select("doc_id", F.explode("g").alias("h"))
            .groupBy("doc_id")
            .agg(*dd._minhash_min_aggs())
        )
        band_structs = []
        for b in range(dd.LSH_BANDS):
            cols = [
                F.col(f"mh_{b * dd.LSH_ROWS + r}") for r in range(dd.LSH_ROWS)
            ]
            sig = dd._rotl64(cols[0], 7)
            for i, c in enumerate(cols[1:]):
                sig = sig.bitwiseXOR(dd._rotl64(c, 7 + 13 * (i + 1)))
            band_structs.append(
                F.struct(F.lit(b).alias("band_id"), sig.alias("band_sig"))
            )
        banded = sigs.select(
            "doc_id", F.explode(F.array(*band_structs)).alias("band")
        ).select("doc_id", "band.band_id", "band.band_sig")
        stats = (
            banded.groupBy("band_id", "band_sig")
            .count()
            .agg(
                F.max("count").alias("maxb"),
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
            )
            .first()
        )
        n_verified = dd.q_dedup_minhash(spark, sf).count()
        # measured with the fixed family: 202 candidates / 28 verified,
        # max bucket 4 (sf0.001; the ~7x residual is the expected LSH
        # s-curve capture of sub-threshold pairs). The broken family
        # measured 345x-2,500x inflation — a 20x bound leaves
        # run-to-run head room while catching any correlated-family
        # regression by orders of magnitude.
        assert stats["maxb"] <= 16, f"mega-bucket: {stats['maxb']}"
        assert stats["pairs"] <= max(20 * n_verified, 400), (
            f"candidate inflation: {int(stats['pairs'])} candidates for "
            f"{n_verified} verified pairs"
        )


class TestSketchIntersectZeroOverlap:
    """q_sketch_intersect on a planted corpus where two flag populations
    are DISJOINT: the (A, B) pair must still emit a row with n_common =
    0 / est_intersect = 0 (the ADVICE r06 unrepresentable-zero fix —
    the pair universe is the flag cross product, not the join hits),
    while the overlapping (A, C) pair estimates exactly (unsaturated
    sketches degrade to the exact common count)."""

    def test_disjoint_pair_emits_zero_row(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.aggregates import q_sketch_intersect

        # A = {1..30}, B = {1001..1030} (disjoint from A and C),
        # C = {1..10} (subset of A) — all under K=64 so every sketch is
        # unsaturated and the theta estimate is exact by construction
        keys, flags = [], []
        for k in range(1, 31):
            keys.append(k), flags.append("A")
        for k in range(1001, 1031):
            keys.append(k), flags.append("B")
        for k in range(1, 11):
            keys.append(k), flags.append("C")
        tbl = pa.table(
            {
                "l_orderkey": pa.array(keys, pa.int64()),
                "l_returnflag": pa.array(flags, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
        rows = {
            (r["flag_a"], r["flag_b"]): r
            for r in q_sketch_intersect(spark, str(tmp_path)).collect()
        }
        assert set(rows) == {("A", "B"), ("A", "C"), ("B", "C")}
        assert rows[("A", "B")]["n_common"] == 0
        assert rows[("A", "B")]["est_intersect"] == 0
        assert rows[("B", "C")]["n_common"] == 0
        assert rows[("B", "C")]["est_intersect"] == 0
        # unsaturated sketches: estimate == exact intersection
        assert rows[("A", "C")]["n_common"] == 10
        assert rows[("A", "C")]["est_intersect"] == 10


class TestTputCertificateFires:
    """q_topk_sharded's proven = 1 branch never executes on the uniform
    TPC-H fixture (the docstring documents why); plant a Zipf-shaped
    corpus where it MUST: a whale customer retained in every shard gets
    an exact [lo, hi] (lo == hi == truth) that clears every other
    candidate's upper bound, while one over-stuffed shard exercises the
    nonzero threshold path (n_in_shard > M -> t_eff = min retained
    partial)."""

    def test_whale_is_proven(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.setops import (
            TOPK_K,
            TOPK_M,
            TOPK_SHARDS,
            q_topk_sharded,
        )

        orderkeys, custs, prices = [], [], []
        # whale: one 10,000.00 order in EVERY shard -> retained in all
        for s in range(TOPK_SHARDS):
            orderkeys.append(s), custs.append(1), prices.append(10_000.0)
        # stuff shard 0 past M with $10 customers -> threshold = 1000c
        for i in range(TOPK_M + 5):
            orderkeys.append(TOPK_SHARDS * (i + 1))  # == 0 mod shards
            custs.append(100 + i)
            prices.append(10.0)
        # a few mid customers on other shards to fill the top-K output
        for i in range(15):
            orderkeys.append(TOPK_SHARDS * (i + 100) + 1 + i % (TOPK_SHARDS - 1))
            custs.append(300 + i)
            prices.append(20.0 + i)
        tbl = pa.table(
            {
                "o_orderkey": pa.array(orderkeys, pa.int64()),
                "o_custkey": pa.array(custs, pa.int64()),
                "o_totalprice": pa.array(prices, pa.float64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "orders.parquet"))
        rows = q_topk_sharded(spark, str(tmp_path)).collect()
        assert len(rows) == TOPK_K
        whale = rows[0]
        assert whale.cust == 1 and whale.rnk == 1
        truth = TOPK_SHARDS * 1_000_000  # 8 x $10,000 in cents
        assert whale.lo_cents == truth == whale.hi_cents
        assert whale.n_shards_seen == TOPK_SHARDS
        assert whale.proven == 1  # the certificate branch actually fires
        # every other candidate's upper bound sits below the whale's lo
        assert all(r.hi_cents < whale.lo_cents for r in rows[1:])


class TestTwapZeroDurationDropped:
    """q_time_weighted_avg's total_us > 0 gate (ADVICE r06 #1): a user
    whose events all share one timestamp has zero holding time — a 0/0
    twap — and must be dropped on BOTH engines, while a normal user's
    LOCF weighting computes exactly."""

    def test_same_timestamp_user_dropped(self, spark, tmp_path):
        from datetime import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.timeseries import q_time_weighted_avg

        t0 = datetime(2024, 1, 1, 12, 0, 0)
        t1 = datetime(2024, 1, 1, 13, 0, 0)  # one hour later
        rows = [
            # user 1: three events, identical timestamp -> total_us = 0
            (1, t0, 1, 5.0),
            (2, t0, 1, 6.0),
            (3, t0, 1, 7.0),
            # user 2: 100.0 held for the full hour, 200.0 holds nothing
            (4, t0, 2, 100.0),
            (5, t1, 2, 200.0),
        ]
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["e"] * len(rows), pa.string()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = q_time_weighted_avg(spark, str(tmp_path)).collect()
        assert [r.user_id for r in out] == [2]
        r = out[0]
        assert r.n_events == 2
        assert r.total_us == 3_600_000_000
        assert r.twap_cents == 10_000.0  # 100.00 held for 100% of time


class TestKmvUnsaturatedBranch:
    """The KMV estimator's k_used < K branch (est = exact retained
    count, theta = 1) never executes at the gate scales — every TPC-H
    flag has >> K distinct orders. Plant a corpus under K so the
    unsaturated path runs: est_distinct must equal the true distinct
    count exactly, per group AND for the merged ALL row."""

    def test_small_groups_estimate_exactly(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.aggregates import (
            KMV_K,
            q_agg_approx_portable,
            q_sketch_union,
        )

        # A: 10 distinct orders (with duplicates), B: 20 distinct
        keys = list(range(10)) * 3 + list(range(100, 120))
        flags = ["A"] * 30 + ["B"] * 20
        assert len({k for k, f in zip(keys, flags) if f == "A"}) < KMV_K
        tbl = pa.table(
            {
                "l_orderkey": pa.array(keys, pa.int64()),
                "l_returnflag": pa.array(flags, pa.string()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
        est = {
            r.l_returnflag: (r.k_used, r.est_distinct)
            for r in q_agg_approx_portable(spark, str(tmp_path)).collect()
        }
        assert est == {"A": (10, 10), "B": (20, 20)}
        merged = {
            r.scope: (r.k_used, r.est_distinct)
            for r in q_sketch_union(spark, str(tmp_path)).collect()
        }
        # disjoint key ranges: the merged sketch holds all 30 hashes
        assert merged["ALL"] == (30, 30)


class TestPrioritySamplingSmallCorpus:
    """q_sample_priority's corpus <= k branch (DLT convention: tau = 0,
    est_weight = the true weight) never executes on the fixtures —
    documents always outnumber PRIO_K. Plant 5 docs: all must be
    selected, tau contributes nothing, and every est_weight equals the
    document's exact n_chars (the subset-sum estimator is exact when
    nothing was left out)."""

    def test_all_selected_exact_weights(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators.sampling import PRIO_K, q_sample_priority

        n = 5
        assert n <= PRIO_K
        chars = [100, 2500, 40, 900, 12000]
        tbl = pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(["x" * c for c in chars], pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["crawl"] * n, pa.string()),
                "n_chars": pa.array(chars, pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        rows = q_sample_priority(spark, str(tmp_path)).collect()
        assert len(rows) == n  # the whole corpus is the sample
        got = {r.doc_id: r.est_weight for r in rows}
        assert got == {i: c for i, c in enumerate(chars)}
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
            range(1, n + 1)
        )


class TestBloomNearSaturationAudit:
    """The q_join_bloom audit row IS the saturation alarm (VERDICT r07
    #8): the round-7 sf3 decade caught a 2^16 filter at 99.9% bit fill
    passing 99.8% of fact rows. TPC-H-shaped data never saturates the
    production 2^20 filter, so plant the regime: shrink BLOOM_M to 64
    and feed a dim side dense enough to set ~every bit — the audit row
    must expose it (near-full position sets, ~100% prefilter pass on a
    fact side with ZERO true matches)."""

    def test_planted_saturation_is_visible_in_audit_row(
        self, spark, tmp_path, monkeypatch
    ):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from elric_rs_spark.operators import joins

        monkeypatch.setattr(joins, "BLOOM_M", 64)
        # 300 hot-price dim keys -> expected fill 1-(1-1/64)^600 ~ 1.0
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array(range(300), pa.int64()),
                    "o_totalprice": pa.array([500_000.0] * 300, pa.float64()),
                }
            ),
            str(tmp_path / "orders.parquet"),
        )
        # fact keys disjoint from dim: every prefilter pass is a false
        # positive
        pq.write_table(
            pa.table(
                {"l_orderkey": pa.array(range(10_000, 10_500), pa.int64())}
            ),
            str(tmp_path / "lineitem.parquet"),
        )
        row = joins.q_join_bloom(spark, str(tmp_path)).collect()[0]
        fill0 = row["n_bits0"] / 64
        fill1 = row["n_bits1"] / 64
        pass_rate = row["n_prefilter_pass"] / 500
        assert row["n_dim_keys"] == 300
        assert fill0 > 0.95 and fill1 > 0.95, (fill0, fill1)
        assert pass_rate > 0.9, pass_rate
        assert row["n_matched"] == 0
        assert row["n_false_pos"] == row["n_prefilter_pass"]

    def test_production_m_stays_unsaturated_at_gate_scale(self, spark):
        """Companion bound: at sf0.01 the production 2^20 filter's fill
        must stay far from the alarm regime (the m-sizing rule's local
        check)."""
        from elric_rs_spark.operators import joins

        row = joins.q_join_bloom(spark, "/root/testdata/sf0.01").collect()[0]
        assert row["n_bits0"] / joins.BLOOM_M < 0.05
        assert row["n_false_pos"] <= row["n_prefilter_pass"] * 0.05


class TestShufflePartitionsFor:
    """session.shuffle_partitions_for must see the real parquet bytes for
    BOTH layouts — flat files (the testdata shape) and Spark-written
    directory datasets (foo.parquet/ with part files), where a naive
    getsize reads the ~4KB directory inode and the sf10 spill fix would
    silently disengage (ADVICE r8)."""

    def test_flat_file_layout(self, tmp_path):
        from elric_rs_spark.session import (
            _PARQUET_BYTES_PER_PARTITION,
            shuffle_partitions_for,
        )

        (tmp_path / "t.parquet").write_bytes(b"x" * (40 << 20))
        got = shuffle_partitions_for(str(tmp_path), cpus=2)
        assert got == max(2, (40 << 20) // _PARQUET_BYTES_PER_PARTITION)

    def test_directory_dataset_layout(self, tmp_path):
        from elric_rs_spark.session import (
            _PARQUET_BYTES_PER_PARTITION,
            shuffle_partitions_for,
        )

        d = tmp_path / "t.parquet"
        (d / "sub").mkdir(parents=True)
        (d / "part-00000.snappy.parquet").write_bytes(b"x" * (24 << 20))
        (d / "sub" / "part-00001.snappy.parquet").write_bytes(b"x" * (16 << 20))
        got = shuffle_partitions_for(str(tmp_path), cpus=2)
        assert got == max(2, (40 << 20) // _PARQUET_BYTES_PER_PARTITION)

    def test_dataset_sidecars_not_counted(self, tmp_path):
        from elric_rs_spark.session import dir_parquet_bytes

        d = tmp_path / "t.parquet"
        d.mkdir()
        (d / "part-00000.snappy.parquet").write_bytes(b"x" * 1000)
        (d / ".part-00000.snappy.parquet.crc").write_bytes(b"c" * 16)
        (d / "_SUCCESS").write_bytes(b"s" * 8)
        (d / "._SUCCESS.crc").write_bytes(b"c" * 8)
        (tmp_path / "flat.parquet").write_bytes(b"x" * 24)
        assert dir_parquet_bytes(str(tmp_path)) == 1024

    @pytest.mark.parametrize("sf_dir,want", [
        (os.path.join(os.path.dirname(SF_DIR), "sf0.001"), 462_880),
        (os.path.join(os.path.dirname(SF_DIR), "sf0.01"), 1_873_666),
        (os.path.join(os.path.dirname(SF_DIR), "sf0.1"), 17_504_410),
        (os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "perfbench", "fixture"), 1_873_666),
    ])
    def test_fixture_bytes_keep_pagerank_form(self, sf_dir, want):
        """The fixture sizes the parquet walker reports, all under
        PR_WIDE_INPUT_BYTES, so q_pagerank keeps its narrow-input form
        at every scale the tests and the benchmark run."""
        from elric_rs_spark.operators.graph import PR_WIDE_INPUT_BYTES
        from elric_rs_spark.session import dir_parquet_bytes

        assert dir_parquet_bytes(sf_dir) == want
        assert want < PR_WIDE_INPUT_BYTES

    def test_missing_dir_falls_back_to_cpus(self):
        from elric_rs_spark.session import shuffle_partitions_for

        assert shuffle_partitions_for("/nonexistent/dir", cpus=7) == 7


class TestLshCandidatePairsAdaptive:
    """VERDICT r9 #4: the rows-only LSH kernel now shares the PDLSH
    corpus-adaptive band-width rule. Planted pure-Python twin: h64
    float hyperplanes + the integer-threshold bits rule, independent of
    the engine — the kernel's candidate set must match exactly, and the
    planted near-dup pair must be caught."""

    def _expected_pairs(self, vecs):
        import math
        import struct

        from elric_rs_spark.operators.dedup import (
            PDLSH_BUCKET_CAP,
            PDLSH_MAX_BITS,
            PDLSH_MIN_BITS,
            PDLSH_TABLES,
            PDLSH_TARGET_BUCKET,
        )
        from elric_rs_spark.operators.similarity import _hyperplanes

        bits = max(
            PDLSH_MIN_BITS,
            min(
                PDLSH_MAX_BITS,
                math.ceil(math.log2(max(1, len(vecs)) / PDLSH_TARGET_BUCKET)),
            ),
        )
        planes = _hyperplanes(PDLSH_TABLES * bits)
        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
        keys = {}
        for vid, v in enumerate(vecs):
            v = [f32(x) for x in v]
            for t in range(PDLSH_TABLES):
                key = 0
                for j in range(bits):
                    dot = sum(v[d] * planes[t * bits + j][d] for d in range(64))
                    if dot >= 0:
                        key |= 1 << j
                keys.setdefault((t, key), []).append(vid)
        cand = set()
        for vids in keys.values():
            vids = sorted(vids)[:PDLSH_BUCKET_CAP]
            for i in range(len(vids)):
                for j in range(i + 1, len(vids)):
                    cand.add((vids[i], vids[j]))
        return bits, cand

    def test_matches_pure_python_and_catches_plant(self, spark, tmp_path):
        import random

        from elric_rs_spark.functions.vector import as_double
        from elric_rs_spark.operators.similarity import lsh_candidate_pairs
        from elric_rs_spark.tables import load_table

        rng = random.Random(42)
        vecs = []
        proto = [rng.uniform(-1, 1) for _ in range(64)]
        vecs.append(proto)
        vecs.append([x + rng.uniform(-0.005, 0.005) for x in proto])
        for _ in range(18):
            vecs.append([rng.uniform(-1, 1) for _ in range(64)])
        d = _planted_embeddings(tmp_path, vecs)

        bits, expected = self._expected_pairs(vecs)
        assert bits == 4  # 20 vectors -> the MIN_BITS floor

        e = load_table(spark, d, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
        got = {
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(spark, e).collect()
        }
        assert got == expected
        assert (0, 1) in got  # the planted near-dup pair is caught

    def test_bits_adapt_with_corpus_size(self, spark):
        """The in-plan width must follow the integer-threshold rule, not
        a fixed constant: 20 vecs -> 4 bits, 600 -> 6 bits (the rule's
        own thresholds, same as the PDLSH twin)."""
        from elric_rs_spark.operators.dedup import _pdlsh_bits_col

        for n, want in ((20, 4), (600, 6), (100_000, 13)):
            got = (
                spark.range(n)
                .agg(_pdlsh_bits_col().alias("bits"))
                .collect()[0]["bits"]
            )
            assert got == want, (n, got, want)
