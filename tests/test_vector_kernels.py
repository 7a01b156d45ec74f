"""The fused integer kernels (functions/vector.py int_sum / int_dot /
int_sqdist over micro_array) against the exploded component form they
replaced, kept here as the reference: posexplode every vector into
(vec_id, d, micro) rows, join the broadcast component rows of the other
side on d, and SUM per key. SQL SUM skips NULL products, is NULL when
every product is NULL, and a vector with no component rows gets no row
at all; the fused form must give the same rows on the edge cases the
fixtures never hold: a NULL array, an empty array, all-NULL components,
a short array and one past 64 dimensions.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from elric_rs_spark.functions.vector import dim_arrays, int_dot, int_sqdist, int_sum
from elric_rs_spark.operators.similarity import (
    _micro_arrays,
    _micro_comp,
    _pivf_anchor_rows,
    _pivf_celldots,
    portable_lsh_bands,
)

EDGE_ROWS = [
    (0, None),  # NULL array
    (1, []),  # empty array
    (2, [None] * 64),  # all-NULL components
    (3, [0.25 * ((i % 7) - 3) for i in range(32)]),  # 32 dims
    (4, [0.1 * ((i % 5) - 2) for i in range(65)]),  # 65 dims
    (5, [(-1.0) ** i * 0.01 * i for i in range(64)]),  # well-formed
    (6, [None if i == 10 else 0.5 - i / 64 for i in range(64)]),  # one NULL
]


@pytest.fixture(scope="module")
def edge_vecs(spark):
    return spark.createDataFrame(EDGE_ROWS, "vec_id long, embedding array<float>")


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _exploded(e):
    """The reference component rows (vec_id, d, micro): one row per
    component of each embedding, rounded to micro-units the way the
    oracles round."""
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("d"),
        F.round(F.col("val").cast("double") * 1000000).cast("long").alias("micro"),
    )


def _exploded_celldots(spark, e):
    """The removed exploded form of _pivf_celldots."""
    anchors = spark.createDataFrame(
        [(c, d, a) for c, arr in _pivf_anchor_rows() for d, a in enumerate(arr, 1)],
        "c int, d long, a long",
    )
    return (
        _exploded(e)
        .join(F.broadcast(anchors), "d")
        .groupBy("vec_id", "c")
        .agg(F.sum(F.col("micro") * F.col("a")).alias("dot"))
    )


def test_celldots_match_exploded_form(spark, edge_vecs):
    fused = _pivf_celldots(spark, _micro_arrays(edge_vecs))
    want = _rows(_exploded_celldots(spark, edge_vecs), "vec_id", "c", "dot")
    got = _rows(fused, "vec_id", "c", "dot")
    assert got == want
    by_id = {v for v, _, _ in got}
    assert by_id == {2, 3, 4, 5, 6}  # NULL and empty arrays: no row
    assert all(dot is None for v, _, dot in got if v == 2)
    assert all(dot is not None for v, _, dot in got if v != 2)


def test_int_dot_sum_semantics(spark):
    df = spark.createDataFrame(
        [
            (0, [1, None, 3], [10, 20, 30]),
            (1, [None, None], [1, 2]),
            (2, [1, 2, 3], [4, 5]),  # positions past the shorter array add 0
            (3, [], []),
        ],
        "k int, a array<bigint>, b array<bigint>",
    )
    got = dict(
        (r.k, r.dot) for r in df.select("k", int_dot("a", "b").alias("dot")).collect()
    )
    assert got == {0: 100, 1: None, 2: 14, 3: None}


def test_int_sum_sum_semantics(spark):
    """int_sum is SQL SUM over the elements: NULLs skipped, NULL when no
    element is non-NULL."""
    df = spark.createDataFrame(
        [
            (0, None),
            (1, []),
            (2, [None, None]),
            (3, [1, None, -3]),
            (4, [2, 5]),
        ],
        "k int, a array<bigint>",
    )
    got = dict((r.k, r.s) for r in df.select("k", int_sum("a").alias("s")).collect())
    assert got == {0: None, 1: None, 2: None, 3: -2, 4: 7}


def test_int_sqdist_sum_semantics(spark):
    df = spark.createDataFrame(
        [
            (0, [1, None, 3], [0, 20, 5]),
            (1, [None, None], [1, 2]),
            (2, [1, 2, 3], [4, 5]),  # positions past the shorter array add 0
        ],
        "k int, a array<bigint>, b array<bigint>",
    )
    got = dict(
        (r.k, r.d) for r in df.select("k", int_sqdist("a", "b").alias("d")).collect()
    )
    assert got == {0: 5, 1: None, 2: 18}


def test_micro_array_matches_micro_comp(spark, edge_vecs):
    """_micro_comp over _micro_arrays gives exactly the reference
    component rows: NULL and empty embeddings give none."""
    exploded = _rows(_exploded(edge_vecs), "vec_id", "d", "micro")
    fused = _micro_comp(_micro_arrays(edge_vecs))
    assert _rows(fused, "vec_id", "d", "micro") == exploded


def test_dim_arrays_fold_per_dimension_sums(spark, edge_vecs):
    """dim_arrays puts each key's per-dimension sums in d order, so an
    int_dot against the folded arrays equals the component join + SUM;
    a dimension whose components are all NULL sums to NULL in place."""
    comp = _exploded(edge_vecs).withColumn("g", F.col("vec_id") % 2)
    sums = comp.groupBy("g", "d").agg(F.sum("micro").alias("s"))
    want = _rows(
        comp.join(F.broadcast(sums.withColumnRenamed("g", "k")), "d")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("micro") * F.col("s")).alias("dot")),
        "vec_id",
        "k",
        "dot",
    )
    arrs = dim_arrays(sums, ["g"], "s").withColumnRenamed("g", "k")
    got = _rows(
        _micro_arrays(edge_vecs)
        .crossJoin(F.broadcast(arrs))
        .select("vec_id", "k", int_dot("m", "a").alias("dot")),
        "vec_id",
        "k",
        "dot",
    )
    assert got == want


def test_lsh_bands_match_exploded_form(spark, edge_vecs):
    """portable_lsh_bands at a fixed 2 x 4-bit layout against the
    exploded (vec_id, p) SUM and (vec_id, t) key aggregate, with the
    md5 signs recomputed here: a NULL dot sets its bit to 0."""
    tables, bits = 2, 4
    w = spark.createDataFrame(
        [
            (p, d, 1 if hashlib.md5(f"{p}#{d}".encode()).hexdigest()[0] in "01234567" else -1)
            for p in range(tables * bits)
            for d in range(1, 65)
        ],
        "p int, d long, w long",
    )
    dots = (
        _exploded(edge_vecs)
        .join(F.broadcast(w), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("micro") * F.col("w")).alias("dot"))
    )
    bit = F.when(F.col("dot") >= 0, F.expr(f"shiftleft(CAST(1 AS BIGINT), p % {bits})"))
    want = _rows(
        dots.groupBy("vec_id", F.expr(f"p div {bits}").alias("t")).agg(
            F.sum(F.coalesce(bit, F.lit(0).cast("long"))).alias("key")
        ),
        "vec_id",
        "t",
        "key",
    )
    got = _rows(
        portable_lsh_bands(spark, _micro_arrays(edge_vecs), tables, bits, bits),
        "vec_id",
        "t",
        "key",
    )
    assert got == want
    assert {v for v, _, _ in got} == {2, 3, 4, 5, 6}
