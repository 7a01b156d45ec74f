"""The fused integer dot (functions/vector.py int_dot over micro_array)
against the exploded component form it replaced, kept here as the
reference: posexplode every vector into (vec_id, d, micro) rows
(similarity._micro_comp), join the broadcast component rows of the
other side on d, and SUM per key. SQL SUM skips NULL products, is NULL
when every product is NULL, and a vector with no component rows gets no
row at all; the fused form must give the same rows on the edge cases
the fixtures never hold: a NULL array, an empty array, all-NULL
components, a short array and one past 64 dimensions.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from elric_rs_spark.functions.vector import int_dot, micro_array
from elric_rs_spark.operators.similarity import (
    _micro_arrays,
    _micro_comp,
    _pivf_anchors,
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


def _exploded_celldots(spark, e):
    """The removed exploded form of _pivf_celldots."""
    return (
        _micro_comp(e)
        .join(F.broadcast(_pivf_anchors(spark)), "d")
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


def test_micro_array_matches_micro_comp(spark, edge_vecs):
    exploded = _rows(_micro_comp(edge_vecs), "vec_id", "d", "micro")
    fused = edge_vecs.select(
        "vec_id", F.posexplode(micro_array("embedding")).alias("pos", "micro")
    ).select("vec_id", (F.col("pos") + 1).alias("d"), "micro")
    assert _rows(fused, "vec_id", "d", "micro") == exploded


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
        _micro_comp(edge_vecs)
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
