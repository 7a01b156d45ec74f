"""Vector (embedding) expression library — dot/norm over array<double>
columns, exact integer sums, dots and squared distances over micro-unit
arrays, the per-dimension-sum assembly, and the all-pairs expansion of
a sorted array, all with built-in higher-order functions.

One kernel form: every integer dot, norm and squared distance is a
projection over `micro_array` rows. A kernel that scores each vector
against a small set of integer arrays (LSH hyperplanes, IVF anchors,
query vectors, centroids, PQ codebooks) cross-joins the set as a
broadcast and evaluates `int_dot` / `int_sqdist` per row, so the rows
out are the rows the kernel needs: no per-dimension explode, no
(vector, set member) aggregate. Only an operator that is itself a
per-dimension sum (a centroid, a k-means update, a PQ codebook) explodes
a vector into component rows; `dim_arrays` folds its sums back into
arrays for the projections. Measured exceptions keep their component
form because the array form ran slower at sf10 (similarity.py gives
the numbers): `q_embed_norm` and `q_embed_centroid` (inline explode and
rounding), and `q_sim_ivfpq`'s residual encode and lookup table.

Scale note: HOF lambdas evaluate interpreted (outside whole-stage
codegen). At 64 dims that costs microseconds per row and avoids any
Python boundary, which is the right trade; for 1k+-dim embeddings at
full cluster scale, swap `dot` for a vectorized Pandas-UDF (numpy
matmul over Arrow batches) — the call sites keep the same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )


def norm_l2(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def micro_array(col) -> Column:
    """Each component as exact BIGINT micro-units,
    round(cast(x as double) * 1e6): every sum over them is
    order-independent and engine-exact."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000000).cast("long"))


def int_sum(arr) -> Column:
    """BIGINT sum of an integer array with SQL SUM semantics: NULL
    elements are skipped, and the sum is NULL when no element is
    non-NULL (an empty array included)."""
    return F.aggregate(
        arr, F.lit(None).cast("long"), lambda acc, x: F.coalesce(acc + x, acc, x)
    )


def int_dot(a, b) -> Column:
    """BIGINT dot of two integer arrays with SQL SUM semantics, so it
    equals the exploded component join + SUM: NULL products are skipped,
    the dot is NULL when no product is non-NULL, and positions past the
    shorter array pair with NULL (a 65th component against a 64-dim
    plane adds nothing)."""
    return int_sum(F.zip_with(a, b, lambda x, y: x * y))


def int_sqdist(a, b) -> Column:
    """BIGINT squared L2 distance with int_dot's SUM semantics: the
    exploded component join + SUM((x - y)^2)."""
    return int_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def dim_arrays(rows: DataFrame, keys: list[str], value: str) -> DataFrame:
    """(key…, a) from per-dimension (key…, d, value) sum rows: `a` holds
    each key's values in d order. A key's dims must be contiguous from
    its first one — true of any sum over vector components, since each
    vector contributes a prefix of the dims — so a[i] is dim first + i."""
    return rows.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", value))), lambda s: s[value]
        ).alias("a")
    )


def sorted_pairs(arr, make) -> Column:
    """Every i < j pair of array `arr` as `make(arr[i], arr[j])`, in
    order: sort `arr` first and each pair comes out (smaller, larger)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)), lambda y: make(x, y)
            ),
        )
    )
