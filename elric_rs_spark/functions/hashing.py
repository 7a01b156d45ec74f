"""Hash/shingle expression library — shared by dedup, text, and similarity
operators. Everything is a pure Catalyst expression (JVM-side, ANSI-safe):
no Python UDFs, no wrap-around arithmetic that would throw in ANSI mode.

Performance rules baked in here (measured, see BASELINE.md round-1 notes):
- ONE xxhash64 per token/shingle; derived hash-family members come from
  integer arithmetic on the halves (Kirsch-Mitzenmacher double hashing),
  never from per-member string re-hashing.
- Sliding windows are zip_with chains over shifted slices. Per-index
  element_at/slice lambdas re-evaluate their producer expression per
  element — O(n^2) — and higher-order-function lambdas run interpreted,
  so keep the per-element work minimal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MinHash parameters: K hashes = B bands * R rows
MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = 4  # 8 * 4 = 32


def rotl64(col: Column, r: int) -> Column:
    """64-bit rotate-left from shifts+or — bit ops never overflow, ANSI-safe."""
    return F.shiftleft(col, r).bitwiseOR(F.shiftrightunsigned(col, 64 - r))


def token_hashes(col: Column) -> Column:
    """One xxhash64 per whitespace token. Materialize this as a real column
    BEFORE deriving grams: referencing the transform expression inside
    another lambda would re-evaluate the whole array per element (no CSE
    across higher-order-function boundaries) — O(tokens^2) hashing."""
    return F.transform(F.split(F.lower(F.trim(col)), " "), lambda t: F.xxhash64(t))


def grams_from_token_hashes(th_col: Column, n: int = 3) -> Column:
    """64-bit word-n-gram hashes from a token-hash array column: each gram
    XOR-mixes n consecutive token hashes under position-dependent rotations
    (order-sensitive). Built as a chain of zip_with against 1..n-1-shifted
    slices — NOT per-index element_at lambdas, which evaluate O(tokens^2)
    (each element_at re-walks the array; 20x slower measured). zip_with
    pads the shorter side with NULL; XOR propagates the NULL, and the
    final filter trims those tail entries. Grams never exist as strings —
    integer ops only after the per-token hash."""

    def mix(rot: int):
        # factory, NOT a default-arg lambda: defaults would be parsed as a
        # third higher-order-function parameter by Spark
        return lambda x, y: x.bitwiseXOR(rotl64(y, rot))

    acc = F.transform(th_col, lambda x: rotl64(x, 1))
    for j in range(1, n):
        shifted = F.slice(th_col, j + 1, F.size(th_col))
        acc = F.zip_with(acc, shifted, mix(1 + 21 * j))
    return F.filter(acc, lambda v: v.isNotNull())


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Array of word n-gram STRINGS from a text column (built-ins only):
    zip_with chains against shifted slices — not per-index transform
    lambdas, which re-evaluate the token split per element. concat (NOT
    concat_ws) so the null padding zip_with adds on the shorter side
    propagates and the final filter trims incomplete tail grams."""
    toks = F.split(F.lower(F.trim(col)), " ")
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.size(toks))
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.filter(acc, lambda v: v.isNotNull())


def _mh_consts() -> list[tuple[int, int, int]]:
    """Per-k (a, b, c) constants of the Carter-Wegman minwise family
    over the two 32-bit xxhash64 halves, derived from md5("mh:k") so
    the family is deterministic. a, b < 2^29 (odd), c < MH_P: terms
    stay < 2^29 * 2^32 = 2^61, the three-term sum < 2^63 — ANSI-safe
    in signed BIGINT."""
    import hashlib

    out = []
    for k in range(MINHASH_K):
        hx = hashlib.md5(f"mh:{k}".encode()).hexdigest()
        out.append(
            (
                int(hx[0:8], 16) % (1 << 29) | 1,
                int(hx[8:16], 16) % (1 << 29) | 1,
                int(hx[16:24], 16) % MH_P,
            )
        )
    return out


MH_P = 2147483647  # 2^31 - 1, prime modulus of the minwise family
MH_CONSTS = _mh_consts()


def minhash_k_fn(k: int):
    """Family-member-k lambda for F.transform, built through a factory:
    extra default args on the lambda itself would be parsed by Spark as
    additional higher-order-function parameters."""
    a, b, c = MH_CONSTS[k]
    return lambda h: (
        F.lit(a) * F.shiftrightunsigned(h, 32)
        + F.lit(b) * h.bitwiseAND(F.lit(0xFFFFFFFF))
        + F.lit(c)
    ) % F.lit(MH_P)


def minhash_min_aggs() -> list[Column]:
    """K min() AGGREGATES over an exploded gram-hash column `h` — the
    groupBy("doc_id") formulation of the minhash signature. Identical math
    to `minhash_signature`, but sum/min aggregates compile ~10x faster
    than a 32-lambda higher-order-function tree and run in whole-stage
    codegen with map-side combine (HOF lambdas evaluate interpreted).
    Cold-plan cost matters: every driver/bench run plans from scratch.

    Family history (measured, sf1->sf3 decade): the original
    Kirsch-Mitzenmacher double hashing g_k = h1 + k*h2 is fine for
    Bloom probes but WRONG as a minwise family — its k members are
    correlated (the argmin gram for k is usually the argmin for k+1
    too), so two docs sharing a single low-hash gram collide on whole
    BANDS, not rows. On the saturated-universe corpus that produced
    6.3M->56.8M candidate pairs for 3x docs (quadratic; 9.0x) while
    true >=0.5-Jaccard pairs grew exactly linearly (2515->7551) — a
    99.99% band false-positive rate. Independent Carter-Wegman triples
    per k (the q_dedup_minhash_portable construction, full-width
    halves) restore independent argmins per hash; candidates track
    true pairs again."""
    return [
        F.min(
            (
                F.lit(a) * F.shiftrightunsigned("h", 32)
                + F.lit(b) * F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))
                + F.lit(c)
            )
            % F.lit(MH_P)
        ).alias(f"mh_{k}")
        for k, (a, b, c) in enumerate(MH_CONSTS)
    ]


def minhash_signature(gram_hashes_col: Column) -> list[Column]:
    """K-wide minhash signature over pre-hashed shingles: independent
    Carter-Wegman members g_k(x) = (a_k*h1 + b_k*h2 + c_k) mod (2^31-1)
    with h1/h2 the two 32-bit halves of the gram hash. No per-k
    re-hash (5-6x faster than K salted string hashes); all arithmetic
    < 2^63 so ANSI-overflow-safe. Deterministic, all JVM-side. See
    minhash_min_aggs for why this is NOT double hashing."""
    return [
        F.array_min(F.transform(gram_hashes_col, minhash_k_fn(k))).alias(f"mh_{k}")
        for k in range(MINHASH_K)
    ]


def hex13_sql(expr: str) -> str:
    """DuckDB: first 13 hex chars of md5-expression `expr` as a BIGINT
    (< 2^52) — all INTEGER-LITERAL weights so the arithmetic never
    leaves BIGINT (the q_agg_approx_portable construction)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {i}, 1)) - 1)"
        f" * {16 ** (13 - i)}"
        for i in range(1, 14)
    )
