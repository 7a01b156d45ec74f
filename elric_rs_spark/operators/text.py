"""Text analysis for training-data pipelines (SURVEY.md X17 + the
beyond-reference LLM-pipeline surface): tokenization, quality scoring,
language-ID heuristic, document fingerprinting.

All built-in string/array expressions — at 100 TB these run inside
whole-stage codegen with zero Python, and every query is embarrassingly
parallel (no shuffle except the final aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elric_rs_spark.buildlog import pin, session_memo
from elric_rs_spark.functions.hashing import word_ngrams as _word_ngrams
from elric_rs_spark.registry import query
from elric_rs_spark.tables import load_table

# shared tokenizer: lowercase, split on whitespace runs
def tokens_col(col="text"):
    return F.split(F.lower(F.trim(F.col(col))), r"\s+")


@query(
    "q_text_stats",
    oracle="""
SELECT
  doc_id,
  lang,
  n_chars,
  len(string_split(trim(text), ' ')) AS n_tokens,
  len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_unique_tokens,
  round(CAST(n_chars AS DOUBLE) / len(string_split(trim(text), ' ')), 6) AS chars_per_token
FROM documents
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (X17)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    uniq = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), " "))
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(uniq).alias("n_unique_tokens"),
        F.round(F.col("n_chars").cast("double") / F.size(toks), 6).alias("chars_per_token"),
    )


@query(
    "q_token_count",
    oracle="""
SELECT
  doc_id,
  len(string_split(trim(text), ' ')) AS ws_tokens,
  CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS bpe_est_tokens
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + the classic chars/4 BPE
    estimate used for budget accounting in LLM data pipelines."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).alias("ws_tokens"),
        F.ceil(F.col("n_chars").cast("double") / 4.0).alias("bpe_est_tokens"),
    )


# deterministic stopword list for the language-ID / quality heuristics
_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOPWORDS_SQL = "['the', 'a', 'of', 'and', 'to', 'in']"


@query(
    "q_quality_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, n_chars,
         string_split(lower(trim(text)), ' ') AS toks
  FROM documents
)
SELECT
  doc_id,
  lang,
  len(toks) AS n_tokens,
  round(len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t)))
        / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
  round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS unique_ratio,
  CASE WHEN len(toks) BETWEEN 10 AND 1000
        AND len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) > 0.3
       THEN 1 ELSE 0 END AS quality_keep
FROM tok
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length bounds + lexical-diversity + stopword
    density — the standard cheap pre-filters before expensive dedup."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    n = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    # stopword OCCURRENCES (not distinct matches): filter + size
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    uniq_ratio = F.size(F.array_distinct(toks)) / n
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.round(n_stop / n, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("unique_ratio"),
        F.when(
            F.size(toks).between(10, 1000) & (uniq_ratio > 0.3), 1
        ).otherwise(0).alias("quality_keep"),
    )


@query(
    "q_lang_id",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         string_split(lower(trim(text)), ' ') AS toks
  FROM documents
)
SELECT
  doc_id,
  lang AS lang_label,
  CASE WHEN len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t)))
            / CAST(len(toks) AS DOUBLE) > 0.05
       THEN 'en' ELSE 'other' END AS lang_guess
FROM tok
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English-stopword density thresholding —
    the n-gram-profile approach reduced to its deterministic core so the
    oracle can replicate it exactly."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), " ")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    density = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) / F.size(
        toks
    ).cast("double")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.when(density > 0.05, "en").otherwise("other").alias("lang_guess"),
    )


@query(
    "q_fingerprint",
    oracle="""
SELECT
  doc_id,
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
  substring(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8) AS shard_key
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercase
    text. md5 is identical across engines, so the oracle checks the exact
    fingerprint — and the 8-hex-char prefix is a uniform shard key for
    downstream partitioning."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("shard_key"),
    )


@query(
    "q_quality_gopher",
    oracle="""
WITH tok AS (
  SELECT doc_id, n_chars,
         string_split(trim(text), ' ') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
)
SELECT
  doc_id,
  len(toks) AS n_words,
  round(CAST(n_chars AS DOUBLE) / len(toks), 6) AS mean_word_len,
  round(len(list_filter(toks, t -> t = '...')) / CAST(len(toks) AS DOUBLE), 6)
    AS ellipsis_ratio,
  round(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$')))
        / CAST(len(toks) AS DOUBLE), 6) AS numeric_ratio,
  CASE WHEN len(toks) BETWEEN 50 AND 100000
        AND CAST(n_chars AS DOUBLE) / len(toks) BETWEEN 3 AND 10
        AND len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$')))
            / CAST(len(toks) AS DOUBLE) < 0.2
       THEN 1 ELSE 0 END AS gopher_keep
FROM tok
""",
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality filter (Rae et al. 2021, §A1.1 heuristics,
    public): word-count bounds, mean-word-length band 3-10, ellipsis and
    all-numeric token ratios. All built-in string/array expressions —
    embarrassingly parallel, codegen end to end; the standard cheap gate
    before dedup in a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    n = F.size(toks)
    nd = n.cast("double")
    mean_wl = F.col("n_chars").cast("double") / n
    ellipsis = F.size(F.filter(toks, lambda t: t == "...")) / nd
    numeric = F.size(F.filter(toks, lambda t: t.rlike(r"^[0-9]+$"))) / nd
    keep = (
        n.between(50, 100_000)
        & mean_wl.between(3, 10)
        & (numeric < 0.2)
    )
    return d.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(ellipsis, 6).alias("ellipsis_ratio"),
        F.round(numeric, 6).alias("numeric_ratio"),
        F.when(keep, 1).otherwise(0).alias("gopher_keep"),
    )


@query(
    "q_tfidf",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rk <= 3
""",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Cross-engine determinism: tf and df are exact integer aggregates, and
    the score is the IDENTICAL double expression ``tf * ln(N/df)`` on
    both engines, rounded to 6dp BEFORE ranking so a sub-ULP libm
    difference cannot flip the row_number order; ties break on term.

    Scale shape: explode -> (doc_id, term) groupBy (map-side combined;
    key cardinality ~ corpus vocabulary x docs but each group is tiny),
    then a term-keyed df aggregate whose output is vocabulary-sized --
    small enough to BROADCAST back onto tf, so the scoring join adds no
    shuffle. The corpus-size scalar joins as a broadcast literal. The
    final per-doc ranking window repartitions by doc_id (uniform key).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )


@query(
    "q_quality_repetition",
    oracle="""
WITH grams AS (
  SELECT doc_id, unnest([array_to_string(toks[i:i+1], ' ')
                         FOR i IN range(1, len(toks))]) AS g
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
        FROM documents)
  WHERE len(toks) >= 2
),
c AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY doc_id, g)
SELECT doc_id,
       CAST(max(c) AS BIGINT) AS top_bigram_n,
       CAST(sum(c) AS BIGINT) AS total_bigrams,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac,
       CASE WHEN max(c) * 10 >= sum(c) THEN 1 ELSE 0 END AS repetitive
FROM c GROUP BY doc_id
""",
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter: fraction of a document's word
    bigrams taken by its single most frequent bigram (the Gopher §A1.1
    "top-2-gram fraction" rule; docs over 10% are flagged repetitive).

    The 10% decision is evaluated as the exact integer comparison
    ``max*10 >= total`` so the flag cannot flip on a float boundary; the
    reported fraction is rounded display output only.

    Scale shape: explode -> (doc_id, bigram) count (map-side combined)
    -> per-doc max/sum. Both aggregates key on doc_id-led keys, so the
    second is nearly shuffle-free after the first; no joins, no windows.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(_word_ngrams(F.col("text"), 2)).alias("g")
    )
    c = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return c.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_n"),
        F.sum("c").alias("total_bigrams"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_bigram_frac"),
        F.when(F.max("c") * 10 >= F.sum("c"), 1).otherwise(0).alias("repetitive"),
    )


# Hot-term posting-list cap: at 100 TB a stop word's posting list is the
# whole corpus — an unbounded collect_list is an executor OOM. df stays the
# TRUE document frequency; only the materialized posting sample is capped.
POSTING_CAP = 64


@query(
    "q_inverted_index",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
  FROM documents
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, {POSTING_CAP}),
                       ',') AS postings
FROM toks GROUP BY term
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per term, the document frequency and
    the sorted posting list (first POSTING_CAP doc_ids) of documents
    containing it — the core build step of corpus search / contamination
    tooling.

    Scale shape: explode -> distinct (doc_id, term) -> row_number window
    over (term, doc_id) -> ONE term-keyed groupBy building df and the
    posting array together. Hot-key safety: collect_list only sees rows
    with rn <= POSTING_CAP (collect_list skips the NULLs the `when`
    produces), so per-key aggregation memory is bounded at POSTING_CAP
    entries no matter how hot the term; the window itself is sort-based
    and SPILLS for a stop-word key instead of buffering an array. df is
    still the exact document frequency — count() never materializes a
    list. The groupBy keys on the window's own partition key, so no
    second shuffle. The array is joined to a comma-string because
    array-typed output columns are unhashable under the driver's pandas
    canonicalizer (r3 ERR).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("term"),
    ).distinct()
    w = Window.partitionBy("term").orderBy("doc_id")
    ranked = toks.withColumn("rn", F.row_number().over(w))
    head = F.transform(
        F.sort_array(
            F.collect_list(F.when(F.col("rn") <= POSTING_CAP, F.col("doc_id")))
        ),
        lambda x: x.cast("string"),
    )
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(head, ",").alias("postings"),
    )


@query(
    "q_doclen_trim",
    oracle="""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         percent_rank() OVER (PARTITION BY lang
                              ORDER BY n_chars, doc_id) AS pr
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM ranked
WHERE pr <= 0.95
GROUP BY lang
""",
)
def q_doclen_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-percentile trim (the FineWeb/Gopher "drop the top-5%
    longest documents per language" curation step): percent_rank over
    (n_chars, doc_id) inside each language, keep pr <= 0.95.

    percent_rank = (rank-1)/(n-1) has the identical definition on both
    engines, and the unique doc_id tie-break makes the permutation — and
    therefore the kept SET — deterministic. One window sort keyed by
    lang; the report aggregate reuses the lang partitioning (no second
    wide shuffle). At 100 TB the same trim is usually done against
    PRE-AGGREGATED per-lang quantile sketches instead of an exact
    window; the exact form here is the oracle-checkable ground truth the
    sketch version must approximate."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang", "n_chars", F.percent_rank().over(w).alias("pr")
    )
    return (
        ranked.filter(F.col("pr") <= 0.95)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


VOCAB_SIZE = 20


@query(
    "q_vocab_oov",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents
),
df AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM toks GROUP BY tok
),
vocab AS (
  SELECT tok FROM df ORDER BY doc_freq DESC, tok LIMIT {VOCAB_SIZE}
),
flagged AS (
  SELECT t.doc_id, t.lang,
         CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
)
SELECT lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
FROM flagged
GROUP BY lang
""",
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + out-of-vocabulary rate (the tokenizer-
    coverage diagnostic run before committing a vocab/BPE merge list to
    a training run): build the top-K vocabulary by document frequency
    (ties broken on the token string so the boundary is deterministic),
    then measure per-language OOV token rates against it.

    Scale shape: token DF is one uniform-key groupBy; the vocabulary is
    O(K) rows — broadcast to the membership join (corpus never
    re-shuffles); the per-lang rollup is map-side combined. The same
    two-phase broadcast-probe shape holds for a 100k-term vocab over
    100 TB of text. OOV rate divides two exact integers once, rounded
    identically on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("doc_freq"))
    vocab = df_.orderBy(F.col("doc_freq").desc(), "tok").limit(VOCAB_SIZE).select("tok")
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    ).select(
        "doc_id",
        "lang",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return flagged.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").alias("n_oov"),
        F.round(F.sum("oov").cast("double") / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


TEMPLATE_PREFIX_TOKENS = 8


@query(
    "q_template_detect",
    oracle=f"""
WITH pfx AS (
  SELECT doc_id, lang,
         array_to_string(string_split(lower(trim(text)), ' ')[1:{TEMPLATE_PREFIX_TOKENS}], ' ')
           AS prefix
  FROM documents
)
SELECT md5(prefix) AS template_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       min(doc_id) AS example_doc
FROM pfx
GROUP BY md5(prefix)
HAVING count(*) >= 5
""",
)
def q_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection (the "same page skeleton repeated
    thousands of times" curation problem): documents sharing an
    identical {TEMPLATE_PREFIX_TOKENS}-token normalized prefix group
    into a template cluster; clusters of >= 5 docs are flagged. Prefix
    grouping catches header/nav boilerplate that full-document hashing
    (q_dedup_exact) misses because the bodies differ.

    One groupBy on the md5 of the prefix — uniform key, map-side
    combined, embarrassingly parallel prefix extraction in codegen; the
    HAVING prunes before any driver materialization.

    Hot-key safety (VERDICT r03 #5): no cap is needed here — unlike the
    inverted index there is no collect_list; every aggregate
    (count / countDistinct over the tiny lang domain / min) is
    map-side-combinable constant-size state, so a template cluster of a
    billion docs costs one counter per partition, not memory."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, TEMPLATE_PREFIX_TOKENS),
        " ",
    )
    return (
        d.select("doc_id", "lang", F.md5(prefix).alias("template_id"))
        .groupBy("template_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 5)
    )


CHUNK_TOKENS = 32   # context-window chunk length, in tokens
CHUNK_STRIDE = 24   # 8-token overlap between consecutive chunks


@query(
    "q_chunk_split",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n_tok,
         CASE WHEN len(t) <= {CHUNK_TOKENS} THEN 1
              ELSE 1 + CAST(ceil(CAST(len(t) - {CHUNK_TOKENS} AS DOUBLE)
                                 / {CHUNK_STRIDE}) AS BIGINT)
         END AS n_chunks
  FROM toks
),
expanded AS (
  -- scalar range() returns a LIST, so it can take a column argument
  -- (the table-function form rejects lateral column parameters)
  SELECT doc_id, t, n_tok, unnest(range(0, n_chunks)) AS i FROM sized
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(least(i * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n_tok)
            - i * {CHUNK_STRIDE} AS BIGINT) AS chunk_len,
       t[CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT)] AS first_tok
FROM expanded
""",
)
def q_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (the tokenize-and-window step every LLM
    training pipeline runs before packing): each document becomes
    ceil-strided chunks of CHUNK_TOKENS tokens with CHUNK_TOKENS -
    CHUNK_STRIDE overlap; the final partial chunk is kept.

    Scale shape: per-row sequence() + explode — a codegen generator with
    NO shuffle at all; chunk count derives arithmetically from the token
    count, so the fan-out is bounded and data-independent per token. At
    100 TB this is the embarrassingly-parallel step before q_pack_shards'
    bucket packing."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("t")
    )
    n_tok = F.size("t")
    n_chunks = F.when(n_tok <= CHUNK_TOKENS, F.lit(1)).otherwise(
        (
            F.lit(1)
            + F.ceil((n_tok - CHUNK_TOKENS).cast("double") / CHUNK_STRIDE)
        ).cast("long")
    )
    sized = toks.select(
        "doc_id", "t", n_tok.alias("n_tok"), n_chunks.alias("n_chunks")
    )
    chunks = sized.select(
        "doc_id",
        "t",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * CHUNK_STRIDE
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_tok"),
        (F.least(start + CHUNK_TOKENS, F.col("n_tok")) - start)
        .cast("long")
        .alias("chunk_len"),
        F.element_at("t", (start + 1).cast("int")).alias("first_tok"),
    )


ZIPF_TOP = 30


@query(
    "q_token_zipf",
    oracle=f"""
WITH tf AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq
  FROM tf GROUP BY tok
)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank,
       tok, freq
FROM counts
ORDER BY rank
LIMIT {ZIPF_TOP}
""",
)
def q_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency head (Zipf profile): the top-ZIPF_TOP tokens by
    corpus frequency with their rank — the sanity plot every corpus
    build starts with (a missing Zipf head = broken tokenization; a
    too-flat head = template spam).

    Scale shape: explode -> ONE uniform-key groupBy (map-side combined)
    -> TakeOrdered top-K (per-partition heads merged on the driver,
    never a global sort). Rank ties break on the token string so the
    output is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), "tok")
    return (
        counts.orderBy(F.col("freq").desc(), "tok")
        .limit(ZIPF_TOP)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "tok", "freq")
    )


@query(
    "q_lm_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents
),
c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
n AS (SELECT count(*) AS n FROM toks),
s AS (
  SELECT tok,
         CAST(round(1000 * ln(CAST(n.n AS DOUBLE) / cnt)) AS BIGINT) AS mnat
  FROM c, n
)
SELECT t.doc_id, count(*) AS n_tok,
       CAST(sum(s.mnat) AS BIGINT) AS sum_mnat,
       round(CAST(sum(s.mnat) AS DOUBLE) / count(*), 6) AS avg_mnat
FROM toks t JOIN s ON s.tok = t.tok
GROUP BY t.doc_id
""",
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring (the KenLM-style perplexity-proxy
    quality filter from CCNet/FineWeb, reduced to its distributed
    skeleton): train a unigram LM on the corpus itself, score every
    document by total and mean token surprisal. Documents full of rare
    tokens score high (gibberish/OCR noise); boilerplate scores low.

    Float discipline: per-token surprisal is rounded ONCE, at the
    vocabulary level, into integer millinats (round(1000*ln(N/cnt)));
    per-document totals are then exact BIGINT sums — order-independent,
    so the oracle matches bit-for-bit. The nearest value sits ~0.007
    millinats from a rounding boundary (asserted in tests), ten orders
    of magnitude beyond the <=1-ulp ln() divergence between the JVM and
    C math libraries. Plan: one token shuffle builds the vocabulary
    (map-side combined), the 31-row surprisal table broadcasts back
    onto the exploded stream, and the per-doc rollup shuffles on
    doc_id. At 100 TB the vocabulary table is Zipf-bounded: broadcast
    the top-K exactly as q_vocab_oov does and give the tail a default
    surprisal."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"),
    )
    c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    n = toks.agg(F.count(F.lit(1)).alias("n"))
    s = c.crossJoin(F.broadcast(n)).select(
        "tok",
        F.round(1000 * F.log(F.col("n").cast("double") / F.col("cnt")))
        .cast("long")
        .alias("mnat"),
    )
    return (
        toks.join(F.broadcast(s), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("mnat").alias("sum_mnat"),
        )
        .select(
            "doc_id",
            "n_tok",
            "sum_mnat",
            F.round(F.col("sum_mnat").cast("double") / F.col("n_tok"), 6).alias(
                "avg_mnat"
            ),
        )
    )


@query(
    "q_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct([array_to_string(t[i:i+2], ' ')
                        FOR i IN range(1, len(t) - 1)]) AS g
  FROM toks WHERE len(t) >= 3
),
eg AS (
  SELECT doc_id, unnest(g) AS gram FROM grams
),
df AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n_docs FROM eg GROUP BY gram
)
SELECT eg.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       round(CAST(sum(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_gram_ratio
FROM eg JOIN df ON df.gram = eg.gram
GROUP BY eg.doc_id
""",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty / cross-document duplication rate:
    the fraction of a document's DISTINCT word-3-grams that also occur
    in at least one other document — the per-doc diagnostic behind
    repeated-passage contamination sweeps (the corpus-level twin of the
    pairwise MinHash family: no pairs, just document frequency).

    Scale shape: ONE groupBy on the gram string (uniform 3-gram keys,
    the same shuffle class q_dedup_minhash already carries) to get
    document frequency, then a join back on the gram and a per-doc
    rollup. Gram df-counts are map-side combinable; nothing quadratic
    anywhere. At 100 TB the gram->df table is the big intermediate —
    prune it with WHERE n_docs >= 2 semi-join form if only the shared
    grams matter (kept full here so n_grams comes from the same join)."""
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.array_distinct(_word_ngrams(F.col("text"), 3)).alias("g")
    ).filter(F.size("g") > 0)
    # ONE pass over the exploded grams (r11, guide §2.4 — the
    # substring_coverage pattern): the old groupBy(gram)+join-back shape
    # ran the gram explode subtree twice (df branch + join branch, two
    # documents scans) and shipped gram STRINGS across the network twice
    # (df partial-agg shuffle + the join). A count() window over
    # partitionBy(gram) attaches the identical document frequency inside
    # the one gram-keyed exchange the df aggregate needed anyway: one
    # scan, one gram shuffle, no join.
    from pyspark.sql import Window as W

    eg = grams.select("doc_id", F.explode("g").alias("gram"))
    n_docs_w = F.count(F.lit(1)).over(W.partitionBy("gram"))
    shared = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("long")
    return (
        eg.withColumn("n_docs", n_docs_w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            shared.alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_grams"), 6
            ).alias("dup_gram_ratio"),
        )
    )


# BM25 constants (the standard Robertson/Lucene operating point)
BM25_K1 = 1.2
BM25_B = 0.75


@query(
    "q_bm25",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, tok
),
dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         sum(CAST(dl AS DOUBLE)) / count(*) AS avgdl
  FROM dl
),
df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
),
qterms AS (
  SELECT DISTINCT tok FROM toks WHERE doc_id = 0
),
scored AS (
  SELECT tf.doc_id, tf.tok,
         -- CAST tf to DOUBLE before the k1 product: DuckDB otherwise
         -- folds (k1 + 1) to DECIMAL and computes tf * 2.2 EXACTLY,
         -- 1 ulp off Spark's double product for tf = 3, 7, 11, ...
         CAST(round(1000000 *
           ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
           (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1)) /
           (tf.tf + {BM25_K1} * (1 - {BM25_B}
                                 + {BM25_B} * dl.dl / stats.avgdl))
         ) AS BIGINT) AS term_micro
  FROM tf
  JOIN qterms ON qterms.tok = tf.tok
  JOIN df ON df.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id != 0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_matched,
       CAST(sum(term_micro) AS BIGINT) AS score_micro
FROM scored
GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT 20
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson et al. — the standard public IR scoring
    function, Lucene idf form ln(1 + (N-df+0.5)/(df+0.5))): every
    document scored against doc 0's distinct tokens as the query,
    top-20 with doc_id tie-break. The retrieval-baseline twin of
    q_tfidf, adding term-frequency saturation (k1) and length
    normalization (b).

    Cross-engine determinism: each (term, doc) partial score is rounded
    ONCE into integer micro-units, then summed exactly — per-doc totals
    never depend on float summation order (the q_lm_score pattern).

    Scale shape: tf/df/dl are the inverted-index aggregates (uniform
    token keys, map-side combined); the query-term table is a broadcast
    semi-join that prunes the tf stream before any scoring; stats is a
    one-row broadcast. No corpus self-join, no window."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("dl").cast("double")) / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qterms = toks.filter(F.col("doc_id") == 0).select("tok").distinct()
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    # multiply-then-divide in the ORACLE's association order — a
    # pre-divided saturation factor (a*(b/c) vs (a*b)/c) differs by an
    # ulp and can flip round() at a .5 micro-unit boundary on one
    # engine only
    sat_num = F.col("tf") * (BM25_K1 + 1)
    sat_den = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(qterms), "tok")
        .join(dfreq, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("doc_id") != 0)
        .select(
            "doc_id",
            F.round(1_000_000 * idf * sat_num / sat_den)
            .cast("long")
            .alias("term_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("term_micro").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q_bigram_pmi",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
ucnt AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
),
utot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ucnt),
bi AS (
  SELECT unnest([array_to_string(t[i:i+1], ' ')
                 FOR i IN range(1, len(t))]) AS bg
  FROM toks WHERE len(t) >= 2
),
bcnt AS (
  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS c12
  FROM bi GROUP BY 1, 2
),
btot AS (SELECT CAST(sum(c12) AS BIGINT) AS b FROM bcnt)
SELECT w1, w2, c12,
       CAST(round(1000 * ln(
         (CAST(c12 AS DOUBLE) * utot.t * utot.t)
         / (CAST(btot.b AS DOUBLE) * u1.c * u2.c)
       )) AS BIGINT) AS pmi_mnat
FROM bcnt
JOIN ucnt u1 ON u1.w = w1
JOIN ucnt u2 ON u2.w = w2
CROSS JOIN utot CROSS JOIN btot
ORDER BY c12 DESC, w1, w2
LIMIT 20
""",
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram pointwise mutual information (collocation mining — the
    classic phrase-detection signal behind word2vec-style phrase
    merging): PMI(w1,w2) = ln(p(w1 w2) / (p(w1) p(w2))) from exact
    corpus counts; top-20 bigrams by frequency with (w1, w2)
    tie-break.

    Cross-engine determinism: all counts are exact BIGINTs; the PMI
    ratio is assembled with the identical cast/multiply order on both
    engines and rounded once into milli-nats.

    Scale shape: two uniform-key groupBys (unigrams, bigrams) + two
    joins of the bigram table against the unigram counts — the
    unigram table is vocabulary-sized (skew-free keys after the
    count), totals are one-row broadcasts. Nothing touches the corpus
    twice."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("t")
    )
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    utot = ucnt.agg(F.sum("c").alias("t"))
    # word_ngrams already yields an empty array below 2 tokens and
    # explode drops empty arrays — no pre-filter needed
    bi = d.select(F.explode(_word_ngrams(F.col("text"), 2)).alias("bg"))
    parts = F.split(F.col("bg"), " ")
    bcnt = bi.select(
        parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2")
    ).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    btot = bcnt.agg(F.sum("c12").alias("b"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        1000
        * F.log(
            (F.col("c12").cast("double") * F.col("t") * F.col("t"))
            / (F.col("b").cast("double") * F.col("c1") * F.col("c2"))
        )
    ).cast("long")
    # u1/u2 are vocabulary-sized: no explicit broadcast hint (ADVICE
    # r04 — a forced broadcast caps out at driver memory once the
    # vocabulary outgrows the threshold; AQE broadcasts them while they
    # fit and falls back to a shuffle join when they don't). The one-row
    # total tables stay explicitly broadcast.
    return (
        bcnt.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select("w1", "w2", "c12", pmi.alias("pmi_mnat"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(20)
    )


# GPT-2-style pretokenizer regex (contraction suffixes, letter runs,
# digit runs, punctuation runs, each optionally space-prefixed) —
# restricted to RE2-compatible syntax (no lookahead) so DuckDB replays
# the exact same token stream; probed byte-identical across engines on
# contractions, hyphens, digit runs, and doubled spaces/quotes.
PRETOK_RE = "'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


@query(
    "q_token_pretokenize",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         len(string_split(trim(text), ' ')) AS ws_tokens,
         regexp_extract_all(lower(trim(text)),
           '''(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(len(toks) AS BIGINT) AS re_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_re_tokens,
       CAST((1000 * len(toks)) // ws_tokens AS BIGINT) AS fertility_permille
FROM tok
""",
)
def q_token_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex pretokenization (the GPT-2 pretokenizer shape:
    contraction suffixes, space-prefixed letter/digit runs, punctuation
    runs) — the token accounting an LLM data pipeline runs when the
    chars/4 estimate (q_token_count) is too coarse: per doc, whitespace
    tokens, regex tokens, distinct regex tokens, and fertility (the
    regex/whitespace ratio in permille). The merge loop itself belongs
    to the trainer; what a 100 TB pass needs from the engine is exactly
    this row-local extraction.

    Scale shape: one scan, row-local regexp_extract_all + array
    arithmetic — the whole query is a projection, no shuffle. The
    pattern avoids lookahead so RE2 (DuckDB) and Java regex (Spark)
    produce the identical token stream."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.lower(F.trim(F.col("text"))), F.lit(PRETOK_RE), 0
    )
    ws = F.size(F.split(F.trim(F.col("text")), " "))
    base = d.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        F.size(toks).cast("long").alias("re_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("distinct_re_tokens"),
    )
    return base.select(
        "doc_id",
        "ws_tokens",
        "re_tokens",
        "distinct_re_tokens",
        F.expr("(1000 * re_tokens) div ws_tokens").alias("fertility_permille"),
    )


# Winnowing fingerprint parameters (Schleimer/Wilkerson/Aiken 2003,
# SIGMOD — public method): k-token grams under an EXACT polynomial
# rolling hash, then the minimum hash of each w-gram window is selected.
# Token value < 10^6 and base 131 keep the largest term under 2^49 —
# every hash is exact BIGINT in both engines, no modular arithmetic.
WINNOW_K = 5    # gram width (tokens)
WINNOW_W = 4    # winnowing window (grams)
WINNOW_BASE = 131
# DuckDB: first 13 hex chars of md5(tok) as BIGINT via integer-literal
# positional weights (the q_agg_approx_portable construction)
_WINNOW_HEX13 = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(tok), {i}, 1)) - 1)"
    f" * {16 ** (13 - i)}"
    for i in range(1, 14)
)


# Shared oracle CTE chain (toks -> vals -> h -> gh_rows -> mins -> sel):
# the DuckDB replay of winnow_sel_plan, used by q_winnow_fingerprint
# and q_dedup_winnow.
_WINNOW_CTES = f"""toks AS (
  SELECT doc_id,
         generate_subscripts(t, 1) - 1 AS pos,
         unnest(t) AS tok
  FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
        FROM documents)
),
vals AS (
  SELECT doc_id, pos,
         ({_WINNOW_HEX13}) % 1000000 AS v
  FROM toks
),
h AS (
  SELECT doc_id, pos,
         v * {WINNOW_BASE ** 4}
         + lead(v, 1) OVER w * {WINNOW_BASE ** 3}
         + lead(v, 2) OVER w * {WINNOW_BASE ** 2}
         + lead(v, 3) OVER w * {WINNOW_BASE}
         + lead(v, 4) OVER w AS gh,
         lead(v, 4) OVER w AS last_v
  FROM vals
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
gh_rows AS (SELECT doc_id, pos, gh FROM h WHERE last_v IS NOT NULL),
mins AS (
  SELECT doc_id, pos,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS fp,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS wn
  FROM gh_rows
),
sel AS (SELECT DISTINCT doc_id, fp FROM mins WHERE wn = {WINNOW_W})"""


# Session-scoped memo of the winnowing fingerprint table (r11): both
# winnow consumers (q_winnow_fingerprint, q_dedup_winnow) re-ran the
# full chain (posexplode -> md5/conv gram hash -> two doc-keyed window
# passes -> distinct), and Catalyst additionally recomputes it per plan
# branch on top — 4 documents scans in q_winnow_fingerprint's before
# plan, 8 in q_dedup_winnow's (plans/r11/*_{before,after}.txt). Built
# through buildlog.session_memo inside the FIRST consumer's timed region;
# the pinned rows are the selected-fingerprint set (~2/(w+1) of gram
# rows — the winnowing density bound), DISK_ONLY so corpus-proportional
# rows never hold deserialized JVM heap. n_grams is deliberately NOT
# carried on the pin: it equals size(tokens) - (k - 1) exactly (gh_rows
# = positions with a full 5-gram), so q_winnow_fingerprint derives it
# from a column-pruned documents scan (0.26 s warm at sf0.1) instead of
# a third per-doc WindowExec inside the build (measured +0.1-0.5 s warm
# + extra codegen: 1.07-1.14 s/rep no-wall vs 1.18-1.65 with).
# Production shape: a stored fingerprint/posting table every overlap
# job scans — written once, read by each consumer; this memo is that
# table, session-scoped.


def winnow_sel_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-materialized winnowing table plan: (doc_id, fp) — the
    shared oracle CTE `sel`. One documents scan, one doc_id exchange
    for both window passes, then the distinct. Exposed separately so
    tests can assert the single-pass shape on the build itself."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias(
            "pos", "tok"
        ),
    )
    vals = toks.select(
        "doc_id",
        "pos",
        (
            F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("long")
            % 1000000
        ).alias("v"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    gh = (
        F.col("v") * WINNOW_BASE**4
        + F.lead("v", 1).over(wdoc) * WINNOW_BASE**3
        + F.lead("v", 2).over(wdoc) * WINNOW_BASE**2
        + F.lead("v", 3).over(wdoc) * WINNOW_BASE
        + F.lead("v", 4).over(wdoc)
    )
    h = vals.select(
        "doc_id", "pos", gh.alias("gh"), F.lead("v", 4).over(wdoc).alias("last_v")
    ).filter(F.col("last_v").isNotNull())
    wmin = wdoc.rowsBetween(Window.currentRow, WINNOW_W - 1)
    mins = h.select(
        "doc_id",
        F.min("gh").over(wmin).alias("fp"),
        F.count(F.lit(1)).over(wmin).alias("wn"),
    )
    return mins.filter(F.col("wn") == WINNOW_W).select("doc_id", "fp").distinct()


def winnow_sel_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, fp) winnowing table, built once per
    (session, sf_dir) and shared by q_winnow_fingerprint and
    q_dedup_winnow."""
    return session_memo(
        spark,
        sf_dir,
        "winnow_sel",
        lambda: pin(winnow_sel_plan(spark, sf_dir)),
    )


@query(
    "q_winnow_fingerprint",
    oracle=f"""
WITH {_WINNOW_CTES}
SELECT g.doc_id,
       CAST(count(DISTINCT g.pos) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT s.fp) AS BIGINT) AS n_fingerprints,
       CAST(sum(DISTINCT s.fp) AS BIGINT) AS fp_sum
FROM gh_rows g JOIN sel s ON s.doc_id = g.doc_id
GROUP BY g.doc_id
""",
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash fingerprint
    construction of MOSS): word 5-grams hashed with an exact polynomial
    rolling hash (md5-derived token values < 10^6, base 131 — largest
    term < 2^49, pure BIGINT), then each 4-gram window contributes its
    MINIMUM gram hash and the distinct selected minima are the doc's
    fingerprint set. Guarantees of the scheme: any shared token run of
    length >= k + w - 1 produces at least one shared fingerprint, and
    the selected density is ~2/(w+1) of grams — the sub-linear sketch a
    plagiarism/overlap detector indexes instead of every gram.

    Output per doc: gram count, fingerprint count, fingerprint checksum
    (the value surface the oracle validates; the at-scale consumer
    joins the (fp -> doc) posting list exactly like q_inverted_index).

    Scale shape: posexplode -> two keyed window passes (lead-composed
    rolling hash, windowed min — both partitioned by doc, never
    global) -> per-doc distinct aggregate. Linear, shuffle keyed on
    doc_id only. r11: consumes the session-shared winnow_sel_for pin —
    the old grams side re-ran the whole chain (4 documents scans in
    the before plan) just to count gh rows, but that count is exactly
    size(tokens) - (k - 1) for any doc that winnowed at least one
    fingerprint (every selected doc has a full gram window), so it
    comes from a column-pruned documents scan instead. The inner join
    emits exactly the docs with at least one selected fingerprint —
    the old output's doc set."""
    pinned = winnow_sel_for(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    # gram arity is 5 (v .. lead(v, 4) in the rolling hash), so a doc
    # has n_tokens - 4 full grams
    grams = d.select(
        "doc_id",
        (F.size(F.split(F.lower(F.trim(F.col("text"))), " ")) - 4).alias(
            "n_grams"
        ),
    )
    fps = pinned.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum("fp").alias("fp_sum"),
    )
    return grams.join(fps, "doc_id").select(
        "doc_id", "n_grams", "n_fingerprints", "fp_sum"
    )


# Per-fingerprint posting cap for the winnow pair join (the
# q_inverted_index POSTING_CAP pattern): a boilerplate fingerprint
# shared by every doc would otherwise make the posting self-join
# quadratic; capping to the lowest doc_ids keeps it linear and is
# replayed deterministically by the oracle.
WINNOW_POSTING_CAP = 256


@query(
    "q_dedup_winnow",
    oracle=f"""
WITH {_WINNOW_CTES},
post AS (
  SELECT doc_id, fp,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM sel
),
capped AS (SELECT doc_id, fp FROM post WHERE rn <= {WINNOW_POSTING_CAP}),
nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM sel GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM capped a JOIN capped b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       CAST((1000 * s.n_shared) // least(fa.n_fp, fb.n_fp) AS BIGINT)
         AS overlap_permille
FROM shared s
JOIN nf fa ON fa.doc_id = s.doc_a
JOIN nf fb ON fb.doc_id = s.doc_b
WHERE s.n_shared >= 2
""",
)
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprints — the
    posting-list join that makes the rolling-hash sketch useful at
    scale: docs sharing >= 2 selected fingerprints, with the overlap
    ratio (shared / smaller fingerprint set, permille) as the ranking
    signal. This is the MOSS detection step and a third near-dup
    family alongside MinHash (probabilistic grams) and SimHash
    (hamming chunks): winnowing guarantees any shared run of
    k + w - 1 tokens surfaces the pair — deterministic recall on
    contiguous overlap, which MinHash can only promise in expectation.

    Scale shape: the fingerprint stage shuffles on doc_id (window
    passes); the pair stage is a groupBy-bucket posting join on fp with
    a deterministic WINNOW_POSTING_CAP guard on boilerplate
    fingerprints (the q_inverted_index hot-key treatment) — candidate
    work is linear in corpus size, never a corpus self-join. r11:
    consumes the session-shared winnow_sel_for pin — the three plan
    branches below (both posting sides + nf) previously each re-ran
    the whole winnow chain (8 documents scans in the before plan); now
    they read the one pinned table."""
    sel = winnow_sel_for(spark, sf_dir).select("doc_id", "fp")
    wpost = Window.partitionBy("fp").orderBy("doc_id")
    capped = (
        sel.withColumn("rn", F.row_number().over(wpost))
        .filter(F.col("rn") <= WINNOW_POSTING_CAP)
        .drop("rn")
    )
    nf = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    fa = nf.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("nfa"))
    fb = nf.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nfb"))
    return (
        shared.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr("(1000 * n_shared) div least(nfa, nfb)").alias(
                "overlap_permille"
            ),
        )
    )


@query(
    "q_entropy_filter",
    oracle="""
WITH ch AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), '')) AS c
  FROM documents
),
f AS (
  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
  FROM ch WHERE c <> '' GROUP BY doc_id, c
),
n AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS nd
  FROM f GROUP BY doc_id
),
s AS (
  SELECT f.doc_id, f.cnt, n.n, n.nd,
         CAST(round(1000 * ln(CAST(n.n AS DOUBLE) / f.cnt)) AS BIGINT)
           AS mnat
  FROM f JOIN n ON n.doc_id = f.doc_id
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars,
       CAST(max(nd) AS BIGINT) AS n_distinct_chars,
       CAST(sum(cnt * mnat) AS BIGINT) AS entropy_mnat,
       round(CAST(sum(cnt * mnat) AS DOUBLE) / max(n), 6)
         AS entropy_mnat_per_char,
       CAST(CASE WHEN sum(cnt * mnat) < 2000 * max(n) THEN 1 ELSE 0 END
            AS INT) AS is_low_entropy
FROM s GROUP BY doc_id
""",
)
def q_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish/boilerplate filter: per-document
    Shannon entropy of the character distribution, the cheap first-pass
    quality signal used before any model-based scoring (low entropy =
    repeated-character spam or template padding; cf. the entropy rules
    in Gopher's quality heuristics, Rae 2021). Complements
    q_quality_repetition (token-level) with a sub-token signal.

    Float discipline (the q_lm_score contract): per-(doc, char)
    surprisal is rounded ONCE into integer millinats
    round(1000*ln(n/cnt)); the entropy numerator is then the exact
    BIGINT sum(cnt*mnat), order-independent, so the oracle replays
    bit-for-bit. The low-entropy flag compares integers
    (sum_mnat < 2000*n == mean entropy < 2 nats/char), never doubles.

    Plan: one explode + (doc_id, char) hash aggregate (map-side
    combined — the alphabet bounds distinct groups per doc at ~100), a
    doc-partitioned window for the per-doc totals (no extra shuffle:
    same key as the aggregate), final rollup on doc_id. Embarrassingly
    parallel at 100 TB — no cross-doc state at all."""
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "")).alias("c"),
    ).filter(F.col("c") != "")
    f = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id")
    s = f.select(
        "doc_id",
        "cnt",
        F.sum("cnt").over(w).alias("n"),
        F.count(F.lit(1)).over(w).alias("nd"),
    ).select(
        "doc_id",
        "cnt",
        "n",
        "nd",
        F.round(1000 * F.log(F.col("n").cast("double") / F.col("cnt")))
        .cast("long")
        .alias("mnat"),
    )
    return s.groupBy("doc_id").agg(
        F.max("n").alias("n_chars"),
        F.max("nd").alias("n_distinct_chars"),
        F.sum(F.col("cnt") * F.col("mnat")).alias("entropy_mnat"),
        F.round(
            F.sum(F.col("cnt") * F.col("mnat")).cast("double") / F.max("n"), 6
        ).alias("entropy_mnat_per_char"),
        F.when(
            F.sum(F.col("cnt") * F.col("mnat")) < 2000 * F.max("n"), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("is_low_entropy"),
    )


@query(
    "q_lm_bigram",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+1], ' ')
                 FOR i IN range(1, len(t))]) AS b
  FROM toks WHERE len(t) >= 2
),
sp AS (
  SELECT doc_id,
         string_split(b, ' ')[1] AS w1,
         string_split(b, ' ')[2] AS w2
  FROM bg
),
c12 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM sp GROUP BY w1, w2
),
cl AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS cl FROM c12 GROUP BY w1),
cr AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS cr FROM c12 GROUP BY w2),
nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM c12),
tab AS (
  SELECT c12.w1, c12.w2,
         CAST(round(1000 * (ln(4.0 * cl.cl * nn.n)
                            - ln((3.0 * c12.c12 * nn.n)
                                 + (CAST(cl.cl AS DOUBLE) * cr.cr))))
              AS BIGINT) AS mnat
  FROM c12
  JOIN cl ON cl.w1 = c12.w1
  JOIN cr ON cr.w2 = c12.w2
  CROSS JOIN nn
)
SELECT sp.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(tab.mnat) AS BIGINT) AS sum_mnat,
       round(CAST(sum(tab.mnat) AS DOUBLE) / count(*), 6) AS avg_mnat
FROM sp JOIN tab ON tab.w1 = sp.w1 AND tab.w2 = sp.w2
GROUP BY sp.doc_id
""",
)
def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring — the next rung above
    q_lm_score's unigram surprisal on the CCNet/KenLM quality-filter
    ladder: train bigram statistics on the corpus itself, score every
    document by mean bigram surprisal under the Jelinek-Mercer mixture
    P(w2|w1) = 0.75*c(w1,w2)/c(w1·) + 0.25*c(·w2)/N (all statistics
    over the bigram table: c(w1·)/c(·w2) are its left/right marginals,
    N its total — so sum_w2 P(w2|w1) = 1 exactly).

    Float discipline: the mixture is a ratio of integers,
    p = (3*c12*N + cl*cr) / (4*cl*N), so per-bigram surprisal is
    rounded ONCE at the vocabulary level —
    mnat = round(1000*(ln(4.0*cl*N) - ln(3.0*c12*N + cl*cr))) — with
    IDENTICAL parenthesization in both engines (double products/sums
    are IEEE-deterministic given the same order; only ln carries the
    documented <=1-ulp cross-libm risk, same accepted class as
    q_lm_score). Per-document totals are exact BIGINT sums.

    Plan: one token-pair shuffle builds c12 (map-side combined); the
    marginals reduce FROM c12 (vocab-sized, not corpus-sized); the
    surprisal table broadcasts back onto the bigram stream; per-doc
    rollup shuffles on doc_id. At 100 TB the bigram table is the one
    scale knob: broadcast the top-K bigrams exactly as q_vocab_oov
    does and give the tail the unigram backoff — the 0.25*cr/N term
    already is that backoff, so truncation only coarsens, never
    breaks, the mixture."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("t")
    ).filter(F.size("t") >= 2)
    # adjacent pairs row-locally (zip of the two shifted slices) — no
    # positional self-join, no extra shuffle before the count aggregate
    sp = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.slice("t", 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c12 = sp.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    cl = c12.groupBy("w1").agg(F.sum("c12").alias("cl"))
    cr = c12.groupBy("w2").agg(F.sum("c12").alias("cr"))
    nn = c12.agg(F.sum("c12").alias("n"))
    tab = (
        c12.join(F.broadcast(cl), "w1")
        .join(F.broadcast(cr), "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            F.round(
                1000
                * (
                    F.log(4.0 * F.col("cl") * F.col("n"))
                    - F.log(
                        (3.0 * F.col("c12") * F.col("n"))
                        + (F.col("cl").cast("double") * F.col("cr"))
                    )
                )
            )
            .cast("long")
            .alias("mnat"),
        )
    )
    return (
        sp.join(F.broadcast(tab), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("mnat").alias("sum_mnat"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_mnat",
            F.round(
                F.col("sum_mnat").cast("double") / F.col("n_bigrams"), 6
            ).alias("avg_mnat"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed BPE merge learning (Sennrich et al. 2016 "Neural Machine
# Translation of Rare Words with Subword Units", alg. 1). The corpus-scale
# stage is the word-frequency aggregation; the merge loop then runs on the
# aggregated word dictionary — a DataFrame many orders of magnitude smaller
# than the corpus but still distributed (no collect).
#
# Symbol-sequence encoding: each word is rendered as its characters wrapped
# in parens plus an end-of-word marker, e.g. "the" -> "(t)(h)(e)(</w>)".
# Applying merge (x, y) is then the single string rewrite
#     replace(rep, "(x)(y)", "(xy)")
# and because every token carries its OWN delimiters, adjacent merge sites
# share no characters — leftmost non-overlapping replace() (identical
# semantics in Spark and DuckDB, verified) applies the merge greedily
# left-to-right over runs like "(a)(a)(a)(a)" -> "(aa)(aa)", exactly the
# reference BPE behavior. A space-separated encoding would get this wrong:
# "a a a a" with pattern "a a" consumes the shared boundary space and
# yields "aa a a" on the continuation scan.
# The encoding is injective only on PAREN-FREE tokens, so the word-count
# stage drops words containing '(' or ')' (identically in both engines);
# a production tokenizer maps such bytes through an escape alphabet first
# (GPT-2's byte-to-unicode table is the standard choice).
BPE_ITERS = 3
_BPE_TOKS_RE = r"\(([^)]*)\)"


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """(rep, cnt) -> (lhs, rhs, cnt) adjacent-pair supports.

    Row-local: token split + zip_with adjacency explode, then one
    map-side-combinable aggregate over the (small) dictionary."""
    toks = F.regexp_extract_all(F.col("rep"), F.lit(_BPE_TOKS_RE), 1)
    pairs = F.expr(
        "zip_with(slice(toks, 1, size(toks) - 1),"
        "         slice(toks, 2, size(toks) - 1),"
        "         (x, y) -> struct(x AS lhs, y AS rhs))"
    )
    return (
        words.select(F.col("cnt"), toks.alias("toks"))
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def _bpe_top_pair(pair_counts: DataFrame) -> DataFrame:
    """The next merge: highest support, ties broken lexicographically."""
    return pair_counts.orderBy(
        F.col("cnt").desc(), F.col("lhs"), F.col("rhs")
    ).limit(1)


# Oracle replica of one merge round: pair supports via per-word lead()
# window (reps are unique — the paren encoding is injective), top-1 by
# (cnt DESC, lhs, rhs), rewrite via the same replace().
def _bpe_round_ctes(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
p{i} AS (
  SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    SELECT rep, cnt, c AS lhs,
           lead(c) OVER (PARTITION BY rep ORDER BY pos) AS rhs
    FROM (SELECT rep, cnt, generate_subscripts(t, 1) AS pos, unnest(t) AS c
          FROM (SELECT rep, cnt,
                       regexp_extract_all(rep, '{_BPE_TOKS_RE}', 1) AS t
                FROM {prev}))
  ) WHERE rhs IS NOT NULL GROUP BY lhs, rhs
),
m{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
r{i} AS (
  SELECT replace(w.rep, '(' || m.lhs || ')(' || m.rhs || ')',
                 '(' || m.lhs || m.rhs || ')') AS rep, w.cnt AS cnt
  FROM {prev} w, m{i} m
)"""


@query(
    "q_bpe_learn",
    oracle=f"""
WITH wc AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> '' AND NOT contains(tok, '(') AND NOT contains(tok, ')')
  GROUP BY tok
),
r0 AS (
  SELECT '(' || array_to_string(string_split(word, ''), ')(') || ')(</w>)'
           AS rep,
         cnt
  FROM wc
),{",".join(_bpe_round_ctes(i) for i in range(1, BPE_ITERS + 1))}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT CAST({i} AS BIGINT) AS iteration, lhs, rhs, lhs || rhs AS merged, cnt AS support FROM m{i}"
      for i in range(1, BPE_ITERS + 1)
  )}
) ORDER BY iteration
""",
)
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning, {BPE_ITERS} rounds: the tokenizer-
    training pass of an LLM data pipeline, run corpus-in (Sennrich 2016
    alg. 1). Emits one row per learned merge (iteration, lhs, rhs,
    merged, support), deterministic under (support DESC, lhs, rhs)
    tie-breaking.

    Scale shape: the ONLY corpus-proportional stage is the word-count
    aggregate (one scan, map-side combine — the same shuffle class as
    q_term_freq). Every merge round then operates on the word DICTIONARY
    (vocabulary-sized, bounded by Heaps' law — millions of rows at
    100 TB, not billions): a row-local pair explode, a pair-count
    aggregate, a one-row TakeOrdered top pair broadcast back, and a
    row-local replace() rewrite. Rounds chain lazily; nothing is
    collected to the driver. At 256+ merge rounds one would
    pin the dictionary every ~32 rounds to bound plan depth
    — with {BPE_ITERS} rounds the raw chain is cheaper.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
        )
        .filter(
            (F.col("word") != "")
            & ~F.col("word").contains("(")
            & ~F.col("word").contains(")")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = wc.select(
        F.concat(
            F.lit("("),
            F.concat_ws(")(", F.split(F.col("word"), "")),
            F.lit(")(</w>)"),
        ).alias("rep"),
        "cnt",
    )
    merges = []
    for i in range(1, BPE_ITERS + 1):
        top = _bpe_top_pair(_bpe_pair_counts(words))
        merges.append(
            top.select(
                F.lit(i).cast("long").alias("iteration"),
                "lhs",
                "rhs",
                F.concat(F.col("lhs"), F.col("rhs")).alias("merged"),
                F.col("cnt").alias("support"),
            )
        )
        words = words.crossJoin(F.broadcast(top.select("lhs", "rhs"))).select(
            F.expr(
                "replace(rep, '(' || lhs || ')(' || rhs || ')',"
                "        '(' || lhs || rhs || ')')"
            ).alias("rep"),
            "cnt",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.orderBy("iteration")


BPE_APPLY_TOPK = 20


@query(
    "q_bpe_apply",
    oracle=f"""
WITH wc AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> '' AND NOT contains(tok, '(') AND NOT contains(tok, ')')
  GROUP BY tok
),
r0 AS (
  SELECT '(' || array_to_string(string_split(word, ''), ')(') || ')(</w>)'
           AS rep,
         cnt
  FROM wc
),{",".join(_bpe_round_ctes(i) for i in range(1, BPE_ITERS + 1))},
vocab AS (
  SELECT sym, CAST(sum(cnt) AS BIGINT) AS n_occurrences
  FROM (SELECT cnt, unnest(regexp_extract_all(rep, '{_BPE_TOKS_RE}', 1)) AS sym
        FROM r{BPE_ITERS})
  GROUP BY sym
)
SELECT CAST(rn AS BIGINT) AS rank, sym, n_occurrences FROM (
  SELECT sym, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, sym) AS rn
  FROM vocab
) WHERE rn <= {BPE_APPLY_TOPK}
""",
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-with-learned-merges — the other half of q_bpe_learn's
    loop: re-derive the {BPE_ITERS} BPE merges, apply them to the word
    dictionary, and emit the corpus-weighted top-{BPE_APPLY_TOPK} symbol
    frequencies of the resulting subword vocabulary (the table a
    tokenizer-budget analysis reads: which subwords carry the corpus).

    Scale shape: identical to q_bpe_learn (one corpus-proportional
    word-count shuffle, then dictionary-sized rounds) plus one
    row-local token explode over the dictionary and a
    map-side-combinable symbol aggregate; the final top-k is a
    TakeOrdered. Nothing beyond the dictionary is ever reshuffled."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
        )
        .filter(
            (F.col("word") != "")
            & ~F.col("word").contains("(")
            & ~F.col("word").contains(")")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = wc.select(
        F.concat(
            F.lit("("),
            F.concat_ws(")(", F.split(F.col("word"), "")),
            F.lit(")(</w>)"),
        ).alias("rep"),
        "cnt",
    )
    for _ in range(BPE_ITERS):
        top = _bpe_top_pair(_bpe_pair_counts(words))
        words = words.crossJoin(F.broadcast(top.select("lhs", "rhs"))).select(
            F.expr(
                "replace(rep, '(' || lhs || ')(' || rhs || ')',"
                "        '(' || lhs || rhs || ')')"
            ).alias("rep"),
            "cnt",
        )
    toks = F.regexp_extract_all(F.col("rep"), F.lit(_BPE_TOKS_RE), 1)
    vocab = (
        words.select("cnt", F.explode(toks).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("cnt").alias("n_occurrences"))
    )
    top = vocab.orderBy(F.col("n_occurrences").desc(), "sym").limit(BPE_APPLY_TOPK)
    w = Window.orderBy(F.col("n_occurrences").desc(), "sym")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "sym",
        "n_occurrences",
    )


# TextRank keyword extraction: PageRank over the word co-occurrence
# graph (Mihalcea & Tarau 2004). Same exact-integer iteration contract
# as operators/graph.py — ranks are BIGINTs at 1e12 scale with
# floor-division damping so DuckDB replays all iterations bit-for-bit.
TR_SCALE = 10**12
TR_ITERS = 3


def _textrank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, TR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT e.dst AS node,
         base.b + (85 * COALESCE(SUM(({prev}.rank * e.w) // wt.w_total), 0)) // 100
           AS rank
  FROM edges e
  JOIN {prev} ON {prev}.node = e.src
  JOIN wtot wt ON wt.src = e.src
  CROSS JOIN base
  GROUP BY e.dst, base.b
)"""
        )
        prev = f"r{i}"
    return f"""
WITH toks AS (
  SELECT string_split(lower(trim(text)), ' ') AS t FROM documents
),
bi AS (
  SELECT unnest([array_to_string(t[i:i+1], ' ')
                 FOR i IN range(1, len(t))]) AS bg
  FROM toks WHERE len(t) >= 2
),
bcnt AS (
  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS c
  FROM bi GROUP BY 1, 2
),
edges AS (
  SELECT src, dst, CAST(sum(c) AS BIGINT) AS w FROM (
    SELECT w1 AS src, w2 AS dst, c FROM bcnt WHERE w1 <> w2
    UNION ALL
    SELECT w2 AS src, w1 AS dst, c FROM bcnt WHERE w1 <> w2
  ) GROUP BY src, dst
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
n AS (SELECT count(*) AS n FROM nodes),
base AS (SELECT (15 * ({TR_SCALE} // n.n)) // 100 AS b FROM n),
wtot AS (SELECT src, CAST(sum(w) AS BIGINT) AS w_total FROM edges GROUP BY src),
r0 AS (SELECT node, {TR_SCALE} // n.n AS rank FROM nodes, n),
{",".join(iters)}
SELECT node AS term, CAST(rank AS BIGINT) AS rank_scaled
FROM r{TR_ITERS}
ORDER BY rank_scaled DESC, term
LIMIT 20
"""


@query("q_keyword_textrank", oracle=_textrank_oracle())
def q_keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus word co-occurrence graph — nodes are terms, an
    undirected edge's weight counts how often the two terms are
    adjacent — then the top-20 terms by rank. The unsupervised
    keyword/keyphrase signal a curation pipeline uses for topic
    tagging and prompt seeding where TF-IDF over-rewards rare typos.

    Composition proof: the bigram extraction of q_bigram_pmi feeding
    the exact-integer PageRank loop of q_pagerank, re-pointed at a
    vocabulary-sized graph. Scale shape: the corpus is touched ONCE
    (bigram explode + count shuffle); everything after — symmetric
    edge expansion, three join+aggregate rounds — runs on the
    vocabulary-sized edge table (Heaps-law-sublinear in corpus size),
    with each round's rank vector pinned to truncate the
    unrolled lineage (same discipline as graph.py, which measured 25
    redundant scans without it). Per-round totals (`n`, damping base)
    are one-row broadcasts.
    """
    d = load_table(spark, sf_dir, "documents")
    bi = d.select(F.explode(_word_ngrams(F.col("text"), 2)).alias("bg"))
    parts = F.split(F.col("bg"), " ")
    bcnt = (
        bi.select(parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2"))
        .filter(F.col("w1") != F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    edges = pin(
        bcnt.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
        .unionAll(bcnt.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "c"))
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("long").alias("w"))
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = n.select(F.expr(f"(15 * ({TR_SCALE} div n)) div 100").alias("b"))
    wtot = edges.groupBy("src").agg(F.sum("w").cast("long").alias("w_total"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", F.expr(f"{TR_SCALE} div n").alias("rank")
    )
    for _ in range(TR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(wtot, "src")
            .select("dst", F.expr("(rank * w) div w_total").alias("c"))
        )
        ranks = pin(
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("sc"))
            .crossJoin(F.broadcast(base))
            .select(
                "node", F.expr("b + (85 * coalesce(sc, 0)) div 100").alias("rank")
            )
        )
    return (
        ranks.select("node", "rank")
        .select(F.col("node").alias("term"), F.col("rank").cast("long").alias("rank_scaled"))
        .orderBy(F.col("rank_scaled").desc(), "term")
        .limit(20)
    )
