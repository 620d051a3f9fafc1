"""§2.10 Text-analysis operators over ``documents``.

Tokenization convention (shared by every operator + oracle): split on a
single space, drop empty tokens (fixture texts end with a space —
FIXTURES.md).  All operators are full DataFrame pipelines: tokenize →
explode → aggregate, i.e. linear scans + keyed shuffles that scale to
100 TB of documents unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_documents, table_rows
from ..numerics import DEC, round9_dec, sql_dec2dbl, sql_round9_dec
from ..registry import query
from .hashing import sql_md5_long

# Both engines: array of non-empty space-separated tokens.
# array_remove(split, '') ≡ filter(split, x -> x <> '') for split
# output (split never yields NULL elements; NULL text → NULL both
# ways), but array_remove is a codegen'd collection op while the
# filter lambda is an interpreted HOF evaluated once per token — at
# the 100× fixture swapping it read 6.15 → 4.03 s on the tfidf
# dictionary branch and 3.31 → 3.02 s on the minhash token-hash
# projection, every interleaved pair (r14 session 2,
# scripts/ab_tokens_arrayremove_r14.json; parity exceptAll 0).
_SPARK_TOKENS = "array_remove(split(text, ' '), '')"
_DUCK_TOKENS = "list_filter(string_split(text, ' '), x -> x <> '')"

# Token-position ceiling for the DuckDB oracles ONLY (review r13: this
# was a silent inline `range(1, 256)` in seven oracles).  DuckDB 1.0's
# generate_series/range cannot take a lateral column bound, so position
# enumeration uses a CONSTANT range + `WHERE i <= len(ts)` — correct
# only while every fixture document stays under this many tokens.  The
# Spark side enumerates ALL positions, so an over-cap doc would make the
# oracle silently drop tail shingles and present as an engine mismatch;
# tests/test_llm.py::test_fixture_token_counts_within_oracle_cap fails
# LOUDLY against every generated sf dir instead (documents.text maxes
# out at ~100 tokens by generation — see FIXTURES.md).
_ORACLE_MAX_TOKENS = 256
# Same discipline for q_llm_text_chunk's chunk-id enumeration.
_ORACLE_MAX_CHUNKS = 64

# Shingle/bigram builders over a *materialized* token-array column `ts` —
# inlining the tokenizer inside each element_at would re-split the text
# per element (O(tokens²) per doc; showed up as 7s of the sf0.1 bench).
# Guarded with IF(...) for short docs: ANSI mode makes out-of-range
# element_at throw, and sequence(1, 0) yields a DESCENDING [1, 0] rather
# than an empty array, so an unguarded transform crashes on 1-token docs.
_SPARK_BIGRAMS_TS = """
    if(size(ts) >= 2,
       transform(sequence(1, size(ts) - 1),
                 i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1))),
       array())"""
_SPARK_SHINGLES3_TS = """
    if(size(ts) >= 3,
       transform(sequence(1, size(ts) - 2),
                 i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1), ' ',
                             element_at(ts, i + 2))),
       array())"""


def tokens_col():
    return F.expr(_SPARK_TOKENS)


@query(
    "q_llm_text_tokenize_tf",
    oracle=f"""
SELECT t.tok AS term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM documents, unnest({_DUCK_TOKENS}) AS t(tok)
GROUP BY t.tok
""",
)
def q_llm_text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequencies (word-count shape: explode+agg)."""
    docs = spread_documents(spark, sf_dir)
    return (
        docs.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"),
             F.countDistinct("doc_id").alias("df"))
    )


# Shared TF-IDF machinery (q_llm_text_tfidf + q_llm_text_keywords — one
# source of truth for the formula on both engines).  In the ORACLE, df
# derives from tf (COUNT of (doc,term) rows per term ≡ COUNT(DISTINCT
# doc_id) over raw tokens) — DuckDB runs single-node so the CTE chain
# is free; the Spark side builds df independently from per-doc-distinct
# terms so only one branch pays the full corpus scan (see
# _tfidf_scored).
_TFIDF_CTES = f"""tok AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest({_DUCK_TOKENS}) AS t(tok)
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)"""


def _tfidf_scored(spark: SparkSession, sf_dir: str, bound: int) -> DataFrame:
    """(doc_id, term, tf, tfidf) for doc_id < bound.

    No persist on tf (r7 bench regression + ADVICE cache-leak note),
    and — the round-9 shuffle fix — df is NOT derived from a full
    (doc_id, term) aggregate: df(term) = COUNT(DISTINCT doc_id) equals
    a plain COUNT over per-doc-DISTINCT terms, and distinct-within-doc
    is a *projection* (``array_distinct`` on the token array), so the
    dictionary branch is explode→one groupBy(term) whose map-side
    partial combine shrinks the shuffle to |per-partition vocabulary|
    rows.  The old tf→df derivation shuffled every (doc, term) pair
    twice (~600M rows at the 100× fixture; 21.5 s → see BASELINE.md
    round-9 ledger).  The scored branch filters doc_id < bound at the
    scan (pushed filter, plan-asserted), so only the df branch pays
    the full corpus scan — once, through one Exchange.
    """
    docs = spread_documents(spark, sf_dir)
    df = (
        docs.select(F.explode(F.array_distinct(tokens_col())).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    tf = (
        docs.filter(F.col("doc_id") < bound)
        .select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    # N from catalog stats (parquet footer) — no extra corpus scan.
    n_docs = table_rows(sf_dir, "documents")
    return (
        tf.join(F.broadcast(df), "term")
        .select(
            "doc_id", "term", "tf",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
            .alias("tfidf"),
        )
    )


@query(
    "q_llm_text_tfidf",
    oracle=f"""
WITH {_TFIDF_CTES}
SELECT tf.doc_id, tf.term, tf.tf,
       ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
WHERE tf.doc_id < 50
""",
)
def q_llm_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): the df dictionary is ONE full-corpus
    explode of per-doc-DISTINCT terms into a single groupBy(term) (the
    round-9 shape — see _tfidf_scored), the scored tf branch prunes to
    doc_id < 50 at the scan (pushed filter, plan-asserted by
    test_tfidf_scored_branch_prunes_scan; nothing pinned — the r8
    cache-leak fix stands), then a broadcast join (the dictionary is
    tiny relative to the corpus — at 100 TB the df side still
    broadcasts after aggregation)."""
    return _tfidf_scored(spark, sf_dir, 50)


@query(
    "q_llm_text_stats",
    oracle=f"""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len({_DUCK_TOKENS})) AS BIGINT) AS sum_tokens
FROM documents
GROUP BY lang, source
""",
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) document statistics (integer sums → exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(F.size(tokens_col())).alias("sum_tokens"),
    )


@query(
    "q_llm_text_ngrams",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents
)
SELECT ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS bigram, COUNT(*) AS n
FROM tok, range(1, {_ORACLE_MAX_TOKENS}) AS g(i)
WHERE i <= len(ts) - 1
GROUP BY 1
HAVING COUNT(*) >= 20
""",
)
def q_llm_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram extraction: sequence+transform HOF (no UDF), explode, count."""
    docs = spread_documents(spark, sf_dir)
    return (
        docs.select(tokens_col().alias("ts"))
        .select(F.explode(F.expr(_SPARK_BIGRAMS_TS)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )


# Stopword-ish markers per language for the n-gram language-ID heuristic.
# Only the English marker list is scored: the synthetic fixture corpus
# is English-ish, so the production per-language argmax is represented
# by its plumbing with one language (review r12: the old dict carried
# four never-read language entries that implied an argmax which does
# not exist).  A real deployment extends this to per-language marker
# scores -> greatest()/max_by argmax over the same shape.
_EN_MARKERS = ["the", "a"]


@query(
    "q_llm_text_langid",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {" + ".join(f"len(list_filter({_DUCK_TOKENS}, x -> x = '{m}'))"
                     for m in _EN_MARKERS)} AS en_score
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN en_score > 0 THEN 'en' ELSE 'unknown' END AS pred_lang,
       en_score
FROM scored
""",
)
def q_llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (the fixture corpus is synthetic
    English-ish, so the production n-gram-profile model is represented by
    its plumbing: per-language marker scores → argmax).  Pure column ops —
    no UDF, scales as a scan."""
    docs = spread_documents(spark, sf_dir)
    en_score = sum(
        (F.size(F.expr(f"filter({_SPARK_TOKENS}, x -> x = '{m}')"))
         for m in _EN_MARKERS),
        F.lit(0),
    )
    return docs.select(
        "doc_id", "lang",
        F.when(en_score > 0, "en").otherwise("unknown").alias("pred_lang"),
        en_score.alias("en_score"),
    )


_STOPWORDS = ["the", "a", "of", "and", "to"]


@query(
    "q_llm_text_quality",
    oracle=f"""
WITH feat AS (
  SELECT doc_id,
         n_chars,
         len({_DUCK_TOKENS}) AS n_tok,
         len(list_filter({_DUCK_TOKENS},
             x -> list_contains({_STOPWORDS!r}, x))) AS n_stop
  FROM documents
)
SELECT doc_id, n_tok, n_stop,
       CAST(n_chars AS DOUBLE) / NULLIF(n_tok, 0) AS avg_word_len,
       CAST(n_stop AS DOUBLE) / NULLIF(n_tok, 0) AS stop_ratio,
       ROUND(LEAST(1.0, n_tok / 100.0) * 0.5
             + LEAST(1.0, COALESCE(5.0 * n_stop / NULLIF(n_tok, 0), 0.0))
               * 0.5, 6) AS quality_score
FROM feat
""",
)
def q_llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length + stopword-ratio components), the
    standard pretraining-data filter shape; pure column arithmetic."""
    docs = spread_documents(spark, sf_dir)
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    n_tok = F.size(tokens_col())
    n_stop = F.size(F.expr(
        f"filter({_SPARK_TOKENS}, x -> array_contains(array({stop_list}), x))"))
    # try_divide / NULLIF: an empty document (n_tok=0) must score, not
    # throw DIVIDE_BY_ZERO under the ANSI default — this key IS the
    # garbage-input gate (review r10).  Contract: ratios NULL, score
    # falls back to the length component only; oracle mirrors.
    return docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_stop.alias("n_stop"),
        F.try_divide(F.col("n_chars").cast("double"),
                     n_tok).alias("avg_word_len"),
        F.try_divide(n_stop.cast("double"), n_tok).alias("stop_ratio"),
        F.round(
            F.least(F.lit(1.0), n_tok / F.lit(100.0)) * 0.5
            + F.least(F.lit(1.0),
                      F.coalesce(F.try_divide(F.lit(5.0) * n_stop, n_tok),
                                 F.lit(0.0))) * 0.5, 6
        ).alias("quality_score"),
    )


@query(
    "q_llm_text_tokens",
    oracle=f"""
SELECT doc_id,
       len({_DUCK_TOKENS}) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS approx_bpe_tokens
FROM documents
""",
)
def q_llm_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, regex word-split (the
    BPE-ish pretokenizer), and the chars/4 BPE budget estimate."""
    docs = spread_documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(tokens_col()).alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias("re_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("approx_bpe_tokens"),
    )


# Per-language sampling rates (training-data mixture reweighting): keep
# all high-resource 'en', downsample the rest.  Percent thresholds against
# a portable hash make the sample deterministic AND engine-independent.
_MIX_RATES = {"en": 100, "de": 60, "fr": 60, "es": 40, "zh": 40}

_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items()) + " ELSE 20 END"


@query(
    "q_llm_sample_stratified",
    oracle=f"""
SELECT doc_id, lang, source,
       {sql_md5_long("CAST(doc_id AS VARCHAR)", 8)} % 100 AS hash_pct
FROM documents
WHERE {sql_md5_long("CAST(doc_id AS VARCHAR)", 8)} % 100 < {_MIX_CASE}
""",
)
def q_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for data-mixture reweighting:
    keep a doc iff hash(doc_id) % 100 < rate(lang).  Hash-based Bernoulli
    sampling is THE scalable sampler — stateless, reproducible across
    runs/engines/retries, no sort, no count pass; changing the mixture is
    a literal edit, not a reshuffle."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(sql_md5_long("CAST(doc_id AS STRING)", 8)) % 100
    rate = F.expr(_MIX_CASE)
    return (
        docs.select("doc_id", "lang", "source", h.alias("hash_pct"),
                    rate.alias("_rate"))
        .filter(F.col("hash_pct") < F.col("_rate"))
        .drop("_rate")
    )


_SHARD_HASH_D = sql_md5_long("concat('shard:', CAST(doc_id AS VARCHAR))", 8)
_SHARD_HASH_S = sql_md5_long("concat('shard:', CAST(doc_id AS STRING))", 8)
_ORD_HASH_D = sql_md5_long("concat('ord:', CAST(doc_id AS VARCHAR))", 12)
_ORD_HASH_S = sql_md5_long("concat('ord:', CAST(doc_id AS STRING))", 12)
_N_SHARDS = 16


@query(
    "q_llm_corpus_shard",
    oracle=f"""
SELECT doc_id,
       {_SHARD_HASH_D} % {_N_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY {_SHARD_HASH_D} % {_N_SHARDS}
            ORDER BY {_ORD_HASH_D}, doc_id) AS BIGINT) AS pos
FROM documents
""",
)
def q_llm_corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment with a seeded global shuffle: every doc
    gets a deterministic shard (salted portable hash mod n_shards) and a
    within-shard position ordered by an INDEPENDENTLY-salted hash — the
    "shuffle the corpus, then write fixed shards" step every epoch-zero
    training pipeline runs.  Both hashes are stable across runs, engines
    and retries, so shard contents and order never change under
    recomputation (the q_llm_text_split discipline, second salt stream).

    Scale: the shard assignment is a pure projection; the position
    window funnels each shard into one task, which is BY DESIGN the
    writer's parallelism — at 100 TB you pick n_shards so a shard is
    ~1-4 GB (tens of thousands of tasks, each sorting one output file),
    exactly what ``repartition(shard).sortWithinPartitions(ord)``
    followed by a per-partition writer does; the 16 here matches the
    fixture size."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.expr(_SHARD_HASH_S) % _N_SHARDS
    w = Window.partitionBy(shard).orderBy(F.expr(_ORD_HASH_S), F.col("doc_id"))
    return docs.select(
        "doc_id", shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"))


_SPLIT_HASH = sql_md5_long("concat('split:', CAST(doc_id AS VARCHAR))", 8)


@query(
    "q_llm_text_split",
    oracle=f"""
SELECT doc_id, lang,
       {_SPLIT_HASH} % 1000 AS bucket,
       CASE WHEN {_SPLIT_HASH} % 1000 < 900 THEN 'train'
            WHEN {_SPLIT_HASH} % 1000 < 950 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_llm_text_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by portable
    salted hash of doc_id: stable across runs, engines, retries and
    re-partitionings — the property a 100 TB split MUST have so a doc
    never migrates between splits when the pipeline reruns.  The salt
    decorrelates the split from the sampling hash in
    q_llm_sample_stratified (same helper, different stream)."""
    docs = load_table(spark, sf_dir, "documents")
    # Spark concat() matches the SQL text modulo STRING/VARCHAR spelling.
    h = F.expr(sql_md5_long("concat('split:', CAST(doc_id AS STRING))", 8)) % 1000
    return docs.select(
        "doc_id", "lang", h.alias("bucket"),
        F.when(h < 900, "train").when(h < 950, "val").otherwise("test")
        .alias("split"),
    )


@query(
    "q_llm_text_redact",
    oracle=r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(text || ' contact: user' || doc_id || '@example.com code 1234',
                        '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
         '[0-9]+', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(text || ' contact: user' || doc_id || '@example.com code 1234',
                              '[0-9]+')) AS n_numbers
FROM documents
""",
)
def q_llm_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of emails and digit runs (synthetic
    PII is appended since the fixture corpus has none — the operator is
    the point).  Plain regexp_replace: JVM-side, streams with the scan."""
    docs = spread_documents(spark, sf_dir)
    dirty = F.concat(
        F.col("text"), F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com code 1234"))
    # ONE dirty expression feeds both outputs (review r12: n_numbers
    # re-spelled the synthetic-PII suffix as an inline SQL string —
    # editing the PII in one copy would silently desynchronize the two)
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(dirty, "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
            "[0-9]+", "<NUM>").alias("redacted"),
        F.size(F.regexp_extract_all(dirty, F.lit("[0-9]+"), F.lit(0)))
        .alias("n_numbers"),
    )


_CHUNK, _STRIDE = 32, 24  # 32-token chunks, 8-token overlap


@query(
    "q_llm_text_chunk",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents
),
spans AS (
  SELECT doc_id, ts, CAST(i AS INT) AS chunk_id,
         CAST(1 + i * {_STRIDE} AS INT) AS start
  FROM tok, range(0, {_ORACLE_MAX_CHUNKS}) AS g(i)
  WHERE i = 0 OR 1 + i * {_STRIDE} <= len(ts)
)
SELECT doc_id, chunk_id,
       array_to_string(ts[start : start + {_CHUNK - 1}], ' ') AS chunk_text,
       len(ts[start : start + {_CHUNK - 1}]) AS n_tokens
FROM spans
""",
)
def q_llm_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for context-length-bounded training: 32-token
    sliding chunks with 8-token overlap (stride 24).  Pure HOF pipeline —
    sequence of chunk starts → slice → join; one scan, output rows ∝
    corpus tokens / stride."""
    docs = spread_documents(spark, sf_dir)
    # max chunk_id: largest i with 1 + i*stride <= n_tokens, i.e.
    # floor((n-1)/stride) — identical to the oracle's WHERE predicate.
    chunks = F.expr(f"""
        transform(
          sequence(0, int(greatest(floor((size(ts) - 1) / {_STRIDE}.0), 0))),
          i -> struct(i AS chunk_id,
                      slice(ts, 1 + i * {_STRIDE}, {_CHUNK}) AS toks))
    """)
    return (
        docs.select("doc_id", tokens_col().alias("ts"))
        .select("doc_id", F.explode(chunks).alias("ch"))
        .select(
            "doc_id",
            F.col("ch.chunk_id").alias("chunk_id"),
            # NULL chunk_text for a zero-token doc's chunk 0 (review
            # r13): DuckDB's array_to_string([]) is NULL while Spark's
            # array_join([]) is '' — the same dialect trap as
            # q_llm_emb_quantize's empty vector
            F.when(F.size("ch.toks") > 0,
                   F.array_join("ch.toks", " ")).alias("chunk_text"),
            F.size("ch.toks").alias("n_tokens"),
        )
    )


@query(
    "q_llm_text_fingerprint",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents
),
shingle AS (
  SELECT doc_id,
         ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' '
           || ts[CAST(i AS INT) + 2] AS sh
  FROM tok, range(1, {_ORACLE_MAX_TOKENS}) AS g(i)
  WHERE i <= len(ts) - 2
)
SELECT doc_id,
       MIN({sql_md5_long('sh')}) AS fingerprint,
       COUNT(DISTINCT sh) AS n_shingles
FROM shingle
GROUP BY doc_id
""",
)
def q_llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min portable-hash over 3-word shingles (the
    k=1 winnowing/MinHash primitive), oracle-checkable because the hash is
    built from md5 hex digits identically in both engines (hashing.py).

    Shape: a pure per-doc PROJECTION — the shingle set lives in an array
    expression, so min-hash = array_min over a transform and the
    distinct count = size(array_distinct(...)); zero exchanges, zero
    explode.  The first form exploded shingles into a (doc, shingle)-
    grain groupBy whose count-distinct shuffled 94M shingle strings at
    100×, and inlining sql_md5_long re-evaluated md5 once PER HEX DIGIT
    (12× per shingle — ~1.1B md5 calls); hashing through a two-level
    transform evaluates md5 exactly once per shingle.

    r14 session 2: the doc scan spreads by ROW count first
    (catalog.spread_documents — compressed text under-splits the scan, so
    this whole interpreted projection ran 2-wide at the 100× fixture;
    spread it reads 5.4 s vs 41.6 s, scripts/ab_repart_r14.json).  An
    Arrow/mapInArrow port (hashlib md5 over byte-slice shingles) was
    built and parity-verified but REJECTED: with the spread in place
    the HOF form wins 5.4 s vs 9.9 s — the per-span Python md5 call
    overhead loses to interpreted-but-parallel JVM md5
    (scripts/ab_textproj_arrow_r14.json).

    conv(hex, 16, 10) parses the 12 leading md5 digits in ONE call —
    the hex-digit-sum form (oracle side, hashing.sql_md5_long) costs
    12 substr+instr string ops per shingle.  The token and shingle
    arrays bind as single-element-transform LAMBDA variables — aliased
    projection columns would collapse-inline into every consumer (the
    _SPARK_TOKENS O(tokens²) re-split trap)."""
    docs = spread_documents(spark, sf_dir)
    one = f"""
      transform(array(({_SPARK_TOKENS})), ts ->
        transform(array(({_SPARK_SHINGLES3_TS})), sh ->
          struct(
            array_min(transform(sh, s ->
              CAST(conv(substr(md5(s), 1, 12), 16, 10) AS BIGINT)))
              AS fingerprint,
            CAST(size(array_distinct(sh)) AS BIGINT) AS n_shingles
          )))[0][0]"""  # [] is 0-based in Spark SQL (element_at is 1-based)
    return (docs
            .filter(F.size(tokens_col()) >= 3)  # oracle emits no row else
            .select("doc_id", F.expr(one).alias("r"))
            .select("doc_id", "r.fingerprint", "r.n_shingles"))


_PACK_BUDGET = 512  # tokens per training sequence bin


@query(
    "q_llm_text_pack",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, len({_DUCK_TOKENS}) AS n_tok FROM documents
),
cum AS (
  SELECT doc_id, n_tok,
         CAST(SUM(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
  FROM tok
)
SELECT CAST(floor((cum_tok - 1) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM cum GROUP BY 1
""",
)
def q_llm_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: stream documents in a stable
    order, accumulate token counts, and cut a new bin every
    ``_PACK_BUDGET`` tokens (first-fit-in-order packing — the streaming
    form used by training pipelines, not bin-packing optimality).  One
    running-sum window ordered by doc_id; per-bin stats via a tiny
    follow-up aggregate.

    Scale note: a single global ORDER BY is the semantic contract of
    in-order packing, but the window needs no global sort of the DATA —
    at 100 TB you run this per shard/date-partition (bin ids prefixed by
    shard), keeping each window partition bounded; the fixture packs one
    logical shard."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow)
    cum = docs.select(
        "doc_id", F.size(tokens_col()).alias("n_tok")
    ).withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        cum.select(
            "doc_id", "n_tok",
            F.floor((F.col("cum_tok") - 1) / F.lit(float(_PACK_BUDGET)))
            .cast("long").alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tok").alias("bin_tokens"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc"))
    )


_CLEAN_MIN_TOK = 20  # corpus-clean floor: drop stub docs


@query(
    "q_llm_corpus_clean",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, lang, source, n_chars,
         md5(lower(trim(text))) AS h,
         len({_DUCK_TOKENS}) AS n_tok
  FROM documents
),
kept AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS head_id FROM feat
)
SELECT doc_id, lang, source, n_tok
FROM kept
WHERE doc_id = head_id AND n_tok >= {_CLEAN_MIN_TOK}
""",
)
def q_llm_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning — the composition a training pipeline
    actually ships: exact-dedup (keep lowest doc_id per normalized text
    hash) + minimum-length quality floor, emitting the surviving corpus.
    Dedup-keep is ONE ``min(struct(doc_id, ...))`` aggregate per hash —
    the struct's lexicographic min IS the lowest-doc_id row carrying its
    own payload columns, so no heads table and no join-back exist in the
    plan (the round-9 reshape: the old groupBy+join-back scanned and
    md5'd the corpus twice and paid two h-exchanges — the aggregate
    side's partial min below its exchange defeats ReuseExchange).  The
    oracle's MIN OVER window is the same semantics expressed for
    DuckDB.  At 100 TB: one corpus scan, one 16-byte-key shuffle whose
    map-side partial min already collapses per-partition duplicates;
    the near-dup and contamination stages (q_llm_dedup_minhash /
    q_llm_text_contamination) chain in front of the same keep-filter."""
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
        F.struct("doc_id", "lang", "source",
                 F.size(tokens_col()).alias("n_tok")).alias("m"))
    return (
        feat.groupBy("h").agg(F.min("m").alias("m"))
        .filter(F.col("m.n_tok") >= _CLEAN_MIN_TOK)
        .select("m.doc_id", "m.lang", "m.source", "m.n_tok")
    )


@query(
    "q_llm_text_perplexity",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.tok AS term
  FROM documents, unnest({_DUCK_TOKENS}) AS t(tok)
),
uni AS (
  SELECT term, COUNT(*) AS tf FROM tok GROUP BY term
),
tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n FROM uni),
nll AS (
  SELECT tok.doc_id,
         COUNT(*) AS n_tok,
         CAST(CAST(SUM(CAST(ROUND(-ln(uni.tf / tot.n), 9)
                            AS DECIMAL(30,12)))
              AS VARCHAR) AS DOUBLE) AS sum_nll
  FROM tok JOIN uni USING (term) CROSS JOIN tot
  GROUP BY tok.doc_id
)
SELECT doc_id, n_tok, ROUND(sum_nll / n_tok, 6) AS avg_nll
FROM nll
""",
)
def q_llm_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy quality score (the perplexity-filter proxy
    every pretraining pipeline runs): per-document mean negative log
    probability under the corpus's own unigram LM — high avg_nll ⇒
    unusual token distribution ⇒ candidate for filtering.  (A real KenLM
    scorer slots into the same join-against-broadcast-LM shape.)

    Parity: per-token -ln(p) rounds at 1e-9 FIRST (the numerics.py libm
    discipline — JVM Math.log vs libm log can differ by an ulp) and the
    per-doc sum then accumulates in exact decimal (order-independent);
    one final ROUND.

    Scale: unigram table aggregates small (vocab-sized) and broadcasts;
    the doc-side explode feeds one partial-combinable aggregate."""
    docs = spread_documents(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    tot = uni.agg(F.sum("tf").cast("double").alias("n"))
    nll = (
        tok.join(F.broadcast(uni), "term")
        .crossJoin(F.broadcast(tot))
        .select("doc_id",
                # round9_dec, not a bare decimal cast (review r12):
                # numerics.py's libm discipline — JVM Math.log and
                # DuckDB's libm log can differ by an ulp, and a bare
                # CAST to 1e-8 decimal leaves parity hinging on that
                # ulp landing away from a half-boundary; rounding at
                # 1e-9 FIRST absorbs it in both engines
                round9_dec(-F.log(F.col("tf") / F.col("n"))).alias("t"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"),
             F.sum("t").cast("double").alias("sum_nll"))
    )
    return nll.select(
        "doc_id", "n_tok",
        F.round(F.col("sum_nll") / F.col("n_tok"), 6).alias("avg_nll"))


@query(
    "q_llm_text_lm_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents
),
bg AS (
  SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
  FROM tok, range(1, {_ORACLE_MAX_TOKENS}) AS g(i) WHERE i <= len(ts) - 1
),
train_bg AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 5 < 4 GROUP BY 1, 2
),
train_uni AS (
  SELECT t.tok AS w, COUNT(*) AS c1
  FROM documents, unnest({_DUCK_TOKENS}) AS t(tok)
  WHERE doc_id % 5 < 4 GROUP BY 1
),
tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n FROM train_uni),
scored AS (
  SELECT bg.doc_id,
         CASE
           WHEN b.c2 IS NOT NULL
             THEN CAST(b.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
           WHEN u2.c1 IS NOT NULL
             THEN 0.4 * (CAST(u2.c1 AS DOUBLE) / tot.n)
           ELSE 0.4 / tot.n
         END AS p,
         CASE WHEN b.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM bg
  LEFT JOIN train_bg b ON bg.w1 = b.w1 AND bg.w2 = b.w2
  LEFT JOIN train_uni u1 ON bg.w1 = u1.w
  LEFT JOIN train_uni u2 ON bg.w2 = u2.w
  CROSS JOIN tot
  WHERE bg.doc_id % 5 = 4
)
SELECT doc_id, COUNT(*) AS n_scored,
       ROUND(CAST(CAST(SUM(CAST(ROUND(-ln(p), 9) AS DECIMAL(30,12)))
                  AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS avg_nll,
       ROUND(CAST(CAST(SUM(hit) AS BIGINT) AS DOUBLE) / COUNT(*), 6)
         AS bigram_hit_rate
FROM scored GROUP BY doc_id
""",
)
def q_llm_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-shaped n-gram LM scoring (the CCNet/RedPajama quality
    filter): train a bigram LM with Stupid Backoff (Brants et al. 2007,
    α = 0.4) on the 80 % train split (``doc_id % 5 < 4``), score every
    held-out document's tokens given their predecessor —
    ``p(w₂|w₁) = c(w₁w₂)/c(w₁)``, backing off to ``α·c(w₂)/N`` for
    unseen bigrams and ``α/N`` for OOV tokens.  Emits per-doc mean
    negative log-probability (the filter statistic) and the seen-bigram
    hit rate.  A real KenLM ARPA model is the same shape: the LM is a
    counts relation joined against exploded (context, word) pairs.

    Parity: every probability branch is integer-count double division
    written identically in both engines (``0.4 * (c/N)`` parenthesized
    alike); per-token -ln(p) sums in exact decimal, one ROUND at the
    end.  The hit rate is an integer ratio — exact.

    Scale: bigram construction is a row-local slice/slice zip (no
    positional self-join); LM tables are vocab-bounded aggregates that
    partial-combine map-side and broadcast here (at 100 TB they would
    be Zipf-truncated to top-K or shuffle-joined on the term key — the
    scoring side streams either way)."""
    docs = spread_documents(spark, sf_dir)
    toks = docs.select("doc_id", tokens_col().alias("ts"))
    bg = toks.select(
        "doc_id",
        F.explode(F.expr(
            "if(size(ts) >= 2, "
            "   transform(sequence(1, size(ts) - 1), "
            "             i -> struct(element_at(ts, i) AS w1, "
            "                         element_at(ts, i + 1) AS w2)), "
            "   array())")).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    train_bg = (
        bg.filter(F.col("doc_id") % 5 < 4)
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    )
    train_uni = (
        toks.filter(F.col("doc_id") % 5 < 4)
        .select(F.explode("ts").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = train_uni.agg(F.sum("c1").cast("double").alias("n"))
    scored = (
        bg.filter(F.col("doc_id") % 5 == 4)
        .join(F.broadcast(train_bg), ["w1", "w2"], "left")
        .join(F.broadcast(train_uni.select(F.col("w").alias("w1"),
                                           F.col("c1").alias("c1_w1"))),
              "w1", "left")
        .join(F.broadcast(train_uni.select(F.col("w").alias("w2"),
                                           F.col("c1").alias("c1_w2"))),
              "w2", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(F.col("c2").isNotNull(),
                   F.col("c2").cast("double") / F.col("c1_w1").cast("double"))
             .when(F.col("c1_w2").isNotNull(),
                   F.lit(0.4) * (F.col("c1_w2").cast("double") / F.col("n")))
             .otherwise(F.lit(0.4) / F.col("n")).alias("p"),
            F.when(F.col("c2").isNotNull(), F.lit(1)).otherwise(F.lit(0))
             .alias("hit"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_scored"),
             # round9 first — the libm discipline (see perplexity, r12)
             F.sum(F.expr("cast(round(-ln(p), 9) as decimal(30,12))"))
              .cast("double").alias("sum_nll"),
             F.sum("hit").cast("bigint").alias("hits"))
        .select("doc_id", "n_scored",
                F.round(F.col("sum_nll") / F.col("n_scored"), 6)
                 .alias("avg_nll"),
                F.round(F.col("hits").cast("double") / F.col("n_scored"), 6)
                 .alias("bigram_hit_rate"))
    )


@query(
    "q_llm_text_repetition",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_DUCK_TOKENS} AS ts FROM documents
),
base AS (
  SELECT doc_id, len(ts) AS n_tokens,
         len(list_distinct(ts)) AS n_distinct
  FROM tok
),
bg AS (
  SELECT doc_id, ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS bg
  FROM tok, range(1, {_ORACLE_MAX_TOKENS}) AS g(i) WHERE i <= len(ts) - 1
),
bgc AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2
),
top AS (
  SELECT doc_id, MAX(c) AS top_bg, SUM(c) AS n_bg FROM bgc GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
       ROUND(COALESCE(CAST(b.n_distinct AS DOUBLE)
                      / NULLIF(b.n_tokens, 0), 0.0), 6) AS distinct_ratio,
       ROUND(COALESCE(CAST(t.top_bg AS DOUBLE) / t.n_bg, 0.0), 6)
         AS top_bigram_frac,
       CAST(COALESCE(CAST(b.n_distinct AS DOUBLE)
                     / NULLIF(b.n_tokens, 0), 0.0) >= 0.3
            AND COALESCE(CAST(t.top_bg AS DOUBLE) / t.n_bg, 0.0) <= 0.2
            AS BIGINT) AS keep
FROM base b LEFT JOIN top t USING (doc_id)
""",
)
def q_llm_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al. 2021
    §A1.1.2): distinct-token ratio and most-frequent-bigram fraction per
    document, plus the keep verdict (distinct ≥ 0.3 and top-bigram
    ≤ 0.2) — the standard templated/degenerate-text gate that runs
    between exact dedup and model-based quality scoring.

    Scale: the whole key is ONE zero-exchange projection.  The
    distinct-token count is a row-local ``array_distinct``; the
    most-frequent-bigram count is the longest run of the SORTED bigram
    array — O(n log n) row-local, safe even for 10⁵-token documents
    (the naive row-local form this key deliberately avoided is the
    O(tokens²) count-within-array).  Two negative results are baked in:
    the original explode → two-phase (doc, bigram) aggregate shuffled
    95M bigram strings at 100× (76 s vs 25 s here; hashing the bigrams
    to longs before the explode only got 67 s), and binding the token
    array as a projection-column alias collapse-inlines the tokenizer
    into every element_at of the bigram transform — the _SPARK_TOKENS
    O(tokens²) re-split trap, measured 7.3 s at 1× / 75 s at 10×.
    Both arrays bind as single-element-transform lambda variables.

    r14 session 2: the doc scan spreads by ROW count first
    (catalog.spread_documents — compressed text under-splits the scan, so
    this zero-exchange interpreted projection ran 2-wide at the 100×
    fixture; spread it reads 3.1 s vs 33.7 s,
    scripts/ab_repart_r14.json).  An Arrow/mapInArrow stats port was
    built and parity-verified but REJECTED: with the spread in place
    the HOF stats win 3.1 s vs 5.8 s
    (scripts/ab_textproj_arrow_r14.json)."""
    docs = spread_documents(spark, sf_dir)
    run = ("IF(x <=> acc.prev, acc.run + CAST(1 AS BIGINT),"
           " CAST(1 AS BIGINT))")
    one = f"""
      transform(array(({_SPARK_TOKENS})), ts ->
        transform(array(array_sort(({_SPARK_BIGRAMS_TS}))), sb ->
          struct(size(ts) AS n_tokens,
                 size(array_distinct(ts)) AS n_distinct,
                 size(sb) AS n_bg,
                 aggregate(sb,
                   struct(CAST(NULL AS STRING) AS prev,
                          CAST(0 AS BIGINT) AS run,
                          CAST(0 AS BIGINT) AS best),
                   (acc, x) -> struct(x, {run}, greatest(acc.best, {run})),
                   acc -> acc.best) AS top_bg)))[0][0]"""
    r = (docs.select("doc_id", F.expr(one).alias("r"))
         .select("doc_id", "r.n_tokens", "r.n_distinct", "r.n_bg",
                 "r.top_bg"))
    # try_divide: under Spark 4's ANSI default a plain `/` THROWS
    # DIVIDE_BY_ZERO for an empty (n_tokens=0) or 1-token (n_bg=0)
    # document — exactly the degenerate text a repetition filter
    # exists to judge (review r10).  Contract pinned 0.0 in both
    # dialects (oracle: NULLIF + COALESCE).
    dr = F.coalesce(
        F.try_divide(F.col("n_distinct").cast("double"),
                     F.col("n_tokens")), F.lit(0.0))
    tbf = F.coalesce(
        F.try_divide(F.col("top_bg").cast("double"), F.col("n_bg")),
        F.lit(0.0))
    return r.select(
        "doc_id", F.col("n_tokens"),
        F.round(dr, 6).alias("distinct_ratio"),
        F.round(tbf, 6).alias("top_bigram_frac"),
        ((dr >= 0.3) & (tbf <= 0.2)).cast("bigint").alias("keep"))


@query(
    "q_llm_mix_sources",
    oracle=f"""
WITH tok AS (
  SELECT source, len({_DUCK_TOKENS}) AS n_tok FROM documents
),
s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
  FROM tok GROUP BY source
)
SELECT source, n_docs, sum_tokens,
       ROUND(sqrt(CAST(sum_tokens AS DOUBLE))
             / {sql_dec2dbl(
                 f"SUM({sql_round9_dec('sqrt(CAST(sum_tokens AS DOUBLE))')})"
                 " OVER ()")}, 6)
         AS mix_weight,
       CAST(trunc(sqrt(CAST(sum_tokens AS DOUBLE))
                  / {sql_dec2dbl(
                      f"SUM({sql_round9_dec('sqrt(CAST(sum_tokens AS DOUBLE))')})"
                      " OVER ()")}
                  * SUM(n_docs) OVER ()) AS BIGINT) AS docs_budget
FROM s
""",
)
def q_llm_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: per-source token mass and the
    sqrt-proportional sampling weight (the standard temperature-style
    re-weighting, τ = 0.5, that upweights small sources without letting
    one giant crawl dominate — e.g. multilingual sampling in mBERT/XLM-R
    and domain mixing in Pile-style corpora), plus the doc budget each
    source gets under that mixture.

    Scale: one per-source aggregate (n_sources groups — tiny), then the
    normalization runs as an unpartitioned window over the n_sources-row
    relation: fine because that relation is dimension-sized by
    construction; the corpus itself is touched exactly once."""
    docs = load_table(spark, sf_dir, "documents")
    s = (docs.select("source", F.size(F.expr(_SPARK_TOKENS)).alias("n_tok"))
         .groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_tok").alias("sum_tokens")))
    w = Window.partitionBy()
    rt = F.sqrt(F.col("sum_tokens").cast("double"))
    # Per-row sqrt is correctly rounded (IEEE 754) hence bit-identical
    # across engines, but the SUM of those doubles is order-dependent —
    # the aggregated-float class numerics.py exists for (review r10:
    # this was the one raw-double aggregate left outside the
    # discipline).  Round at the 1e-9 grain and sum exactly as decimal;
    # the single decimal→double cast back is deterministic.
    den = F.sum(round9_dec(rt)).over(w).cast("double")
    weight = rt / den
    return s.select(
        "source", "n_docs", "sum_tokens",
        F.round(weight, 6).alias("mix_weight"),
        (weight * F.sum("n_docs").over(w)).cast("bigint").alias("docs_budget"),
    )


@query(
    "q_llm_pipeline_e2e",
    oracle=f"""
WITH feat AS (
  SELECT doc_id, md5(lower(trim(text))) AS h,
         len({_DUCK_TOKENS}) AS n_tok
  FROM documents
),
clean AS (
  SELECT doc_id, n_tok
  FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS head_id FROM feat)
  WHERE doc_id = head_id AND n_tok >= {_CLEAN_MIN_TOK}
),
routed AS (
  SELECT doc_id, n_tok,
         CASE WHEN {_SPLIT_HASH} % 1000 < 900 THEN 'train'
              WHEN {_SPLIT_HASH} % 1000 < 950 THEN 'val'
              ELSE 'test' END AS split,
         {_SHARD_HASH_D} % {_N_SHARDS} AS shard
  FROM clean
)
SELECT split, shard, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM routed GROUP BY split, shard
""",
)
def q_llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE composed, oracle-checked
    query — the "a user ships this" exhibit: exact-dedup + quality floor
    (q_llm_corpus_clean) → deterministic train/val/test routing
    (q_llm_text_split) → seeded shard assignment (q_llm_corpus_shard) →
    per-(split, shard) doc and token accounting.  Every stage reuses the
    exact machinery of its standalone key, so the composition's
    hash-match certifies that the pieces COMPOSE — filters don't reorder
    around the dedup window, hashes don't collide across salt streams.

    Scale: ONE corpus scan into one 16-byte-hash shuffle (the dedup, as
    a map-side-combinable ``min(struct)`` — same reshape as
    q_llm_corpus_clean, round 9) then pure projections until the final
    tiny aggregate — the minimum any dedup-bearing pipeline can do;
    near-dup and contamination stages chain in front of the same
    keep-filter without changing the shape."""
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
        F.struct("doc_id", F.size(tokens_col()).alias("n_tok")).alias("m"))
    clean = (feat.groupBy("h").agg(F.min("m").alias("m"))
             .filter(F.col("m.n_tok") >= _CLEAN_MIN_TOK)
             .select("m.doc_id", "m.n_tok"))
    hs = F.expr(sql_md5_long(
        "concat('split:', CAST(doc_id AS STRING))", 8)) % 1000
    routed = clean.select(
        "doc_id", "n_tok",
        F.when(hs < 900, "train").when(hs < 950, "val")
        .otherwise("test").alias("split"),
        (F.expr(_SHARD_HASH_S) % _N_SHARDS).alias("shard"))
    return (routed.groupBy("split", "shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("sum_tokens")))


def cascade_flags(docs: DataFrame) -> DataFrame:
    """Per-doc gate flags for the cleaning cascade — shared between the
    registered relation and the observed()-metrics test so the gate
    definitions live in exactly one place."""
    f = docs.select(
        "doc_id",
        (F.size(tokens_col()) >= _CLEAN_MIN_TOK).alias("f1"),
        # try_divide: an empty doc must FAIL the gate, not throw
        # DIVIDE_BY_ZERO under the ANSI default (review r10)
        F.coalesce(
            F.try_divide(F.size(F.array_distinct(tokens_col()))
                         .cast("double"),
                         F.size(tokens_col())) >= 0.3,
            F.lit(False)).alias("f2"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"))
    # Window MIN — the oracle's own MIN OVER (PARTITION BY h) shape —
    # instead of the r9-documented groupBy+join-back anti-pattern: one
    # scan and one exchange (the join form tokenized and md5'd the
    # corpus TWICE — the partial-agg below the aggregate side's
    # exchange defeats ReuseExchange), and window partitioning groups
    # NULL keys natively, so the r11 '__null_text__' sentinel patching
    # the join's NULL-drop is no longer needed at all (review r12).
    head = F.min("doc_id").over(Window.partitionBy("h"))
    return f.select("doc_id", "f1", "f2",
                    (F.col("doc_id") == head).alias("f3"))


@query(
    "q_llm_filter_cascade",
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         (len({_DUCK_TOKENS}) >= {_CLEAN_MIN_TOK}) AS f1,
         COALESCE(CAST(len(list_distinct({_DUCK_TOKENS})) AS DOUBLE)
            / NULLIF(len({_DUCK_TOKENS}), 0) >= 0.3, FALSE) AS f2,
         (doc_id = MIN(doc_id) OVER (
            PARTITION BY md5(lower(trim(text))))) AS f3
  FROM documents
),
agg AS (
  SELECT COUNT(*) AS n0,
         CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT)
           AS k3
  FROM f
)
SELECT * FROM (
  SELECT 1 AS stage_id, 'min_length' AS stage, n0 AS n_in, k1 AS n_kept
  FROM agg
  UNION ALL
  SELECT 2, 'repetition', k1, k2 FROM agg
  UNION ALL
  SELECT 3, 'exact_dedup', k2, k3 FROM agg
)
""",
)
def q_llm_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning-cascade audit: the per-stage kept/dropped accounting a
    100 TB pipeline must publish for every run (data lineage boards are
    built from exactly this relation).  Three cumulative gates — token
    floor, distinct-token repetition ratio, exact-dedup head — computed
    as per-doc FLAGS in one scan, then ONE aggregation folds all stage
    counts (no per-stage re-scan: the metrics.py discipline as a
    registered relation); ``stack`` pivots the single row into the
    stage table.  Spark cascades at 100 TB run this exact shape with
    ``observed()`` attached so the audit rides the write action for
    free — asserted equal to this relation in tests/test_registry.py."""
    docs = spread_documents(spark, sf_dir)
    agg = cascade_flags(docs).agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("f1").cast("long")).alias("k1"),
        F.sum((F.col("f1") & F.col("f2")).cast("long")).alias("k2"),
        F.sum((F.col("f1") & F.col("f2") & F.col("f3")).cast("long"))
        .alias("k3"))
    return agg.selectExpr(
        "stack(3, "
        "1L, 'min_length',  n0, k1, "
        "2L, 'repetition',  k1, k2, "
        "3L, 'exact_dedup', k2, k3) AS (stage_id, stage, n_in, n_kept)")


@query(
    "q_llm_text_char_entropy",
    oracle=f"""
WITH chars AS (
  SELECT doc_id, c.ch AS ch, COUNT(*) AS cnt
  FROM documents, unnest(string_split(text, '')) AS c(ch)
  GROUP BY doc_id, c.ch
), per_doc AS (
  SELECT doc_id,
         SUM(cnt) AS n,
         COUNT(*) AS n_distinct_chars,
         SUM({sql_round9_dec('cnt * log2(cnt)')}) AS s
  FROM chars GROUP BY doc_id
)
SELECT doc_id, n_distinct_chars,
       -- + 0.0: sign-of-zero normalization, see the Spark twin (r13)
       ROUND(log2(CAST(n AS DOUBLE))
             - {sql_dec2dbl('s')} / n, 6) + 0.0 AS char_entropy_bits
FROM per_doc
""",
)
def q_llm_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (bits/char) —
    the degenerate-text detector the length/stopword heuristics miss:
    near-0 bits flags single-char spam, ≈log₂|alphabet| flags random
    noise / mojibake; natural prose sits ~4 bits.  H = log₂n − Σc·log₂c
    / n keeps every log argument an INTEGER count, and the
    order-dependent float sum Σc·log₂c is made engine-portable by
    rounding each term to 1e-9 and summing EXACTLY as decimal
    (numerics.py discipline — the two engines' log2 agree far below the
    rounding grain).  Scale: entropy is a PER-DOC statistic, so since
    round 9 the registered path is a zero-Exchange Arrow projection
    (``_char_entropy_vectorized``): one np.unique over packed
    (doc, code-point) keys per batch replaces the per-char explode +
    two shuffles of the original form (27.9 s → 5.6 s at the 100×
    fixture).  The DuckDB oracle above is its reference, on the fixture
    and on the empty/null/non-BMP/overlong degenerate docs of
    ``test_char_entropy_vectorized_matches_exploded`` and
    ``test_char_entropy_vectorized_long_doc_overflow``."""
    return _char_entropy_vectorized(spread_documents(spark, sf_dir))


def _char_entropy_stats_batches(it):
    """mapInPandas worker: (doc_id, text) → (doc_id, n_distinct_chars,
    n, s) with s ≡ the JVM SUM(round9_dec(cnt·log2 cnt)) cast to double.

    Bit-exactness contract (vs the oracle's per-char explode → (doc,
    char) count → Σ round9 decimal sum, the JVM ``round9_dec`` grain):
    - splits per CODE POINT (DuckDB string_split(text, '') keeps '😀'
      one element) → UTF-32-LE units; '' counts as one empty char →
      n=1, distinct=1, s=0; NULL text yields no row → doc dropped.
    - Per-unique-(doc,cp) counts via ONE np.unique over packed int64
      keys (doc_idx·2²¹ | cp — code points < 2²¹).
    - The term round9_dec(c·log2 c) is computed ONCE per DISTINCT
      count c with the exact JVM replication: F.round(double, 9) is
      BigDecimal.valueOf(d).setScale(9, HALF_UP) — Decimal(repr(d))
      .quantize(1e-9, HALF_UP) in Python (repr = Double.toString:
      both shortest round-trip) — then the double result re-enters
      decimal(30,12) through its shortest repr again; summed as exact
      scaled integers.
    - Overflow discipline (round-9 self-review finding): the 10¹²-
      scaled per-doc sum fits int64 only while n·log2(n)·10¹² < 2⁶²,
      i.e. n ≲ 2.4e5 code points.  Docs past that bound (the long
      single-char-spam inputs this detector exists to flag) are routed
      to an exact PYTHON-int slow path — arbitrary precision, same
      Decimal term helper, so it matches the JVM decimal(38,12) sum at
      ANY length; term-table entries only reachable from such docs are
      parked as 0 in the int64 fast table (a count c can only occur in
      a doc with n ≥ c, and any such doc is already routed).  Pinned by
      the 600k- and 1M-char docs of
      test_char_entropy_vectorized_long_doc_overflow.
    - int → double division by 10¹² is IEEE-correctly-rounded only
      while the numerator is exact (≤2⁵³); larger sums take the exact
      Decimal route — matching Spark's correctly-rounded
      BigDecimal.doubleValue (numerics.py:43).
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    q9 = Decimal("1E-9")
    out_cols = ["doc_id", "n_distinct_chars", "n", "s"]
    LIM = 1 << 62  # int64 fast-path safety bound for 1e-12-scaled sums

    def term_int12(y: float) -> int:
        # round9_dec of one double term, as an exact 1e-12-scaled int.
        v9 = Decimal(repr(y)).quantize(q9, ROUND_HALF_UP)
        return int(Decimal(repr(float(v9))).scaleb(12))

    for pdf in it:
        pdf = pdf[pdf["text"].notna()]
        if len(pdf) == 0:
            yield pd.DataFrame({c: pd.Series(dtype="int64") for c in out_cols[:3]}
                               | {"s": pd.Series(dtype="float64")})
            continue
        texts = pdf["text"].tolist()
        nb = len(texts)
        encs = [t.encode("utf-32-le") for t in texts]
        lens = np.fromiter((len(e) >> 2 for e in encs), dtype=np.int64, count=nb)
        units = np.frombuffer(b"".join(encs), dtype=np.uint32).astype(np.int64)
        doc_idx = np.repeat(np.arange(nb, dtype=np.int64), lens)
        uniq, counts = np.unique((doc_idx << 21) | units, return_counts=True)
        udoc = uniq >> 21

        bounds = np.searchsorted(udoc, np.arange(nb + 1, dtype=np.int64))
        n_distinct = np.diff(bounds)
        # Docs whose worst-case scaled sum (n·log2 n·1e12 ≥ Σ c·log2 c
        # ·1e12, by concavity) could overflow int64 take the exact
        # Python-int route; everything else stays vectorized.
        lf = np.maximum(lens, 2).astype(np.float64)
        overflow_doc = lf * np.log2(lf) * 1e12 >= LIM
        # Σ round9_dec(c·log2 c): exact per DISTINCT count value.
        cu, inv = np.unique(counts, return_inverse=True)
        cf = cu.astype(np.float64)
        terms = cf * np.log2(cf)
        table_py = [0 if c == 1 else term_int12(float(y))
                    for c, y in zip(cu, terms)]
        # Entries too large for int64 can only belong to overflow-routed
        # docs (count c ⇒ doc length n ≥ c ⇒ n·log2 n·1e12 ≥ LIM): park 0.
        table = np.fromiter((t if abs(t) < LIM else 0 for t in table_py),
                            dtype=np.int64, count=len(cu))
        s_int = np.zeros(nb, dtype=np.int64)
        np.add.at(s_int, udoc, table[inv])
        # exact int → correctly-rounded double (Decimal route past 2^53)
        s_dbl = s_int.astype(np.float64) / 1e12
        slow = np.abs(s_int) > (1 << 53)
        slow |= overflow_doc
        if slow.any():
            term_of = dict(zip(cu.tolist(), table_py))
            for d in np.nonzero(slow)[0]:
                if overflow_doc[d]:  # exact arbitrary-precision resum
                    v = sum(term_of[c] for c in
                            counts[bounds[d]:bounds[d + 1]].tolist())
                else:
                    v = int(s_int[d])
                s_dbl[d] = float(Decimal(v).scaleb(-12))

        n = lens.copy()
        empty = lens == 0          # split('', '') → [''] in the JVM form
        n[empty] = 1
        n_distinct[empty] = 1      # s stays 0 (cnt=1 term is 0)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy(),
            "n_distinct_chars": n_distinct,
            "n": n,
            "s": s_dbl,
        })


def _char_entropy_vectorized(docs: DataFrame) -> DataFrame:
    """Zero-Exchange char-entropy: the per-doc (n, distinct, Σ round9)
    stats come out of one Arrow batch pass; log2/division/final ROUND
    stay JVM-side, the same last-mile expressions as the oracle's."""
    stats = docs.select("doc_id", "text").mapInPandas(
        _char_entropy_stats_batches,
        schema="doc_id long, n_distinct_chars long, n long, s double",
    )
    # + 0.0 normalizes the sign of zero (review r13): a single-char
    # doc's rounded entropy is -0.0 in DuckDB and 0.0 in Spark, and the
    # hash canonicalizer prints the sign
    return stats.select(
        "doc_id", "n_distinct_chars",
        (F.round(F.log2(F.col("n").cast("double"))
                 - F.col("s") / F.col("n"),
                 6) + F.lit(0.0)).alias("char_entropy_bits"),
    )


_IMP_HASH_D = sql_md5_long("concat('imp:', CAST(doc_id AS VARCHAR))", 8)
_IMP_HASH_S = sql_md5_long("concat('imp:', CAST(doc_id AS STRING))", 8)


@query(
    "q_llm_sample_importance",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, n_chars,
         LEAST(1.0, n_chars / 2000.0) AS keep_p,
         {_IMP_HASH_D} % 1000000 AS h
  FROM documents
)
SELECT doc_id, lang, n_chars,
       ROUND(keep_p, 6) AS keep_p,
       ROUND(1.0 / keep_p, 6) AS inv_weight
FROM w
WHERE h < keep_p * 1000000.0
""",
)
def q_llm_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus sampling: each doc survives with a
    CONTINUOUS per-doc probability (here length-proportional, the
    long-docs-are-rarer-and-richer heuristic), and survivors carry the
    inverse-propensity weight 1/p so any downstream aggregate stays
    unbiased — the mixture-rebalancing sampler, vs the per-stratum
    literal rates of q_llm_sample_stratified.  Deterministic: the keep
    decision is portable-md5(doc_id) < p·10⁶, stateless and
    reproducible across runs/engines/retries; the boundary product
    p·10⁶ = n_chars·500 is integer-valued so the comparison can't sit
    on a float edge.  Scale: pure scan-side filter — no shuffle, no
    sort, no count pass."""
    docs = load_table(spark, sf_dir, "documents")
    keep_p = F.least(F.lit(1.0), F.col("n_chars") / 2000.0)
    h = F.expr(_IMP_HASH_S) % 1000000
    return (
        docs.select("doc_id", "lang", "n_chars",
                    keep_p.alias("_p"), h.alias("_h"))
        .filter(F.col("_h") < F.col("_p") * 1000000.0)
        .select("doc_id", "lang", "n_chars",
                F.round(F.col("_p"), 6).alias("keep_p"),
                F.round(F.lit(1.0) / F.col("_p"), 6).alias("inv_weight"))
    )


@query(
    "q_llm_text_length_profile",
    oracle="""
WITH hist AS (
  SELECT n_chars AS n, COUNT(*) AS freq FROM documents GROUP BY n_chars
), cum AS (
  SELECT n, freq,
         SUM(freq) OVER (ORDER BY n) AS cfreq,
         SUM(freq) OVER () AS n_total
  FROM hist
)
SELECT CAST(MAX(n_total) AS BIGINT) AS n_docs,
       MIN(n) AS min_chars, MAX(n) AS max_chars,
       MIN(CASE WHEN cfreq * 4   >= n_total      THEN n END) AS p25,
       MIN(CASE WHEN cfreq * 2   >= n_total      THEN n END) AS p50,
       MIN(CASE WHEN cfreq * 10  >= n_total * 9  THEN n END) AS p90,
       MIN(CASE WHEN cfreq * 100 >= n_total * 99 THEN n END) AS p99
FROM cum
""",
)
def q_llm_text_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: exact character-count percentiles — the
    first chart in any pretraining-data report, and the input that sets
    the min/max-length filter thresholds of the cleaning cascade.
    Third production consumer of the shared counts-of-counts percentile
    machinery (analytics.hist_cum / hist_pick): the cumulative window
    runs over |distinct lengths| rows, never over documents."""
    from ..operators.analytics import hist_cum, hist_pick

    docs = load_table(spark, sf_dir, "documents")
    cum = hist_cum(docs.select(F.col("n_chars").alias("n")), "n")
    return cum.agg(
        F.max("n_total").cast("bigint").alias("n_docs"),
        F.min("n").alias("min_chars"),
        F.max("n").alias("max_chars"),
        hist_pick(4, 1, "n").alias("p25"),
        hist_pick(2, 1, "n").alias("p50"),
        hist_pick(10, 9, "n").alias("p90"),
        hist_pick(100, 99, "n").alias("p99"),
    )


@query(
    "q_llm_text_keywords",
    oracle=f"""
WITH {_TFIDF_CTES},
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE tf.doc_id < 200
)
SELECT doc_id, term, tfidf, CAST(rn AS INT) AS kw_rank
FROM (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rn
  FROM scored
) WHERE rn <= 3
""",
)
def q_llm_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 terms by TF-IDF — the
    metadata-enrichment step (tags, routing, weak topic labels) built
    on the same two-aggregation TF-IDF plan as q_llm_text_tfidf, plus a
    per-doc top-k window (doc_id partitions are high-cardinality, so
    the rank distributes evenly; ties break on the term for
    determinism).  Bounded to doc_id < 200 because the oracle carries
    the full per-doc score relation; the production path is identical
    without the slice."""
    scored = _tfidf_scored(spark, sf_dir, 200).drop("tf")
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (scored.withColumn("kw_rank", F.row_number().over(w).cast("int"))
            .filter(F.col("kw_rank") <= 3))
