"""Text-analysis operators over the documents table: token counting,
quality scoring, language stats, fingerprinting — the training-data
pipeline surface [EXT] (SURVEY.md §2.2 "LLM-data ops").

Everything is built from the pure-expression library in
``functions.text`` (JVM-side, no UDFs), and every query here has a
DuckDB oracle that mirrors the arithmetic exactly.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.functions import text as T
from spark_kafka_airflow_pipeline_spark.operators.base import QueryFn, ppm, table
from spark_kafka_airflow_pipeline_spark.operators.relational import davg, SQL_DAVG


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char counts — the base text-metrics pass."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.char_count("text").alias("n_chars_computed"),
        "n_chars",
    )


DOC_TOKEN_STATS_SQL = """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
       END AS n_tokens,
       CAST(length(text) AS INT) AS n_chars_computed,
       n_chars
FROM documents
"""


def lang_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-level quality profile: doc counts, mean length, mean
    stopword ratio (rounded to a fixed scale in both engines)."""
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        T.token_count("text").alias("n_tokens"),
        F.round(T.stopword_ratio("text"), 6).alias("stop_ratio"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             davg(F.col("n_tokens"), "avg_tokens"),
             davg(F.col("stop_ratio"), "avg_stop_ratio"))
    )


LANG_QUALITY_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         round(
           CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\\s+')) > 0
                THEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))
                     * 1.0 / len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                ELSE 0.0 END, 6) AS stop_ratio
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       {SQL_DAVG.format(expr='n_tokens')} AS avg_tokens,
       {SQL_DAVG.format(expr='stop_ratio')} AS avg_stop_ratio
FROM per_doc
GROUP BY lang
"""


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality score per document (see
    functions.text.quality_score for the formula)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


DOC_QUALITY_SQL = f"""
WITH m AS (
  SELECT doc_id,
{T.SQL_DOC_METRIC_COLS}
  FROM documents
)
SELECT doc_id,
       {T.SQL_QUALITY_FROM_METRICS} AS quality
FROM m
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical md5 fingerprint per document — md5 is bit-identical in
    DuckDB, so this is an exact cross-engine check."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint("text").alias("fp"))


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id, {T.SQL_FINGERPRINT} AS fp
FROM documents
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free heuristic language ID: stopword-hit-based en/other
    classification, deterministic and SQL-mirrorable. (A real model is
    out of scope for the container; the *shape* — classify + compare to
    the labeled lang column — is the operator.)"""
    d = table(spark, sf_dir, "documents")
    guessed = F.when(T.stopword_ratio("text") >= 0.08, F.lit("en")).otherwise(F.lit("other"))
    return (
        d.select("lang", guessed.alias("guessed_lang"))
        .groupBy("lang", "guessed_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


LANG_ID_SQL = """
WITH g AS (
  SELECT lang,
         CASE WHEN (CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\\s+')) > 0
                 THEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                          x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))
                      * 1.0 / len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                 ELSE 0.0 END) >= 0.08
              THEN 'en' ELSE 'other' END AS guessed_lang
  FROM documents
)
SELECT lang, guessed_lang, COUNT(*) AS n_docs
FROM g GROUP BY lang, guessed_lang
"""


def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization count: split into word / number /
    punctuation runs with a regex (the GPT-2-ish pre-tokenizer shape,
    minus byte-level merges), plus distinct-token count. All JVM regex,
    mirrored exactly in DuckDB."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


DOC_BPE_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_unique_tokens
FROM t
"""


def word_freq_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Corpus-level top-k word frequencies — the vocabulary-head pass of
    a training-data pipeline. explode -> count is one shuffle on the
    word (partial counts combine map-side); top-k is TakeOrderedAndProject
    with a word tie-break so the selected SET is unique."""
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"))
    return (
        words.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("word"))
        .limit(k)
    )


WORD_FREQ_SQL = """
SELECT word, COUNT(*) AS n_occurrences
FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM documents)
WHERE word != ''
GROUP BY word
ORDER BY n_occurrences DESC, word
LIMIT 20
"""


def doc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/noise scrubbing pass: mask email-shaped tokens, URLs and
    digit runs with typed placeholders; report per-doc replacement
    counts and the scrubbed fingerprint. Pure regexp expressions on the
    scan — the shape of every redaction pass in a training-data
    pipeline (swap patterns for production PII rules)."""
    d = table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url = r"https?://[^\s]+"
    num = r"[0-9]+"
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), url, "<URL>"),
        num, "<NUM>")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(email)).alias("n_emails"),
        F.regexp_count("text", F.lit(url)).alias("n_urls"),
        F.regexp_count("text", F.lit(num)).alias("n_numbers"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )


DOC_SCRUB_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\\s]+', '<URL>', 'g'),
             '[0-9]+', '<NUM>', 'g')) AS scrubbed_fp
FROM documents
"""


CHUNK_TOKENS = 50
CHUNK_STRIDE = 40


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token chunks, stride 40) —
    the context-window packing pass of a training pipeline. One narrow
    explode per doc (no shuffle until a consumer aggregates); chunk
    fingerprints let a downstream exact-dedup run at chunk granularity."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.floor((n - 1) / CHUNK_STRIDE).cast("int") * CHUNK_STRIDE,
        F.lit(CHUNK_STRIDE))
    return (
        d.select("doc_id", toks.alias("toks"),
                 F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.slice("toks", F.col("start") + 1, CHUNK_TOKENS).alias("chunk"))
        .select(
            "doc_id", "chunk_idx",
            F.size("chunk").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "chunk")).alias("chunk_fp"))
    )


DOC_CHUNKS_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(floor((len(t) - 1) / {CHUNK_STRIDE}) AS BIGINT)
                         * {CHUNK_STRIDE} + 1, {CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(least({CHUNK_TOKENS}, len(t) - start) AS INT) AS n_tokens,
       md5(array_to_string(t[start + 1 : start + {CHUNK_TOKENS}], ' ')) AS chunk_fp
FROM chunks
"""


SAMPLE_FRACTIONS = {"en": 0.25, "de": 0.8, "es": 0.8, "fr": 0.8, "zh": 0.8}


def stratified_sample(spark: SparkSession, sf_dir: str,
                      seed: int = 42) -> DataFrame:
    """Language-stratified sampling (downsample the dominant language,
    keep the tail) — the class-rebalancing pass of corpus construction.
    ``sampleBy`` is per-row Bernoulli with a fixed seed: deterministic
    for a given input, one scan, no shuffle. Rows-only check (Spark's
    sampling RNG is not reproducible in DuckDB); per-stratum rates and
    determinism are pinned in tests."""
    d = table(spark, sf_dir, "documents")
    sampled = d.sampleBy("lang", SAMPLE_FRACTIONS, seed=seed)
    return (sampled.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.min("doc_id").alias("min_doc_id")))


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation, composed from this module's ops:
    canonical-fingerprint dedup (keep min doc_id) -> quality gate
    (score >= 0.5) -> per-language corpus stats with chunk counts at
    the 50-token/stride-40 geometry. One scan feeds dedup + scoring;
    the only shuffles are the dedup window and the final tiny
    per-language aggregate — the shape of a real 100 TB corpus build."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = T.token_count("text")
    n_chunks = (F.when(toks <= 0, F.lit(0).cast("long"))
                .otherwise(F.floor((toks - 1) / CHUNK_STRIDE) + 1))
    scored = d.select(
        "doc_id", "lang", T.fingerprint("text").alias("fp"),
        T.quality_score("text").alias("q"),
        toks.alias("n_tokens"), n_chunks.alias("n_chunks"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    survivors = (scored.withColumn("rn", F.row_number().over(w))
                 .filter((F.col("rn") == 1) & (F.col("q") >= 0.5)))
    return (survivors.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum("n_chunks").alias("total_chunks")))


# quality formula / metric CTE / fingerprint come from the shared
# fragments in functions.text (single source of truth); chunk count
# mirrors DOC_CHUNKS_SQL's start grid
CORPUS_PREP_SQL = f"""
WITH m AS (
  SELECT doc_id, lang,
         {T.SQL_FINGERPRINT} AS fp,
{T.SQL_DOC_METRIC_COLS}
  FROM documents
),
scored AS (
  SELECT doc_id, lang, fp, n_tokens,
         {T.SQL_QUALITY_FROM_METRICS} AS q,
         CASE WHEN n_tokens <= 0 THEN 0
              ELSE CAST(floor((n_tokens - 1) / {CHUNK_STRIDE}) + 1 AS BIGINT)
         END AS n_chunks
  FROM m
),
survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM scored)
  WHERE rn = 1 AND q >= 0.5
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks
FROM survivors GROUP BY lang
"""




def doc_tfidf_topterms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document — the keyword-extraction pass of
    a training-data pipeline. One explode + two shuffles (tf on
    (doc, term), df on term); the corpus size is a 1-row aggregate
    cross-joined in (constant cost).

    Cross-engine determinism: idf is ROUNDED to 6 decimals before the
    tf multiply — natural log is only 1-ulp reproducible across libm
    implementations, and the rounding collapses that difference before
    it can reorder the rank window; ranking ties break on the term.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = (d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"))
        .filter(F.col("term") != ""))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1, 6)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


DOC_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term != '' GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term,
         round(tf * (round(ln((n_docs + 1) / (df + 1)) + 1, 6)), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""




def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: per-document mean bigram
    log-probability under an add-one-smoothed corpus bigram model —
    the statistical-LM fluency filter of a training-data pipeline
    (gibberish scores far below fluent text).

    Plan: tokenize + lag window per doc (one shuffle on doc_id), corpus
    bigram/unigram counts (shuffles on the gram keys), then a join of
    doc-bigrams to the model. Cross-engine determinism: ln() is rounded
    to 6dp per bigram (libm is only ulp-reproducible) and the rounded
    values are summed EXACTLY as decimals. The output is the exact
    TOTAL + the bigram count, NOT their quotient: a 6dp-decimal sum
    divided by an integer lands on exact half-boundaries often, where
    Spark's BigDecimal rounding and DuckDB's multiply-based rounding
    disagree (caught by the sf0.1 sweep — sf0.01 was green).
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = (d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+"))
        .alias("pos", "w"))
        .filter(F.col("w") != ""))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (toks.withColumn("prev", F.lag("w").over(w_ord))
               .filter(F.col("prev").isNotNull())
               .select("doc_id", "prev", "w"))
    bc = bigrams.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("bc"))
    # context totals derive from the (much smaller) bigram-count table,
    # not a second pass over the raw bigram stream
    uc = bc.groupBy("prev").agg(F.sum("bc").alias("uc"))
    vocab = toks.agg(F.countDistinct("w").alias("v"))
    logp = F.round(F.log((F.col("bc") + 1) / (F.col("uc") + F.col("v"))), 6)
    return (
        bigrams.join(bc, ["prev", "w"]).join(uc, "prev")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", logp.cast("decimal(20,6)").alias("lp"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("lp").cast("double").alias("total_logprob"))
    )


BIGRAM_LOGPROB_SQL = """
WITH toks AS (
  SELECT doc_id, i AS pos, t[i] AS w
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents),
       UNNEST(range(1, len(t) + 1)) AS r(i)
  WHERE t[i] != ''
), bigrams AS (
  SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, w
  FROM toks
  QUALIFY prev IS NOT NULL
), bc AS (
  SELECT prev, w, COUNT(*) AS bc FROM bigrams GROUP BY 1, 2
), uc AS (
  SELECT prev, COUNT(*) AS uc FROM bigrams GROUP BY 1
), vocab AS (SELECT COUNT(DISTINCT w) AS v FROM toks)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CAST(round(ln((bc + 1) / (uc + v)), 6)
                AS DECIMAL(20,6))) AS DOUBLE) AS total_logprob
FROM bigrams
JOIN bc USING (prev, w)
JOIN uc USING (prev)
CROSS JOIN vocab
GROUP BY doc_id
"""




def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str,
                                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with the held-out eval set (here: every 100th doc
    plays the benchmark role) — the exact-substring contamination check
    run before LLM training. Returns each contaminated train doc with
    how many distinct n-grams it shares and how many eval docs it hits.

    Plan: explode n-grams on both sides, equi-join on the gram (never a
    doc x doc product), aggregate per train doc. The eval side of the
    join is the small side and broadcasts under AQE; the gram join key
    is naturally high-cardinality so no skew handling is needed.
    """
    d = table(spark, sf_dir, "documents")
    # join on 64-bit gram-hash chains, not gram strings (identity is
    # all the overlap check needs) — see cross_doc_span_dups
    grams = (d.withColumn("th", T.token_hashes("text"))
             .select("doc_id",
                     F.explode(T.shingle_hashes_of(F.col("th"), n))
                     .alias("g")))
    train = grams.filter(F.col("doc_id") % 100 != 0)
    ev = (grams.filter(F.col("doc_id") % 100 == 0)
          .select(F.col("doc_id").alias("eval_doc_id"), "g")
          .dropDuplicates())
    return (
        train.dropDuplicates()
        .join(ev, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"),
             F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"))
    )


DECONTAMINATION_SQL = """
WITH grams AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, t,
           unnest(CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
                  END) AS g
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS t
          FROM documents))
), train AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 100 != 0
), ev AS (
  SELECT DISTINCT doc_id AS eval_doc_id, g FROM grams WHERE doc_id % 100 = 0
)
SELECT doc_id, COUNT(DISTINCT g) AS n_shared_grams,
       COUNT(DISTINCT eval_doc_id) AS n_eval_docs_hit
FROM train JOIN ev USING (g)
GROUP BY doc_id
"""


def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition detector: fraction of duplicated word
    3-grams per document (1 - distinct/total) — high values catch the
    repeated-boilerplate / looping-text failure mode that poisons
    training corpora. Pure narrow expressions, no shuffle at all."""
    d = table(spark, sf_dir, "documents")
    # RAW (non-distinct) grams — T.shingles dedups its output, which
    # would make every repetition_ratio 0 by construction. Grams are
    # materialized as a column in a prior select so the two consumers
    # (size, array_distinct) read the built array instead of relying
    # on codegen subexpression elimination to dedupe the construction.
    g = (d.select("doc_id", T.split_tokens("text").alias("toks"))
         .select("doc_id",
                 T.raw_shingles_of(F.col("toks"), 3).alias("grams")))
    total = F.size(F.col("grams"))
    distinct = F.size(F.array_distinct(F.col("grams")))
    return g.select(
        "doc_id",
        total.alias("n_grams"),
        F.round(F.when(total > 0, 1.0 - distinct / total)
                .otherwise(F.lit(0.0)), 6).alias("repetition_ratio"),
    )


DOC_REPETITION_SQL = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
              ELSE list_transform(range(1, len(t) - 1),
                                  i -> array_to_string(t[i:i+2], ' '))
         END AS grams
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents)
)
SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
       round(CASE WHEN len(grams) > 0
             THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
             ELSE 0.0 END, 6) AS repetition_ratio
FROM g
"""


def incremental_dedup_exact(spark: SparkSession, sf_dir: str,
                            new_source: str = "src0") -> DataFrame:
    """Incremental corpus ingestion: dedup a NEW batch (one crawl
    source) against the EXISTING corpus (all other sources), the
    steady-state shape of a production training-data pipeline — the
    corpus is never re-deduped from scratch, each incoming batch is.

    Anti-join on the canonical fingerprint removes new docs already
    present in the corpus, then a min-per-fingerprint collapse dedups
    the batch internally. Scale: both sides reduce to (fingerprint)
    before the join — at 100 TB the anti join moves 16-byte digests,
    never text; the new batch is the small side and broadcasts under
    AQE."""
    d = table(spark, sf_dir, "documents")
    new = (d.filter(F.col("source") == new_source)
           .select("doc_id", T.fingerprint("text").alias("fp")))
    corpus = (d.filter(F.col("source") != new_source)
              .select(T.fingerprint("text").alias("fp")))
    return (new.join(corpus, "fp", "left_anti")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count(F.lit(1)).alias("n_batch_copies")))


INCREMENTAL_DEDUP_SQL = f"""
WITH fps AS (
  SELECT doc_id, source,
         {T.SQL_FINGERPRINT} AS fp
  FROM documents
)
SELECT fp, min(doc_id) AS doc_id, COUNT(*) AS n_batch_copies
FROM fps n
WHERE source = 'src0'
  AND NOT EXISTS (SELECT 1 FROM fps c
                  WHERE c.source <> 'src0' AND c.fp = n.fp)
GROUP BY fp
"""


def cross_doc_span_dups(spark: SparkSession, sf_dir: str,
                        n: int = 8) -> DataFrame:
    """Boilerplate-span detection: per document, the fraction of its
    distinct word ``n``-grams that also occur in at least one OTHER
    document (RefinedWeb-style line/span dedup, over grams since the
    synthetic corpus has no line structure). High ratios flag docs
    made of corpus-wide boilerplate even when no single whole-doc
    near-dup exists.

    Plan: one gram explode -> gram-frequency agg (shuffle on gram) ->
    join back on gram -> per-doc agg. Linear in corpus gram volume,
    never doc x doc. The ratio is emitted as a raw IEEE division
    (identical expression in the oracle), not rounded — round() at
    half-boundary digits is where Spark/DuckDB diverge."""
    d = table(spark, sf_dir, "documents")
    # gram identity, never gram text: T.shingle_hashes skips building
    # the 8-gram strings entirely (hash-of-token-hashes), so both the
    # frequency shuffle and the join shuffle move 8-byte longs and the
    # tokenize passes do long ops instead of O(k^2) char concatenation;
    # a 64-bit collision across a corpus gram vocabulary is negligible
    # (~1e-7 at 3M grams) and the hash-exact oracle gate would surface
    # one
    grams = (d.withColumn("th", T.token_hashes("text"))
             .select("doc_id",
                     F.explode(T.shingle_hashes_of(F.col("th"), n))
                     .alias("gh")))
    shared = grams.groupBy("gh").agg(
        F.countDistinct("doc_id").alias("nd"))
    return (
        grams.join(shared, "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_shared"))
        .withColumn("span_dup_ratio",
                    F.col("n_shared").cast("double") / F.col("n_grams"))
    )


CROSS_DOC_SPAN_SQL = """
WITH grams AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_distinct(
             CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, len(t) - 6),
                                      i -> array_to_string(t[i:i+7], ' '))
             END)) AS g
    FROM (SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS t
          FROM documents))
), shared AS (
  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g
)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_shared,
       CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS DOUBLE)
         / COUNT(*) AS span_dup_ratio
FROM grams JOIN shared USING (g)
GROUP BY doc_id
"""


def context_packing_stats(spark: SparkSession, sf_dir: str,
                          window_tokens: int = 4096) -> DataFrame:
    """Sample-packing layout: assign documents (in deterministic doc_id
    order WITHIN each source shard) to fixed-size context windows by
    cumulative token count, and report per-window document count and
    token fill — the planning pass for packing training sequences.

    Scale posture: the running sum is windowed PER SOURCE (the shard
    key), so no global single-partition sort exists; a 100 TB corpus
    packs each shard independently, which is also what a trainer wants
    (shard-local files). A doc belongs to the window its cumulative
    START offset falls in (docs may straddle window boundaries; the
    trainer's concatenation handles the overflow)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select("source", "doc_id",
                    T.token_count("text").alias("n_tokens"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    binned = toks.withColumn(
        "win_id", F.floor(start / F.lit(window_tokens)).cast("long"))
    return (binned.groupBy("source", "win_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("win_tokens")))


CONTEXT_PACKING_SQL = """
WITH toks AS (
  SELECT source, doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
         END AS n_tokens
  FROM documents
), binned AS (
  SELECT source, n_tokens,
         CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 4096) AS BIGINT) AS win_id
  FROM toks
)
SELECT source, win_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS win_tokens
FROM binned GROUP BY source, win_id
"""


def context_packing_manifest(spark: SparkSession, sf_dir: str,
                             window_tokens: int = 4096) -> DataFrame:
    """The per-document placement MANIFEST behind
    ``context_packing_stats`` — the artifact a dataloader actually
    consumes: for every document, its context window id and token
    offset WITHIN the shard-local packing order. Same shard-windowed
    cumulative sum (no global sort at any scale); emitting rows
    instead of aggregates costs nothing extra — the window pass is
    identical, only the final groupBy is dropped."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select("source", "doc_id",
                    T.token_count("text").alias("n_tokens"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "source", "doc_id", "n_tokens",
        start.cast("bigint").alias("start_offset"),
        F.floor(start / F.lit(window_tokens)).cast("long").alias("win_id"),
        (start % F.lit(window_tokens)).cast("bigint").alias("win_offset"))


CONTEXT_MANIFEST_SQL = """
WITH toks AS (
  SELECT source, doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
         END AS n_tokens
  FROM documents
)
SELECT source, doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER w, 0) AS BIGINT) AS start_offset,
       CAST(floor(COALESCE(SUM(n_tokens) OVER w, 0) / 4096) AS BIGINT)
         AS win_id,
       CAST(COALESCE(SUM(n_tokens) OVER w, 0) % 4096 AS BIGINT)
         AS win_offset
FROM toks
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def training_shuffle_order(spark: SparkSession, sf_dir: str,
                           shards: int = 8) -> DataFrame:
    """Deterministic pseudorandom training order: docs are dealt to
    ``shards`` output shards round-robin and ordered WITHIN each shard
    by an md5 of a seeded key — reproducible global shuffling without a
    global sort (the row_number window partitions by shard, so each
    shard orders independently; at 100 TB no single-partition window
    exists). md5 is engine-portable, so the oracle reproduces the
    permutation bit-for-bit (vs xxhash64, which DuckDB lacks)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (d.select("doc_id",
                     (F.col("doc_id") % shards).alias("shard"),
                     key.alias("k"))
            .withColumn("pos", F.row_number().over(w))
            .select("doc_id", "shard", "pos"))


TRAINING_SHUFFLE_SQL = """
SELECT doc_id, doc_id % 8 AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY doc_id % 8
         ORDER BY md5('shuf42:' || CAST(doc_id AS VARCHAR)), doc_id)
       AS INT) AS pos
FROM documents
"""


def source_mixture_plan(spark: SparkSession, sf_dir: str,
                        budget_tokens: int = 100_000) -> DataFrame:
    """Training-mixture planning: per-source token inventory vs a
    uniform per-source share of the total token budget — emits each
    source's available tokens, its target allocation, the sampling
    rate to downsample an over-represented source (<= 1.0), and the
    epoch count (upsampling repeats) for an under-represented one.
    The post-aggregation frame is #sources rows, so the unpartitioned
    share window is a constant-size driver-side triviality at any
    corpus scale."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    inv = d.groupBy("source").agg(
        F.sum(T.token_count("text")).alias("avail_tokens"))
    n_src = F.count(F.lit(1)).over(Window.partitionBy())
    target = F.lit(float(budget_tokens)) / n_src
    return (inv.withColumn("target_tokens", target)
            .withColumn("sample_rate",
                        F.least(F.lit(1.0),
                                F.col("target_tokens")
                                / F.col("avail_tokens")))
            .withColumn("epochs",
                        F.ceil(F.col("target_tokens")
                               / F.col("avail_tokens")).cast("long"))
            .select("source", "avail_tokens", "target_tokens",
                    "sample_rate", "epochs"))


SOURCE_MIXTURE_SQL = """
WITH inv AS (
  SELECT source,
         SUM(CASE WHEN trim(text) = '' THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
             END) AS avail_tokens
  FROM documents GROUP BY source
)
SELECT source, CAST(avail_tokens AS BIGINT) AS avail_tokens,
       CAST(100000 AS DOUBLE) / COUNT(*) OVER () AS target_tokens,
       least(1.0, (CAST(100000 AS DOUBLE) / COUNT(*) OVER ())
                  / avail_tokens) AS sample_rate,
       CAST(ceil((CAST(100000 AS DOUBLE) / COUNT(*) OVER ())
                 / avail_tokens) AS BIGINT) AS epochs
FROM inv
"""


def doc_word_runs_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of consecutive repeated tokens via a Python
    UDTF (Spark 4 table function) in a LATERAL join — one input doc
    fans out to one row per run. Completes the UDF surface triple
    (scalar pandas UDF / grouped applyInPandas / table-valued UDTF).

    A UDTF is the right tool precisely where this module's pure-SQL
    stance breaks down: per-row SEQUENTIAL logic with a variable-length
    output. The oracle reproduces it relationally (gaps-and-islands),
    which costs two window passes over the exploded tokens — the UDTF
    does it in one linear scan per document. Runs of length >= 2 are
    the degenerate-repetition signal (cf. ``doc_repetition_scores``,
    which scores it; this op LOCATES the runs)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="run_idx int, token string, run_start int, run_len int")
    class WordRuns:
        def eval(self, text: str):  # noqa: ANN001 — Spark calls per row
            runs: list[list] = []
            prev: object = object()
            for pos, w in enumerate((text or "").split()):
                if w != prev:
                    runs.append([w, pos, 0])
                    prev = w
                runs[-1][2] += 1
            for i, (w, start, ln) in enumerate(runs):
                yield i, w, start, ln

    spark.udtf.register("word_runs", WordRuns)
    table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_runs")
    return spark.sql("""
        SELECT d.doc_id, r.run_idx, r.token, r.run_start, r.run_len
        FROM __docs_runs d, LATERAL word_runs(d.text) r
    """)


DOC_WORD_RUNS_SQL = """
WITH toks AS (
  SELECT doc_id,
         CAST(u['i'] AS INT) AS pos, CAST(u['w'] AS VARCHAR) AS w
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(parts) + 1),
           i -> {'i': i - 1, 'w': parts[i]})) AS u
    FROM (SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE regexp_split_to_array(trim(text), '\\s+')
                 END AS parts
          FROM documents)
  )
),
marked AS (
  SELECT doc_id, pos, w,
         CASE WHEN lag(w) OVER (PARTITION BY doc_id ORDER BY pos)
                   IS DISTINCT FROM w THEN 1 ELSE 0 END AS brk
  FROM toks
),
runs AS (
  SELECT doc_id, pos, w,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
)
SELECT doc_id, CAST(run_id - 1 AS INT) AS run_idx, w AS token,
       CAST(MIN(pos) AS INT) AS run_start,
       CAST(COUNT(*) AS INT) AS run_len
FROM runs
GROUP BY doc_id, run_id, w
"""


# ----------------------------------------------------------------------
# weighted mixture sampling — deterministic hash-threshold Bernoulli
# ----------------------------------------------------------------------

# per-source keep rates expressed as 4-hex-digit md5 prefixes:
# P(keep) = int(threshold, 16) / 16^4. Unlike Spark's sample()/sampleBy()
# RNG (rows-only stratified_sample above), an md5 threshold is a pure
# function of the ROW — reproducible across runs, engines, partitionings
# and cluster sizes, which is what a training-mixture spec needs: the
# same doc is kept or dropped forever, no matter how the job is laid out.
MIXTURE_RATES = {
    "src0": "ffff",   # ~1.0
    "src1": "8000",   # 0.5
    "src2": "4000",   # 0.25
    "src3": "1999",   # ~0.1
}
DEFAULT_MIXTURE_RATE = "c000"  # 0.75 for every other source


def _mixture_threshold_sql(source_col: str) -> str:
    cases = " ".join(f"WHEN '{s}' THEN '{t}'"
                     for s, t in sorted(MIXTURE_RATES.items()))
    return f"CASE {source_col} {cases} ELSE '{DEFAULT_MIXTURE_RATE}' END"


def weighted_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted mixture sampling [EXT]: keep each doc iff
    the first 4 hex chars of ``md5(doc_id || ':mix')`` sort below the
    source's threshold — an engine-portable Bernoulli draw (md5 is
    bit-identical in Spark and DuckDB, so this query is EXACTLY
    oracled, unlike RNG-based sampling). Output: per-source kept doc
    and token counts — the realized mixture a trainer would consume."""
    d = table(spark, sf_dir, "documents")
    u = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":mix"))), 1, 4)
    thr = F.expr(_mixture_threshold_sql("source"))
    return (d.select("source", T.token_count("text").alias("n_tokens"), u.alias("u"), thr.alias("thr"))
            .filter(F.col("u") < F.col("thr"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))


WEIGHTED_MIXTURE_SQL = f"""
WITH kept AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 4)
        < {_mixture_threshold_sql('source')}
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM kept GROUP BY source
"""


# ----------------------------------------------------------------------
# quality percentile filter — exact per-language percentile gate
# ----------------------------------------------------------------------

def quality_percentile_filter(spark: SparkSession, sf_dir: str,
                              keep_frac: float = 0.4) -> DataFrame:
    """Per-language quality gate at an exact percentile [EXT]: keep the
    top ``keep_frac`` of documents per language by quality score
    (percent_rank, deterministic (q, doc_id) ordering), report the
    kept count and realized quality floor per language. Exact
    percentiles need one sort per language partition — the scalable
    form of "keep the best 40%" when a fixed absolute threshold would
    drift per language; an approx-quantile pre-pass would trade the
    sort for rank error."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    scored = d.select("doc_id", "lang", T.quality_score("text").alias("q"))
    w = Window.partitionBy("lang").orderBy(F.desc("q"), F.asc("doc_id"))
    return (scored.withColumn("pr", F.percent_rank().over(w))
            .filter(F.col("pr") < keep_frac)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.round(F.min("q"), 6).alias("q_floor"),
                 davg(F.col("q"), "avg_q")))


QUALITY_PERCENTILE_SQL = f"""
WITH m AS (
  SELECT doc_id, lang,
{T.SQL_DOC_METRIC_COLS}
  FROM documents
), scored AS (
  SELECT doc_id, lang, {T.SQL_QUALITY_FROM_METRICS} AS q FROM m
), ranked AS (
  SELECT lang, q,
         percent_rank() OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC) AS pr
  FROM scored
)
SELECT lang, COUNT(*) AS n_kept,
       round(MIN(q), 6) AS q_floor,
       {SQL_DAVG.format(expr='q')} AS avg_q
FROM ranked WHERE pr < 0.4 GROUP BY lang
"""


# ----------------------------------------------------------------------
# length-bucket packing — padding-waste manifest for batch assembly
# ----------------------------------------------------------------------

def length_bucket_packing(spark: SparkSession, sf_dir: str,
                          bucket_width: int = 128,
                          max_bucket: int = 31) -> DataFrame:
    """Length-bucketed batching manifest [EXT]: documents are dealt to
    token-length buckets of ``bucket_width`` (capped at
    ``max_bucket``), and per bucket the padding waste is computed —
    the tokens burned if every doc in the bucket is padded to the
    bucket ceiling. Length-bucketing is how training dataloaders keep
    padding waste low at scale (batching docs of similar length); this
    query IS the planning table for it, one shuffle on the bucket key."""
    d = table(spark, sf_dir, "documents")
    toks = T.token_count("text")
    bucket = F.least(F.floor(toks / bucket_width),
                     F.lit(max_bucket)).cast("long")
    ceiling = (bucket + 1) * bucket_width
    return (d.select(bucket.alias("bucket"), toks.alias("n_tokens"),
                     ceiling.alias("ceil_tokens"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum(F.col("ceil_tokens") - F.col("n_tokens"))
                 .alias("padding_waste")))


LENGTH_BUCKET_SQL = """
WITH toks AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
), b AS (
  SELECT n_tokens,
         least(CAST(floor(n_tokens / 128) AS BIGINT), 31) AS bucket
  FROM toks
)
SELECT bucket, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM((bucket + 1) * 128 - n_tokens) AS BIGINT) AS padding_waste
FROM b GROUP BY bucket
"""


# ----------------------------------------------------------------------
# tokenizer vocab coverage — OOV rate against a corpus-derived vocab
# ----------------------------------------------------------------------

VOCAB_SIZE = 500


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage analysis [EXT]: build the top-``VOCAB_SIZE``
    corpus vocabulary (by occurrence count, alphabetical tie-break) and
    report each source's out-of-vocabulary token rate — the standard
    pre-tokenizer health check (a source with high OOV under the
    corpus vocab will fragment into long byte-level token sequences).

    Two passes over the tokens by construction (the vocab is a global
    aggregate consumed by the per-row pass); the vocab itself is tiny
    and broadcast back, so pass two stays shuffle-free on the join."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = (d.select("source",
                     F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                     .alias("w"))
            .filter(F.col("w") != ""))
    rk = Window.orderBy(F.desc("cnt"), F.asc("w"))
    vocab = (toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
             .withColumn("rn", F.row_number().over(rk))
             .filter(F.col("rn") <= VOCAB_SIZE)
             .select("w", F.lit(1).alias("in_vocab")))
    return (toks.join(F.broadcast(vocab), "w", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                 .alias("oov_tokens"))
            .select("source", "n_tokens", "oov_tokens",
                    F.round(F.col("oov_tokens") / F.col("n_tokens"), 6)
                    .alias("oov_rate")))


VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT source, w FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents)
  WHERE w != ''
), vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY COUNT(*) DESC, w ASC) AS rn
    FROM toks GROUP BY w)
  WHERE rn <= {VOCAB_SIZE}
)
SELECT source, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       round(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / COUNT(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY source
"""


# ----------------------------------------------------------------------
# grouped applyInArrow — Arrow-native per-group kernel
# ----------------------------------------------------------------------

def _arrow_source_stats(table):  # noqa: ANN001, ANN201 - Arrow kernel
    """Per-source stats computed Arrow-native (no pandas hop): doc
    count, char total, LOWER median (index (n-1)//2 of the sorted
    array — integer-exact, no interpolation, so the oracle's
    ROW_NUMBER formulation matches bit-for-bit)."""
    import numpy as np
    import pyarrow as pa

    arr = np.sort(table.column("n_chars").to_numpy())
    return pa.table({
        "source": [table.column("source")[0].as_py()],
        "n_docs": [len(arr)],
        "total_chars": [int(arr.sum())],
        "median_chars": [int(arr[(len(arr) - 1) // 2])],
    })


def doc_source_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document stats via grouped ``applyInArrow`` — the
    Arrow-native grouped-kernel surface beside ``applyInPandas``
    (cogrouped), ``mapInPandas``, ``mapInArrow``, the UDTF and
    ``applyInPandasWithState``: the full Python-UDF matrix. The group
    arrives as one Arrow table (zero-copy batches), the kernel sorts a
    single int64 column — O(group) memory, fine for per-SOURCE groups
    (bounded count); a per-doc-scale key would use the aggregate
    forms instead. Median is the LOWER median so every output is an
    exact integer in both engines."""
    d = table(spark, sf_dir, "documents").select("source", "n_chars")
    return d.groupBy("source").applyInArrow(
        _arrow_source_stats,
        schema=("source string, n_docs bigint, total_chars bigint, "
                "median_chars bigint"))


ARROW_STATS_SQL = """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS cnt
  FROM documents
)
SELECT source, CAST(MAX(cnt) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS BIGINT)
         AS median_chars
FROM ranked GROUP BY source
"""


# ----------------------------------------------------------------------
# association mining — token co-occurrence lift (market-basket shape)
# ----------------------------------------------------------------------

def token_lift_pairs(spark: SparkSession, sf_dir: str,
                     vocab_k: int = 100, min_support: int = 20) -> DataFrame:
    """Association mining over documents-as-baskets: for token pairs
    that co-occur in >= ``min_support`` documents, report the LIFT
    ``P(x,y) / (P(x) P(y))`` — the market-basket measure (>1 =
    attract, <1 = repel). Lift instead of PMI on purpose: PMI's log
    rides libm (engine-divergent last ulp); lift is two multiplies and
    a divide — correctly-rounded IEEE, identical everywhere.

    Scale shape: the vocabulary is capped at the top ``vocab_k`` tokens
    by document frequency (rank ties to the token), so per-doc pair
    fan-out is bounded by C(vocab_k, 2) CONSTANT regardless of corpus
    size — the standard guard that keeps co-occurrence mining linear in
    documents. One explode + distinct per doc, a self-join on doc_id
    (co-partitioned, bounded fan-out), one count aggregation; token
    document frequencies broadcast back onto the pair counts."""
    d = table(spark, sf_dir, "documents")
    toks = (d.select("doc_id",
                     F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                     .alias("w"))
            .distinct())
    from pyspark.sql import Window
    df_counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    top = (df_counts
           .withColumn("rk", F.row_number().over(
               Window.orderBy(F.col("n_w").desc(), F.col("w"))))
           .filter(F.col("rk") <= vocab_k)
           .select("w", "n_w"))
    present = toks.join(F.broadcast(top.select("w")), "w")
    a = present.select("doc_id", F.col("w").alias("w1"))
    b = present.select("doc_id", F.col("w").alias("w2"))
    pairs = (a.join(b, "doc_id")
             .filter(F.col("w1") < F.col("w2"))
             .groupBy("w1", "w2")
             .agg(F.count(F.lit(1)).alias("n_xy"))
             .filter(F.col("n_xy") >= min_support))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    t1 = top.select(F.col("w").alias("w1"), F.col("n_w").alias("n_x"))
    t2 = top.select(F.col("w").alias("w2"), F.col("n_w").alias("n_y"))
    return (pairs.join(F.broadcast(t1), "w1").join(F.broadcast(t2), "w2")
            .crossJoin(F.broadcast(n_docs))
            .select("w1", "w2", "n_xy",
                    F.round(F.col("n_xy") * 1.0 * F.col("n_docs")
                            / (F.col("n_x") * 1.0 * F.col("n_y")), 6)
                    .alias("lift")))


TOKEN_LIFT_SQL = r"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
), dfreq AS (
  SELECT w, COUNT(*) AS n_w FROM toks GROUP BY w
), top AS (
  SELECT w, n_w FROM (
    SELECT w, n_w, ROW_NUMBER() OVER (ORDER BY n_w DESC, w) AS rk
    FROM dfreq)
  WHERE rk <= 100
), present AS (
  SELECT t.doc_id, t.w FROM toks t JOIN top USING (w)
), pairs AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_xy
  FROM present a JOIN present b
    ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
  HAVING COUNT(*) >= 20
), nn AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT w1, w2, n_xy,
       round(n_xy * 1.0 * (SELECT n_docs FROM nn)
             / (t1.n_w * 1.0 * t2.n_w), 6) AS lift
FROM pairs
JOIN top t1 ON t1.w = pairs.w1
JOIN top t2 ON t2.w = pairs.w2
"""


# ----------------------------------------------------------------------
# deterministic per-group sampling — md5-ordered top-k per source
# ----------------------------------------------------------------------

def grouped_sample_topk(spark: SparkSession, sf_dir: str,
                        k: int = 5) -> DataFrame:
    """Per-group sample of exactly ``k`` documents per source, chosen
    by md5 order — the deterministic counterpart to reservoir/RNG
    sampling (``stratified_sample`` rides Spark's RNG and is
    necessarily rows-only; this draw is a pure function of the data, so
    it is value-hash oracled and reproducible across engines, runs and
    partitionings). Uniformity comes from md5's avalanche: ordering by
    ``md5(doc_id || ':gs')`` is a random permutation per salt.

    One shuffle on source for the rank window; ties are impossible
    (md5 of distinct ids). At 100 TB the same plan holds — rank
    windows over the group key scale with group size, and k rows per
    group come back."""
    d = table(spark, sf_dir, "documents")
    u = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":gs")))
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(u)
    return (d.select("source", "doc_id",
                     T.token_count("text").alias("n_tokens"),
                     F.row_number().over(w).alias("draw_rank"))
            .filter(F.col("draw_rank") <= k))


def weighted_sample_aes(spark: SparkSession, sf_dir: str,
                        k: int = 5) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly ``k`` per source
    (Efraimidis-Spirakis A-ES) — the missing cell of the sampling
    matrix beside rate-based Bernoulli (``weighted_mixture_sample``)
    and uniform exactly-k (``grouped_sample_topk``): each doc draws a
    deterministic md5 uniform ``u`` and is ranked by ``u^(1/w)`` with
    weight ``w`` = token count, so long documents win proportionally
    more often — the standard one-pass distributed weighted reservoir.

    Engine-portable ranking: ``u^(1/w)`` is maximized exactly when
    ``ln(u)/w`` is (monotone transform), and ``ln(u)`` goes through
    the repo's 6dp-ln integer-micros idiom; the sort key is then the
    IEEE-exact division of two integers (identical doubles in both
    engines), ties broken by doc_id. Zero-weight (empty) docs are
    excluded up front — A-ES gives them key 0, i.e. never sampled.

    Scale: one rank window per source with ``row_number <= k`` (Spark
    4's WindowGroupLimit pushes the per-key limit below the shuffle,
    so a hot source never funnels its full frame through one task)."""
    d = table(spark, sf_dir, "documents")
    w_tok = T.token_count("text")
    # u from the first 6 hex digits of md5 (uniform on (0, 1], the
    # +1 keeps ln off zero); ln in integer micros, key = micros / w
    val6 = F.expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), "
                  "':aes')), 1, 6), 16, 10) AS BIGINT) + 1")
    ln_micros = F.floor(
        F.round(F.log(val6.cast("double") / F.lit(16 ** 6)), 6)
        * 1000000.0 + 0.5).cast("bigint")
    base = (d.select("source", "doc_id", w_tok.alias("n_tokens"),
                     ln_micros.alias("lnm"))
            .filter(F.col("n_tokens") > 0)
            .withColumn("key", F.col("lnm").cast("double")
                        / F.col("n_tokens")))
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(F.desc("key"), "doc_id")
    return (base.withColumn("draw_rank",
                            F.row_number().over(w).cast("int"))
            .filter(F.col("draw_rank") <= k)
            .select("source", "doc_id", "n_tokens", "draw_rank"))


WEIGHTED_AES_SQL = r"""
WITH base AS (
  SELECT source, doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
           AS n_tokens,
         CAST(floor(round(ln(
           ({hex6} + 1) * 1.0 / 16777216), 6) * 1000000.0 + 0.5)
           AS BIGINT) AS lnm
  FROM documents
), keyed AS (
  SELECT source, doc_id, n_tokens, lnm * 1.0 / n_tokens AS key
  FROM base WHERE n_tokens > 0
)
SELECT source, doc_id, n_tokens, draw_rank FROM (
  SELECT source, doc_id, n_tokens,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY key DESC, doc_id) AS INT)
           AS draw_rank
  FROM keyed)
WHERE draw_rank <= 5
""".format(hex6="(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) "
    f"|| ':aes'), {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
    for i in range(6)) + ")")


GROUPED_SAMPLE_SQL = """
SELECT source, doc_id, n_tokens, draw_rank FROM (
  SELECT source, doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':gs'))
           AS draw_rank
  FROM documents)
WHERE draw_rank <= 5
"""


NEYMAN_BUDGET = 64


def stratified_sample_neyman(spark: SparkSession, sf_dir: str,
                             budget: int = NEYMAN_BUDGET) -> DataFrame:
    """Stratified sampling with NEYMAN ALLOCATION [EXT] — the
    survey-sampling optimum that completes the sampling matrix: the
    ``budget`` is split across strata (sources) proportionally to
    ``N_h * S_h`` (stratum size x stratum stddev of document token
    count), so volatile strata get more draws and uniform strata
    fewer — minimizing the variance of the corpus-level estimate at
    fixed sample size.

    Determinism end-to-end: ``N_h * S_h`` equals ``sqrt(N_h * ss_h -
    s_h^2)`` with EXACT integer moments (the ``embedding_dim_variance``
    decimal-moments discipline), and IEEE-754 sqrt of an identical
    double is bit-identical in both engines, so the allocation weight
    ``a_h = floor(sqrt(D_h))`` is integral and portable. Allocation
    ``n_h = max(1, budget * a_h DIV sum(a_h))`` is pure integer
    arithmetic (DECIMAL(38,0) armor Spark-side only — ``base.ppm``
    convention); the floor leaves a handful of budget slots unspent
    rather than introducing a nondeterministic largest-remainder race.
    Draws are the repo's deterministic md5 order per stratum.

    Scale: moments aggregate in one map-side-combining pass; the
    per-stratum rank is ``row_number <= budget`` (WindowGroupLimit
    pushes the cap below the shuffle — the ``weighted_sample_aes``
    justification); the allocation table is strata-sized, joined back
    with an explicit broadcast (a source CATALOG is bounded by
    definition, unlike customers/docs).
    """
    d = table(spark, sf_dir, "documents")
    base = d.select("source", "doc_id",
                    T.token_count("text").alias("n_tokens"))
    stats = (base.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_stratum"),
                  F.sum(F.col("n_tokens").cast("decimal(38,0)")).alias("s"),
                  F.sum((F.col("n_tokens") * F.col("n_tokens"))
                        .cast("decimal(38,0)")).alias("ss")))
    weights = stats.withColumn(
        "a",
        F.expr("CAST(floor(sqrt(CAST(n_stratum * ss - s * s AS DOUBLE)))"
               " AS BIGINT)"))
    tot = weights.agg(F.sum("a").alias("a_total"))
    alloc = (weights.crossJoin(F.broadcast(tot))
             .withColumn(
                 "n_alloc",
                 F.expr(f"GREATEST(CAST(1 AS BIGINT), "
                        f"CAST(CAST(a AS DECIMAL(38,0)) * {budget}"
                        f" DIV a_total AS BIGINT))"))
             .select("source", "n_stratum", "a", "n_alloc"))
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ney"))),
        "doc_id")
    ranked = (base.withColumn("draw_rank",
                              F.row_number().over(w).cast("int"))
              .filter(F.col("draw_rank") <= budget))
    return (ranked.join(F.broadcast(alloc), "source")
            .filter(F.col("draw_rank") <= F.col("n_alloc"))
            .select("source", "doc_id", "draw_rank",
                    "n_stratum", "n_alloc"))


NEYMAN_SQL = f"""
WITH base AS (
  SELECT source, doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
           AS n_tokens
  FROM documents
),
stats AS (
  SELECT source, COUNT(*) AS n_stratum,
         CAST(SUM(n_tokens) AS BIGINT) AS s,
         CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS ss
  FROM base GROUP BY source
),
alloc AS (
  SELECT source, n_stratum,
         CAST(floor(sqrt(CAST(n_stratum * ss - s * s AS DOUBLE)))
              AS BIGINT) AS a
  FROM stats
),
alloc2 AS (
  SELECT source, n_stratum, a,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(a * {NEYMAN_BUDGET}
                       // (SELECT SUM(a) FROM alloc) AS BIGINT)) AS n_alloc
  FROM alloc
),
ranked AS (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':ney'), doc_id)
           AS INT) AS draw_rank
  FROM base
)
SELECT r.source, r.doc_id, r.draw_rank, al.n_stratum, al.n_alloc
FROM ranked r JOIN alloc2 al ON r.source = al.source
WHERE r.draw_rank <= al.n_alloc
"""


# ----------------------------------------------------------------------
# Gopher-style quality rules — the published heuristic document filter
# ----------------------------------------------------------------------

def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based document filter in the style of the Gopher corpus
    heuristics (Rae et al. 2021, public): per-document booleans for
    six rules, aggregated to per-source pass/fail counts — the
    composite gate a pretraining pipeline applies before dedup.

    Rules: word count in [50, 100000]; mean word length in [3, 10];
    symbol-to-word ratio ('#' chars + '...' runs) <= 0.1; <= 90% of
    lines bullet-led; >= 80% of words contain a letter; >= 2 stopwords.

    Everything is one scan + one aggregation, and every per-doc metric
    is a single deterministic expression shared with the DuckDB twin:
    integer counts, and ratios formed by ONE `* 1.0 /` double division
    (identical IEEE result in both engines) — so a rule boundary can
    never flap between engines. Empty docs short-circuit every ratio
    behind a CASE (no div-by-zero path).
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_words = F.when(F.trim(F.col("text")) == "", F.lit(0)) \
        .otherwise(F.size(toks))
    sum_len = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*T.STOPWORDS_EN)))
    n_hash = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    n_ell = F.expr(
        "(length(text) - length(replace(text, '...', ''))) div 3")
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^[-*•]")))
    m = d.select(
        "source",
        n_words.alias("nw"), sum_len.alias("sl"), n_alpha.alias("na"),
        n_stop.alias("ns"), (n_hash + n_ell).alias("nsym"),
        n_lines.alias("nl"), n_bullet.alias("nb"))
    nz = F.col("nw") > 0
    r_wc = F.col("nw").between(50, 100000)
    r_mwl = nz & (F.col("sl") * 1.0 / F.col("nw") >= 3.0) \
        & (F.col("sl") * 1.0 / F.col("nw") <= 10.0)
    r_sym = nz & (F.col("nsym") * 1.0 / F.col("nw") <= 0.1)
    r_bullet = F.col("nb") * 1.0 / F.col("nl") <= 0.9
    r_alpha = nz & (F.col("na") * 1.0 / F.col("nw") >= 0.8)
    r_stop = F.col("ns") >= 2

    def fails(rule, name):  # noqa: ANN001 - Column in, Column out
        return F.sum(F.when(rule, 0).otherwise(1)).cast("bigint") \
            .alias(name)

    return (m.withColumn(
        "pass_all", r_wc & r_mwl & r_sym & r_bullet & r_alpha & r_stop)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.when(F.col("pass_all"), 1).otherwise(0))
             .cast("bigint").alias("n_pass_all"),
             fails(r_wc, "fail_word_count"),
             fails(r_mwl, "fail_mean_word_len"),
             fails(r_sym, "fail_symbol_ratio"),
             fails(r_bullet, "fail_bullet_lines"),
             fails(r_alpha, "fail_alpha_words"),
             fails(r_stop, "fail_stopwords")))


_GOPHER_STOPS = "['the','a','of','and','to','in','is','it','that','for']"

GOPHER_RULES_SQL = f"""
WITH m AS (
  SELECT source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+')) END
           AS nw,
         list_sum(list_transform(
           regexp_split_to_array(lower(trim(text)), '\\s+'),
           x -> len(x))) AS sl,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> regexp_matches(x, '[a-z]'))) AS na,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> list_contains({_GOPHER_STOPS}, x))) AS ns,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3 AS nsym,
         len(regexp_split_to_array(text, '\\n')) AS nl,
         len(list_filter(regexp_split_to_array(text, '\\n'),
             x -> regexp_matches(x, '^[-*•]'))) AS nb
  FROM documents
), r AS (
  SELECT source,
         nw BETWEEN 50 AND 100000 AS r_wc,
         nw > 0 AND sl * 1.0 / nw >= 3.0 AND sl * 1.0 / nw <= 10.0 AS r_mwl,
         nw > 0 AND nsym * 1.0 / nw <= 0.1 AS r_sym,
         nb * 1.0 / nl <= 0.9 AS r_bullet,
         nw > 0 AND na * 1.0 / nw >= 0.8 AS r_alpha,
         ns >= 2 AS r_stop
  FROM m
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_sym AND r_bullet
                      AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_all,
       CAST(SUM(CASE WHEN r_wc THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_word_count,
       CAST(SUM(CASE WHEN r_mwl THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_mean_word_len,
       CAST(SUM(CASE WHEN r_sym THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_symbol_ratio,
       CAST(SUM(CASE WHEN r_bullet THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_bullet_lines,
       CAST(SUM(CASE WHEN r_alpha THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_alpha_words,
       CAST(SUM(CASE WHEN r_stop THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_stopwords
FROM r GROUP BY source
"""


# ----------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — local-minimum sampling of k-gram
# hashes with a (k, w)-guarantee: any shared run of k+w-1 tokens
# between two documents shares at least one selected fingerprint
# (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for
# Document Fingerprinting", SIGMOD 2003).
# ----------------------------------------------------------------------

_WIN_K = 3           # word k-gram size
_WIN_W = 4           # winnowing window: gram hashes per window
_WIN_POS = 1 << 20   # position field width inside the packed sort key


def _winnow_selected(d: DataFrame) -> DataFrame:
    """Distinct selected winnowing fingerprints ``(doc_id, fp)``.

    Portable integer arithmetic end-to-end: gram hash = first 10 md5
    hex chars (40 bits, md5 is bit-identical in DuckDB), packed with
    the bit-inverted gram position into ``key = gh * 2^20 +
    (2^20-1-pos)`` so a single window ``min(key)`` implements the
    standard rightmost-minimum tie rule (larger pos => smaller key).
    Positions are bounded by 2^20 grams/doc — far above any sane
    document; a 100 TB pipeline chunks longer docs upstream
    (``doc_chunks``) — and ``gh * 2^20 < 2^60`` never overflows under
    ANSI mode.

    Plan: one posexplode, ONE shuffle on doc_id shared by both window
    functions (same partition key), distinct, agg — per-doc windows
    only, so 1000 executors each winnow their documents
    independently."""
    from pyspark.sql import Window as Wn

    grams = (d.select("doc_id", T.split_tokens("text").alias("toks"))
             .select("doc_id",
                     F.posexplode(T.raw_shingles_of(F.col("toks"), _WIN_K))
                     .alias("pos", "g")))
    gh = F.conv(F.substring(F.md5("g"), 1, 10), 16, 10).cast("bigint")
    key = (gh * F.lit(_WIN_POS)
           + (F.lit(_WIN_POS - 1) - F.col("pos").cast("bigint")))
    keyed = grams.select("doc_id", "pos", key.alias("k"))
    doc_w = Wn.partitionBy("doc_id")
    frame = (Wn.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(Wn.currentRow, _WIN_W - 1))
    return (keyed
            .withColumn("maxpos", F.max("pos").over(doc_w))
            .withColumn("kmin", F.min("k").over(frame))
            # valid window starts only; docs shorter than one window
            # keep pos 0 (whole doc = one window) so every document
            # yields at least one fingerprint
            .filter(F.col("pos") <= F.greatest(
                F.col("maxpos") - (_WIN_W - 1), F.lit(0)))
            .select("doc_id",
                    F.expr(f"kmin DIV {_WIN_POS}").alias("fp"))
            .distinct())


# shared CTE prefix: the oracle twin of _winnow_selected (identical
# md5-derived 40-bit gram hash, packed key, window min, rightmost tie)
_WINNOW_SEL_CTE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), glist AS (
  SELECT doc_id,
         CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
              ELSE list_transform(range(1, len(t) - 1),
                                  i -> array_to_string(t[i:i+2], ' '))
         END AS gs
  FROM toks
), grams AS (
  SELECT doc_id, z[2] AS pos, z[1] AS g
  FROM (SELECT doc_id, unnest(list_zip(gs, range(0, len(gs)))) AS z
        FROM glist)
), keyed AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(g), 1, 10))::BIGINT * 1048576
           + (1048575 - pos) AS k
  FROM grams
), winmin AS (
  SELECT doc_id, pos,
         max(pos) OVER (PARTITION BY doc_id) AS maxpos,
         min(k) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS kmin
  FROM keyed
), sel AS (
  SELECT DISTINCT doc_id, kmin // 1048576 AS fp
  FROM winmin
  WHERE pos <= greatest(maxpos - 3, 0)
)
"""


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary: how many fingerprints
    the (k=3, w=4) scheme selects plus an order-independent xor
    checksum — the compact signature a fingerprint index stores per
    document. See ``_winnow_selected`` for the algorithm and the
    engine-portable packed-key construction."""
    return winnow_summary(table(spark, sf_dir, "documents"))


def winnow_summary(d: DataFrame) -> DataFrame:
    """``(doc_id, n_fps, fp_xor, fp_min)`` of a ``(doc_id, text)`` frame's
    winnowing fingerprints; also the executor's ``fingerprint`` step."""
    return (_winnow_selected(d)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fps"),
                 F.expr("bit_xor(fp)").alias("fp_xor"),
                 F.min("fp").alias("fp_min")))


WINNOW_FINGERPRINTS_SQL = _WINNOW_SEL_CTE + """
SELECT doc_id, COUNT(*) AS n_fps, bit_xor(fp) AS fp_xor,
       MIN(fp) AS fp_min
FROM sel GROUP BY doc_id
"""


def winnow_overlap(spark: SparkSession, sf_dir: str,
                   min_shared: int = 2, max_df: int = 64) -> DataFrame:
    """MOSS-style cross-document overlap: document pairs ranked by how
    many winnowing fingerprints they share, with the share expressed
    against the smaller document (containment) in integer ppm.

    Blocking: fingerprints shared by more than ``max_df`` documents are
    corpus boilerplate and are dropped BEFORE the self-join (the MOSS
    "too common to be interesting" rule) — this caps per-fingerprint
    fan-out at ``max_df``^2 pairs, so the join volume is linear in the
    fingerprint index size, never doc x doc. Everything is integer
    arithmetic; the pair volume a real corpus produces is bounded by
    the same winnowing density guarantee that bounds the index size
    (~2/(w+1) of gram positions)."""
    d = table(spark, sf_dir, "documents")
    # four consumers below (doc sizes, df filter, two join sides):
    # materialize once, lineage contains the whole winnowing pass
    sel = _winnow_selected(d).localCheckpoint(eager=True)
    nf = sel.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    rare = sel.join(
        sel.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
           .filter((F.col("nd") >= 2) & (F.col("nd") <= max_df))
           .select("fp"),
        "fp")
    a = rare.select("fp", F.col("doc_id").alias("doc_a"))
    b = rare.select(F.col("fp").alias("fp_b"),
                    F.col("doc_id").alias("doc_b"))
    pairs = (a.join(b, (F.col("fp") == F.col("fp_b"))
                    & (F.col("doc_a") < F.col("doc_b")))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    na = nf.select(F.col("doc_id").alias("doc_a"),
                   F.col("n_fps").alias("nf_a"))
    nb = nf.select(F.col("doc_id").alias("doc_b"),
                   F.col("n_fps").alias("nf_b"))
    return (pairs.join(na, "doc_a").join(nb, "doc_b")
            .select("doc_a", "doc_b", "n_shared",
                    F.expr("n_shared * 1000000 DIV least(nf_a, nf_b)")
                    .alias("containment_ppm")))


WINNOW_OVERLAP_SQL = _WINNOW_SEL_CTE + """
, nf AS (
  SELECT doc_id, COUNT(*) AS n_fps FROM sel GROUP BY doc_id
), rare AS (
  SELECT s.doc_id, s.fp
  FROM sel s JOIN (SELECT fp FROM sel GROUP BY fp
                   HAVING COUNT(*) BETWEEN 2 AND 64) r USING (fp)
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= 2
)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared * 1000000 // least(na.n_fps, nb.n_fps) AS BIGINT)
         AS containment_ppm
FROM pairs
JOIN nf na ON na.doc_id = doc_a
JOIN nf nb ON nb.doc_id = doc_b
"""


def longest_shared_spans(spark: SparkSession, sf_dir: str,
                         n: int = 8, max_df: int = 64,
                         min_grams: int = 2) -> DataFrame:
    """Exact-substring duplication between document pairs: the longest
    run of consecutive shared word ``n``-grams, reported as a token
    span — the pair-level statistic behind suffix-array ExactSubstr
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022), computed with joins + windows instead
    of a suffix array.

    A shared substring of L >= n tokens appears as a diagonal of
    matched gram positions: pairs (pa, pb) with pa - pb constant and
    pa consecutive. So: positional grams -> df-capped equi-join on the
    gram hash (grams in > ``max_df`` docs are boilerplate and cannot
    anchor a faithful pair diagonal; dropping them BEFORE the join
    bounds fan-out exactly like ``winnow_overlap``) -> gaps-and-islands
    per (pair, diagonal) via the pa - row_number() trick -> max island.
    All shuffles are keyed on gram hash then (pair, diag) — never
    doc x doc.

    Repeated grams inside one document contribute every occurrence, so
    island rows per (pair, diag) stay unique in pa and runs through
    repetitions are found exactly; the fan-out this costs is bounded by
    the per-gram occurrence product, itself capped by the df filter.
    Span arithmetic is pure integers: run of g grams = g + n - 1
    tokens.

    r17: the (doc_id, pos, gh) stream is localCheckpoint-ed ONCE and
    both consumers (the df aggregate and the join probe side) read the
    materialized longs. The previous shape checkpointed the df-capped
    SURVIVORS, which re-ran the posexplode + 8-gram concat + md5 pass
    twice inside the checkpoint job (the two subtrees diverge under
    column pruning, so exchange reuse cannot dedupe them — verified in
    the r17 plan capture). 24 B/gram of executor storage buys back a
    full tokenize+hash pass — the same bytes one gram exchange already
    writes to shuffle disk. With raw_shingles_of on materialized
    tokens, measured 6.8 -> 2.0 s at sf0.1 (sweep minima).

    r18 spill-grade at 20x (the r17 verdict's quantify-don't-assume
    ask, re-drawable via `SPARK_GRAFT_UI=true scripts/scale_soak.py
    20 longest_shared_spans`): the checkpointed gram stream holds
    606 MB of executor STORAGE memory, 0 bytes on disk — the barrier
    fits; the 2.5 GB the same draw spills is execution-side (the
    gaps-and-islands sorts), present with or without the barrier. At
    a corpus where ~24 B/gram outgrows storage memory, the blocks
    overflow to local disk (localCheckpoint uses MEMORY_AND_DISK) —
    degradation, not failure; the survivor-side checkpoint remains
    the documented fallback shape."""
    d = table(spark, sf_dir, "documents")
    grams = (d.select("doc_id", T.split_tokens("text").alias("toks"))
             .select("doc_id",
                     F.posexplode(T.raw_shingles_of(F.col("toks"), n))
                     .alias("pos", "g")))
    gh40 = F.conv(F.substring(F.md5("g"), 1, 10), 16, 10).cast("bigint")
    grams = (grams.select("doc_id", "pos", gh40.alias("gh"))
             .localCheckpoint(eager=True))
    rare = grams.join(
        grams.groupBy("gh").agg(F.countDistinct("doc_id").alias("nd"))
             .filter((F.col("nd") >= 2) & (F.col("nd") <= max_df))
             .select("gh"),
        "gh")
    a = rare.select("gh", F.col("doc_id").alias("doc_a"),
                    F.col("pos").alias("pa"))
    b = rare.select(F.col("gh").alias("gh_b"),
                    F.col("doc_id").alias("doc_b"),
                    F.col("pos").alias("pb"))
    matched = (a.join(b, (F.col("gh") == F.col("gh_b"))
                      & (F.col("doc_a") < F.col("doc_b")))
               .select("doc_a", "doc_b", "pa",
                       (F.col("pa") - F.col("pb")).alias("diag")))
    from pyspark.sql import Window as Wn
    w = Wn.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (matched
            .withColumn("isl", F.col("pa") - F.row_number().over(w))
            .groupBy("doc_a", "doc_b", "diag", "isl")
            .agg(F.count(F.lit(1)).alias("run_grams")))
    return (runs.groupBy("doc_a", "doc_b")
            .agg(F.max("run_grams").alias("longest_run_grams"))
            .filter(F.col("longest_run_grams") >= min_grams)
            .select("doc_a", "doc_b", "longest_run_grams",
                    (F.col("longest_run_grams") + (n - 1))
                    .cast("bigint").alias("longest_span_tokens")))


LONGEST_SHARED_SPANS_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), glist AS (
  SELECT doc_id,
         CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
              ELSE list_transform(range(1, len(t) - 6),
                                  i -> array_to_string(t[i:i+7], ' '))
         END AS gs
  FROM toks
), grams AS (
  SELECT doc_id, z[2] AS pos,
         ('0x' || substr(md5(z[1]), 1, 10))::BIGINT AS gh
  FROM (SELECT doc_id, unnest(list_zip(gs, range(0, len(gs)))) AS z
        FROM glist)
), rare AS (
  SELECT g.doc_id, g.pos, g.gh
  FROM grams g JOIN (SELECT gh FROM grams
                     GROUP BY gh
                     HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64) r
    USING (gh)
), matched AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
         a.pos - b.pos AS diag
  FROM rare a JOIN rare b ON a.gh = b.gh AND a.doc_id < b.doc_id
), runs AS (
  SELECT doc_a, doc_b, diag,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY pa) AS isl
  FROM matched
), agg AS (
  SELECT doc_a, doc_b, diag, isl, COUNT(*) AS run_grams
  FROM runs GROUP BY doc_a, doc_b, diag, isl
)
SELECT doc_a, doc_b, MAX(run_grams) AS longest_run_grams,
       CAST(MAX(run_grams) + 7 AS BIGINT) AS longest_span_tokens
FROM agg GROUP BY doc_a, doc_b
HAVING MAX(run_grams) >= 2
"""


def bm25_topk(spark: SparkSession, sf_dir: str,
              terms: tuple = ("dup", "vector", "scan"),
              k1: float = 1.2, b: float = 0.75,
              topk: int = 10) -> DataFrame:
    """BM25 lexical relevance: top-k documents for a fixed query term
    set — the retrieval scorer a data pipeline uses for targeted corpus
    slicing (and the lexical baseline next to the embedding ANN
    retrievers). Okapi BM25 with k1/b defaults; one tokenize pass
    feeds doc lengths, per-doc term frequencies and document
    frequencies; corpus stats broadcast back as a 1-row frame.

    Cross-engine determinism (same discipline as ``doc_tfidf_topterms``
    and the cent rule): idf's natural log is rounded to 6 decimals
    (ln is only 1-ulp reproducible across libm builds), every other
    factor is identical-operand double arithmetic, and the per-term
    score is converted to integer MICROS (floor(x*1e6+0.5)) before the
    per-doc sum — so the only order-sensitive reduction is over
    BIGINTs. Ranking ties break on doc_id."""
    from pyspark.sql import Window as Wn

    d = table(spark, sf_dir, "documents")
    toks = (d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"))
        .filter(F.col("term") != ""))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    hits = toks.filter(F.col("term").isin(*terms))
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg((F.sum("dl").cast("double") / F.count(F.lit(1)))
               .alias("avgdl")))
    idf = F.round(F.log((F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5) + 1.0), 6)
    sat = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    score_micro = F.floor(idf * sat * 1000000.0 + 0.5).cast("bigint")
    scored = (tf.join(dl, "doc_id")
              .join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.sum(score_micro).alias("bm25_micro"),
                   F.count(F.lit(1)).alias("n_terms_hit")))
    w = Wn.orderBy(F.desc("bm25_micro"), "doc_id")
    # the global top-k window runs on the scored-docs frame (bounded by
    # docs containing a query term), and Catalyst turns sort+limit
    # shapes into TakeOrdered at any scale
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("doc_id", "bm25_micro", "n_terms_hit", "rank"))


BM25_TOPK_SQL = r"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents)
  WHERE t <> ''
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ('dup', 'vector', 'scan')
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM dl) AS avgdl
), scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(floor(
           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
           * ((tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micro,
         COUNT(*) AS n_terms_hit
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats JOIN dfreq ON tf.term = dfreq.term
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25_micro, n_terms_hit,
       CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id)
            AS INT) AS rank
FROM scored
QUALIFY rank <= 10
"""


def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language (alpha = 0.5,
    the multinomial upsampling rule of XLM-R/mT5: w_i proportional to
    n_i^alpha flattens the head and lifts low-resource tails).

    Engine-portable determinism: sqrt is IEEE correctly-rounded in both
    engines and everything after it is integer arithmetic —
    ``s_i = floor(sqrt(n_i) * 1e6)`` then ppm weights by BIGINT
    division, so no accumulation-order-sensitive float sums exist.
    The unpartitioned window runs AFTER the per-language aggregate, on
    a frame whose cardinality is the number of languages — a handful
    of rows at any corpus scale."""
    from pyspark.sql import Window as Wn

    d = table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    per = per.withColumn(
        "s", F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000.0)
        .cast("bigint"))
    w = Wn.partitionBy()
    per = (per.withColumn("total_docs", F.sum("n_docs").over(w))
           .withColumn("total_s", F.sum("s").over(w)))
    return per.select(
        "lang", "n_docs",
        F.expr("n_docs * 1000000 DIV total_docs").alias("share_ppm"),
        F.expr("s * 1000000 DIV total_s").alias("weight_ppm"))


MIXTURE_TEMPERATURE_SQL = """
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), sc AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS s
  FROM per
)
SELECT lang, n_docs,
       CAST(n_docs * 1000000 // SUM(n_docs) OVER () AS BIGINT)
         AS share_ppm,
       CAST(s * 1000000 // SUM(s) OVER () AS BIGINT) AS weight_ppm
FROM sc
"""


def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document [EXT] — the classic
    readability quality signal (206.835 − 1.015·words/sentence −
    84.6·syllables/word) that corpus-quality pipelines use alongside
    the Gopher rules to gate reading-level mixes.

    Deterministic heuristic, stated once and mirrored by the oracle:
    sentences = count of ``[.!?]+`` runs (clamped >= 1), syllables =
    count of ``[aeiouy]+`` groups in the lowercased text clamped to at
    least one per word (vowel groups never span whitespace, so the
    whole-text regex equals the per-word sum). The score is integer
    micros: both ratios are truncated to milli units first (BIGINT
    ``DIV``), so no float ever appears — the band CASE is exact.

    Scale: one projection pass, pure JVM regex expressions, no
    shuffle at all (per-doc output); the band thresholds are the
    published Flesch bands.
    """
    d = table(spark, sf_dir, "documents")
    per = d.select(
        "doc_id", "source",
        T.token_count("text").alias("n_words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")),
            F.lit(1)).alias("n_sents"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .alias("vgroups"),
    ).filter(F.col("n_words") > 0)
    return (per
            .withColumn("n_syll", F.greatest("vgroups", "n_words"))
            .select(
                "doc_id", "source", "n_words", "n_sents", "n_syll",
                F.expr(
                    "206835000 - (CAST(n_words AS BIGINT) * 1000 DIV n_sents)"
                    " * 1015 - (CAST(n_syll AS BIGINT) * 1000 DIV n_words)"
                    " * 84600").alias("flesch_micro"))
            .withColumn(
                "band",
                F.when(F.col("flesch_micro") >= 60_000_000, "easy")
                .when(F.col("flesch_micro") >= 30_000_000, "standard")
                .otherwise("difficult")))


FLESCH_SQL = """
WITH m AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
         END AS n_words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT)
           AS n_sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT)
           AS vgroups
  FROM documents
), s AS (
  SELECT doc_id, source, n_words, n_sents,
         GREATEST(vgroups, n_words) AS n_syll
  FROM m WHERE n_words > 0
)
SELECT doc_id, source, n_words, n_sents, n_syll,
       CAST(206835000 - (CAST(n_words AS BIGINT) * 1000 // n_sents) * 1015
            - (CAST(n_syll AS BIGINT) * 1000 // n_words) * 84600 AS BIGINT)
         AS flesch_micro,
       CASE WHEN 206835000 - (CAST(n_words AS BIGINT) * 1000 // n_sents) * 1015
                 - (CAST(n_syll AS BIGINT) * 1000 // n_words) * 84600
                 >= 60000000 THEN 'easy'
            WHEN 206835000 - (CAST(n_words AS BIGINT) * 1000 // n_sents) * 1015
                 - (CAST(n_syll AS BIGINT) * 1000 // n_words) * 84600
                 >= 30000000 THEN 'standard'
            ELSE 'difficult' END AS band
FROM s
"""


def boilerplate_line_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-LINE share per document [EXT] — the
    CCNet/RefinedWeb boilerplate signal: split each doc into sentence
    units, hash the normalized unit, count how many DISTINCT documents
    each unit appears in, and report per doc what fraction of its
    units are corpus-repeated (df >= 2). High shares mark template/
    boilerplate pages a curation pipeline drops or line-filters.

    Scale: explode -> md5 60-bit unit id (narrow shuffle key) ->
    df groupBy -> join back on the unit id -> per-doc aggregate. Two
    shuffles on high-cardinality keys, no self-join, no cap needed
    (df counting is linear however hot a unit is). Docs with no
    non-empty sentence units produce no row (stated; the oracle
    agrees)."""
    d = table(spark, sf_dir, "documents")
    occ = (d.select("doc_id",
                    F.explode(F.split("text", "[.!?]+")).alias("raw"))
           .select("doc_id", F.lower(F.trim("raw")).alias("sent"))
           .filter(F.col("sent") != "")
           .select("doc_id",
                   F.conv(F.substring(F.md5("sent"), 1, 15), 16, 10)
                   .cast("bigint").alias("sid")))
    dfq = occ.groupBy("sid").agg(
        F.countDistinct("doc_id").alias("df"))
    return (occ.join(dfq, "sid")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sents"),
                 F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                 .alias("n_boiler"))
            .select("doc_id", "n_sents", "n_boiler",
                    F.expr("n_boiler * 1000000 DIV n_sents")
                    .alias("boiler_ppm")))


BOILERPLATE_SQL = """
WITH occ AS (
  SELECT doc_id,
         ('0x' || substr(md5(lower(trim(s))), 1, 15))::BIGINT AS sid
  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?]+')) AS s
        FROM documents)
  WHERE lower(trim(s)) != ''
), dfq AS (
  SELECT sid, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY sid
)
SELECT o.doc_id, COUNT(*) AS n_sents,
       CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS boiler_ppm
FROM occ o JOIN dfq d ON o.sid = d.sid
GROUP BY o.doc_id
"""


def sparse_cosine_pairs(spark: SparkSession, sf_dir: str,
                        df_cap: int = 64, topn: int = 20) -> DataFrame:
    """SPARSE tf-idf cosine similarity between document pairs [EXT] —
    the lexical twin of the dense embedding ``cosine_topk``: documents
    are bag-of-words vectors in integer-MILLI tf-idf weights, pairs
    are enumerated through the inverted index (join on shared term,
    never doc x doc), and the top-``topn`` most similar pairs are
    returned. The classic pre-embedding similarity search, still the
    workhorse where embeddings are too expensive to refresh.

    Determinism: idf uses ``doc_tfidf_topterms``'s 6dp-ln rule then
    floors to milli units, so weights, dots and norms are all BIGINT;
    the single per-pair cosine division + two sqrts run in identical
    operand order in both engines and round to 6dp. Terms with df
    outside [2, ``df_cap``] are excluded from PAIR enumeration (the
    containment/df-cap idiom: stopword-grade terms would quadratically
    fan out and carry no signal) but still count in the norms — the
    cap bounds the join, not the vector.

    Terms are word TRIGRAMS, not single words: the corpus vocabulary
    is tiny (31 distinct words at any SF, measured), so every single
    word is stopword-grade; trigrams give a real sparse space (27k
    distinct at sf0.1, max df 25) — the same reason every other pair
    family here works on n-grams."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = (d.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t"))
        .select("doc_id", F.explode(F.expr(
            "CASE WHEN size(t) <= 3 THEN array(array_join(t, ' ')) "
            "ELSE transform(sequence(0, size(t) - 3), "
            "i -> array_join(slice(t, i + 1, 3), ' ')) END")).alias("term")))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    weights = (tf.join(dfreq, "term").crossJoin(F.broadcast(n))
               .select("doc_id", "term", "df",
                       F.expr("tf * CAST(floor(round(ln((n_docs + 1)"
                              " / (df + 1)) + 1, 6) * 1000 + 0.5)"
                              " AS BIGINT)").alias("w")))
    # NOTE (r9 scan census): a localCheckpoint on `weights` was A/B
    # tested and REVERTED — AQE's runtime exchange reuse already
    # dedupes the posting-list pipeline here, and materialization
    # measured ~20% SLOWER (2.5-2.8s -> 3.2-3.3s at sf0.1).
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("norm2"))
    kept = (weights.filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
            .select("doc_id", "term", "w"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (a.join(b, (F.col("a.term") == F.col("b.term"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
                  F.count(F.lit(1)).alias("n_shared_terms")))
    na = norms.select(F.col("doc_id").alias("doc_a"),
                      F.col("norm2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"),
                      F.col("norm2").alias("nb2"))
    scored = (pairs.join(na, "doc_a").join(nb, "doc_b")
              .withColumn("cosine", F.round(
                  F.col("dot") / (F.sqrt(F.col("na2").cast("double"))
                                  * F.sqrt(F.col("nb2").cast("double"))),
                  6)))
    rk = Window.orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
    # filter on the RAW row_number (WindowGroupLimit needs the literal
    # bound directly on the rank output; a cast in between blocks it),
    # cast to bigint only afterwards for oracle type parity
    return (scored.withColumn("rk", F.row_number().over(rk))
            .filter(F.col("rk") <= topn)
            .select("doc_a", "doc_b", "n_shared_terms", "dot",
                    "cosine", F.col("rk").cast("bigint").alias("rank")))


SPARSE_COSINE_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                ELSE list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                END) AS term
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents)
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
weights AS (
  SELECT doc_id, tf.term, df,
         tf * CAST(floor(round(ln((n_docs + 1) / (df + 1)) + 1, 6)
                         * 1000 + 0.5) AS BIGINT) AS w
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
), norms AS (
  SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm2
  FROM weights GROUP BY doc_id
), kept AS (
  SELECT doc_id, term, w FROM weights WHERE df BETWEEN 2 AND 64
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.w * b.w) AS BIGINT) AS dot,
         COUNT(*) AS n_shared_terms
  FROM kept a JOIN kept b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT p.doc_a, p.doc_b, p.n_shared_terms, p.dot,
         round(p.dot / (sqrt(CAST(na.norm2 AS DOUBLE))
                        * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) AS cosine
  FROM pairs p
  JOIN norms na ON p.doc_a = na.doc_id
  JOIN norms nb ON p.doc_b = nb.doc_id
)
SELECT doc_a, doc_b, n_shared_terms, dot, cosine,
       CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_a, doc_b)
             AS rn
      FROM scored)
WHERE rn <= 20
"""


def cv_fold_balance(spark: SparkSession, sf_dir: str,
                    k: int = 5) -> DataFrame:
    """Cross-validation FOLD assignment + stratification audit [EXT]:
    docs are dealt into ``k`` folds by the deterministic md5 hash (the
    engine-portable randomness), then each (fold, lang) cell reports
    its share within the fold against the corpus share — the skew a
    modeler checks before trusting CV variance. Hash-fold assignment
    is what keeps folds STABLE as the corpus grows (a row's fold never
    changes when other rows arrive — unlike rank-based dealing).

    Scale: one groupBy on (fold, lang), bounded broadcasts; output
    <= k x |langs| rows."""
    d = (table(spark, sf_dir, "documents")
         .select("doc_id", "lang",
                 F.pmod(F.conv(F.substring(
                     F.md5(F.col("doc_id").cast("string")), 1, 15),
                     16, 10).cast("bigint"), F.lit(k)).alias("fold")))
    cell = d.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    ftot = cell.groupBy("fold").agg(F.sum("n_docs").alias("fn"))
    ltot = cell.groupBy("lang").agg(F.sum("n_docs").alias("ln_"))
    tot = cell.agg(F.sum("n_docs").alias("n"))
    return (cell.join(F.broadcast(ftot), "fold")
            .join(F.broadcast(ltot), "lang")
            .crossJoin(F.broadcast(tot))
            .select("fold", "lang", "n_docs",
                    F.expr(ppm("n_docs", "fn")).alias("fold_share_ppm"),
                    F.expr(ppm("ln_", "n")).alias("corpus_share_ppm"),
                    F.expr("abs(" + ppm("n_docs", "fn") + " - "
                           + ppm("ln_", "n") + ")").alias("skew_ppm")))


CV_FOLD_SQL = """
WITH d AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 5 AS fold
  FROM documents
), cell AS (
  SELECT fold, lang, COUNT(*) AS n_docs FROM d GROUP BY 1, 2
), ftot AS (
  SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS fn FROM cell GROUP BY 1
), ltot AS (
  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS ln_ FROM cell GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cell
)
SELECT c.fold, c.lang, c.n_docs,
       CAST(c.n_docs * 1000000 // f.fn AS BIGINT) AS fold_share_ppm,
       CAST(l.ln_ * 1000000 // t.n AS BIGINT) AS corpus_share_ppm,
       abs(CAST(c.n_docs * 1000000 // f.fn AS BIGINT)
           - CAST(l.ln_ * 1000000 // t.n AS BIGINT)) AS skew_ppm
FROM cell c
JOIN ftot f ON c.fold = f.fold
JOIN ltot l ON c.lang = l.lang
CROSS JOIN tot t
"""


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit [EXT] — the privacy/governance gate: group
    the corpus by a quasi-identifier tuple (lang x source x
    length-percentile-ish bucket ``n_chars DIV 100``) and report how
    much of the data sits in re-identifiable equivalence classes.
    ``k = 1`` rows are unique under the QI and would be released only
    after generalization/suppression; the banded rollup is the
    risk-profile summary a privacy review asks for.

    Scale: one groupBy on the QI tuple, then a bounded band rollup;
    shares ride the DECIMAL ppm armor. Output = 4 fixed bands."""
    d = table(spark, sf_dir, "documents")
    qi = d.select("lang", "source",
                  F.expr("n_chars DIV 100").alias("len_bucket"))
    groups = (qi.groupBy("lang", "source", "len_bucket")
              .agg(F.count(F.lit(1)).alias("gsize")))
    banded = groups.select(
        F.expr("CASE WHEN gsize = 1 THEN '1_unique' "
               "WHEN gsize < 5 THEN '2_small(2-4)' "
               "WHEN gsize < 20 THEN '3_medium(5-19)' "
               "ELSE '4_anonymous(20+)' END").alias("risk_band"),
        "gsize")
    tot = banded.agg(F.sum("gsize").alias("n_total"))
    return (banded.groupBy("risk_band")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum("gsize").alias("n_docs"),
                 F.min("gsize").alias("min_k"))
            .crossJoin(F.broadcast(tot))
            .select("risk_band", "n_groups", "n_docs", "min_k",
                    F.expr(ppm("n_docs", "n_total")).alias("doc_share_ppm")))


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit [EXT] — k-anonymity's required companion
    (Machanavajjhala et al. 2007): a large equivalence class is still
    unsafe if every member shares the SENSITIVE value (homogeneity
    attack). QI = (source, length bucket); sensitive attribute = lang.
    Per class, l = distinct sensitive values; classes roll into fixed
    diversity bands with doc shares — the second gate a privacy review
    runs right after ``k_anonymity_audit``.

    Scale: one QI groupBy computing (count, countDistinct) in a single
    aggregate, then a bounded 3-band rollup. Same topology as the
    k-anonymity op."""
    d = table(spark, sf_dir, "documents")
    groups = (d.groupBy("source", F.expr("n_chars DIV 100")
                        .alias("len_bucket"))
              .agg(F.count(F.lit(1)).alias("gsize"),
                   F.countDistinct("lang").alias("l")))
    banded = groups.select(
        F.expr("CASE WHEN l = 1 THEN '1_homogeneous' "
               "WHEN l = 2 THEN '2_low(2)' "
               "ELSE '3_diverse(3+)' END").alias("diversity_band"),
        "gsize", "l")
    tot = banded.agg(F.sum("gsize").alias("n_total"))
    return (banded.groupBy("diversity_band")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum("gsize").alias("n_docs"),
                 F.min("l").cast("bigint").alias("min_l"))
            .crossJoin(F.broadcast(tot))
            .select("diversity_band", "n_groups", "n_docs", "min_l",
                    F.expr(ppm("n_docs", "n_total")).alias("doc_share_ppm")))


L_DIVERSITY_SQL = """
WITH groups AS (
  SELECT source, n_chars // 100 AS len_bucket,
         COUNT(*) AS gsize, COUNT(DISTINCT lang) AS l
  FROM documents GROUP BY 1, 2
), banded AS (
  SELECT CASE WHEN l = 1 THEN '1_homogeneous'
              WHEN l = 2 THEN '2_low(2)'
              ELSE '3_diverse(3+)' END AS diversity_band,
         gsize, l
  FROM groups
), tot AS (
  SELECT CAST(SUM(gsize) AS BIGINT) AS n_total FROM banded
)
SELECT b.diversity_band, COUNT(*) AS n_groups,
       CAST(SUM(b.gsize) AS BIGINT) AS n_docs,
       CAST(MIN(b.l) AS BIGINT) AS min_l,
       CAST(SUM(b.gsize) * 1000000 // t.n_total AS BIGINT)
         AS doc_share_ppm
FROM banded b CROSS JOIN tot t
GROUP BY b.diversity_band, t.n_total
"""


K_ANONYMITY_SQL = """
WITH groups AS (
  SELECT lang, source, n_chars // 100 AS len_bucket,
         COUNT(*) AS gsize
  FROM documents GROUP BY 1, 2, 3
), banded AS (
  SELECT CASE WHEN gsize = 1 THEN '1_unique'
              WHEN gsize < 5 THEN '2_small(2-4)'
              WHEN gsize < 20 THEN '3_medium(5-19)'
              ELSE '4_anonymous(20+)' END AS risk_band,
         gsize
  FROM groups
), tot AS (
  SELECT CAST(SUM(gsize) AS BIGINT) AS n_total FROM banded
)
SELECT b.risk_band, COUNT(*) AS n_groups,
       CAST(SUM(b.gsize) AS BIGINT) AS n_docs,
       CAST(MIN(b.gsize) AS BIGINT) AS min_k,
       CAST(SUM(b.gsize) * 1000000 // t.n_total AS BIGINT)
         AS doc_share_ppm
FROM banded b CROSS JOIN tot t
GROUP BY b.risk_band, t.n_total
"""


#: applicationId -> the LAST unigram_lm_quality scored frame persisted
#: in that application; the next invocation unpersists it (r11 ADVICE:
#: without this, every invocation across a long driver session leaked a
#: cached corpus-sized frame until LRU eviction).
_LM_SCORED_CACHE: dict[str, DataFrame] = {}

#: Serializes the pop-unpersist-repersist sequence on the cache above
#: (r12 ADVICE): two driver threads re-entering unigram_lm_quality
#: concurrently could both pop None and both persist, leaving one
#: frame unregistered (leaked until session teardown). Plan building
#: under the lock is driver-only metadata work, so serialization costs
#: nothing; the actual jobs run lazily after release.
_LM_CACHE_LOCK = threading.Lock()


def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model QUALITY score [EXT] — the KenLM-style
    perplexity filter every web-scale corpus pipeline runs (CCNet,
    RefinedWeb, FineWeb), reduced to its unigram core so the whole
    model is one aggregation: train p(w) = c(w)/total on the corpus
    itself, then score each doc by its mean negative log-likelihood
    per token (low = stereotypical text, high = rare-word-heavy).
    Rolled up per (lang, source): mean NLL and the count of docs in
    the worst tail (avg NLL > 1.25x corpus mean) — the candidates a
    perplexity filter would drop.  Distinct from
    ``bigram_logprob_scores`` (the per-doc SCORER, order-sensitive
    bigram model): this is the FILTER DECISION layer — corpus-relative
    tail thresholding rolled up to the per-source drop counts a
    pipeline operator actually acts on.

    Determinism: per-WORD nll is ln(total/c) rounded to 6dp then
    floored to integer MICROS before any per-doc sum (the bm25 ln
    idiom); per-doc mean is integer division; the corpus-mean
    comparison stays in integer micros.

    Scale: vocab-sized model table (31 words here; <<10M for real
    corpora) built by one groupBy and joined back on the word key —
    partial aggregation everywhere, no window, no driver loop. The
    per-doc ``scored`` frame is persisted (MEMORY_AND_DISK, the
    ``global_row_number`` precedent: corpus-sized-in-rows but one
    short row per doc, lineage kept for executor-loss recovery):
    it is consumed twice — corpus-mean then rollup — and AQE exchange
    reuse was MEASURED not to fire (r11 probe: 8 parquet scans, 0
    ReusedExchange — the corpus text was exploded 4x, once per branch
    per vocab/score pass). Post-persist both consumers read one
    InMemoryTableScan, leaving the 2 inherent train+score explodes;
    20x soak wall ~14 s -> 8.5 s (x10.9 -> x5.9), closing the r10
    soak-watchlist item (the only non-pair op above x10).

    Cache hygiene (r11 ADVICE): the returned frame is lazy, so the
    persist cannot be released inside this call — instead the PREVIOUS
    invocation's scored frame is unpersisted on re-entry via a
    per-application registry, bounding a long multi-query driver
    session to ONE live cached frame for this op instead of one per
    invocation. The final frame of a session is released by LRU
    eviction / session teardown (the ``global_row_number``
    precedent)."""
    from pyspark.storagelevel import StorageLevel

    app_id = spark.sparkContext.applicationId
    d = table(spark, sf_dir, "documents")
    words = (d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("word"))
        .filter(F.col("word") != ""))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    model = (vocab.crossJoin(F.broadcast(total))
             .select("word", F.expr(
                 "CAST(floor(round(ln(CAST(total AS DOUBLE) / c), 6)"
                 " * 1000000 + 0.5) AS BIGINT)").alias("nll_micros")))
    per_doc = (words.join(model, "word")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("nll_micros").alias("sum_nll")))
    scored = (per_doc
              .select("doc_id", "n_tokens",
                      F.expr("sum_nll DIV n_tokens").alias("avg_nll_micros"))
              .join(d.select("doc_id", "lang", "source"), "doc_id")
              .persist(StorageLevel.MEMORY_AND_DISK))
    # Atomic swap under the lock (r12 ADVICE): release the PREVIOUS
    # invocation's frame and register this one in one step, so
    # concurrent re-entries can never both register (the loser's frame
    # is unpersisted by the winner's swap — still computable via
    # lineage, just uncached). Entries under OTHER application ids
    # belong to stopped sessions (classic PySpark runs one SparkContext
    # per process): their cached blocks died with the app, so just drop
    # the dict entries — keeping them would pin dead plan graphs for
    # the life of the process.
    with _LM_CACHE_LOCK:
        prev = _LM_SCORED_CACHE.pop(app_id, None)
        if prev is not None:
            prev.unpersist(blocking=False)
        for stale in [k for k in _LM_SCORED_CACHE if k != app_id]:
            _LM_SCORED_CACHE.pop(stale, None)
        _LM_SCORED_CACHE[app_id] = scored
    corpus_mean = scored.agg(
        F.expr("CAST(sum(avg_nll_micros) AS BIGINT) DIV count(*)")
        .alias("corpus_mean"))
    return (scored.crossJoin(F.broadcast(corpus_mean))
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.expr("CAST(sum(avg_nll_micros) AS BIGINT) DIV count(*)")
                 .alias("mean_nll_micros"),
                 F.sum(F.when(F.col("avg_nll_micros") * 4
                              > F.col("corpus_mean") * 5, 1).otherwise(0))
                 .cast("bigint").alias("n_tail_docs"))
            .orderBy("lang", "source"))


UNIGRAM_LM_SQL = """
WITH words AS (
  SELECT doc_id, word
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                 AS word
        FROM documents)
  WHERE word != ''
), vocab AS (
  SELECT word, COUNT(*) AS c FROM words GROUP BY word
), total AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM vocab),
model AS (
  SELECT word,
         CAST(floor(round(ln(CAST(total AS DOUBLE) / c), 6)
                    * 1000000 + 0.5) AS BIGINT) AS nll_micros
  FROM vocab CROSS JOIN total
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(nll_micros) AS BIGINT) AS sum_nll
  FROM words JOIN model USING (word)
  GROUP BY doc_id
), scored AS (
  SELECT p.doc_id, p.n_tokens, p.sum_nll // p.n_tokens AS avg_nll_micros,
         d.lang, d.source
  FROM per_doc p JOIN documents d USING (doc_id)
), corpus_mean AS (
  SELECT CAST(SUM(avg_nll_micros) AS BIGINT) // COUNT(*) AS corpus_mean
  FROM scored
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(CAST(SUM(avg_nll_micros) AS BIGINT) // COUNT(*) AS BIGINT)
         AS mean_nll_micros,
       CAST(SUM(CASE WHEN avg_nll_micros * 4 > corpus_mean * 5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tail_docs
FROM scored CROSS JOIN corpus_mean
GROUP BY lang, source
ORDER BY lang, source
"""


QUERIES: dict[str, QueryFn] = {
    "unigram_lm_quality": unigram_lm_quality,
    "k_anonymity_audit": k_anonymity_audit,
    "l_diversity_audit": l_diversity_audit,
    "cv_fold_balance": cv_fold_balance,
    "sparse_cosine_pairs": sparse_cosine_pairs,
    "boilerplate_line_share": boilerplate_line_share,
    "flesch_reading_ease": flesch_reading_ease,
    "winnow_fingerprints": winnow_fingerprints,
    "winnow_overlap": winnow_overlap,
    "longest_shared_spans": longest_shared_spans,
    "bm25_topk": bm25_topk,
    "mixture_temperature_weights": mixture_temperature_weights,
    "doc_source_arrow_stats": doc_source_arrow_stats,
    "token_lift_pairs": token_lift_pairs,
    "weighted_sample_aes": weighted_sample_aes,
    "stratified_sample_neyman": stratified_sample_neyman,
    "grouped_sample_topk": grouped_sample_topk,
    "gopher_quality_rules": gopher_quality_rules,
    "tokenizer_vocab_coverage": tokenizer_vocab_coverage,
    "weighted_mixture_sample": weighted_mixture_sample,
    "quality_percentile_filter": quality_percentile_filter,
    "length_bucket_packing": length_bucket_packing,
    "decontamination_ngram_overlap": decontamination_ngram_overlap,
    "doc_repetition_scores": doc_repetition_scores,
    "bigram_logprob_scores": bigram_logprob_scores,
    "doc_tfidf_topterms": doc_tfidf_topterms,
    "stratified_sample": stratified_sample,
    "corpus_prep_pipeline": corpus_prep_pipeline,
    "doc_scrub": doc_scrub,
    "doc_chunks": doc_chunks,
    "word_freq_topk": word_freq_topk,
    "doc_token_stats": doc_token_stats,
    "doc_bpe_token_stats": doc_bpe_token_stats,
    "lang_quality_profile": lang_quality_profile,
    "doc_quality_scores": doc_quality_scores,
    "doc_fingerprints": doc_fingerprints,
    "lang_id_heuristic": lang_id_heuristic,
    "incremental_dedup_exact": incremental_dedup_exact,
    "cross_doc_span_dups": cross_doc_span_dups,
    "context_packing_stats": context_packing_stats,
    "context_packing_manifest": context_packing_manifest,
    "training_shuffle_order": training_shuffle_order,
    "source_mixture_plan": source_mixture_plan,
    "doc_word_runs_udtf": doc_word_runs_udtf,
}

ORACLES: dict[str, str] = {
    "unigram_lm_quality": UNIGRAM_LM_SQL,
    "boilerplate_line_share": BOILERPLATE_SQL,
    "sparse_cosine_pairs": SPARSE_COSINE_SQL,
    "cv_fold_balance": CV_FOLD_SQL,
    "k_anonymity_audit": K_ANONYMITY_SQL,
    "l_diversity_audit": L_DIVERSITY_SQL,
    "flesch_reading_ease": FLESCH_SQL,
    "winnow_fingerprints": WINNOW_FINGERPRINTS_SQL,
    "winnow_overlap": WINNOW_OVERLAP_SQL,
    "longest_shared_spans": LONGEST_SHARED_SPANS_SQL,
    "bm25_topk": BM25_TOPK_SQL,
    "mixture_temperature_weights": MIXTURE_TEMPERATURE_SQL,
    "doc_source_arrow_stats": ARROW_STATS_SQL,
    "token_lift_pairs": TOKEN_LIFT_SQL,
    "weighted_sample_aes": WEIGHTED_AES_SQL,
    "stratified_sample_neyman": NEYMAN_SQL,
    "grouped_sample_topk": GROUPED_SAMPLE_SQL,
    "gopher_quality_rules": GOPHER_RULES_SQL,
    "tokenizer_vocab_coverage": VOCAB_COVERAGE_SQL,
    "weighted_mixture_sample": WEIGHTED_MIXTURE_SQL,
    "quality_percentile_filter": QUALITY_PERCENTILE_SQL,
    "length_bucket_packing": LENGTH_BUCKET_SQL,
    "decontamination_ngram_overlap": DECONTAMINATION_SQL,
    "doc_repetition_scores": DOC_REPETITION_SQL,
    "bigram_logprob_scores": BIGRAM_LOGPROB_SQL,
    "doc_tfidf_topterms": DOC_TFIDF_SQL,
    "corpus_prep_pipeline": CORPUS_PREP_SQL,
    # stratified_sample: rows-only (Spark's Bernoulli RNG has no DuckDB twin)
    "doc_scrub": DOC_SCRUB_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "word_freq_topk": WORD_FREQ_SQL,
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_bpe_token_stats": DOC_BPE_SQL,
    "lang_quality_profile": LANG_QUALITY_SQL,
    "doc_quality_scores": DOC_QUALITY_SQL,
    "doc_fingerprints": DOC_FINGERPRINT_SQL,
    "lang_id_heuristic": LANG_ID_SQL,
    "incremental_dedup_exact": INCREMENTAL_DEDUP_SQL,
    "cross_doc_span_dups": CROSS_DOC_SPAN_SQL,
    "context_packing_stats": CONTEXT_PACKING_SQL,
    "context_packing_manifest": CONTEXT_MANIFEST_SQL,
    "training_shuffle_order": TRAINING_SHUFFLE_SQL,
    "source_mixture_plan": SOURCE_MIXTURE_SQL,
    "doc_word_runs_udtf": DOC_WORD_RUNS_SQL,
}
