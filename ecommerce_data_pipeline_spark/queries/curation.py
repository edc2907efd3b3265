"""LLM-training-data curation: PII redaction, stratified sampling,
contamination screens, repetition stats, shard assignment."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ecommerce_data_pipeline_spark.functions import money_sum, money_sum_sql
from ecommerce_data_pipeline_spark.operators import curate as cu
from ecommerce_data_pipeline_spark.operators import packing as pk
from ecommerce_data_pipeline_spark.operators import dedup as dd
from ecommerce_data_pipeline_spark.operators import similarity as sim
from ecommerce_data_pipeline_spark.operators import text as tx
from ecommerce_data_pipeline_spark.operators import windows as win
from ecommerce_data_pipeline_spark.operators.dedup import kafka_identity_dedup
from ecommerce_data_pipeline_spark.operators.enrich import enrich_orders
from ecommerce_data_pipeline_spark.operators.fact import sales_minute_agg
from ecommerce_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media_features,
)
from ecommerce_data_pipeline_spark.operators.parse import (
    bronze_projection,
    parse_orders,
    parse_payments,
)
from ecommerce_data_pipeline_spark.operators.service import (
    cart_totals,
    inventory_counters,
)
from ecommerce_data_pipeline_spark.sources.events import orders_events, payments_events
from ecommerce_data_pipeline_spark.sources.parquet import load_table, register_views

from ecommerce_data_pipeline_spark.queries._registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    register,
)
from ecommerce_data_pipeline_spark.queries.medallion import md5_long_sql


# ---------------------------------------------------------------------------
# LLM-training-data operators: curation (PII, sampling, contamination,
# repetition, shard assignment) — operators/curate.py
# ---------------------------------------------------------------------------


@register(
    "redact_pii",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
    text || ' Contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or +1 555-000-1234 at 10.0.0.'
         || CAST(doc_id % 256 AS VARCHAR) || ' now' AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{cu.EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(t, '{cu.IPV4_RE}')) AS INTEGER) AS n_ips,
  CAST(len(regexp_extract_all(t, '{cu.PHONE_RE}')) AS INTEGER) AS n_phones,
  regexp_replace(regexp_replace(regexp_replace(
      t, '{cu.EMAIL_RE}', '[EMAIL]', 'g'),
      '{cu.IPV4_RE}', '[IP]', 'g'),
      '{cu.PHONE_RE}', '[PHONE]', 'g') AS redacted_text
FROM d
""",
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / IPv4 / phones) with counts. The corpus text is
    synthetic and PII-free, so the query plants one deterministic instance
    of each PII kind per document before redacting — the operator itself
    (operators/curate.py:redact_pii) sees ordinary dirty text."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-000-1234 at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )
    return cu.redact_pii(docs)


@register(
    "stratified_sample",
    oracle=f"""
SELECT doc_id, text, lang, source, n_chars,
  CAST({md5_long_sql("concat(CAST(doc_id AS VARCHAR), ':v1')")} % 10000 AS BIGINT)
    AS sample_bucket
FROM documents
WHERE {md5_long_sql("concat(CAST(doc_id AS VARCHAR), ':v1')")} % 10000
  < CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500 ELSE 1000 END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sample by language: keep 50% of
    en, 25% of es, 10% otherwise — md5-bucketed, so the verdict per row is
    reproducible across runs/retries/executors (unlike rand()-based
    df.sample, which resamples when a stage retries)."""
    docs = load_table(spark, sf_dir, "documents")
    return cu.stratified_sample(
        docs, rates_bp={"en": 5000, "es": 2500}, default_bp=1000, stratum_col="lang"
    )


@register(
    "ngram_contamination",
    oracle="""
WITH dg AS (
  SELECT doc_id,
    unnest(list_distinct([substr(lower(text), i, 13)
      for i in generate_series(1, greatest(length(text) - 12, 1))])) AS g
  FROM documents
),
eg AS (
  SELECT DISTINCT unnest(list_distinct([substr(lower(text), i, 13)
      for i in generate_series(1, greatest(length(text) - 12, 1))])) AS g
  FROM documents WHERE doc_id % 97 = 0
),
hits AS (
  SELECT doc_id, count(*) AS n FROM dg JOIN eg USING (g) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated,
  coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
""",
)
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc count of distinct 13-grams shared
    with the 'benchmark' subset (doc_id % 97 == 0 plays the eval set). The
    eval n-gram set broadcasts; the corpus side is a pure map + broadcast
    join, so the only shuffle is the per-doc hit count."""
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return cu.ngram_contamination(docs, eval_docs, n=13)


@register(
    "repetition_stats",
    oracle="""
WITH u AS (
  SELECT doc_id,
    list_filter(string_split(text, '. '), x -> x <> '') AS units
  FROM documents
)
SELECT doc_id,
  CAST(len(units) AS INTEGER) AS n_units,
  CAST(len(list_distinct(units)) AS INTEGER) AS n_distinct_units,
  round((len(units) - len(list_distinct(units))) * 1.0
        / greatest(len(units), 1), 4) AS dup_unit_ratio
FROM u
""",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style repetitious-content filter):
    share of '. '-delimited units that are duplicates. Pure map stage."""
    return cu.repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "shard_assign",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
    {md5_long_sql("concat(CAST(doc_id AS VARCHAR), ':v1')")} AS h
  FROM documents
)
SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS INTEGER)
    AS pos
FROM h
""",
)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: md5-hash docs into 8 shards
    with a stable position inside each shard — one hash repartition +
    independent per-shard sorts, no global total order."""
    return cu.shard_assign(load_table(spark, sf_dir, "documents"), n_shards=8)




# ---------------------------------------------------------------------------
# Round-3 curation additions: temperature sampling, fine-grained span dedup,
# corpus shape histogram
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7  # mBERT/XLM-R exponent; alpha-1 = -0.3 smoothing power


@register(
    "language_temperature_sample",
    oracle=f"""
WITH c AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
m AS (SELECT min(n_l) AS n_min FROM c),
r AS (
  SELECT lang,
    CAST(floor(10000.0 * ((n_l * 1.0 / n_min) ** ({_TEMP_ALPHA} - 1.0))) AS BIGINT)
      AS rate_bp
  FROM c, m
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, r.rate_bp
FROM documents d JOIN r USING (lang)
WHERE {md5_long_sql("concat(CAST(doc_id AS VARCHAR), ':temp-v1')")} % 10000
  < r.rate_bp
""",
)
def q_language_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature sampling (exponent-smoothed language
    balancing, alpha=0.7): per-language keep rate (N_l/N_min)^(alpha-1) —
    the smallest language is kept fully, high-resource ones down-sampled —
    with the md5-deterministic coin, so the sample is stable across
    runs/retries/executors. One |languages|-row broadcast + a map filter;
    no corpus shuffle (operators/curate.py:temperature_sample)."""
    return cu.temperature_sample(
        load_table(spark, sf_dir, "documents"), alpha=_TEMP_ALPHA
    )


@register(
    "duplicate_ngram_spans",
    oracle="""
WITH words AS (
  SELECT doc_id,
    list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
  FROM documents
),
spans AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(ws[i:i+7], ' ')
    for i in generate_series(1, greatest(len(ws)-7, 1))])) AS span
  FROM words
),
cnt AS (SELECT span, count(*) AS n_docs FROM spans GROUP BY 1)
SELECT doc_id, count(*) AS n_spans,
  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
  round(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
    AS dup_span_ratio
FROM spans JOIN cnt USING (span)
GROUP BY doc_id
""",
)
def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained substring dedup signal: per-doc share of 8-word spans
    that also occur in another document (fixed-width approximation of the
    suffix-array exact-substring pass of Lee et al. 2022). Doc-level
    near-dup misses partial template overlap; this measures it
    (operators/dedup.py:duplicate_span_stats)."""
    return dd.duplicate_span_stats(load_table(spark, sf_dir, "documents"))


@register(
    "dup_span_runs",
    oracle="""
WITH words AS (
  SELECT doc_id,
    list_filter(string_split(lower(text), ' '), t -> t <> '') AS ws
  FROM documents
),
pos_spans AS (
  SELECT doc_id,
    unnest(generate_series(1, greatest(len(ws)-7, 1))) AS pos,
    unnest([array_to_string(ws[i:i+7], ' ')
            for i in generate_series(1, greatest(len(ws)-7, 1))]) AS span
  FROM words
),
dup AS (
  SELECT span FROM (
    SELECT span, count(DISTINCT doc_id) AS n_docs FROM pos_spans GROUP BY 1)
  WHERE n_docs > 1
),
runs AS (
  SELECT doc_id,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM pos_spans SEMI JOIN dup USING (span)
),
run_len AS (SELECT doc_id, count(*) AS rl FROM runs GROUP BY doc_id, grp),
mx AS (SELECT doc_id, max(rl) AS mx FROM run_len GROUP BY 1),
tot AS (SELECT doc_id, count(*) AS n_spans FROM pos_spans GROUP BY 1)
SELECT t.doc_id, t.n_spans,
  CAST(coalesce(m.mx, 0) AS BIGINT) AS max_dup_run,
  round(coalesce(m.mx, 0) * 1.0 / t.n_spans, 4) AS max_run_ratio
FROM tot t LEFT JOIN mx m USING (doc_id)
""",
)
def q_dup_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest duplicated 8-word-span RUN per document
    (operators/dedup.py:duplicate_span_runs) — duplicate_ngram_spans says
    HOW MUCH of a doc repeats elsewhere; this says whether that repetition
    is one contiguous template block (the substring Lee et al. 2022 would
    trim) or scattered phrase reuse. Gaps-and-islands over duplicated
    span positions: pure window algebra, replayed exactly by the oracle
    (the Spark side hashes spans to int64 before shuffling; identity
    only, so the text-keyed oracle is equivalent)."""
    return dd.duplicate_span_runs(load_table(spark, sf_dir, "documents"))


_LEN_BUCKET_SQL = """CASE
  WHEN n_chars < 64 THEN '0-63' WHEN n_chars < 128 THEN '64-127'
  WHEN n_chars < 256 THEN '128-255' WHEN n_chars < 512 THEN '256-511'
  WHEN n_chars < 1024 THEN '512-1023' ELSE '1024+' END"""


@register(
    "doc_length_histogram",
    oracle=f"""
SELECT lang, {_LEN_BUCKET_SQL} AS len_bucket,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  round(avg(n_chars), 2) AS avg_chars
FROM documents
GROUP BY 1, 2
""",
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape profile: doc counts/char mass per (language,
    power-of-two length bucket) — the standard pre-training corpus audit
    (token budget per language, truncation exposure). Explicit CASE
    boundaries, not floor(log2): bit-identical bucketing on both engines.
    One map-side-combined aggregate; scan-bound."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") < 64, "0-63")
        .when(F.col("n_chars") < 128, "64-127")
        .when(F.col("n_chars") < 256, "128-255")
        .when(F.col("n_chars") < 512, "256-511")
        .when(F.col("n_chars") < 1024, "512-1023")
        .otherwise("1024+")
    )
    return (
        docs.groupBy("lang", bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


@register(
    "corpus_stats_by_source",
    oracle="""
WITH w AS (
  SELECT source, lang, n_chars,
    len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS n_words
  FROM documents
)
SELECT source, lang, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  round(avg(n_chars), 2) AS avg_chars,
  round(avg(n_words), 2) AS avg_words
FROM w GROUP BY 1, 2
""",
)
def q_corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance dashboard: doc counts, char mass and word-length profile
    per (source, language) — the first table anyone asks for before
    weighting a data mix. Single map-side-combined aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    return (
        docs.select("source", "lang", "n_chars", F.size(words).alias("n_words"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.round(F.avg("n_words"), 2).alias("avg_words"),
        )
    )


@register(
    "training_corpus_filter",
    oracle="""
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
w AS (
  SELECT doc_id,
    list_filter(string_split(lower(text), ' '), t -> t <> '') AS words
  FROM documents
)
SELECT d.doc_id, d.lang, d.source, d.n_chars,
  round(len(list_distinct(w.words)) * 1.0 / greatest(len(w.words), 1), 4)
    AS distinct_word_ratio
FROM documents d
JOIN keep USING (doc_id)
JOIN w USING (doc_id)
WHERE d.n_chars BETWEEN 64 AND 4096
  -- round() as in the SELECT: the Spark side filters the emitted
  -- (rounded) column, so the boundary must be the rounded value here too
  AND round(len(list_distinct(w.words)) * 1.0 / greatest(len(w.words), 1), 4)
      >= 0.3
""",
)
def q_training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end keep set: exact-dedup survivors (min doc_id per
    content hash) inside length bounds [64, 4096] chars with a repetition
    screen (distinct-word ratio >= 0.3) — the composed curation artifact a
    training run actually reads. Every stage is a scan-bound column
    expression except the dedup groupBy (content-hash keyed, map-side
    combined); at 100 TB swap the exact-dedup CTE for the
    dedup_canonical_docs cluster keep-set, same join shape."""
    docs = load_table(spark, sf_dir, "documents")
    keep = (
        docs.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .drop("__h")
    )
    words = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    ratio = F.round(
        F.size(F.array_distinct(words))
        / F.greatest(F.size(words), F.lit(1)),
        4,
    )
    return (
        docs.join(keep, "doc_id", "left_semi")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            ratio.alias("distinct_word_ratio"),
        )
        .filter(
            (F.col("n_chars") >= 64)
            & (F.col("n_chars") <= 4096)
            & (F.col("distinct_word_ratio") >= 0.3)
        )
    )


@register("sequence_packing", oracle=pk.pack_sequences_sql())
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk training-sequence packing (operators/packing.py):
    per deterministic shard, docs lie end-to-end in id order and the token
    stream is cut into 512-token sequences; each doc reports the
    sequence(s) and offset it occupies. One shuffle (the per-shard window
    cumsum); shard count bounds the per-reducer sort, which is what keeps
    a global-order operation 100 TB-safe."""
    return pk.pack_sequences(load_table(spark, sf_dir, "documents"))


@register("document_chunks", oracle=pk.chunk_documents_sql())
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64/16-token chunking (the RAG / embedding-index shape,
    operators/packing.py): explode over per-doc chunk starts, slice the
    token array per chunk — embarrassingly parallel, fan-out bounded by
    ceil(n_tokens/stride), no shuffle at all."""
    return pk.chunk_documents(load_table(spark, sf_dir, "documents"))


@register(
    "source_capped_sample",
    oracle="""
SELECT doc_id, source, n_chars, rank FROM (
  SELECT doc_id, source, n_chars,
    CAST(row_number() OVER (PARTITION BY source
        ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank
  FROM documents)
WHERE rank <= 5
""",
)
def q_source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap (operators/curate.py:source_capped_sample): at most
    5 docs per source, longest first — the anti-domination mixture rule.
    The rank filter triggers WindowGroupLimit map-side pruning, so a
    mega-domain ships cap x partitions rows through the shuffle, not its
    whole corpus."""
    return cu.source_capped_sample(
        load_table(spark, sf_dir, "documents"), cap=5
    )


# ---------------------------------------------------------------------------
# Flagship composition: the whole curation pipeline in one call
# ---------------------------------------------------------------------------

from ecommerce_data_pipeline_spark.operators import graph as gr  # noqa: E402
from ecommerce_data_pipeline_spark.queries.llm_text import (  # noqa: E402
    _jaccard_pairs_sql,
    _sw_list,
    _WORDS_SQL,
)


@register(
    "curated_training_set",
    oracle=f"""
WITH RECURSIVE {_jaccard_pairs_sql()},
edges AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM jac
  UNION SELECT doc_id_b, doc_id_a FROM jac
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, reach.r FROM edges e JOIN reach ON e.u = reach.id
),
cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
sized AS (
  SELECT cl.doc_id, cl.cluster_id, d.n_chars
  FROM cl JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
      ORDER BY n_chars DESC, doc_id) AS rn
  FROM sized
),
canon AS (SELECT doc_id, cluster_id FROM ranked WHERE rn = 1),
w AS (
  SELECT doc_id, {_WORDS_SQL} AS words,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS INTEGER) AS alpha_chars
  FROM documents
),
f AS (
  SELECT doc_id, n_chars, CAST(len(words) AS INTEGER) AS n_tokens,
    round(coalesce(list_sum(list_transform(words, t -> length(t))), 0) * 1.0
          / greatest(len(words), 1), 4) AS mean_token_len,
    round(alpha_chars * 1.0 / greatest(n_chars, 1), 4) AS alpha_ratio,
    round(len(list_filter(words, t -> list_contains({_sw_list("en")}, t))) * 1.0
          / greatest(len(words), 1), 4) AS stopword_ratio
  FROM w
),
q AS (
  SELECT doc_id, n_tokens,
    round(
      (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
      + (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END)
      + (CASE WHEN alpha_ratio >= 0.8 THEN 0.25 ELSE 0.0 END)
      + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0.0 END), 2) AS quality_score
  FROM f
),
kept AS (
  SELECT canon.doc_id, canon.cluster_id, q.n_tokens, q.quality_score
  FROM canon JOIN q USING (doc_id)
  WHERE q.quality_score >= 0.75
),
h AS (
  SELECT doc_id,
    {md5_long_sql("concat(CAST(doc_id AS VARCHAR), ':v1')")} AS h
  FROM kept
)
SELECT k.doc_id, k.cluster_id, k.n_tokens, k.quality_score,
  CAST(h.h % 8 AS INTEGER) AS shard,
  CAST(row_number() OVER (PARTITION BY h.h % 8 ORDER BY h.h, h.doc_id) - 1
       AS INTEGER) AS pos
FROM kept k JOIN h USING (doc_id)
""",
)
def q_curated_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline composed end-to-end in one call:
    MinHash-LSH near-dup clustering → keep the longest member per cluster
    → C4/Gopher-style quality gate (score ≥ 0.75) → deterministic shard
    assignment with stable in-shard positions. One frame out: the
    training set a user would actually materialize, every stage the
    already-certified operator (dedup.py, graph.py, text.py, curate.py).

    Scale: stages hand off by doc_id only — text never travels past its
    own stage; the LSH banding bounds the pair space; the cluster frame
    and quality features are one row per doc; the shard shuffle is the
    single full-corpus exchange, by design (it IS the training-order
    shuffle)."""
    from ecommerce_data_pipeline_spark.sources.corpus import dedup_clusters_frame

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters_frame(spark, sf_dir)
    sized = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    canon = (
        sized.select(
            "doc_id", "cluster_id", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    q = tx.quality_score(docs).select("doc_id", "n_tokens", "quality_score")
    kept = canon.join(q, "doc_id").filter(F.col("quality_score") >= 0.75)
    shards = cu.shard_assign(kept.select("doc_id"), n_shards=8)
    return kept.join(shards, "doc_id").select(
        "doc_id", "cluster_id", "n_tokens", "quality_score", "shard", "pos"
    )


def _local_scan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of ``df``'s input files. ``inputFiles()`` gives
    URIs, percent-encoded (a space arrives as ``%20``), so each is parsed
    and unquoted; a listed local file that is missing raises. None when an
    input lives off the local filesystem (hdfs:, s3a:, ...): sizing it
    would need a remote listing per file, so the caller does not pin."""
    total = 0
    for f in df.inputFiles():
        uri = urlparse(f)
        if uri.scheme not in ("", "file"):
            return None
        total += os.path.getsize(unquote(uri.path))
    return total


@register(
    "source_quality_drift",
    # PSI over the 5 discrete quality-score levels (0, .25, .5, .75, 1),
    # Laplace-smoothed; both engines compute identical ints -> identical
    # doubles -> one rounded ln-sum.
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, {_WORDS_SQL} AS words,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS INTEGER) AS alpha_chars
  FROM documents
),
f AS (
  SELECT doc_id, source, CAST(len(words) AS INTEGER) AS n_tokens,
    round(coalesce(list_sum(list_transform(words, t -> length(t))), 0) * 1.0
          / greatest(len(words), 1), 4) AS mean_token_len,
    round(alpha_chars * 1.0 / greatest(n_chars, 1), 4) AS alpha_ratio,
    round(len(list_filter(words, t -> list_contains({_sw_list("en")}, t))) * 1.0
          / greatest(len(words), 1), 4) AS stopword_ratio
  FROM w
),
q AS (
  SELECT doc_id, source,
    round(
      (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
      + (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END)
      + (CASE WHEN alpha_ratio >= 0.8 THEN 0.25 ELSE 0.0 END)
      + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0.0 END), 2) AS score
  FROM f
),
levels AS (SELECT unnest([0.0, 0.25, 0.5, 0.75, 1.0]) AS level),
corpus AS (
  SELECT l.level, count(q.doc_id) AS cn
  FROM levels l LEFT JOIN q ON q.score = l.level GROUP BY 1),
per_src AS (
  SELECT s.source, l.level, count(q2.doc_id) AS n
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN levels l
  LEFT JOIN q q2 ON q2.source = s.source AND q2.score = l.level
  GROUP BY 1, 2),
tot AS (SELECT (SELECT count(*) FROM q) AS n_corpus),
src_tot AS (SELECT source, sum(n) AS n_src FROM per_src GROUP BY 1)
SELECT p.source,
  round(sum(
    ((p.n + 1.0)/(st.n_src + 5.0) - (c.cn + 1.0)/(t.n_corpus + 5.0))
    * ln(((p.n + 1.0)/(st.n_src + 5.0)) / ((c.cn + 1.0)/(t.n_corpus + 5.0)))
  ), 4) AS psi,
  CAST(max(st.n_src) AS BIGINT) AS n_docs
FROM per_src p
JOIN corpus c USING (level)
JOIN src_tot st USING (source)
CROSS JOIN tot t
GROUP BY 1
""",
)
def q_source_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring: population stability index of each
    source's quality-score distribution against the whole corpus
    (Laplace-smoothed over the 5 discrete score levels) — the per-feed
    health metric a training-data pipeline alerts on (PSI > 0.1 ⇒
    investigate, > 0.25 ⇒ drop the feed). Everything up to the final
    ln-sum is integer counts; one shuffle on (source, level) over the
    already-scored frame.

    The scored frame feeds THREE branches (per-source grid, corpus
    histogram, corpus count), each re-planning the tokenize+score scan.
    Whether to pin it is SIZE-DEPENDENT (r16 measured both regimes: a
    lazy localCheckpoint of the 3-column frame cost 3.24 s vs 2.46 s at
    sf0.1 — the checkpoint's build-time stage exceeds two extra tokenize
    passes over a sub-MB corpus — while at 10x the corpus the two extra
    tokenize passes dominate). Gate on the scan's compressed input
    bytes (driver metadata, no job): above $SPARK_GRAFT_DRIFT_PIN_BYTES
    (default 4 MB) the corpus is tokenized ONCE and the 3-column scored
    frame is re-read from the block manager; below, the recompute is
    cheaper. Values are identical either way — the checkpoint is pure
    materialization (VERDICT r16 ask #6)."""
    docs = load_table(spark, sf_dir, "documents")
    q = tx.quality_score(docs).select("doc_id", "quality_score").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    pin_bytes = int(os.environ.get("SPARK_GRAFT_DRIFT_PIN_BYTES", str(4 << 20)))
    scan_bytes = _local_scan_bytes(docs)
    if scan_bytes is not None and scan_bytes >= pin_bytes:
        q = q.localCheckpoint(eager=False)
    levels = docs.sparkSession.createDataFrame(
        [(lv,) for lv in (0.0, 0.25, 0.5, 0.75, 1.0)], "level double"
    )
    sources = docs.select("source").distinct()
    grid = sources.crossJoin(F.broadcast(levels))
    per_src = (
        grid.join(
            q,
            (q.source == grid.source) & (q.quality_score == grid.level),
            "left",
        )
        .groupBy(grid.source, grid.level)
        .agg(F.count(q.doc_id).alias("n"))
    )
    corpus = (
        levels.join(q, q.quality_score == levels.level, "left")
        .groupBy(levels.level)
        .agg(F.count(q.doc_id).alias("cn"))
    )
    n_corpus = F.broadcast(q.agg(F.count(F.lit(1)).alias("n_corpus")))
    src_tot = per_src.groupBy("source").agg(F.sum("n").alias("n_src"))
    p = (F.col("n") + 1.0) / (F.col("n_src") + 5.0)
    c = (F.col("cn") + 1.0) / (F.col("n_corpus") + 5.0)
    return (
        per_src.join(F.broadcast(corpus), "level")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(n_corpus)
        .groupBy("source")
        .agg(
            F.round(F.sum((p - c) * F.log(p / c)), 4).alias("psi"),
            F.max("n_src").cast("long").alias("n_docs"),
        )
    )


@register(
    "token_budget_mixture",
    # Budget 2000 whitespace tokens per source; doc order inside a source
    # is md5(doc_id) (the deterministic shuffle); sources smaller than the
    # budget repeat whole epochs until it is met.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
      AS n_tok,
    md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
src AS (SELECT source, sum(n_tok) AS src_tok FROM toks GROUP BY 1),
epochs AS (
  SELECT t.doc_id, t.source, t.n_tok, t.h, g.e AS epoch
  FROM toks t JOIN src USING (source)
  CROSS JOIN generate_series(1, 1000) AS g(e)
  WHERE g.e <= CAST(ceil(2000.0 / src.src_tok) AS BIGINT)),
ordered AS (
  SELECT *, sum(n_tok) OVER (PARTITION BY source
      ORDER BY epoch, h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM epochs)
SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch, n_tok,
  CAST(cum AS BIGINT) AS cum
FROM ordered
WHERE cum - n_tok < 2000
""",
)
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture assembly under a per-source token budget: each
    source contributes documents (in deterministic md5-shuffled order)
    until its 2000-token budget is met, repeating WHOLE EPOCHS when a
    source is smaller than its budget — the data-mixing rule behind
    under/over-sampling recipes (a doc enters if the budget was not
    yet exhausted when it starts). One window cumsum per source over
    the epoch-exploded frame; the epoch fan-out is ceil(budget/source
    tokens) — bounded by the mixture spec, not data size."""
    from pyspark.sql.window import Window as W

    budget = 2000
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        )
        .cast("long")
        .alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    src = toks.groupBy("source").agg(F.sum("n_tok").alias("src_tok"))
    epochs = (
        toks.join(F.broadcast(src), "source")
        .select(
            "doc_id",
            "source",
            "n_tok",
            "h",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.ceil(F.lit(float(budget)) / F.col("src_tok")).cast(
                        "long"
                    ),
                )
            ).alias("epoch"),
        )
    )
    w = (
        W.partitionBy("source")
        .orderBy("epoch", "h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ordered = epochs.withColumn("cum", F.sum("n_tok").over(w))
    return ordered.filter(F.col("cum") - F.col("n_tok") < budget).select(
        "doc_id", "source", F.col("epoch").cast("int").alias("epoch"),
        "n_tok", "cum",
    )


@register(
    "dsir_importance_weights",
    # DSIR log-likelihood-ratio weights under the cross-engine md5-long
    # bucket hash; target distribution = English docs. Laplace smoothing
    # (+1 / +n_buckets) keeps every bucket finite on both engines.
    oracle=f"""
WITH toks AS (
  SELECT doc_id, is_t, {md5_long_sql('w')} % 256 AS b
  FROM (SELECT doc_id, lang = 'en' AS is_t,
               unnest({_WORDS_SQL}) AS w FROM documents)
),
dtf AS (SELECT doc_id, b, count(*) AS tf FROM toks GROUP BY 1, 2),
raw AS (SELECT b, count(*) AS c_raw FROM toks GROUP BY 1),
tgt AS (SELECT b, count(*) AS c_tgt FROM toks WHERE is_t GROUP BY 1),
nr AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw FROM raw),
nt AS (SELECT CAST(coalesce(sum(c_tgt), 0) AS BIGINT) AS n_tgt FROM tgt),
lw AS (
  SELECT raw.b,
    ln((coalesce(c_tgt, 0) + 1.0) / (nt.n_tgt + 256.0))
    - ln((c_raw + 1.0) / (nr.n_raw + 256.0)) AS lw
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN nr CROSS JOIN nt
),
sc AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         round(sum(tf * lw), 4) AS log_weight
  FROM dtf JOIN lw USING (b) GROUP BY 1
)
SELECT d.doc_id,
  coalesce(sc.n_tokens, 0) AS n_tokens,
  coalesce(sc.log_weight, 0.0) AS log_weight
FROM documents d LEFT JOIN sc USING (doc_id)
""",
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (hashed n-gram importance resampling): per-doc
    log-likelihood ratio of the English-target vs raw bucket
    distributions. One tokenize+hash pass, two 256-row broadcast
    distribution tables, one (doc,bucket) shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return cu.dsir_importance_weights(docs, target=F.col("lang") == "en")


@register(
    "curriculum_interleave",
    # Curriculum data ordering: the training loader reads (band, source,
    # doc_id) ascending — band k holds every source's k-th shortest doc,
    # so consumption is easy-to-hard AND round-robin across sources (no
    # source runs). NO global sort anywhere: the band is a per-source
    # window rank (one shuffle keyed by source); the global order is a
    # property of the sort the READER applies, exactly how curriculum
    # shards are consumed at scale. Difficulty proxy = word count
    # (shortest-first), tie-broken by doc_id.
    # NULL text is coalesced to '' on BOTH sides (same hardening as
    # dedup_rate_by_source): size(_words(NULL)) is NULL and Spark sorts
    # NULLS FIRST on ASC while DuckDB defaults NULLS LAST, which would
    # shift every band rank in that source.
    oracle="""
SELECT doc_id, source,
  CAST(len(list_filter(string_split(regexp_replace(lower(coalesce(text, '')), '[^a-z ]', '', 'g'), ' '),
       w -> w <> '')) AS INTEGER) AS n_tokens,
  CAST(row_number() OVER (PARTITION BY source
       ORDER BY len(list_filter(string_split(regexp_replace(lower(coalesce(text, '')), '[^a-z ]', '', 'g'), ' '),
                   w -> w <> '')), doc_id) AS INTEGER) AS band
FROM documents
""",
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum ordering with source interleaving: per-doc
    difficulty (word count) + per-source band rank in ONE window pass."""
    from ecommerce_data_pipeline_spark.operators.text import _words

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_words(F.coalesce(F.col("text"), F.lit(""))))
    w = Window.partitionBy("source").orderBy(n_tokens.asc(), F.col("doc_id"))
    return docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.row_number().over(w).alias("band"),
    )


# ---------------------------------------------------------------------------
# Markup-to-text extraction (the pre-quality-scoring boilerplate strip)
# ---------------------------------------------------------------------------


@register(
    "markup_extract_text",
    # The corpus texts are plain single-line prose, so (same pattern as
    # the media codecs: synthetic container -> REAL decode) each doc is
    # first rendered into a deterministic HTML-ish page — title, style
    # block, nav chrome, heading with entities, script block, body with
    # inline <em> tags, footer — and the REAL extractor then strips it
    # back: script/style blocks wholesale, tags -> space, six-entity
    # decode, whitespace collapse. Per-rule removal counts are taken
    # before each rule rewrites the string, so the oracle can replay the
    # exact pipeline stage by stage (entity counts via the length-diff
    # trick; the regexes are Java+RE2 portable, non-greedy included).
    oracle="""
WITH page AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' :: ' || source || '</title>'
    || '<style type="text/css">body{margin:0} p{color:#222}</style></head><body>'
    || '<nav><a href="/">Home</a> | <a href="/s/' || source || '">' || source
    || '</a> | <a href="/about">About</a></nav>'
    || '<h1>' || source || ' &#39;' || lang || '&#39; &amp; co</h1>'
    || '<script type="text/javascript">var d=' || CAST(doc_id AS VARCHAR) || ';track(d);</script>'
    || '<p>' || replace(coalesce(text, ''), ' the ', ' <em>the</em> ') || '</p>'
    || '<footer>&quot;' || source || '&quot; &lt;2026&gt;&nbsp;all rights</footer></body></html>'
    AS raw
  FROM documents
),
s1 AS (SELECT doc_id,
         len(regexp_extract_all(raw, '<script[^>]*>.*?</script>')) AS n_script,
         regexp_replace(raw, '<script[^>]*>.*?</script>', '', 'g') AS t1 FROM page),
s2 AS (SELECT doc_id, n_script,
         len(regexp_extract_all(t1, '<style[^>]*>.*?</style>')) AS n_style,
         regexp_replace(t1, '<style[^>]*>.*?</style>', '', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, n_script, n_style,
         len(regexp_extract_all(t2, '<[^>]+>')) AS n_tags,
         regexp_replace(t2, '<[^>]+>', ' ', 'g') AS t3 FROM s2),
s4 AS (SELECT doc_id, n_script, n_style, n_tags,
         (len(t3) - len(replace(t3, '&lt;', ''))) // 4
       + (len(t3) - len(replace(t3, '&gt;', ''))) // 4
       + (len(t3) - len(replace(t3, '&quot;', ''))) // 6
       + (len(t3) - len(replace(t3, '&#39;', ''))) // 5
       + (len(t3) - len(replace(t3, '&nbsp;', ''))) // 6
       + (len(t3) - len(replace(t3, '&amp;', ''))) // 5 AS n_entities,
         replace(replace(replace(replace(replace(replace(t3,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&nbsp;', ' '), '&amp;', '&') AS t4
       FROM s3),
s5 AS (SELECT doc_id, n_script, n_style, n_tags, n_entities,
         trim(regexp_replace(t4, '[ ]+', ' ', 'g')) AS clean FROM s4)
SELECT doc_id,
       CAST(n_script AS INTEGER) AS n_script,
       CAST(n_style AS INTEGER) AS n_style,
       CAST(n_tags AS INTEGER) AS n_tags,
       CAST(n_entities AS INTEGER) AS n_entities,
       CAST(len(clean) AS INTEGER) AS out_len,
       sha256(clean) AS out_sha
FROM s5
""",
)
def q_markup_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/markup-to-text extraction with a per-rule audit:
    render each doc into a deterministic HTML-ish page, then strip it
    with operators.curate.markup_extract (script/style removal, tag ->
    space, entity decode, whitespace collapse — all chained codegen
    expressions, zero Python in the hot path). Output keeps the clean
    text as (length, sha256) so the value hash pins the exact bytes
    without shipping the full text through the compare."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    src, lang = F.col("source"), F.col("lang")
    body = F.replace(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" the "),
        F.lit(" <em>the</em> "),
    )
    page = F.concat(
        F.lit("<html><head><title>Doc "), did, F.lit(" :: "), src,
        F.lit("</title>"),
        F.lit('<style type="text/css">body{margin:0} p{color:#222}</style></head><body>'),
        F.lit('<nav><a href="/">Home</a> | <a href="/s/'), src, F.lit('">'),
        src, F.lit('</a> | <a href="/about">About</a></nav>'),
        F.lit("<h1>"), src, F.lit(" &#39;"), lang, F.lit("&#39; &amp; co</h1>"),
        F.lit('<script type="text/javascript">var d='), did,
        F.lit(";track(d);</script>"),
        F.lit("<p>"), body, F.lit("</p>"),
        F.lit("<footer>&quot;"), src,
        F.lit("&quot; &lt;2026&gt;&nbsp;all rights</footer></body></html>"),
    )
    staged = docs.select("doc_id", page.alias("text"))
    out = cu.markup_extract(staged)
    return out.select(
        "doc_id", "n_script", "n_style", "n_tags", "n_entities",
        F.length("text").cast("int").alias("out_len"),
        F.sha2(F.col("text"), 256).alias("out_sha"),
    )


@register(
    "boilerplate_segment_report",
    # CCNet/RefinedWeb line-level dedup, as a per-doc audit: 4-word
    # segments shared by >=2 distinct docs of the same source are
    # boilerplate. On this corpus the flagged segments are exactly the
    # shared runs of the near-duplicate docs (the fixture has no nav
    # chrome), which the oracle recomputes segment-for-segment.
    oracle="""
WITH w AS (
  -- NULL-source docs form their own group (same sentinel as the
  -- operator; a plain USING join on NULL matches nothing).
  SELECT doc_id, coalesce(source, chr(0) || '__null_group__') AS source,
    list_filter(string_split(regexp_replace(lower(coalesce(text, '')),
                '[^a-z ]', '', 'g'), ' '), x -> x <> '') AS words
  FROM documents
),
segs AS (
  SELECT doc_id, source,
         array_to_string(words[i*4+1 : i*4+4], ' ') AS seg
  FROM w, unnest(range(CAST(ceil(len(words)/4.0) AS BIGINT))) AS t(i)
),
freq AS (
  SELECT source, seg, count(DISTINCT doc_id) AS nd
  FROM segs GROUP BY 1, 2
),
per_doc AS (
  SELECT s.doc_id,
         count(*) AS n_segments,
         sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS n_boilerplate
  FROM segs s JOIN freq f USING (source, seg)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_segments, 0) AS INTEGER) AS n_segments,
       CAST(coalesce(p.n_boilerplate, 0) AS INTEGER) AS n_boilerplate,
       coalesce(round(p.n_boilerplate / nullif(p.n_segments, 0), 4), 0.0)
         AS boiler_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_boilerplate_segment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level boilerplate audit (operators/curate.py:
    boilerplate_segment_report): one tokenize+posexplode pass, one
    (source, segment) count shuffle, join-back, per-doc agg — the
    CCNet per-shard line-dedup shape, never quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    return cu.boilerplate_segment_report(docs, seg_words=4, min_docs=2)


@register(
    "corpus_snapshot_diff",
    # Two snapshots derived deterministically from the documents fixture:
    # the OLD snapshot is missing the docs "added later" (doc_id ≡ 3 mod
    # 11), the NEW snapshot dropped some (doc_id ≡ 5 mod 13) and re-crawled
    # every 7th doc's text. The oracle compares raw text where the operator
    # compares md5(text) — identical classification.
    oracle="""
WITH snap_old AS (
  SELECT doc_id, source, text FROM documents WHERE doc_id % 11 <> 3
),
snap_new AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 7 = 0 THEN text || ' [recrawl]' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 5
),
j AS (
  SELECT coalesce(n.source, o.source) AS source,
    CASE WHEN o.doc_id IS NULL THEN 'added'
         WHEN n.doc_id IS NULL THEN 'removed'
         WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
         ELSE 'unchanged' END AS status
  FROM snap_old o FULL OUTER JOIN snap_new n ON o.doc_id = n.doc_id
)
SELECT source,
  count(*) FILTER (status = 'added') AS n_added,
  count(*) FILTER (status = 'removed') AS n_removed,
  count(*) FILTER (status = 'changed') AS n_changed,
  count(*) FILTER (status = 'unchanged') AS n_unchanged
FROM j GROUP BY source
""",
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run data versioning (operators/curate.py:corpus_snapshot_diff):
    the per-source added/removed/changed/unchanged audit between two corpus
    snapshots. One narrow full-outer join on doc_id (id, source, md5 — text
    hashed BEFORE the shuffle) + one integer-count rollup; no window over
    the corpus, nothing quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    snap_old = docs.filter(F.col("doc_id") % 11 != 3)
    snap_new = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" [recrawl]")),
        ).otherwise(F.col("text")),
    )
    return cu.corpus_snapshot_diff(snap_old, snap_new)


@register(
    "cdc_chunk_dedup",
    # Content-defined chunking: boundary iff md5_long(3-word window) % 8
    # == 0 at interior positions; chunks hashed and counted across docs.
    # The comprehension variable is j so it cannot shadow md5_long_sql's
    # inner i.
    oracle=f"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                ' '), x -> x <> '') AS ws
  FROM documents
),
nz AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
bp AS (
  SELECT doc_id, ws, n,
    [j for j in generate_series(3, n - 1)
     if {md5_long_sql("array_to_string(ws[j-2:j], ' ')")} % 8 = 0] AS bpos
  FROM nz
),
ck AS (
  SELECT doc_id,
    list_concat([1], [b + 1 for b in bpos]) AS starts,
    list_concat(bpos, [n]) AS ends, ws
  FROM bp
),
ch AS (
  SELECT doc_id, md5(array_to_string(ws[s:e], ' ')) AS ch_h
  FROM (SELECT doc_id, ws, unnest(starts) AS s, unnest(ends) AS e FROM ck)
),
freq AS (SELECT ch_h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
per_doc AS (
  SELECT doc_id, count(*) AS n_chunks,
         sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS n_dup_chunks
  FROM ch JOIN freq f USING (ch_h) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(p.n_chunks, 0) AS INTEGER) AS n_chunks,
  CAST(coalesce(p.n_dup_chunks, 0) AS INTEGER) AS n_dup_chunks,
  coalesce(round(p.n_dup_chunks / nullif(p.n_chunks, 0), 4), 0.0)
    AS dup_chunk_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + cross-doc chunk dedup (operators/
    dedup.py:cdc_chunk_stats): rolling-hash boundaries make shared spans
    chunk identically in every containing doc; chunk strings are pure
    array expressions, the corpus part is one explode + one fixed-width
    hash groupBy + join-back (~33 B/chunk shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.cdc_chunk_stats(docs, window=3, modulus=8)


@register(
    "corpus_profile_sets",
    # GROUPING SETS completes the grouping-construct family next to
    # revenue_rollup's ROLLUP and sales_cube's CUBE: exactly the three
    # dataset-card margins — per source, per language, per cell — in ONE
    # Expand + one hash aggregate instead of three scans.
    oracle="""
SELECT coalesce(source, 'ALL') AS source,
  coalesce(lang, 'ALL') AS lang,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  round(avg(n_chars), 4) AS avg_chars
FROM documents
GROUP BY GROUPING SETS ((source), (lang), (source, lang))
""",
)
def q_corpus_profile_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card margins in one pass: per-source, per-language, and
    per-(source, language) doc/char profiles via GROUPING SETS — one
    Expand (3 replicas of each row) + one hash aggregate; at 100 TB this
    is one corpus scan where three groupBys would be three."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupingSets([["source"], ["lang"], ["source", "lang"]],
                          "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source"),
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            "n_docs",
            "total_chars",
            "avg_chars",
        )
    )


@register(
    "k_anonymity_audit",
    # Privacy tier next to redact_pii/gdpr_delete_audit: quasi-identifier
    # re-identification risk. Acctbal is coarsened to a $1000 band (floor
    # division — negative balances land in the -1 band) exactly as a real
    # release would generalize it; the audit then reports every
    # (nation, segment, band) equivalence class with its size and whether
    # a k=5 release must suppress it.
    oracle="""
SELECT c_nationkey, c_mktsegment,
  CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
  count(*) AS group_size,
  count(*) < 5 AS suppress
FROM customer
GROUP BY 1, 2, 3
""",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier triple (nation,
    market segment, $1000 account-balance band): one hash aggregation
    emitting each equivalence class's size and the k=5 suppression flag —
    the pre-release privacy gate for any training extract that carries
    user attributes. Map-side partial agg; shuffle is one row per class,
    never per customer."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "acctbal_band",
        "group_size",
        (F.col("group_size") < 5).alias("suppress"),
    )


@register(
    "corpus_jsonl_roundtrip",
    oracle=f"""
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(sum({md5_long_sql("text")} % 1000000000) AS BIGINT) AS text_checksum
FROM documents GROUP BY source
""",
)
def q_corpus_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange, certified lossless: the corpus is WRITTEN as
    sharded JSON-lines (the format LLM corpora actually ship as — C4/Pile/
    Dolma shape) and READ BACK through the schema-enforced quarantining
    reader (sources/corpus_io.py); the per-source doc counts, char totals
    and content checksums of the round-tripped frame must hash-match the
    oracle computed from the ORIGINAL parquet — any JSON escaping loss,
    schema drift, or quarantined line breaks the equality. Checksum is
    sum(md5_long(text) mod 1e9): int64-safe to ~9e9 docs per source and
    replayed bit-for-bit by the oracle.

    Scale: writer emits one balanced shard per task; reader is a plain
    schema-pinned json scan (no inferSchema pass), PERMISSIVE with
    corrupt-line capture — one broken line in a crawl dump costs one
    quarantine row, not the job."""
    import tempfile

    from ecommerce_data_pipeline_spark.sources.corpus_io import (
        read_corpus_jsonl,
        write_corpus_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="corpus_jsonl_", ignore_cleanup_errors=True
    ) as root:
        write_corpus_jsonl(docs, f"{root}/corpus", n_shards=8)
        good, _quarantine = read_corpus_jsonl(spark, f"{root}/corpus")
        return (
            good.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(dd._md5_long(F.col("text")) % 1000000000).alias(
                    "text_checksum"
                ),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "quarantine_recovery",
    oracle="""
SELECT source, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_recovered
FROM documents GROUP BY source
""",
)
def q_quarantine_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine replay, certified lossless: the fix-forward recovery
    workflow every schema-enforced ingest eventually needs. A JSONL dump
    is written with a type drift injected into 1/7 of the lines
    (``n_chars`` serialized as a quoted string — the upstream-producer
    regression shape); the strict-schema read quarantines exactly those
    lines as raw text (sources/corpus_io.py contract: quarantine carries
    the TRUE raw line, which is what makes replay possible at all), and
    the recovery pass reparses the quarantine under the relaxed schema
    and casts back. Good ∪ recovered must hash-match the oracle computed
    from the ORIGINAL parquet per source — a dropped, duplicated, or
    miscast line anywhere in quarantine→replay breaks the equality. The
    query asserts the quarantine caught exactly the drifted lines and
    that recovery drained it completely.

    Scale: quarantine is pay-per-use (an independent text scan, no
    corpus-wide cache), so the replay costs one pass over the BAD lines
    plus their reparse — at a crawl's 1e-6 corruption rate that is MBs,
    not TBs; the relaxed reparse is the same pruning-exempt full-struct
    ``from_json`` discipline as the reader itself."""
    import tempfile

    from pyspark.sql.types import StructType

    from ecommerce_data_pipeline_spark.sources.corpus_io import (
        read_corpus_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    n_total = docs.count()
    drifted = F.col("doc_id") % 7 == 0
    lines = docs.select(
        F.when(
            drifted,
            F.to_json(
                F.struct(
                    "doc_id",
                    "source",
                    F.col("n_chars").cast("string").alias("n_chars"),
                )
            ),
        )
        .otherwise(F.to_json(F.struct("doc_id", "source", "n_chars")))
        .alias("value")
    )
    with tempfile.TemporaryDirectory(
        prefix="quarantine_recovery_", ignore_cleanup_errors=True
    ) as root:
        src = f"{root}/dump"
        lines.repartition(4).write.mode("overwrite").text(src)
        strict = StructType.fromDDL(
            "doc_id long, source string, n_chars long"
        )
        good, quarantine = read_corpus_jsonl(spark, src, schema=strict)
        n_bad = quarantine.count()
        n_expected_bad = docs.filter(drifted).count()
        if n_bad != n_expected_bad:
            raise AssertionError(
                f"quarantine caught {n_bad}, expected {n_expected_bad}"
            )
        relaxed = F.from_json(
            F.col("raw_line"), "doc_id long, source string, n_chars string"
        )
        recovered = quarantine.select(
            relaxed["doc_id"].alias("doc_id"),
            relaxed["source"].alias("source"),
            relaxed["n_chars"].cast("long").alias("n_chars"),
        ).where(F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull())
        n_rec = recovered.count()
        if n_rec != n_bad:
            raise AssertionError(f"recovered {n_rec} of {n_bad} quarantined")
        merged = good.select("doc_id", "source", "n_chars").unionByName(
            recovered
        )
        if merged.count() != n_total:
            raise AssertionError("good + recovered != original corpus")
        return (
            merged.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum((F.col("doc_id") % 7 == 0).cast("long")).alias(
                    "n_recovered"
                ),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "boilerplate_strip",
    # The report query's oracle, extended with the ordered rebuild:
    # surviving segments re-joined by position — DuckDB recomputes the
    # keep/drop decision segment-for-segment and the exact output text.
    oracle="""
WITH w AS (
  -- NULL-source docs form their own group (same sentinel as the
  -- operator; a plain USING join on NULL matches nothing and the
  -- doc's text would silently vanish from the rebuild).
  SELECT doc_id, coalesce(source, chr(0) || '__null_group__') AS source,
    list_filter(string_split(regexp_replace(lower(coalesce(text, '')),
                '[^a-z ]', '', 'g'), ' '), x -> x <> '') AS words
  FROM documents
),
segs AS (
  SELECT doc_id, source, i,
         array_to_string(words[i*4+1 : i*4+4], ' ') AS seg
  FROM w, unnest(range(CAST(ceil(len(words)/4.0) AS BIGINT))) AS t(i)
),
freq AS (
  SELECT source, seg, count(DISTINCT doc_id) AS nd
  FROM segs GROUP BY 1, 2
),
per_doc AS (
  SELECT s.doc_id,
         count(*) AS n_segments,
         sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS n_removed,
         string_agg(CASE WHEN f.nd < 2 THEN s.seg END, ' ' ORDER BY s.i)
           AS clean_text
  FROM segs s JOIN freq f USING (source, seg)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_segments, 0) AS INTEGER) AS n_segments,
       CAST(coalesce(p.n_removed, 0) AS INTEGER) AS n_removed,
       coalesce(p.clean_text, '') AS clean_text
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL (operators/curate.py:boilerplate_strip) — the
    rewrite stage after boilerplate_segment_report's audit: 4-word
    segments shared by >=2 docs of the same source are dropped and each
    doc's text is rebuilt from its surviving segments in order (the
    CCNet/RefinedWeb line-dedup step that actually produces training
    text). One tokenize+posexplode pass, one (source, segment) count
    shuffle, one ordered per-doc re-aggregation — no window over the
    corpus, nothing quadratic. The oracle recomputes the decision AND
    the exact rebuilt string."""
    docs = load_table(spark, sf_dir, "documents")
    return cu.boilerplate_strip(docs)
