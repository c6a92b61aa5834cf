"""Text-analysis operators for the training-data pipeline (north-star ops
beyond the reference: token counting, quality scoring, language-ID heuristic,
document fingerprinting) plus the regex surface (SURVEY §2.9 T1-T3) over the
same `documents` table.

Design: every per-document metric is computed with array higher-order
functions / regex expressions on the `text` column — a single narrow map
stage, zero shuffles, fully whole-stage-codegen. At 100 TB this scans and
emits without any exchange; only the downstream aggregations shuffle.

Consolidation: the per-document metrics (tokens, quality, language-ID,
fingerprint, regex classify/extract) are ONE wide query
(`corpus_doc_stats`) with zero shuffles (plan-pinned in
tests/test_plans.py). The corpus-level aggregates (TF-IDF top terms,
vocabulary histogram) are one tagged union
(`corpus_tfidf_hist`); chunking and sequence packing are one tagged union
(`corpus_chunk_pack`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.text import (
    EN_STOPWORDS,
    LANG_MARKERS,
    marker_hits,
    sql_marker_hits,
    sql_tokens,
    sql_word_shingles,
    tokens,
    word_shingles,
)
from d3d_etl_spark.io import StateFamily, barrier, fan_out, load_table, read_parquet
from d3d_etl_spark.queries.domain import _sql_in
from d3d_etl_spark.queries.registry import register

_TOK = sql_tokens("text")
_STOP = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
_SH = sql_word_shingles(_TOK, 3)
_SH2 = sql_word_shingles(_TOK, 2)


# ---------------------------------------------------------------------------
# corpus_doc_stats — the full per-document analysis surface in ONE narrow
# pass (doc_id grain, zero shuffles):
#   token stats   n_tokens/n_unique/avg_token_len/ttr
#   quality       digit/punct/stopword ratios + pass filter (corpus filtering)
#   language-ID   marker-hit argmax with fixed priority tiebreak
#   fingerprint   content md5 + min-shingle-hash digest (dedup-key shape)
#   repetition    duplicate-bigram fraction (the Gopher-rules repetition
#                 signal for corpus filtering)
#   T1 regex classifier (priority-ordered CASE — reference
#                 pbp_parser/columns.py:532-619 where rule ORDER is semantics)
#   T2/T3 regex count + group extraction (reference columns.py:179-203;
#                 regexes.py:174-188)
# ---------------------------------------------------------------------------

def _doc_stats_sql() -> str:
    hits = {lang: sql_marker_hits(_TOK, m) for lang, m in LANG_MARKERS.items()}
    best = f"GREATEST({hits['en']}, {hits['es']}, {hits['fr']}, {hits['de']})"
    return rf"""
SELECT
  doc_id,
  n_chars,
  lang AS labeled_lang,
  len({_TOK}) AS n_tokens,
  len(list_distinct({_TOK})) AS n_unique,
  CAST(list_aggregate(list_transform({_TOK}, t -> CAST(len(t) AS BIGINT)), 'sum') AS DOUBLE)
    / len({_TOK}) AS avg_token_len,
  CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK}) AS ttr,
  CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / n_chars AS digit_ratio,
  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / n_chars AS punct_ratio,
  CAST(len(list_filter({_TOK}, t -> list_contains({_STOP}, t))) AS DOUBLE) / len({_TOK}) AS stopword_ratio,
  CASE WHEN len({_TOK}) >= 20
        AND CAST(len(list_filter({_TOK}, t -> list_contains({_STOP}, t))) AS DOUBLE) / len({_TOK}) >= 0.01
        AND CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / n_chars <= 0.2
       THEN 1 ELSE 0 END AS passes_filter,
  {hits['en']} AS hits_en,
  {hits['es']} AS hits_es,
  {hits['fr']} AS hits_fr,
  {hits['de']} AS hits_de,
  CASE
    WHEN {best} = 0 THEN 'und'
    WHEN {hits['en']} = {best} THEN 'en'
    WHEN {hits['es']} = {best} THEN 'es'
    WHEN {hits['fr']} = {best} THEN 'fr'
    ELSE 'de'
  END AS pred_lang,
  md5(text) AS content_hash,
  COALESCE(list_aggregate(list_transform({_SH}, s -> md5(s)), 'min'), 'EMPTY') AS shingle_fp,
  len({_SH}) AS n_shingles,
  CASE WHEN len({_SH2}) > 0
       THEN 1.0 - CAST(len(list_distinct({_SH2})) AS DOUBLE) / len({_SH2})
       ELSE 0.0 END AS dup_bigram_frac,
  CASE
    WHEN regexp_matches(text, '\bvector\b') AND regexp_matches(text, '\bjoin\b') THEN 'vector_join'
    WHEN regexp_matches(text, '\bvector\b') THEN 'vector'
    WHEN regexp_matches(text, '\bstream\b') THEN 'streaming'
    WHEN regexp_matches(text, '\bspark\b')  THEN 'spark'
    WHEN regexp_matches(text, '\b(join|merge)\b') THEN 'join'
    ELSE 'other'
  END AS doc_class,
  len(regexp_extract_all(text, '\bagg\b'))         AS n_agg,
  len(regexp_extract_all(text, '\b(scan|sort)\b')) AS n_scan_sort,
  regexp_extract(text, '^(\w+) (\w+)', 2)          AS second_word
FROM documents
"""


@register("corpus_doc_stats", _doc_stats_sql(), tags=("text", "regex"), bench=True)
def corpus_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Staged projections, still one narrow stage (no exchange): array HOFs
    # defeat Catalyst common-subexpression elimination, so referencing
    # `tokens(text)` from every metric column re-tokenizes per column
    # (measured ~4x the whole-query cost). Materializing the token array /
    # marker-hit counts as projection-boundary columns evaluates each ONCE
    # per row; later selects read the bound reference.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    stage1 = docs.select(
        "doc_id", "n_chars", "lang", "text", tokens(t).alias("toks")
    )
    tok = F.col("toks")
    n_tokens = F.size(tok).cast("long")
    total_len = F.aggregate(
        F.transform(tok, lambda x: F.length(x).cast("long")), F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    sh = word_shingles(tok, 3)
    sh2 = word_shingles(tok, 2)
    # T1: order is semantics — mirrors the reference's priority cascade
    doc_class = (
        F.when(t.rlike(r"\bvector\b") & t.rlike(r"\bjoin\b"), "vector_join")
        .when(t.rlike(r"\bvector\b"), "vector")
        .when(t.rlike(r"\bstream\b"), "streaming")
        .when(t.rlike(r"\bspark\b"), "spark")
        .when(t.rlike(r"\b(join|merge)\b"), "join")
        .otherwise("other")
    )
    stage2 = stage1.select(
        "doc_id", "n_chars",
        F.col("lang").alias("labeled_lang"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_unique"),
        total_len.alias("_total_len"),
        F.regexp_count(t, F.lit("[0-9]")).cast("long").alias("_digits"),
        F.regexp_count(t, F.lit("[^a-zA-Z0-9 ]")).cast("long").alias("_punct"),
        marker_hits(tok, EN_STOPWORDS).cast("long").alias("_stop_hits"),
        *[
            marker_hits(tok, m).cast("long").alias(f"hits_{lang}")
            for lang, m in LANG_MARKERS.items()
        ],
        F.md5("text").alias("content_hash"),
        F.coalesce(F.array_min(F.transform(sh, F.md5)), F.lit("EMPTY")).alias("shingle_fp"),
        F.size(sh).cast("long").alias("n_shingles"),
        F.when(
            F.size(sh2) > 0,
            1.0 - F.size(F.array_distinct(sh2)).cast("double") / F.size(sh2),
        ).otherwise(0.0).alias("dup_bigram_frac"),
        doc_class.alias("doc_class"),
        F.regexp_count(t, F.lit(r"\bagg\b")).cast("long").alias("n_agg"),
        F.regexp_count(t, F.lit(r"\b(scan|sort)\b")).cast("long").alias("n_scan_sort"),
        F.regexp_extract(t, r"^(\w+) (\w+)", 2).alias("second_word"),
    )
    n_tok = F.col("n_tokens")
    punct_ratio = F.col("_punct").cast("double") / F.col("n_chars")
    stop_ratio = F.col("_stop_hits").cast("double") / n_tok
    hits = {lang: F.col(f"hits_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    pred = (
        F.when(best == 0, "und")
        .when(hits["en"] == best, "en")
        .when(hits["es"] == best, "es")
        .when(hits["fr"] == best, "fr")
        .otherwise("de")
    )
    return stage2.select(
        "doc_id", "n_chars", "labeled_lang", "n_tokens", "n_unique",
        (F.col("_total_len").cast("double") / n_tok).alias("avg_token_len"),
        (F.col("n_unique").cast("double") / n_tok).alias("ttr"),
        (F.col("_digits").cast("double") / F.col("n_chars")).alias("digit_ratio"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.when((n_tok >= 20) & (stop_ratio >= 0.01) & (punct_ratio <= 0.2), 1)
        .otherwise(0)
        .alias("passes_filter"),
        "hits_en", "hits_es", "hits_fr", "hits_de",
        pred.alias("pred_lang"),
        "content_hash", "shingle_fp", "n_shingles", "dup_bigram_frac",
        "doc_class", "n_agg", "n_scan_sort", "second_word",
    )


# ---------------------------------------------------------------------------
# corpus_tfidf_hist — the corpus-level token aggregates as one tagged union:
#   part='tfidf' TF-IDF top term per doc (explode -> tf -> broadcast df ->
#                log-idf -> top-1 window)
#   part='hist'  vocabulary histogram (explode -> count -> deterministic
#                top-k) — the inverted-index / vocab-build shape
# ---------------------------------------------------------------------------

_TOPN_WORDS = 20

_TFIDF_HIST_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest({_TOK}) AS word FROM documents),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY doc_id, word),
df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
)
SELECT 'tfidf' AS part, doc_id, word, CAST(NULL AS BIGINT) AS n,
       CAST(NULL AS BIGINT) AS doc_freq, tfidf AS score
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
  FROM scored
) WHERE rn = 1
UNION ALL
SELECT 'hist', NULL, word, n, doc_freq, NULL
FROM (
  SELECT word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
  FROM toks
  GROUP BY word
  ORDER BY n DESC, word
  LIMIT {_TOPN_WORDS}
)
"""


@register("corpus_tfidf_hist", _TFIDF_HIST_ORACLE, tags=("text", "agg"), bench=True)
def corpus_tfidf_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NO fan_out here: an interleaved quiet-host A/B measured the
    # round-robin rebalance of the text rows costing +60% on this query at
    # bench scale (1.01 -> 1.60 s min-of-cycles) — the tokenize map is too
    # light to amortize the exchange + sort-before-repartition of the
    # payload; at production split counts the guard no-ops anyway.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))

    # part='tfidf'
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_counts = toks.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_counts), "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    tfidf_arm = (
        scored.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            F.lit("tfidf").alias("part"),
            "doc_id", "word",
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("long").alias("doc_freq"),
            F.col("tfidf").alias("score"),
        )
    )

    # part='hist'
    hist_arm = (
        toks.groupBy("word")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("doc_freq"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(_TOPN_WORDS)
        .select(
            F.lit("hist").alias("part"),
            F.lit(None).cast(docs.schema["doc_id"].dataType).alias("doc_id"),
            "word", "n", "doc_freq",
            F.lit(None).cast("double").alias("score"),
        )
    )
    return tfidf_arm.unionByName(hist_arm)


# ---------------------------------------------------------------------------
# corpus_chunk_pack — LLM-training corpus shaping as one tagged union:
#   part='chunk' fixed-size token windows with overlap: every doc emits
#                ceil(n/stride) chunks of up to CHUNK tokens, consecutive
#                chunks sharing CHUNK-STRIDE tokens. Pure array expressions
#                (sequence + slice), fan-out via explode, zero shuffle.
#   part='pack'  sequence packing: stream docs in doc_id order, cut the
#                token stream every BUDGET tokens. Needs a GLOBAL prefix
#                sum — done two-level (per-bucket window cumsum + tiny
#                broadcast bucket offsets) so no global-order window
#                collapses to one partition at scale.
# Normalized columns: (part, k1, k2, n1, n2, v) — all BIGINT:
#   chunk: k1=doc_id, k2=chunk_idx, n1=n_tokens, v=chunk_hash
#   pack:  k1=seq_id, k2=min_doc,  n1=n_docs,  n2=seq_tokens, v=max_doc
# ---------------------------------------------------------------------------

_CHUNK = 60
_STRIDE = 45  # overlap = 15 tokens
_PACK_BUDGET = 512
# doc_ids per prefix-sum bucket. SIZING RULE at scale: the offsets table is
# one row per bucket and must stay broadcastable, so pick bucket size ≈
# n_docs / (a few × cluster parallelism) — e.g. 1B docs on 1000 executors
# -> ~100k docs/bucket -> 10k offset rows. 100 here matches the testdata.
_PACK_BUCKET = 100

_CHUNK_PACK_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
s AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), {_STRIDE})) AS start
  FROM t
),
c AS (
  SELECT doc_id, len(toks) AS n,
         COALESCE(SUM(len(toks)) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM t
)
SELECT 'chunk' AS part,
       CAST(doc_id AS BIGINT) AS k1,
       start // {_STRIDE} AS k2,
       len(list_slice(toks, start + 1, start + {_CHUNK})) AS n1,
       CAST(NULL AS BIGINT) AS n2,
       ('0x' || substr(md5(array_to_string(
         list_slice(toks, start + 1, start + {_CHUNK}), ' ')), 1, 8))::BIGINT AS v
FROM s
UNION ALL
SELECT 'pack',
       CAST(cum_before // {_PACK_BUDGET} AS BIGINT),
       MIN(doc_id),
       COUNT(*),
       CAST(SUM(n) AS BIGINT),
       MAX(doc_id)
FROM c
GROUP BY 2
"""


@register("corpus_chunk_pack", _CHUNK_PACK_ORACLE, tags=("text",))
def corpus_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from d3d_etl_spark.functions.strings import md5_int

    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))

    # part='chunk' — narrow map + explode, zero shuffle. Zero-token docs
    # must emit zero chunks: sequence(0, -1) throws in Spark, so gate the
    # start list on a non-empty token array (explode drops the NULL) — the
    # oracle's range(0, 0, stride) is naturally empty.
    starts = F.when(
        F.size(tok) > 0, F.sequence(F.lit(0), F.size(tok) - 1, F.lit(_STRIDE))
    )
    base = docs.select("doc_id", tok.alias("toks"), F.explode(starts).alias("start"))
    chunk = F.expr(f"slice(toks, start + 1, {_CHUNK})")
    chunk_arm = base.select(
        F.lit("chunk").alias("part"),
        F.col("doc_id").cast("long").alias("k1"),
        F.expr(f"start div {_STRIDE}").cast("long").alias("k2"),
        F.size(chunk).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        md5_int(F.concat_ws(" ", chunk)).alias("v"),
    )

    # part='pack' — two-level distributed prefix sum
    # integer div (not double-cast division): exact for ids/counts past 2^53
    t = docs.select(
        "doc_id",
        F.size(tok).cast("long").alias("n"),
        F.expr(f"doc_id div {_PACK_BUCKET}").alias("bucket"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = t.withColumn("cum_in", F.coalesce(F.sum("n").over(w_in), F.lit(0)))
    totals = t.groupBy("bucket").agg(F.sum("n").alias("btotal"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("btotal").over(w_b), F.lit(0))
    ).select("bucket", "offset")
    c = within.join(F.broadcast(offsets), "bucket").withColumn(
        "cum_before", F.col("offset") + F.col("cum_in")
    )
    pack_arm = (
        c.withColumn("seq_id", F.expr(f"cum_before div {_PACK_BUDGET}"))
        .groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("seq_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(
            F.lit("pack").alias("part"),
            F.col("seq_id").cast("long").alias("k1"),
            F.col("min_doc").cast("long").alias("k2"),
            F.col("n_docs").cast("long").alias("n1"),
            F.col("seq_tokens").cast("long").alias("n2"),
            F.col("max_doc").cast("long").alias("v"),
        )
    )
    return chunk_arm.unionByName(pack_arm)


# ---------------------------------------------------------------------------
# z_corpus_decontam — benchmark decontamination (z_ tier): remove training
# documents that share any N-gram with the held-out evaluation set — the
# standard leakage guard for LLM training corpora (the n-gram-overlap
# procedure described in the GPT-3 / Pile papers). Here the "benchmark" is
# a deterministic slice of the corpus (doc_id % 97 == 0); real use swaps in
# the benchmark table.
#
# Scale shape: eval shingles are a broadcast-able set (benchmarks are
# small); contamination is ONE broadcast semi-join probe at the exploded
# train-shingle stream — the full corpus never shuffles. Published as the
# per-split corpus profile before/after decontamination so recall and
# collateral loss are both visible.
# ---------------------------------------------------------------------------

_DECON_N = 5  # overlap n-gram width

_DECON_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOK} AS w,
         doc_id % 97 = 0 AS is_eval
  FROM documents
),
sh AS (
  SELECT doc_id, is_eval, unnest({sql_word_shingles('w', _DECON_N)}) AS shingle
  FROM t
),
eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE is_eval),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
  WHERE NOT s.is_eval
)
SELECT
  CASE WHEN is_eval THEN 'eval' ELSE 'train' END AS corpus,
  COUNT(*) AS n_docs,
  COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM contaminated)) AS n_contaminated,
  COUNT(*) FILTER (WHERE NOT is_eval
                   AND doc_id NOT IN (SELECT doc_id FROM contaminated)) AS n_clean_train,
  CAST(SUM(len(w)) AS BIGINT) AS total_tokens,
  CAST(COALESCE(SUM(len(w)) FILTER (WHERE doc_id IN (SELECT doc_id FROM contaminated)), 0) AS BIGINT) AS contaminated_tokens
FROM t
GROUP BY 1
"""


@register("z_corpus_decontam", _DECON_ORACLE, tags=("text", "dedup"))
def z_corpus_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = barrier(docs.select(
        "doc_id",
        tokens(F.col("text")).alias("w"),
        (F.col("doc_id") % 97 == 0).alias("is_eval"),
    ))  # feeds shingling AND the final profile
    sh = t.select(
        "doc_id", "is_eval",
        F.explode(word_shingles(F.col("w"), _DECON_N)).alias("shingle"),
    )
    eval_sh = sh.where("is_eval").select("shingle").distinct()
    contaminated = (
        sh.where(~F.col("is_eval"))
        .join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    flagged = t.join(
        F.broadcast(contaminated.withColumn("_hit", F.lit(True))), "doc_id", "left"
    ).withColumn("_hit", F.coalesce("_hit", F.lit(False)))
    return (
        flagged.groupBy(
            F.when(F.col("is_eval"), "eval").otherwise("train").alias("corpus")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("_hit").cast("long")).alias("n_contaminated"),
            F.sum((~F.col("is_eval") & ~F.col("_hit")).cast("long")).alias("n_clean_train"),
            F.sum(F.size("w").cast("long")).alias("total_tokens"),
            F.sum(F.when(F.col("_hit"), F.size("w").cast("long")).otherwise(0)).alias(
                "contaminated_tokens"
            ),
        )
    )


# ---------------------------------------------------------------------------
# z_corpus_pii — PII redaction plumbing (z_ tier): regex-scrub emails,
# phone numbers and SSN-shaped tokens to typed placeholders, publishing
# per-doc redaction counts + the scrubbed content hash. The testdata text
# carries no PII, so deterministic synthetic PII is appended from the doc
# key — the redaction path (priority, overlap behavior, placeholder
# format) is what is verified. Pure regexp_replace: zero shuffle.
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"

_PII_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              || ' or ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || (CASE WHEN doc_id % 3 = 0
                       THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                            || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END) AS raw
  FROM documents
),
r AS (
  SELECT doc_id, raw,
         len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(raw, '{_SSN_RE}')) AS n_ssns,
         regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_SSN_RE}', '<SSN>', 'g') AS pass1
  FROM d
)
SELECT doc_id, n_emails,
       len(regexp_extract_all(pass1, '{_PHONE_RE}')) AS n_phones,
       n_ssns,
       md5(regexp_replace(pass1, '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_hash
FROM r
"""


@register("z_corpus_pii", _PII_ORACLE, tags=("text",))
def z_corpus_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    pad = lambda e, n: F.lpad((did % (10 ** n)).cast("string"), n, "0")  # noqa: E731
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
        F.lit(" or "), pad(did, 3), F.lit("-555-"), pad(did, 4),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" ssn "), pad(did, 3), F.lit("-"),
                     F.lpad((did % 100).cast("string"), 2, "0"),
                     F.lit("-"), pad(did, 4)),
        ).otherwise(""),
    )
    # SSN before PHONE: the patterns overlap (both ddd-dd..), priority is
    # semantics — phones are counted AFTER emails+SSNs are placeholdered
    pass1 = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _SSN_RE, "<SSN>"
    )
    base = docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(_SSN_RE)).cast("long").alias("n_ssns"),
        pass1.alias("_p1"),
    )
    return base.select(
        "doc_id", "n_emails",
        F.regexp_count(F.col("_p1"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        "n_ssns",
        F.md5(F.regexp_replace(F.col("_p1"), _PHONE_RE, "<PHONE>")).alias("scrubbed_hash"),
    )


# ---------------------------------------------------------------------------
# z_corpus_lm_score — statistical LM quality scoring (the CCNet/KenLM-style
# perplexity filter): fit add-one-smoothed bigram probabilities on the
# corpus itself, score each document by mean negative log likelihood, and
# bucket into keep/review/drop bands.
#
# Determinism contract: every per-bigram surprisal term
# -ln((c12+1)/(c1+V)) is quantized to an INTEGER (1e-4 units) BEFORE the
# per-document sum, so the aggregation is exact integer arithmetic and the
# score is one final division — the only cross-engine float exposure is
# ln() of identical doubles inside a ROUND, mirrored operation-for-
# operation in the oracle.
#
# Scale shape: token explode -> two count aggregates (bigram, history) that
# shuffle ONLY count rows (vocab-sized, not corpus-sized), broadcast-scalar
# vocab size, then one join of the bigram-instance stream against the
# (w1,w2)-keyed stats table and a per-doc aggregate. At 100 TB the stats
# table is dictionary-sized; the corpus is scanned twice (fit + score) —
# the same two-pass shape CCNet uses, and the fit side can be sampled.
# ---------------------------------------------------------------------------

_LM_Q = 10_000  # surprisal quantum: 1e-4 nats
_LM_KEEP_T, _LM_REVIEW_T = 3.37, 3.42  # band cuts sit inside this corpus's nll spread

_LM_TOK = sql_tokens("lower(text)")

# reusable CTE body (toks -> ... -> scored): shared by _LM_ORACLE and the
# z_corpus_curation composition
_LM_CTES = f"""toks AS (
  SELECT doc_id, {_LM_TOK} AS w FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(w[1:len(w)-1]) AS w1,
         unnest(w[2:len(w)])   AS w2
  FROM toks WHERE len(w) >= 2
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
c1  AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
v   AS (SELECT COUNT(DISTINCT t.tok) AS vocab
        FROM (SELECT unnest(w) AS tok FROM toks) t),
stats AS (
  SELECT c12.w1, c12.w2,
         CAST(ROUND(-{_LM_Q} * LN(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + v.vocab))) AS BIGINT) AS t
  FROM c12 JOIN c1 ON c12.w1 = c1.w1 CROSS JOIN v
),
scored AS (
  SELECT bi.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(SUM(s.t) AS BIGINT) AS s_sum
  FROM bi JOIN stats s ON bi.w1 = s.w1 AND bi.w2 = s.w2
  GROUP BY 1
)"""

_LM_ORACLE = f"""
WITH {_LM_CTES}
SELECT doc_id, n_bigrams,
       CAST(s_sum AS DOUBLE) / n_bigrams / {_LM_Q} AS nll,
       CASE WHEN CAST(s_sum AS DOUBLE) / n_bigrams / {_LM_Q} <= {_LM_KEEP_T} THEN 'keep'
            WHEN CAST(s_sum AS DOUBLE) / n_bigrams / {_LM_Q} <= {_LM_REVIEW_T} THEN 'review'
            ELSE 'drop' END AS qband
FROM scored
"""


@register("z_corpus_lm_score", _LM_ORACLE, tags=("textops", "corpus"), bench=True)
def z_corpus_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO fan_out here: the quiet-host interleaved A/B measured
    # the rebalance at +115% on this query at bench scale (1.08 -> 2.34 s
    # min-of-cycles) — the bigram map is cheaper than shuffling the text
    # payload; production split counts make the guard a no-op regardless.
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(F.lower(F.col("text")))
    toks = docs.select("doc_id", tok.alias("w"))

    n = F.size("w")
    # fit + score both consume the bigram stream: materialize the
    # tokenize+zip+explode once instead of three times
    bi = barrier(
        toks.where(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("w", 1, n - 1).alias("w1"),
                    F.slice("w", 2, n - 1).alias("w2"),
                )
            ).alias("z"),
        )
        .select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    )
    c12 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab = toks.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    # the LM tables (c1 = unigram grain, stats = bigram grain) GROW with
    # the corpus — behind the bi checkpoint Catalyst's stats say "tiny"
    # and it auto-broadcasts them (measured 384 MB task peak at the 10x
    # stress pair). Model-sized joins shuffle-hash; only the 1-row vocab
    # scalar broadcasts.
    stats = (
        c12.join(c1.hint("shuffle_hash"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                -_LM_Q
                * F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("vocab")))
            )
            .cast("long")
            .alias("t"),
        )
    )
    scored = (
        bi.join(stats.hint("shuffle_hash"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("t").cast("long").alias("s_sum"))
    )
    nll = F.col("s_sum").cast("double") / F.col("n_bigrams") / _LM_Q
    return scored.select(
        "doc_id",
        "n_bigrams",
        nll.alias("nll"),
        F.when(nll <= _LM_KEEP_T, "keep").when(nll <= _LM_REVIEW_T, "review").otherwise("drop").alias("qband"),
    )


# ---------------------------------------------------------------------------
# z_corpus_span_dedup — exact duplicated-SPAN signal (the "Deduplicating
# Training Data Makes Language Models Better" exact-substring stage, done
# the Spark way): every _SPAN_N-token span of every document, counted with
# multiplicity across the corpus; a span instance is duplicated iff its
# total occurrence count >= 2 (covers both cross-document template reuse
# and within-document repetition). Per document: the fraction of its spans
# that are duplicated, plus the trim decision at _SPAN_TRIM_T.
#
# Scale shape: spans are hashed to 60-bit ints map-side so the count
# aggregate and the join back shuffle fixed-width ints, never the span
# text; both stages are the linear inverted-index shape (one groupBy + one
# equi-join), no pair enumeration anywhere. The count table is span-
# cardinality-sized; at 100 TB both sides bucket naturally by span hash.
# ---------------------------------------------------------------------------

_SPAN_N = 8
_SPAN_TRIM_T = 0.2

_SPAN_SQL = sql_word_shingles(_TOK, _SPAN_N)

from d3d_etl_spark.functions.strings import sql_md5_int as _sql_md5_int  # noqa: E402

# reusable CTE body (sp, spc): shared by _SPAN_ORACLE and z_corpus_curation
_SPAN_CTES = f"""sp AS (
  SELECT doc_id, {_sql_md5_int("s", 15)} AS sh
  FROM (SELECT doc_id, unnest({_SPAN_SQL}) AS s FROM documents)
),
spc AS (SELECT sh, COUNT(*) AS c FROM sp GROUP BY 1)"""

# ONE definition each of the doc-grain span fraction and the two gate
# predicates — every oracle that gates on them (z_corpus_curation,
# z_corpus_selection_agreement) composes these instead of re-inlining, so
# a rule change cannot desynchronize the consumers.
_SPANFRAC_CTE = """spanfrac AS (
  SELECT sp.doc_id,
         CAST(SUM(CASE WHEN spc.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS frac
  FROM sp JOIN spc ON sp.sh = spc.sh
  GROUP BY 1
)"""


def sql_lm_pass(alias: str) -> str:
    """The LM quality gate (docs at or under the review surprisal band),
    over an _LM_CTES `scored` row aliased `alias`."""
    return f"CAST({alias}.s_sum AS DOUBLE) / {alias}.n_bigrams / {_LM_Q} <= {_LM_REVIEW_T}"


def sql_span_trim(alias: str) -> str:
    """The duplicated-span trim rule over a `spanfrac` row aliased
    `alias` (LEFT-joined: missing span stats never trim)."""
    return f"COALESCE({alias}.frac >= {_SPAN_TRIM_T}, FALSE)"

_SPAN_ORACLE = f"""
WITH {_SPAN_CTES}
SELECT sp.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN spc.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(SUM(CASE WHEN spc.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_span_frac,
       CAST(SUM(CASE WHEN spc.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= {_SPAN_TRIM_T}
         AS would_trim
FROM sp JOIN spc ON sp.sh = spc.sh
GROUP BY sp.doc_id
"""


@register("z_corpus_span_dedup", _SPAN_ORACLE, tags=("textops", "dedup"), bench=True)
def z_corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.functions.strings import md5_int

    # the span explode+hash runs in the SCAN stage (before the first
    # shuffle): a thin scan serializes it on one core — fan_out measured
    # 7.6s -> 1.4s at sf0.1
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sp = docs.select(
        "doc_id",
        F.explode(word_shingles(tokens(F.col("text")), _SPAN_N)).alias("s"),
    ).select("doc_id", md5_int(F.col("s"), 15).alias("sh"))
    counts = sp.groupBy("sh").agg(F.count("*").alias("c"))
    is_dup = (F.col("c") >= 2).cast("long")
    frac = F.sum(is_dup).cast("double") / F.count("*")
    # the count table is span-cardinality-sized (GROWS with the corpus):
    # the join back must shuffle on the span hash as the docstring
    # promises — Catalyst's estimate behind the thin scan otherwise
    # auto-broadcasts it (measured 296 MB task peak at the 10x pair)
    return (
        sp.join(counts.hint("shuffle_hash"), "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(is_dup).cast("long").alias("n_dup_spans"),
            frac.alias("dup_span_frac"),
            (frac >= _SPAN_TRIM_T).alias("would_trim"),
        )
    )


# ---------------------------------------------------------------------------
# z_corpus_bpe_pairs — tokenizer-training statistics (the BPE merge-rule
# surface): word-frequency-weighted adjacent-character-pair counts over the
# corpus, ranked — exactly the statistic a BPE trainer maximizes each merge
# round. One round is published (top-_BPE_TOPK candidates, deterministic
# count-desc/pair-asc rank); training iterates by re-running with the
# winning pair merged into one symbol — a driver loop over this same
# vocab-sized aggregate, never another corpus pass, because the statistic
# is computed from the WORD-COUNT table (types x frequency), not from raw
# text.
#
# Scale shape: corpus scan -> vocab-sized word-count aggregate; the pair
# explode runs over word TYPES (each weighted by its count), so its cost
# tracks vocabulary, not corpus size; final top-k is TakeOrdered (no full
# sort shuffle).
# ---------------------------------------------------------------------------

_BPE_TOPK = 20

_BPE_ORACLE = f"""
WITH wrd AS (SELECT unnest({sql_tokens('lower(text)')}) AS w FROM documents),
wc AS (SELECT w, COUNT(*) AS c FROM wrd GROUP BY 1),
p AS (
  SELECT c, unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair
  FROM wc WHERE length(w) >= 2
),
pc AS (SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt FROM p GROUP BY 1)
SELECT pair, cnt,
       ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank
FROM pc ORDER BY rank LIMIT {_BPE_TOPK}
"""


@register("z_corpus_bpe_pairs", _BPE_ORACLE, tags=("textops", "tokenizer"))
def z_corpus_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        wc.where(F.length("w") >= 2)
        .select(
            "c",
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
            ).alias("pair"),
        )
    )
    pc = pairs.groupBy("pair").agg(F.sum("c").cast("long").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        pc.orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(_BPE_TOPK)
        .withColumn("rank", F.row_number().over(w))
    )


_BPE_TRAIN_ROUNDS = 5


def _bpe_ctes(rounds: int) -> str:
    """The full BPE training trajectory as one chained-CTE DuckDB oracle.
    The hard part is the left-to-right merge FOLD — SQL has no per-row
    sequential fold — but plain `replace` IS a left-to-right
    non-overlapping scan, which is exactly the fold's semantics under the
    right encoding: symbols joined by DOUBLE tabs
    (tokens are whitespace-split, so symbol text can never contain a tab),
    merge pattern `\\t p1 \\t\\t p2 \\t` -> `\\t p1p2 \\t`. Each match
    consumes one tab of each outer boundary and leaves one, so adjacent
    merges in a chain ("aaaa" -> ["aa","aa"]) still fire, while a
    boundary-aligned pattern can never match a symbol prefix/suffix
    ("ba","a" is safe from (a,a)). Each round: pair counts over the
    symbol strings, 1-row argmax (count desc, pair asc), merge applied by
    replace — `rounds` copies of the block, threaded like the LR unroll.
    The unroll is TOTAL: when a round finds no remaining pair (degenerate
    corpus, every word a single symbol), m{k} is empty — LEFT JOIN ON TRUE
    + COALESCE to a never-matching pattern (triple tab; boundaries are
    exactly double tabs) pass wc{k} through unchanged, matching
    train_bpe's early-stop semantics."""
    ctes = [
        f"""wrd AS (SELECT unnest({sql_tokens('lower(text)')}) AS w FROM documents),
wcw AS (SELECT w, COUNT(*) AS c FROM wrd GROUP BY 1),
wc0 AS (
  SELECT c,
         repeat(chr(9), 2) ||
         array_to_string(list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)),
                         repeat(chr(9), 2)) ||
         repeat(chr(9), 2) AS sym
  FROM wcw
)"""
    ]
    for k in range(rounds):
        ctes.append(
            f"""pc{k} AS (
  SELECT pr.p1 AS p1, pr.p2 AS p2, CAST(SUM(c) AS BIGINT) AS cnt FROM (
    SELECT c,
           unnest(list_transform(range(1, len(ss)),
                                 i -> struct_pack(p1 := ss[i], p2 := ss[i + 1]))) AS pr
    FROM (SELECT c, list_filter(string_split(sym, chr(9)), s -> s != '') AS ss FROM wc{k})
    WHERE len(ss) >= 2
  ) GROUP BY 1, 2
),
m{k} AS (SELECT p1, p2, cnt FROM pc{k} ORDER BY cnt DESC, p1 ASC, p2 ASC LIMIT 1),
wc{k + 1} AS (
  SELECT wc.c,
         replace(wc.sym,
                 COALESCE(chr(9) || m.p1 || chr(9) || chr(9) || m.p2 || chr(9),
                          repeat(chr(9), 3)),
                 COALESCE(chr(9) || m.p1 || m.p2 || chr(9), '')) AS sym
  FROM wc{k} wc LEFT JOIN m{k} m ON TRUE
)"""
        )
    return ",\n".join(ctes)


def _bpe_train_oracle(rounds: int) -> str:
    tail = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_idx, p1, p2, cnt FROM m{k}"
        for k in range(rounds)
    )
    return f"WITH {_bpe_ctes(rounds)}\n{tail}"


@register(
    "z_corpus_bpe_train", _bpe_train_oracle(_BPE_TRAIN_ROUNDS), tags=("textops", "tokenizer")
)
def z_corpus_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five rounds of actual BPE training over the corpus word-count table
    (operators/bpe.py): each round re-aggregates pair counts over word
    TYPES, driver-fetches the argmax, and applies the merge as a per-row
    left-to-right fold. The merge-after-merge greedy argmax is driver
    control flow, like connected_components and the k-means loop — but
    the WHOLE trajectory is oracled (_bpe_train_oracle's
    replace-encoding unroll), on top of the exact pin against a
    pure-python BPE reference in tests/test_operators.py and the oracled
    first-merge statistic z_corpus_bpe_pairs."""
    from d3d_etl_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    merges = train_bpe(words, _BPE_TRAIN_ROUNDS)
    return spark.createDataFrame(
        [(i, p1, p2, cnt) for i, (p1, p2, cnt) in enumerate(merges)],
        "merge_idx int, p1 string, p2 string, cnt long",
    )


# ---------------------------------------------------------------------------
# z_corpus_shard_balance — size-balanced training-shard assignment
# (serpentine / boustrophedon packing): rank documents by token count
# descending, then deal rank r to shard serpentine(r, S) — block b = r div S
# walks shards left-to-right when b is even, right-to-left when odd, so each
# block of S consecutive-sized docs spreads one doc per shard and the
# big-doc/small-doc imbalance alternates direction. This is the standard
# deterministic writer shape for "emit N training shards with near-equal
# token totals" (greedy LPT without the priority queue — fully data-parallel).
#
# The GLOBAL rank is computed two-level like corpus_chunk_pack's prefix sum:
# bucket docs by token-count RANGE (bucket = n div B, so any doc in a higher
# bucket strictly out-ranks any doc in a lower bucket), rank within buckets
# by a partitioned window, then add tiny broadcast bucket-count offsets — no
# global-order window collapsing to one partition. SIZING RULE at scale: B
# bounds the per-bucket window partition; pick B so n_docs_per_bucket ~
# corpus/parallelism (the token-count histogram is known from corpus_doc_stats).
# Output: one row per shard with its doc count + token total — the balance
# itself is what the hash verifies.
# ---------------------------------------------------------------------------

_SHARDS = 16
_RANK_BUCKET = 8  # token-count range width per rank bucket


_SHARD_BALANCE_ORACLE = f"""
WITH t AS (SELECT doc_id, len({_TOK}) AS n FROM documents),
r AS (
  SELECT doc_id, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, doc_id) - 1 AS r0
  FROM t
),
s AS (
  SELECT doc_id, n,
         CASE WHEN (r0 // {_SHARDS}) % 2 = 0
              THEN r0 % {_SHARDS}
              ELSE {_SHARDS} - 1 - (r0 % {_SHARDS}) END AS shard
  FROM r
)
SELECT CAST(shard AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM s
GROUP BY 1
"""


@register("z_corpus_shard_balance", _SHARD_BALANCE_ORACLE, tags=("textops", "sharding"))
def z_corpus_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine token-balanced shard assignment over `documents`, global
    rank via range-bucketed two-level prefix counts (no single-partition
    window). Beyond-reference LLM-pipeline operator (training-shard writer)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n"),
    ).withColumn("bucket", F.expr(f"n div {_RANK_BUCKET}"))

    # level 1: rank within each token-count range bucket
    w_in = Window.partitionBy("bucket").orderBy(F.desc("n"), F.asc("doc_id"))
    within = t.withColumn("rn_in", F.row_number().over(w_in))

    # level 2: tiny offsets table — docs in strictly-higher buckets all rank
    # earlier (bucket = n div B makes cross-bucket order exact, see header)
    counts = t.groupBy("bucket").agg(F.count("*").alias("bcount"))
    w_b = Window.orderBy(F.desc("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("bcount").over(w_b), F.lit(0))
    ).select("bucket", "offset")

    # integer div (not double-cast division): exact past 2^53 doc ranks
    serp = F.expr(
        f"CASE WHEN (r0 div {_SHARDS}) % 2 = 0 THEN r0 % {_SHARDS} "
        f"ELSE {_SHARDS} - 1 - (r0 % {_SHARDS}) END"
    )
    return (
        within.join(F.broadcast(offsets), "bucket")
        .withColumn("r0", F.col("offset") + F.col("rn_in") - 1)
        .withColumn("shard", serp.cast("long"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# z_corpus_lr_step — quality-classifier training step (the CCNet/fastText
# shape): logistic regression over hashed bag-of-words features, one
# full-batch gradient-descent step from a deterministic md5-seeded weight
# vector, label = (lang = 'en'). The trainer loop (operators/classifier.py
# lr_gradient_step iterated) is pytest-pinned for loss descent; the oracled
# query publishes step 1 — seed weight, exact-integer gradient, updated
# weight per feature. Determinism: features and weights quantized to 1e-6,
# margin and gradient are exact integer sums, the single exp() runs on
# identical doubles inside a ROUND (the lm_score ln() precedent).
# ---------------------------------------------------------------------------

_LR_FEATURES = 64
_LR_RATE = 0.5

_LR_STEP_ORACLE = f"""
WITH toks AS (SELECT doc_id, lang, {_TOK} AS w FROM documents),
ex AS (
  SELECT doc_id, len(w) AS nd, unnest(w) AS tok FROM toks WHERE len(w) > 0
),
xc AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_LR_FEATURES} AS j,
         nd, COUNT(*) AS c
  FROM ex GROUP BY 1, 2, 3
),
x AS (SELECT doc_id, j, CAST(ROUND(1000000.0 * c / nd) AS BIGINT) AS x_q FROM xc),
w0 AS (
  SELECT r.range AS j,
         (('0x' || substr(md5('w:' || CAST(r.range AS VARCHAR)), 1, 8))::BIGINT
          % 2001 - 1000) / 1000.0 AS w
  FROM range({_LR_FEATURES}) r
),
wq AS (SELECT j, w, CAST(ROUND(w * 1000000.0) AS BIGINT) AS w_q FROM w0),
margin AS (
  SELECT x.doc_id,
         CAST(SUM(x.x_q * wq.w_q) AS DOUBLE) / 1000000000000.0 AS m
  FROM x JOIN wq ON x.j = wq.j GROUP BY 1
),
p AS (
  SELECT doc_id,
         CAST(ROUND(1000000.0 / (1.0 + EXP(-m))) AS BIGINT) AS p_q
  FROM margin
),
y AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y_q
  FROM toks WHERE len(w) > 0
),
g AS (
  SELECT x.j, SUM((p.p_q - y.y_q) * x.x_q) AS g_int
  FROM x JOIN p ON x.doc_id = p.doc_id JOIN y ON x.doc_id = y.doc_id
  GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM y)
SELECT w0.j AS feature,
       w0.w AS w0,
       CAST(COALESCE(g.g_int, 0) AS BIGINT) AS g_int,
       w0.w - {_LR_RATE} * CAST(COALESCE(g.g_int, 0) AS DOUBLE)
            / 1000000000000.0 / n.n_docs AS w1
FROM w0 LEFT JOIN g ON w0.j = g.j CROSS JOIN n
"""


@register("z_corpus_lr_step", _LR_STEP_ORACLE, tags=("textops", "classifier"))
def z_corpus_lr_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One oracled GD step of the hashed-BoW logistic quality classifier
    (label: lang = 'en'). Beyond-reference LLM-pipeline operator."""
    from d3d_etl_spark.functions.strings import md5_int
    from d3d_etl_spark.operators.classifier import lr_corpus_inputs, lr_gradient_step

    docs = load_table(spark, sf_dir, "documents")
    # shared eligibility/label/feature construction (ONE definition for the
    # step query and the trainer loop).
    # lr_gradient_step reads xq in BOTH its margin and gradient branches;
    # labels once
    xq, labels = lr_corpus_inputs(docs, _LR_FEATURES)
    xq = barrier(xq)
    w0 = spark.range(_LR_FEATURES).select(
        F.col("id").alias("j"),
        (
            (md5_int(F.concat(F.lit("w:"), F.col("id").cast("string"))) % 2001 - 1000)
            / 1000.0
        ).alias("w"),
    )
    stepped = lr_gradient_step(xq, labels, w0, _LR_RATE)
    return (
        w0.select("j", F.col("w").alias("w0"))
        .join(
            stepped.select(
                "j",
                F.col("w").alias("w1"),
                # decimal(38,0) overflow-safe accumulator -> published BIGINT
                F.col("g_int").cast("long").alias("g_int"),
            ),
            "j",
        )
        .select(F.col("j").alias("feature"), "w0", "g_int", "w1")
    )


_LR_TRAIN_STEPS = 3


def _lr_train_oracle(steps: int) -> str:
    """The FULL trainer trajectory as one chained-CTE DuckDB oracle: the
    integer-quantization contract (weights re-quantized to 1e-6 at every
    step boundary, exact integer margin and gradient sums, exp() only on
    identical doubles) makes each unrolled step bit-reproducible, so the
    driver-loop trainer is SQL-expressible after all — the loop is just
    `steps` copies of the z_corpus_lr_step CTE block threaded through the
    weight table, so the trainer is fully oracled."""
    ctes = [
        f"""toks AS (SELECT doc_id, lang, {_TOK} AS w FROM documents),
ex AS (
  SELECT doc_id, len(w) AS nd, unnest(w) AS tok FROM toks WHERE len(w) > 0
),
xc AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_LR_FEATURES} AS j,
         nd, COUNT(*) AS c
  FROM ex GROUP BY 1, 2, 3
),
x AS (SELECT doc_id, j, CAST(ROUND(1000000.0 * c / nd) AS BIGINT) AS x_q FROM xc),
y AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y_q
  FROM toks WHERE len(w) > 0
),
n AS (SELECT COUNT(*) AS n_docs FROM y),
w0 AS (SELECT r.range AS j, 0.0 AS w FROM range({_LR_FEATURES}) r)"""
    ]
    for s in range(steps):
        ctes.append(
            f"""wq{s} AS (
  SELECT j, w, CAST(ROUND(w * 1000000.0) AS BIGINT) AS w_q FROM w{s}
),
m{s} AS (
  SELECT x.doc_id,
         CAST(SUM(x.x_q * wq{s}.w_q) AS DOUBLE) / 1000000000000.0 AS m
  FROM x JOIN wq{s} ON x.j = wq{s}.j GROUP BY 1
),
p{s} AS (
  SELECT doc_id,
         CAST(ROUND(1000000.0 / (1.0 + EXP(-m))) AS BIGINT) AS p_q
  FROM m{s}
),
g{s} AS (
  SELECT x.j, SUM((p{s}.p_q - y.y_q) * x.x_q) AS g_int
  FROM x JOIN p{s} ON x.doc_id = p{s}.doc_id JOIN y ON x.doc_id = y.doc_id
  GROUP BY 1
),
w{s + 1} AS (
  SELECT wq{s}.j,
         wq{s}.w - {_LR_RATE} * CAST(COALESCE(g{s}.g_int, 0) AS DOUBLE)
                 / 1000000000000.0 / n.n_docs AS w
  FROM wq{s} LEFT JOIN g{s} ON wq{s}.j = g{s}.j CROSS JOIN n
)"""
        )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT j AS feature, ROUND(w, 8) AS w FROM w{steps}"
    )


@register("z_corpus_lr_train", _lr_train_oracle(_LR_TRAIN_STEPS), tags=("textops", "classifier"))
def z_corpus_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full-batch GD steps of the hashed-BoW logistic quality
    classifier (operators/classifier.py lr_gradient_step iterated from the
    zero vector). The step loop is driver control flow, but the WHOLE
    trajectory is oracled — the chained-CTE unroll in
    _lr_train_oracle mirrors every step exactly (the integer-quantization
    contract makes the unroll bit-reproducible). Also pinned per-step
    against an independent numpy mirror (and for strict loss descent) in
    tests/test_corpus_ops_r4.py. Output: (feature, w) after the final
    step, rounded 8dp."""
    from d3d_etl_spark.operators.classifier import lr_corpus_inputs, lr_gradient_step

    docs = load_table(spark, sf_dir, "documents")
    xq, labels = lr_corpus_inputs(docs, _LR_FEATURES)
    xq, labels = barrier(xq), barrier(labels)  # read by every step
    w = spark.range(_LR_FEATURES).select(F.col("id").alias("j"), F.lit(0.0).alias("w"))
    for _ in range(_LR_TRAIN_STEPS):
        w = barrier(lr_gradient_step(xq, labels, w, _LR_RATE).select("j", "w"))
    return w.select(F.col("j").alias("feature"), F.round("w", 8).alias("w"))


# ---------------------------------------------------------------------------
# z_corpus_countmin — count-min sketch heavy hitters (Cormode & Muthu 2005):
# the mergeable fixed-size frequency summary for token streams. D
# independent md5-derived hash rows x W counters; every token's count adds
# into one counter per row, and an estimate reads the MINIMUM of its D
# counters — deterministically >= the true count (collisions only ever
# inflate), within eN/W with probability 1-(1/2)^D. Published: the top-20
# tokens by true count with true count AND sketch estimate side by side,
# so the overestimate contract itself is inside the driver hash. Rounds
# out the sketch family (HLL++/GK in agg_approx_bounds, minhash/simhash in
# dedup): CM is the one that answers point frequency queries.
# Scale shape: the counter table is D*W rows REGARDLESS of corpus size
# (broadcast; mergeable across shards by plain addition — pinned in
# tests/test_countmin_r5.py); the corpus aggregates once to (token, count)
# and once more into the counters; estimates for the published set are a
# broadcast join against the counter table. No driver funnel beyond the
# top-k TakeOrdered.
# ---------------------------------------------------------------------------

_CM_D = 4       # hash rows
_CM_W = 64      # counters per row
_CM_TOPK = 20

_CM_ORACLE = f"""
WITH tok AS (
  SELECT unnest({sql_tokens('lower(text)')}) AS tok FROM documents
),
tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_c FROM tok GROUP BY 1),
hashed AS (
  SELECT tok, true_c, d.range AS d,
         {_sql_md5_int("CAST(d.range AS VARCHAR) || ':' || tok")} % {_CM_W} AS w
  FROM tc CROSS JOIN range({_CM_D}) d
),
counters AS (
  SELECT d, w, CAST(SUM(true_c) AS BIGINT) AS cnt FROM hashed GROUP BY 1, 2
),
top AS (
  SELECT tok, true_c FROM tc ORDER BY true_c DESC, tok LIMIT {_CM_TOPK}
),
est AS (
  SELECT h.tok, MIN(c.cnt) AS est_c
  FROM hashed h JOIN counters c ON h.d = c.d AND h.w = c.w
  WHERE h.tok IN (SELECT tok FROM top)
  GROUP BY 1
)
SELECT t.tok, t.true_c, CAST(e.est_c AS BIGINT) AS est_c
FROM top t JOIN est e ON t.tok = e.tok
"""


@register("z_corpus_countmin", _CM_ORACLE, tags=("textops", "sketch"))
def z_corpus_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream: top-20 tokens with
    true count and sketch estimate (est >= true always, the CM
    overestimate contract). Beyond-reference LLM-pipeline operator."""
    from d3d_etl_spark.functions.strings import md5_int

    docs = load_table(spark, sf_dir, "documents")
    # feeds counters, the top-k, and the estimate probe
    tc = barrier(
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("true_c"))
    )
    hashed = tc.select(
        "tok",
        "true_c",
        F.explode(F.array(*[F.lit(d) for d in range(_CM_D)])).alias("d"),
    ).withColumn(
        "w",
        F.pmod(
            md5_int(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("tok"))),
            F.lit(_CM_W),
        ),
    )
    counters = hashed.groupBy("d", "w").agg(F.sum("true_c").alias("cnt"))
    top = tc.orderBy(F.desc("true_c"), F.asc("tok")).limit(_CM_TOPK)
    est = (
        hashed.join(F.broadcast(top.select("tok")), "tok", "left_semi")
        .join(F.broadcast(counters), ["d", "w"])
        .groupBy("tok")
        .agg(F.min("cnt").cast("long").alias("est_c"))
    )
    return top.join(est, "tok").select("tok", "true_c", "est_c")


# ---------------------------------------------------------------------------
# z_corpus_bpe_encode — BPE ENCODING, the inference half of the tokenizer
# surface: apply the 5 trained merge rules (z_corpus_bpe_train's exact
# trajectory) to the corpus word table in rule order and publish the
# resulting symbol vocabulary with occupancy stats. Train -> encode is the
# full tokenizer lifecycle; the encoding fold is the trainer's own
# apply_merge (sequential left-to-right semantics), so segmentations are
# exactly what the trained tokenizer would emit.
# Scale shape: corpus -> vocab-sized word-count table once; each rule is a
# map-only pass over word TYPES; the published symbol table is
# vocabulary-sized. Oracle: the training CTE chain (replace-encoding
# unroll) continued one step — split wc5's symbol strings and aggregate.
# ---------------------------------------------------------------------------

_BPE_ENCODE_ORACLE = f"""
WITH {_bpe_ctes(_BPE_TRAIN_ROUNDS)},
enc AS (
  SELECT c, list_filter(string_split(sym, chr(9)), s -> s != '') AS syms
  FROM wc{_BPE_TRAIN_ROUNDS}
),
ex AS (SELECT unnest(syms) AS symbol, c FROM enc)
SELECT symbol,
       CAST(COUNT(*) AS BIGINT) AS n_slots,
       CAST(SUM(c) AS BIGINT) AS total_cnt
FROM ex GROUP BY 1
"""


@register("z_corpus_bpe_encode", _BPE_ENCODE_ORACLE, tags=("textops", "tokenizer"))
def z_corpus_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus word table and publish
    the encoded symbol vocabulary: (symbol, n_slots, total_cnt) where
    n_slots counts symbol positions across word types and total_cnt the
    corpus-frequency-weighted occurrences. Beyond-reference LLM-pipeline
    operator (tokenizer inference)."""
    from d3d_etl_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    # the trainer materializes the fully-merged table per round — consume
    # it (return_table) instead of re-running all 5 merge passes;
    # encode_with_merges stays the standalone inference op for rule lists
    # loaded from storage
    _merges, enc = train_bpe(words, _BPE_TRAIN_ROUNDS, return_table=True)
    return enc.select(F.explode("symbols").alias("symbol"), "c").groupBy("symbol").agg(
        F.count("*").cast("long").alias("n_slots"),
        F.sum("c").cast("long").alias("total_cnt"),
    )


# ---------------------------------------------------------------------------
# z_corpus_repetition — the Gopher-rules REPETITION family (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", Table A1) as one distributed
# pipeline: per document, the fraction of characters covered by the single
# most frequent word n-gram (n = 2, 3, 4) and the fraction of characters in
# duplicated word n-grams beyond their first occurrence (n = 2, 3), plus the
# combined keep/drop verdict. Gopher's published dup-gram widths (5..10) are
# degenerate on this short-doc corpus (all-zero at every test SF — measured),
# so the dup widths are parameterized and set to the non-degenerate 2/3; the
# operator shape is width-agnostic.
#
# Determinism: all fractions are exact-integer — numerator = occurrences ×
# shingle char length, denominator = the space-joined token length, quantized
# by integer division at 1e-6 (`a * Q div den`), so engine and oracle agree
# bit-for-bit with no float in the pipeline. Top-gram ties break by the
# lexicographically greatest gram via struct-max ((cnt, gram) — identical
# struct comparison semantics in Spark and DuckDB).
#
# Scale shape: tokenize+shingle is one narrow pass emitting (n, gram) structs
# from a single concat'd array (one explode, not one per n); the only
# shuffles are doc-grain hash aggs (doc_id[, n, gram] keys — near-unique, no
# skew) and a co-partitioned doc_id join back to the denominator. The
# zero-shuffle per-doc HOF alternative (mode via array_distinct + filter) is
# deliberately NOT used: it is quadratic in doc length, unbounded for a
# mega-document, while the groupBy spreads a giant doc's grams across the
# cluster.
# ---------------------------------------------------------------------------

_REP_Q = 1_000_000
_REP_T2, _REP_T3, _REP_T4 = 120_000, 100_000, 120_000  # top-{2,3,4}-gram caps
_REP_D2, _REP_D3 = 90_000, 50_000  # duplicate-{2,3}-gram caps

_REP_PASS_SQL = (
    f"top2_q <= {_REP_T2} AND top3_q <= {_REP_T3} AND top4_q <= {_REP_T4} "
    f"AND dup2_q <= {_REP_D2} AND dup3_q <= {_REP_D3}"
)

_REP_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {sql_tokens('lower(text)')} AS toks FROM documents
),
b2 AS (
  SELECT doc_id, toks, length(array_to_string(toks, ' ')) AS den
  FROM base WHERE len(toks) >= 2
),
grams AS (
  SELECT doc_id, n.n,
         unnest(CASE n.n WHEN 2 THEN {sql_word_shingles('toks', 2)}
                         WHEN 3 THEN {sql_word_shingles('toks', 3)}
                         ELSE {sql_word_shingles('toks', 4)} END) AS gram
  FROM b2 CROSS JOIN (VALUES (2), (3), (4)) n(n)
),
counts AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3),
per_n AS (
  SELECT doc_id, n, max({{'cnt': cnt, 'gram': gram}}) AS m,
         SUM(CASE WHEN cnt > 1 THEN (cnt - 1) * length(gram) ELSE 0 END) AS dup_num
  FROM counts GROUP BY 1, 2
),
piv AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN m.cnt * length(m.gram) END) AS t2,
         MAX(CASE WHEN n = 3 THEN m.cnt * length(m.gram) END) AS t3,
         MAX(CASE WHEN n = 4 THEN m.cnt * length(m.gram) END) AS t4,
         MAX(CASE WHEN n = 2 THEN dup_num END) AS d2,
         MAX(CASE WHEN n = 3 THEN dup_num END) AS d3
  FROM per_n GROUP BY 1
),
q AS (
  SELECT b2.doc_id,
         CAST(COALESCE(t2, 0) * {_REP_Q} // den AS BIGINT) AS top2_q,
         CAST(COALESCE(t3, 0) * {_REP_Q} // den AS BIGINT) AS top3_q,
         CAST(COALESCE(t4, 0) * {_REP_Q} // den AS BIGINT) AS top4_q,
         CAST(COALESCE(d2, 0) * {_REP_Q} // den AS BIGINT) AS dup2_q,
         CAST(COALESCE(d3, 0) * {_REP_Q} // den AS BIGINT) AS dup3_q
  FROM b2 LEFT JOIN piv USING (doc_id)
)
SELECT doc_id, top2_q, top3_q, top4_q, dup2_q, dup3_q,
       ({_REP_PASS_SQL}) AS rep_pass
FROM q
"""


@register("z_corpus_repetition", _REP_ORACLE, tags=("textops", "quality"), bench=True)
def z_corpus_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: top-{2,3,4}-gram char
    fraction, duplicate-{2,3}-gram char fraction (both exact-integer,
    quantized at 1e-6), and the combined keep verdict. Beyond-reference
    LLM-pipeline operator (corpus quality filtering)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    base = (
        docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
        .where(F.size("toks") >= 2)
        .withColumn("den", F.length(F.array_join("toks", " ")))
    )
    # NB: the tagging lambda must take exactly ONE parameter — F.transform
    # binds a second parameter to the array INDEX, which would shadow a
    # `n=n` default capture
    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    combined = F.concat(
        *[F.transform(word_shingles(F.col("toks"), n), _tag(n)) for n in (2, 3, 4)]
    )
    grams = base.select("doc_id", F.explode(combined).alias("x")).select(
        "doc_id", F.col("x.n").alias("n"), F.col("x.gram").alias("gram")
    )
    counts = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("cnt"))
    # top-gram and dup-gram signals in ONE (doc_id, n) pass: struct-max for
    # the deterministic (cnt, gram) argmax, conditional sum for duplicates
    per_n = counts.groupBy("doc_id", "n").agg(
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("m"),
        F.sum(
            F.when(F.col("cnt") > 1, (F.col("cnt") - 1) * F.length("gram")).otherwise(0)
        ).alias("dup_num"),
    )
    top_num = F.col("m.cnt") * F.length("m.gram")
    piv = per_n.groupBy("doc_id").agg(
        *[F.max(F.when(F.col("n") == n, top_num)).alias(f"t{n}") for n in (2, 3, 4)],
        *[F.max(F.when(F.col("n") == n, F.col("dup_num"))).alias(f"d{n}") for n in (2, 3)],
    )
    q = base.select("doc_id", "den").join(piv, "doc_id", "left")
    for src, dst in (("t2", "top2_q"), ("t3", "top3_q"), ("t4", "top4_q"),
                     ("d2", "dup2_q"), ("d3", "dup3_q")):
        q = q.withColumn(dst, F.expr(f"coalesce({src}, 0) * {_REP_Q} div den"))
    return q.select(
        "doc_id", "top2_q", "top3_q", "top4_q", "dup2_q", "dup3_q",
        F.expr(_REP_PASS_SQL).alias("rep_pass"),
    )


# ---------------------------------------------------------------------------
# z_corpus_repetition_long — the Gopher dup-gram family at its PUBLISHED
# widths (Rae et al. 2021 Table A1: duplicate 5..10-grams, caps 0.15 down
# to 0.10). The provided corpus is short-doc, so widths 5..10 are
# degenerate on raw documents (measured — z_corpus_repetition's section
# comment); this variant derives a LONG-document slice from the same
# table: consecutive runs of _REPL_GROUP docs concatenate into one long
# document, with the run's first-doc 12-token prefix re-inserted before
# every _REPL_BOILER_MOD-th member — the repeated-boilerplate shape real
# long web documents have (headers/footers/navigation between sections).
# Deterministic, derived from the corpus on BOTH engines (no planted
# table), and calibrated so the verdict is non-degenerate at the gate
# scale (8/10 long docs pass, every width strictly positive).
# Scale shape: the long-doc build buffers exactly _REPL_GROUP member
# texts per group (fixed, corpus-size-independent), grouped on the
# derived g key; the dup computation is the base query's one-explode
# multi-width pass with doc-grain hash aggs.
# ---------------------------------------------------------------------------

_REPL_GROUP = 50
_REPL_BOILER_N = 12
_REPL_BOILER_MOD = 8
_REPL_NS = (5, 6, 7, 8, 9, 10)
# Gopher Table A1 duplicate n-gram caps at Q=1e6: 0.15, 0.14, ..., 0.10
_REPL_CAP = {n: 150_000 - (n - 5) * 10_000 for n in _REPL_NS}

_REPL_PASS_SQL = " AND ".join(f"dup{n}_q <= {_REPL_CAP[n]}" for n in _REPL_NS)
# long docs per gram-pass task (bounds the map-side partial-agg state)
_LD_PER_TASK = 8
# long-doc groups per count-shuffle task (bounds the final gram-counts
# hash-agg state per task)
_LD_GROUPS_PER_COUNT_TASK = 2

_REPL_ORACLE = f"""
WITH m AS (SELECT doc_id // {_REPL_GROUP} AS g, doc_id, text FROM documents),
b AS (
  SELECT g, array_to_string(({sql_tokens('lower(text)')})[1:{_REPL_BOILER_N}], ' ') AS boiler
  FROM (SELECT g, text, ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id) AS rn
        FROM m) t
  WHERE rn = 1
),
longdocs AS (
  SELECT m.g,
         string_agg(CASE WHEN m.doc_id % {_REPL_BOILER_MOD} = 0
                         THEN b.boiler || ' ' || m.text ELSE m.text END,
                    ' ' ORDER BY m.doc_id) AS text
  FROM m JOIN b USING (g) GROUP BY m.g
),
base AS (
  SELECT g, {sql_tokens('lower(text)')} AS toks FROM longdocs
),
b2 AS (
  SELECT g, toks, length(array_to_string(toks, ' ')) AS den
  FROM base WHERE len(toks) >= 2
),
widths AS (SELECT unnest([{", ".join(str(n) for n in _REPL_NS)}]) AS n),
grams AS (
  SELECT g, n, array_to_string(toks[i:i+n-1], ' ') AS gram
  FROM b2 CROSS JOIN widths, unnest(range(1, len(toks) - n + 2)) AS t(i)
),
counts AS (SELECT g, n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3),
per_n AS (
  SELECT g, n,
         SUM(CASE WHEN cnt > 1 THEN (cnt - 1) * length(gram) ELSE 0 END) AS dup_num
  FROM counts GROUP BY 1, 2
),
piv AS (
  SELECT g,
         {", ".join(f"MAX(CASE WHEN n = {n} THEN dup_num END) AS d{n}" for n in _REPL_NS)}
  FROM per_n GROUP BY 1
),
q AS (
  SELECT b2.g AS long_doc_id, CAST(len(b2.toks) AS BIGINT) AS n_tokens,
         {", ".join(f"CAST(COALESCE(d{n}, 0) * {_REP_Q} // den AS BIGINT) AS dup{n}_q" for n in _REPL_NS)}
  FROM b2 LEFT JOIN piv ON b2.g = piv.g
)
SELECT long_doc_id, n_tokens, {", ".join(f"dup{n}_q" for n in _REPL_NS)},
       ({_REPL_PASS_SQL}) AS rep_pass
FROM q
"""


def _longdocs_df(docs: DataFrame) -> DataFrame:
    """(g, text) long-document slice: _REPL_GROUP-doc runs concatenated,
    first-doc boilerplate re-inserted every _REPL_BOILER_MOD-th member.
    Per-group buffer = exactly _REPL_GROUP member texts (fixed run size,
    corpus-size-independent) — bounded by construction."""
    m = docs.select(
        F.expr(f"doc_id div {_REPL_GROUP}").alias("g"), "doc_id", "text"
    )
    boiler = (
        m.groupBy("g")
        .agg(F.min(F.struct("doc_id", "text")).alias("f"))
        .select(
            "g",
            F.array_join(
                F.slice(tokens(F.lower(F.col("f.text"))), 1, _REPL_BOILER_N), " "
            ).alias("boiler"),
        )
    )
    member = m.join(boiler, "g").select(
        "g",
        "doc_id",
        F.when(
            F.col("doc_id") % _REPL_BOILER_MOD == 0,
            F.concat(F.col("boiler"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return member.groupBy("g").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "t"))),
                lambda x: x["t"],
            ),
            " ",
        ).alias("text")
    )


LONGDOCS = StateFamily("longdocs")


def materialized_longdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-doc slice for `sf_dir`'s scale, materialized once per scale
    (S19 memoization, the parsed_pbp pattern): bench runs
    the dup-gram computation three times per sample, and the slice build
    (boilerplate join + 50-doc concat) is deterministic corpus-derived
    state, not the computation under measure. The DuckDB oracle does NOT
    read this cache — it re-derives the slice from `documents` from
    scratch, so the hash match also certifies the cached content every
    drive."""

    def build(tmp: str) -> None:
        n_parts = spark.sparkContext.defaultParallelism
        _longdocs_df(load_table(spark, sf_dir, "documents")).repartition(
            n_parts
        ).write.mode("overwrite").parquet(tmp)

    return read_parquet(spark, LONGDOCS.ensure(sf_dir, build))


@register(
    "z_corpus_repetition_long", _REPL_ORACLE, tags=("textops", "quality"), bench=True
)
def z_corpus_repetition_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-n-gram signals at the PUBLISHED widths (5..10,
    Table A1 caps) over a derived long-document slice (fixed-size doc runs
    with re-inserted first-doc boilerplate; memoized per scale — the
    oracle re-derives it from `documents`, certifying the cache).
    Exact-integer fractions, deterministic verdict."""
    longdocs = materialized_longdocs(spark, sf_dir)
    # Scale the gram pass's task count with the GROUP COUNT, not a fixed
    # width: each long doc explodes into ~6 widths x tokens gram rows, so
    # the map-side partial agg's state is proportional to long docs per
    # task — a fixed-width scan held per-task memory flat only until the
    # corpus grew (measured 20 -> 96 MB at the 10x stress pair; the scan
    # also PACKS small cache files together, so file count alone cannot
    # bound it). The count is parquet-footer metadata — no data read.
    n_groups = longdocs.count()
    n_parts = max(spark.sparkContext.defaultParallelism, -(-n_groups // _LD_PER_TASK))
    longdocs = longdocs.repartition(n_parts)
    base = (
        longdocs.select("g", tokens(F.lower(F.col("text"))).alias("toks"))
        .where(F.size("toks") >= 2)
        .withColumn("den", F.length(F.array_join("toks", " ")))
    )

    def _tag(n: int):
        return lambda s: F.struct(F.lit(n).alias("n"), s.alias("gram"))

    combined = F.concat(
        *[F.transform(word_shingles(F.col("toks"), n), _tag(n)) for n in _REPL_NS]
    )
    grams = base.select("g", F.explode(combined).alias("x")).select(
        "g", F.col("x.n").alias("n"), F.col("x.gram").alias("gram")
    )
    # The gram-counts aggregate is the query's largest state: its hash map
    # holds the distinct (g, n, gram) keys per shuffle partition, and at a
    # FIXED shuffle-partition count per-task state grows linearly with the
    # corpus (measured 20 -> 96 MB at the 10x stress pair; AQE can merge
    # small partitions but never split grown ones). Partition the count
    # shuffle by GROUP count so tasks scale with data: the explicit hash
    # repartition on the full group key replaces the aggregate's own
    # exchange (same shuffle count), and per-task state stays at the
    # ~2-group grain at any corpus size.
    cnt_parts = max(n_parts, -(-n_groups // _LD_GROUPS_PER_COUNT_TASK))
    counts = grams.repartition(cnt_parts, "g", "n", "gram").groupBy(
        "g", "n", "gram"
    ).agg(F.count("*").alias("cnt"))
    per_n = counts.groupBy("g", "n").agg(
        F.sum(
            F.when(F.col("cnt") > 1, (F.col("cnt") - 1) * F.length("gram")).otherwise(0)
        ).alias("dup_num")
    )
    piv = per_n.groupBy("g").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("dup_num"))).alias(f"d{n}")
            for n in _REPL_NS
        ]
    )
    q = base.select(
        "g", F.size("toks").cast("long").alias("n_tokens"), "den"
    ).join(piv, "g", "left")
    for n in _REPL_NS:
        q = q.withColumn(
            f"dup{n}_q", F.expr(f"coalesce(d{n}, 0) * {_REP_Q} div den")
        )
    return q.select(
        F.col("g").alias("long_doc_id"),
        "n_tokens",
        *[f"dup{n}_q" for n in _REPL_NS],
        F.expr(_REPL_PASS_SQL).alias("rep_pass"),
    )


# ---------------------------------------------------------------------------
# z_text_bm25 — BM25 top-k retrieval (Robertson & Zaragoza 2009) over the
# corpus for a fixed literal query, exact-integer end to end:
#
#   idf_q(t)  = round(Q * ln((2N + 2) / (2 df_t + 1)))        [bigint; the
#               (N - df + 0.5)/(df + 0.5) + 1 form cleared of halves — the
#               LN-then-quantize step is the repo's z_corpus_lm_score
#               determinism pattern]
#   With k1 = 6/5 and b = 3/4, the tf-normalizer cleared of all fractions
#   by multiplying through by 20T (T = total corpus tokens, N = doc count):
#     tfnorm = 44 T tf / (20 T tf + 6 T + 18 dl N)            [exact ints]
#   score_q(d) = sum_t  (idf_q * 44 T tf) div (20 T tf + 6 T + 18 dl N)
#
# so per-term scores are bigint integer divisions and the per-doc sum is an
# order-free integer aggregation — engine/oracle bit-parity with zero float
# outside the single quantized LN. Overflow headroom: idf_q*44*T*tf needs
# T * tf * idf_q < 2^63/44 — holds through ~10^12 corpus tokens at this
# vocabulary; beyond that, promote the product to decimal(38,0) (the
# operators/pca.py Gram pattern).
#
# Scale shape: the term filter is a scan-local isin predicate (no join to a
# term table); df/idf is a terms-sized aggregate broadcast back; dl joins
# co-partitioned on doc_id; top-k is a distributed TakeOrdered (K rows to
# the driver) and the rank window runs post-limit over K rows only.
# ---------------------------------------------------------------------------

_BM_Q = 10_000
_BM_TERMS = ("hash", "join", "dup", "vector", "scan")
_BM_K = 10

_BM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('lower(text)')} AS w FROM documents
),
dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks WHERE len(w) > 0),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_tokens FROM dl
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(w) AS tok FROM toks) x
  WHERE tok IN {_sql_in(_BM_TERMS)}
  GROUP BY 1, 2
),
dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
idf AS (
  SELECT d.tok,
         CAST(ROUND({_BM_Q} * LN((2.0 * s.n_docs + 2) / (2 * d.df + 1))) AS BIGINT) AS idf_q
  FROM dft d CROSS JOIN stats s
),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM((i.idf_q * 44 * s.t_tokens * tf.tf)
                  // (20 * s.t_tokens * tf.tf + 6 * s.t_tokens + 18 * dl.dl * s.n_docs))
              AS BIGINT) AS score_q,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM tf JOIN dl USING (doc_id) JOIN idf i ON tf.tok = i.tok CROSS JOIN stats s
  GROUP BY 1
),
top AS (SELECT * FROM scored ORDER BY score_q DESC, doc_id LIMIT {_BM_K})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT) AS rank,
       doc_id, score_q, n_terms_hit
FROM top
"""


@register("z_text_bm25", _BM_ORACLE, tags=("textops", "retrieval"), bench=True)
def z_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 lexical retrieval for the fixed query terms
    (hash, join, dup, vector, scan): exact-integer per-term scores
    (quantized idf x rational-cleared tf-norm), deterministic
    (score desc, doc_id asc) ranking. Beyond-reference LLM-pipeline
    operator (retrieval / hard-negative sourcing).

    The fit: dl is (doc_id, dl); tf is (doc_id, tok, tf) restricted to the
    query terms; stats is the 1-row (n_docs, t_tokens); idf is the
    term-dimensional (tok, idf_q) table. NO fan_out on the scan: quiet-host
    A/B measured it +56% at bench scale (1.17 -> 1.82 s min-of-cycles); the
    guard is a production no-op, so it bought nothing at scale either."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("w")).where(
        F.size("w") > 0
    )
    dl = toks.select("doc_id", F.size("w").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tokens"),
    )
    # feeds both the df/idf aggregate and the scoring join
    tf = barrier(
        toks.select("doc_id", F.explode("w").alias("tok"))
        .where(F.col("tok").isin(*_BM_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dft = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    idf = dft.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.round(
            _BM_Q * F.log((2.0 * F.col("n_docs") + 2) / (2 * F.col("df") + 1))
        )
        .cast("long")
        .alias("idf_q"),
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "(idf_q * 44 * t_tokens * tf) div "
                "(20 * t_tokens * tf + 6 * t_tokens + 18 * dl * n_docs)"
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("s").cast("long").alias("score_q"),
            F.count("*").cast("long").alias("n_terms_hit"),
        )
    )
    top = scored.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(_BM_K)
    # rank window runs over the K post-limit rows only (sanctioned global
    # window: bounded table)
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score_q", "n_terms_hit"
    )


# ---------------------------------------------------------------------------
# z_corpus_span_scrub — cross-document duplicated-span REMOVAL (the rewrite
# stage of "Deduplicating Training Data Makes Language Models Better", Lee
# et al. 2022 §4 — their exact-substring dedup keeps ONE occurrence and cuts
# the rest; z_corpus_span_dedup publishes the SIGNAL, this publishes the
# scrubbed corpus). Rule, deterministic and order-free: a span's owner is
# the minimum doc_id containing it; every token covered by an owned-
# elsewhere span occurrence (owner < this doc) is removed; the owner keeps
# all its occurrences. Output per doc: token counts before/after, the
# scrubbed fraction (exact-integer, 1e-6 quantized), and the md5 of the
# reconstructed cleaned text (position-ordered join — a full-content check
# in one fixed-width column).
#
# Scale shape: the span pass is the same map-side 60-bit-hash inverted
# index as z_corpus_span_dedup (shuffles fixed-width ints); ownership is a
# 1-row-per-key min-agg, and the scrub join probes it (build side is
# key-unique, so a viral mega-span skews only the probe side — AQE
# skew-split territory, same adjudication as the LSH band join). Coverage
# explodes a bounded factor _SPAN_N per duplicated occurrence. The
# reconstruction hash IS chunked (order-sensitive two-level form): kept
# tokens group by (doc_id, pos div _SCRUB_CHUNK), each chunk's
# position-ordered text is md5'd in a buffer bounded at _SCRUB_CHUNK
# tokens, then the doc hash is the md5 of the chunk hashes concatenated in
# chunk order (a 32-byte row per 4096 source tokens — a 4-billion-token
# document's final buffer is ~32 MB, not the document). Engine and oracle
# share the chained definition, so the published clean_hash is the same
# deterministic contract on both sides.
# ---------------------------------------------------------------------------

_SCRUB_Q = 1_000_000
_SCRUB_CHUNK = 4096

_SCRUB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOK} AS w FROM documents
),
base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks WHERE len(w) > 0
),
tk AS (
  SELECT doc_id, x.pos AS pos, x.tok AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(w)), i -> {{'pos': i, 'tok': w[i + 1]}})) AS x
    FROM toks WHERE len(w) > 0
  )
),
spp AS (
  SELECT doc_id, x.p AS p, x.sh AS sh
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(len(w) - {_SPAN_N} + 1),
                  i -> {{'p': i,
                         'sh': {_sql_md5_int("array_to_string(list_slice(w, i + 1, i + " + str(_SPAN_N) + "), ' ')", 15)}}})) AS x
    FROM toks WHERE len(w) >= {_SPAN_N}
  )
),
own AS (SELECT sh, MIN(doc_id) AS own FROM spp GROUP BY 1),
cov0 AS (
  SELECT spp.doc_id, spp.p, unnest(range({_SPAN_N})) AS o
  FROM spp JOIN own ON spp.sh = own.sh AND own.own < spp.doc_id
),
cov AS (SELECT DISTINCT doc_id, p + o AS pos FROM cov0),
kept AS (
  SELECT tk.doc_id, tk.pos, tk.tok
  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos
  WHERE cov.pos IS NULL
),
keptch AS (
  SELECT doc_id, pos // {_SCRUB_CHUNK} AS chunk,
         CAST(COUNT(*) AS BIGINT) AS n_kept_c,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS ch
  FROM kept GROUP BY 1, 2
),
keptagg AS (
  SELECT doc_id, CAST(SUM(n_kept_c) AS BIGINT) AS n_kept,
         md5(string_agg(ch, '' ORDER BY chunk)) AS clean_hash
  FROM keptch GROUP BY 1
)
SELECT b.doc_id, b.n_tokens,
       CAST(b.n_tokens - COALESCE(k.n_kept, 0) AS BIGINT) AS n_scrubbed,
       CAST((b.n_tokens - COALESCE(k.n_kept, 0)) * {_SCRUB_Q} // b.n_tokens AS BIGINT)
         AS scrub_q,
       COALESCE(k.clean_hash, md5('')) AS clean_hash
FROM base b LEFT JOIN keptagg k ON b.doc_id = k.doc_id
"""


@register("z_corpus_span_scrub", _SCRUB_ORACLE, tags=("textops", "dedup"), bench=True)
def z_corpus_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span removal with reconstructed cleaned
    text (Lee et al. 2022 exact-substring dedup, keep-first-owner rule).
    Beyond-reference LLM-pipeline operator; see the section comment for
    the scale shape."""
    from d3d_etl_spark.functions.strings import md5_int

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w")).where(
        F.size("w") > 0
    )
    tk = toks.select("doc_id", F.posexplode("w").alias("pos", "tok"))
    spp = (
        toks.where(F.size("w") >= _SPAN_N)
        .select(
            "doc_id",
            F.posexplode(word_shingles(F.col("w"), _SPAN_N)).alias("p", "s"),
        )
        .select("doc_id", "p", md5_int(F.col("s"), 15).alias("sh"))
    )
    own = spp.groupBy("sh").agg(F.min("doc_id").alias("own"))
    # owner table and coverage set are corpus-grown (span-cardinality and
    # duplicated-POSITION grain): both joins shuffle — auto-broadcast here
    # measured 272 MB task peak at the 10x stress pair
    cov = (
        spp.join(own.hint("shuffle_hash"), "sh")
        .where(F.col("own") < F.col("doc_id"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + F.lit(_SPAN_N - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )
    kept = tk.join(cov.hint("shuffle_hash"), ["doc_id", "pos"], "left_anti")
    # two-level chunked reconstruction: per-chunk buffer <= _SCRUB_CHUNK
    # tokens, per-doc buffer = one 32-byte hash per chunk
    chagg = kept.groupBy(
        "doc_id", F.expr(f"pos div {_SCRUB_CHUNK}").alias("chunk")
    ).agg(
        F.count("*").cast("long").alias("n_kept_c"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            )
        ).alias("ch"),
    )
    keptagg = chagg.groupBy("doc_id").agg(
        F.sum("n_kept_c").cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk", "ch"))),
                    lambda x: x["ch"],
                ),
                "",
            )
        ).alias("clean_hash"),
    )
    base = toks.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    return (
        base.join(keptagg, "doc_id", "left")
        .withColumn("n_scrubbed", F.expr("n_tokens - coalesce(n_kept, 0)"))
        .select(
            "doc_id",
            "n_tokens",
            "n_scrubbed",
            F.expr(f"n_scrubbed * {_SCRUB_Q} div n_tokens").alias("scrub_q"),
            F.coalesce(F.col("clean_hash"), F.md5(F.lit(""))).alias("clean_hash"),
        )
    )


# ---------------------------------------------------------------------------
# z_text_tfidf_topk — sparse TF-IDF top-k document similarity: the
# inverted-index complement to the dense ANN family (classic sparse
# retrieval / near-dup triage — Manning et al., IIR ch.6). Weights are
# exact-integer (tf x quantized idf, the BM25 halves-cleared LN form at
# {_TI_IDF_Q}); dot products and norms are exact bigint sums over the
# PRUNED term space; the only float is the final published cosine, the
# dense family's ROUND(dot / (SQRT(na) * SQRT(nb)), 6) contract.
#
# The scale lever is the df gate: terms with df < 2 cannot produce pairs
# (lossless prune) and terms with df > max(8, min(N/20, 256)) are
# stopword-mass (documented lossy gate — it bounds EVERY posting list at
# 256 docs, so the term self-join's worst task is ~32k pairs regardless of
# corpus size; cosine is computed over the gated vector space, norms
# included, so engine and oracle share one geometry). Shapes: one
# vocab-sized df agg, a 1-row N broadcast, the posting self-join
# (term-key shuffle, bounded lists), doc-grain norm joins, and a doc-grain
# top-k window.
# ---------------------------------------------------------------------------

_TI_IDF_Q = 100
_TI_K = 5

_TI_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({sql_tokens('lower(text)')}) AS tok FROM documents)
  GROUP BY 1, 2
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
kept AS (
  SELECT d.tok, d.df,
         CAST(ROUND({_TI_IDF_Q} * LN((2.0 * n.n_docs + 2) / (2 * d.df + 1))) AS BIGINT)
           AS idf_q
  FROM dft d CROSS JOIN n
  WHERE d.df >= 2 AND d.df <= GREATEST(8, LEAST(n.n_docs // 20, 256))
),
w AS (
  SELECT tf.doc_id, tf.tok, tf.tf * k.idf_q AS w
  FROM tf JOIN kept k ON tf.tok = k.tok
),
norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM w GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         SUM(a.w * b.w) AS dot, CAST(COUNT(*) AS BIGINT) AS shared_terms
  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT p.doc_a, p.doc_b, p.shared_terms,
         ROUND(p.dot / (SQRT(na.n2) * SQRT(nb.n2)), 6) AS sim
  FROM pairs p
  JOIN norms na ON p.doc_a = na.doc_id
  JOIN norms nb ON p.doc_b = nb.doc_id
),
directed AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, shared_terms, sim FROM scored
  UNION ALL
  SELECT doc_b, doc_a, shared_terms, sim FROM scored
),
ranked AS (
  SELECT doc_id, neighbor_id, shared_terms, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM directed
)
SELECT doc_id, neighbor_id, shared_terms, sim, rank
FROM ranked WHERE rank <= {_TI_K}
"""


@register("z_text_tfidf_topk", _TI_ORACLE, tags=("textops", "retrieval"), bench=True)
def z_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} most-similar documents per document by TF-IDF cosine over
    the df-gated term space — sparse inverted-index similarity (the
    lexical twin of sim_topk_family). Beyond-reference LLM-pipeline
    operator (near-dup triage / related-document mining)."""
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # feeds N, df, and the weight join
    tf = barrier(
        docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    n = tf.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    dft = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    kept = (
        dft.crossJoin(F.broadcast(n))
        .where(
            (F.col("df") >= 2)
            & (
                F.col("df")
                <= F.greatest(
                    F.lit(8), F.least(F.expr("n_docs div 20"), F.lit(256))
                )
            )
        )
        .select(
            "tok",
            F.round(
                _TI_IDF_Q
                * F.log((2.0 * F.col("n_docs") + 2) / (2 * F.col("df") + 1))
            )
            .cast("long")
            .alias("idf_q"),
        )
    )
    # post-checkpoint stats are unknown, so the planner would fall back to
    # sort-merge for every data-derived join here; hash joins are the right
    # physical shape for these near-unique keys (the z_sim_contrastive
    # adjudication) — vocab-keyed weight join, term-keyed posting self-join,
    # doc-keyed norm joins all take shuffle-hash hints
    w = tf.join(kept.hint("shuffle_hash"), "tok").select(
        "doc_id", "tok", (F.col("tf") * F.col("idf_q")).alias("w")
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb"))
    pairs = (
        a.join(b.hint("shuffle_hash"), "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.count("*").cast("long").alias("shared_terms"),
        )
    )
    scored = (
        pairs.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
            .hint("shuffle_hash"),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
            .hint("shuffle_hash"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared_terms",
            # try_divide: a zero-norm doc vector (every shared term at
            # weight 0) yields NULL like the oracle, not an ANSI throw
            F.round(F.try_divide(F.col("dot"), F.sqrt("na2") * F.sqrt("nb2")), 6).alias("sim"),
        )
    )
    # mirror each unordered pair into both directions with ONE explode —
    # a union of two selects would duplicate the whole pair-scoring subtree
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("neighbor_id"),
                    F.col("shared_terms"),
                    F.col("sim"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("neighbor_id"),
                    F.col("shared_terms"),
                    F.col("sim"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    win = Window.partitionBy("doc_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        directed.withColumn("rank", F.row_number().over(win).cast("long"))
        .where(F.col("rank") <= _TI_K)
        .select("doc_id", "neighbor_id", "shared_terms", "sim", "rank")
    )
