"""Deterministic sampling / splitting queries (training-pipeline surface).

Every query here is reproducible by construction (portable md5 hash family,
functions/sampling.py) and therefore fully oracle-checkable — the DuckDB SQL
computes the SAME hash bits and thresholds. No `rand()`, no
partition-order-dependent sampling anywhere.

Scale notes: all three are single-scan, shuffle-only-for-the-final-groupBy
plans; the sample predicates are plain column expressions evaluated at the
scan, so the full-table read parallelizes and only kept rows survive into
the aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.money import sum_money
from d3d_etl_spark.functions.sampling import (
    hash_sample_pred,
    hash_split,
    sql_hash_sample_pred,
    sql_hash_split,
)
from d3d_etl_spark.io import barrier, load_table
from d3d_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# split_train_test — 80/10/10 train/val/test assignment by doc_id.
# The canonical "freeze the eval set" op: assignment depends only on the key,
# so new data lands in stable splits and no document ever migrates.
# ---------------------------------------------------------------------------

_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]

_SPLIT_ORACLE = f"""
SELECT {sql_hash_split("doc_id", _SPLITS)} AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY 1, 2
"""


def _split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", hash_split(F.col("doc_id"), _SPLITS))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# sample_hash — deterministic 10% sample of orders by key, then aggregate.
# The predicate is evaluated at the scan (no pre-shuffle), so at 100 TB this
# reads once and materializes ~10%.
# ---------------------------------------------------------------------------

_FRACTION = 0.10

_SAMPLE_ORACLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM orders
WHERE {sql_hash_sample_pred("o_orderkey", _FRACTION)}
GROUP BY 1
"""


def _sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(hash_sample_pred(F.col("o_orderkey"), _FRACTION))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            sum_money(F.col("o_totalprice")).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# sample_stratified — per-stratum rates: downsample the dominant language,
# keep the tail (the standard corpus-rebalancing op). Rates are a per-lang
# when-cascade over the same hash, so this is still one scan + one groupBy.
# ---------------------------------------------------------------------------

_RATES = {"en": 0.25, "zh": 0.75}  # other langs keep everything (threshold = 2^32)
_FULL = 1 << 32


def _rate_pred(key, lang):
    """bucket < per-lang threshold — one hash, one comparison."""
    from d3d_etl_spark.functions.sampling import hash_bucket

    thr = None
    for lg, rate in _RATES.items():
        bound = F.lit(int(rate * _FULL))
        thr = F.when(lang == lg, bound) if thr is None else thr.when(lang == lg, bound)
    return hash_bucket(key, "strat") < thr.otherwise(F.lit(_FULL))


def _sql_rate_pred(expr: str, lang_expr: str) -> str:
    from d3d_etl_spark.functions.sampling import sql_hash_bucket

    arms = "".join(
        f" WHEN {lang_expr} = '{lg}' THEN {int(rate * _FULL)}" for lg, rate in _RATES.items()
    )
    return f"{sql_hash_bucket(expr, 'strat')} < CASE{arms} ELSE {_FULL} END"


_STRAT_ORACLE = f"""
WITH kept AS (
  SELECT lang, n_chars FROM documents
  WHERE {_sql_rate_pred("doc_id", "lang")}
)
SELECT k.lang,
       COUNT(*) AS n_kept,
       t.n_total,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM kept k
JOIN (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY 1) t
  ON k.lang = t.lang
GROUP BY k.lang, t.n_total
"""


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_total"))
    kept = (
        docs.where(_rate_pred(F.col("doc_id"), F.col("lang")))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("kept_chars"))
    )
    return kept.join(F.broadcast(totals), "lang").select(
        "lang", "n_kept", "n_total", "kept_chars"
    )


# ---------------------------------------------------------------------------
# The three sampling / splitting queries are one tagged union so the
# whole deterministic-sampling surface sits inside the driver's 50-query
# window. Arms keep their own
# scan-local hash predicates and oracles; normalized onto
# (part, k1, k2, n1-n4, v).
# ---------------------------------------------------------------------------

_SAMPLE_FAMILY_ORACLE = f"""
SELECT 'split' AS part, split AS k1, lang AS k2,
       n_docs AS n1, total_chars AS n2, min_doc AS n3, max_doc AS n4,
       CAST(NULL AS DOUBLE) AS v
FROM ({_SPLIT_ORACLE})
UNION ALL
SELECT 'hash', o_orderstatus, NULL, n_orders, NULL, NULL, NULL, total_price
FROM ({_SAMPLE_ORACLE})
UNION ALL
SELECT 'strat', lang, NULL, n_kept, n_total, kept_chars, NULL, NULL
FROM ({_STRAT_ORACLE})
"""


@register("sample_splits", _SAMPLE_FAMILY_ORACLE, tags=("sampling",))
def sample_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part='split' 80/10/10 train/val/test assignment by key (frozen eval
    sets); part='hash' deterministic 10% sample evaluated at the scan;
    part='strat' per-stratum rates (downsample the dominant language)."""
    b_null = F.lit(None).cast("long")

    split = _split_train_test(spark, sf_dir).select(
        F.lit("split").alias("part"),
        F.col("split").alias("k1"), F.col("lang").alias("k2"),
        F.col("n_docs").cast("long").alias("n1"),
        F.col("total_chars").cast("long").alias("n2"),
        F.col("min_doc").cast("long").alias("n3"),
        F.col("max_doc").cast("long").alias("n4"),
        F.lit(None).cast("double").alias("v"),
    )
    hash_arm = _sample_hash(spark, sf_dir).select(
        F.lit("hash").alias("part"),
        F.col("o_orderstatus").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_orders").cast("long").alias("n1"),
        b_null.alias("n2"), b_null.alias("n3"), b_null.alias("n4"),
        F.col("total_price").alias("v"),
    )
    strat = _sample_stratified(spark, sf_dir).select(
        F.lit("strat").alias("part"),
        F.col("lang").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_kept").cast("long").alias("n1"),
        F.col("n_total").cast("long").alias("n2"),
        F.col("kept_chars").cast("long").alias("n3"),
        b_null.alias("n4"),
        F.lit(None).cast("double").alias("v"),
    )
    return split.unionByName(hash_arm).unionByName(strat)


# ---------------------------------------------------------------------------
# z_corpus_mixing — temperature-weighted data-mixture construction: the
# "mix sources to a token budget" stage every large-scale training pipeline
# runs after filtering (upsample low-resource languages, downsample the
# dominant one — the Pile/CCNet-style alpha=0.5 temperature reweighting).
#
# Per language: w_l = sqrt(tokens_l) / SUM_m sqrt(tokens_m), token budget
# B = total_tokens / 2, acceptance p_l = min(1, w_l * B / tokens_l).
# Acceptance is a deterministic integer comparison u < p_int where
# u = md5(doc_id) % 1e6 and p_int quantizes p_l to 1e-6 — the per-doc
# decision is exact on both engines, so the whole mixture is hash-checkable.
# Determinism: sqrt(tokens_l) is quantized to an INTEGER s_l before the
# normalizing sum, so S = SUM(s_l) is exact; p_int's one double expression
# is mirrored operation-for-operation.
#
# Scale shape: ONE materialized doc-grain pass (token count + hash are
# scan-local column exprs; the barrier shares it between the lang-stats
# aggregate and the final accept groupBy), tiny lang stats broadcast back —
# the accept decision never shuffles the corpus.
# ---------------------------------------------------------------------------

_MIX_U_MOD = 1_000_000

from d3d_etl_spark.functions.sampling import sql_hash_bucket  # noqa: E402
from d3d_etl_spark.functions.text import sql_tokens  # noqa: E402

_MIX_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang,
         len({sql_tokens("lower(text)")}) AS n_tok,
         {sql_hash_bucket("doc_id", "mix")} % {_MIX_U_MOD} AS u
  FROM documents
),
ls AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS t_l,
         CAST(ROUND(SQRT(CAST(SUM(n_tok) AS DOUBLE)) * 1000000) AS BIGINT) AS s_l
  FROM d GROUP BY lang
),
tot AS (
  SELECT CAST(SUM(t_l) AS BIGINT) AS t_all, CAST(SUM(s_l) AS BIGINT) AS s_all FROM ls
),
p AS (
  SELECT lang, n_docs, t_l,
         LEAST({_MIX_U_MOD},
               CAST(ROUND({_MIX_U_MOD} * (CAST(t_all AS DOUBLE) * s_l)
                          / (2.0 * s_all * CAST(t_l AS DOUBLE))) AS BIGINT)) AS p_int
  FROM ls CROSS JOIN tot
)
SELECT d.lang,
       MAX(p.n_docs) AS n_docs,
       MAX(p.t_l) AS total_tokens,
       CAST(MAX(p.p_int) AS DOUBLE) / {_MIX_U_MOD} AS p_accept,
       CAST(SUM(CASE WHEN d.u < p.p_int THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN d.u < p.p_int THEN d.n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
FROM d JOIN p ON d.lang = p.lang
GROUP BY d.lang
"""


def mixing_profile(d: DataFrame) -> DataFrame:
    """Temperature mixing over an arbitrary doc-grain frame
    (doc_id, lang, n_tok, u) — z_corpus_mixing applies it to the full
    corpus, z_corpus_curation to the quality/dedup survivors. `d` should
    be materialized by the caller (it feeds the lang aggregate AND the
    final accept groupBy)."""
    ls = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("t_l"),
        F.round(F.sqrt(F.sum("n_tok").cast("double")) * 1_000_000)
        .cast("long")
        .alias("s_l"),
    )
    tot = ls.agg(
        F.sum("t_l").cast("long").alias("t_all"), F.sum("s_l").cast("long").alias("s_all")
    )
    # lang stats and the scalar totals are dim-sized: broadcast both
    p = (
        ls.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "t_l",
            F.least(
                F.lit(_MIX_U_MOD).cast("long"),
                F.round(
                    _MIX_U_MOD
                    * (F.col("t_all").cast("double") * F.col("s_l"))
                    / (2.0 * F.col("s_all") * F.col("t_l").cast("double"))
                ).cast("long"),
            ).alias("p_int"),
        )
    )
    kept = F.col("u") < F.col("p_int")
    return (
        d.join(F.broadcast(p), "lang")
        .groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("t_l").alias("total_tokens"),
            (F.max("p_int").cast("double") / _MIX_U_MOD).alias("p_accept"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0))).cast("long").alias("kept_tokens"),
        )
    )


def mixing_doc_grain(docs: DataFrame, salt: str = "mix") -> DataFrame:
    """(doc_id, lang, n_tok, u): the doc-grain input mixing_profile needs
    (which reads it twice — its caller barriers it)."""
    from d3d_etl_spark.functions.sampling import hash_bucket
    from d3d_etl_spark.functions.text import tokens

    d = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.lower(F.col("text")))).alias("n_tok"),
        (hash_bucket(F.col("doc_id"), salt) % _MIX_U_MOD).alias("u"),
    )
    return d


@register("z_corpus_mixing", _MIX_ORACLE, tags=("sampling", "corpus"))
def z_corpus_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mixing_profile(barrier(mixing_doc_grain(docs)))


# ---------------------------------------------------------------------------
# z_sample_stratified_exact — EXACT-size stratified sampling: "give me
# exactly K documents, apportioned across strata proportionally" — the
# eval-set construction primitive rate-based sampling (sample_splits'
# stratified arm) cannot provide, because Bernoulli thresholds only hit
# the stratum sizes in expectation.
#   1. Hamilton / largest-remainder apportionment of K over the strata —
#      exact integer arithmetic on the stratum-cardinality table
#      (floor(K*n_l/N) + 1 for the `leftover` largest remainders,
#      remainder-desc / lang-asc tiebreak);
#   2. within each stratum, the K_l selected docs are the SMALLEST K_l
#      md5 scores — selection threshold computed exactly and distributed
#      with the z_corpus_dsir_threshold machinery (distinct-score counts,
#      coarse range buckets, per-stratum bucket offsets, bucket-local
#      running counts): no per-stratum sort, no TakeOrdered, no driver
#      funnel, skew-proof when one stratum dominates the corpus;
#   3. score ties at the threshold are all kept (md5 ties at 2^-32 —
#      deterministic superset semantics, same contract as DSIR).
# Quotas are capped at the stratum size n_l: Hamilton can
# only over-apportion when K > N (floor(K*n_l/N)+1 > n_l requires
# K >= N), and in that regime every stratum should saturate — so the cap
# alone is exact with no redistribution pass; the sample is exactly K
# when K <= N and all min(K, N) rows otherwise. Without the cap an
# oversized quota's threshold scan never reaches cle >= quota, the
# threshold goes NULL, and the stratum silently selects ZERO rows.
# Published: every doc with its stratum quota and selection flag, so the
# apportionment itself sits inside the hash.
# ---------------------------------------------------------------------------

_STRATX_K = 100
_STRATX_BKT = 1 << 26  # score range 2^32 -> <= 64 coarse buckets per stratum

_STRATX_ORACLE = f"""
WITH sc AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS s
  FROM documents
),
counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM sc GROUP BY 1),
tot AS (SELECT CAST(SUM(n_l) AS BIGINT) AS n FROM counts),
base AS (
  SELECT lang, n_l,
         ({_STRATX_K} * n_l) // n AS b,
         ({_STRATX_K} * n_l) % n AS rem
  FROM counts CROSS JOIN tot
),
lo AS (SELECT {_STRATX_K} - CAST(SUM(b) AS BIGINT) AS leftover FROM base),
rr AS (
  SELECT lang, n_l, b,
         ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS r
  FROM base
),
quota AS (
  SELECT lang, n_l,
         CAST(LEAST(b + CASE WHEN r <= lo.leftover THEN 1 ELSE 0 END, n_l) AS BIGINT) AS quota
  FROM rr CROSS JOIN lo
),
cnt AS (SELECT lang, s, COUNT(*) AS c FROM sc GROUP BY 1, 2),
cum AS (
  SELECT lang, s, SUM(c) OVER (PARTITION BY lang ORDER BY s ASC) AS cle
  FROM cnt
),
thr AS (
  SELECT cum.lang, MIN(s) AS t
  FROM cum JOIN quota ON cum.lang = quota.lang
  WHERE quota.quota > 0 AND cum.cle >= quota.quota
  GROUP BY 1
)
SELECT sc.doc_id, sc.lang, q.quota,
       CAST(CASE WHEN thr.t IS NOT NULL AND sc.s <= thr.t THEN 1 ELSE 0 END AS INTEGER) AS sel
FROM sc
JOIN quota q ON sc.lang = q.lang
LEFT JOIN thr ON sc.lang = thr.lang
"""


@register("z_sample_stratified_exact", _STRATX_ORACLE, tags=("sampling",))
def z_sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K stratified sample: Hamilton apportionment over strata +
    per-stratum exact distributed score thresholds. Beyond-reference
    LLM-pipeline operator (eval-set construction)."""
    from pyspark.sql import Window

    from d3d_etl_spark.functions.strings import md5_int

    docs = load_table(spark, sf_dir, "documents")
    sc = barrier(docs.select(
        "doc_id",
        "lang",
        md5_int(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))).alias("s"),
    ))  # feeds counts, the threshold machinery, and output

    counts = sc.groupBy("lang").agg(F.count("*").cast("long").alias("n_l"))
    tot = counts.agg(F.sum("n_l").alias("n"))
    base = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_l",
        F.expr(f"({_STRATX_K} * n_l) div n").alias("b"),
        F.expr(f"({_STRATX_K} * n_l) % n").alias("rem"),
    )
    lo = base.agg((F.lit(_STRATX_K) - F.sum("b")).alias("leftover"))
    # stratum-cardinality window: rows = number of strata, never the corpus
    w_rem = Window.orderBy(F.desc("rem"), F.asc("lang"))
    quota = barrier(
        base.withColumn("r", F.row_number().over(w_rem))
        .crossJoin(F.broadcast(lo))
        .select(
            "lang",
            "n_l",
            F.least(
                F.col("b")
                + F.when(F.col("r") <= F.col("leftover"), 1).otherwise(0),
                F.col("n_l"),
            )
            .cast("long")
            .alias("quota"),
        )
    )

    cnt = (
        sc.groupBy("lang", "s")
        .agg(F.count("*").alias("c"))
        .withColumn("bkt", F.expr(f"s div {_STRATX_BKT}"))
    )
    per_b = cnt.groupBy("lang", "bkt").agg(F.sum("c").alias("bc"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy(F.asc("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_b.select(
        "lang", "bkt", F.coalesce(F.sum("bc").over(w_off), F.lit(0)).alias("off")
    )
    w_in = (
        Window.partitionBy("lang", "bkt")
        .orderBy(F.asc("s"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cnt.join(F.broadcast(offsets), ["lang", "bkt"]).select(
        "lang", "s", (F.col("off") + F.sum("c").over(w_in)).alias("cle")
    )
    thr = (
        cum.join(F.broadcast(quota), "lang")
        .where((F.col("quota") > 0) & (F.col("cle") >= F.col("quota")))
        .groupBy("lang")
        .agg(F.min("s").alias("t"))
    )
    return (
        sc.join(F.broadcast(quota.select("lang", "quota")), "lang")
        .join(F.broadcast(thr), "lang", "left")
        .select(
            "doc_id",
            "lang",
            "quota",
            (F.col("t").isNotNull() & (F.col("s") <= F.col("t")))
            .cast("int")
            .alias("sel"),
        )
    )
