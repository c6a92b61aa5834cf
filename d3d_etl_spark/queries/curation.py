"""z_corpus_curation — the end-to-end corpus CURATION pipeline as one
oracled query, composing the corpus quality operators the way a real
training-data run chains them:

1. statistical quality gate: drop documents whose bigram-LM mean surprisal
   exceeds the review band (z_corpus_lm_score's nll; docs with <2 tokens
   are ineligible);
2. exact duplicated-span gate: drop documents whose duplicated-span
   fraction crosses the trim threshold (z_corpus_span_dedup);
3. temperature-weighted mixing OVER THE SURVIVORS: the alpha=0.5 language
   rebalance and token budget are recomputed on the post-filter corpus —
   filtering shifts the language distribution, so mixing must see the
   survivors, not the raw corpus.

This is the curation sibling of corpus_pipeline (dedup -> split -> pack):
together they cover both halves of the data-prep story. The whole chain is
exact — every stage reuses the quantization discipline of its standalone
query, so the composition hash-matches end-to-end.

Scale shape: the LM stats stay vocab-sized, the span counts stay
span-cardinality-sized, the survivor filter is two doc-grain joins, and
the mixing decision never shuffles the corpus. Each stage's standalone
scale notes apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.sampling import sql_hash_bucket
from d3d_etl_spark.functions.text import sql_tokens, sql_word_shingles
from d3d_etl_spark.io import barrier, fan_out, load_table
from d3d_etl_spark.queries.registry import register
from d3d_etl_spark.queries.sampling import (
    _MIX_U_MOD,
    mixing_doc_grain,
    mixing_profile,
)
from d3d_etl_spark.queries.textops import (
    _LM_CTES,
    _LM_REVIEW_T,
    _SPAN_CTES,
    _SPANFRAC_CTE,
    sql_lm_pass,
    sql_span_trim,
    z_corpus_lm_score,
    z_corpus_span_dedup,
)

_CURATION_ORACLE = f"""
WITH {_LM_CTES},
{_SPAN_CTES},
{_SPANFRAC_CTE},
d AS (
  SELECT doc_id, lang, len(t.w) AS n_tok,
         {sql_hash_bucket("doc_id", "mix")} % {_MIX_U_MOD} AS u
  FROM documents JOIN toks t USING (doc_id)
),
surv AS (
  SELECT d.* FROM d
  JOIN scored sc ON d.doc_id = sc.doc_id
  LEFT JOIN spanfrac sf ON d.doc_id = sf.doc_id
  WHERE {sql_lm_pass('sc')}
    AND {sql_span_trim('sf')} = FALSE
),
ls AS (
  SELECT lang, COUNT(*) AS n_surv,
         CAST(SUM(n_tok) AS BIGINT) AS t_l,
         CAST(ROUND(SQRT(CAST(SUM(n_tok) AS DOUBLE)) * 1000000) AS BIGINT) AS s_l
  FROM surv GROUP BY lang
),
tot AS (SELECT CAST(SUM(t_l) AS BIGINT) AS t_all, CAST(SUM(s_l) AS BIGINT) AS s_all FROM ls),
p AS (
  SELECT lang, n_surv, t_l,
         LEAST({_MIX_U_MOD},
               CAST(ROUND({_MIX_U_MOD} * (CAST(t_all AS DOUBLE) * s_l)
                          / (2.0 * s_all * CAST(t_l AS DOUBLE))) AS BIGINT)) AS p_int
  FROM ls CROSS JOIN tot
),
corp AS (SELECT lang, COUNT(*) AS n_corpus FROM documents GROUP BY 1)
SELECT s.lang,
       MAX(corp.n_corpus) AS n_corpus,
       MAX(p.n_surv) AS n_survivors,
       MAX(p.t_l) AS surviving_tokens,
       CAST(MAX(p.p_int) AS DOUBLE) / {_MIX_U_MOD} AS p_accept,
       CAST(SUM(CASE WHEN s.u < p.p_int THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(SUM(CASE WHEN s.u < p.p_int THEN s.n_tok ELSE 0 END) AS BIGINT) AS final_tokens
FROM surv s
JOIN p ON s.lang = p.lang
JOIN corp ON s.lang = corp.lang
GROUP BY s.lang
"""


@register("z_corpus_curation", _CURATION_ORACLE, tags=("corpus", "pipeline"), bench=True)
def z_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO fan_out on the scan: quiet-host A/B measured it +69%
    # on this query at bench scale (3.22 -> 5.44 s min-of-cycles) — the
    # doc-grain maps here are too light for the payload rebalance to pay.
    docs = load_table(spark, sf_dir, "documents")
    lm = z_corpus_lm_score(spark, sf_dir).select("doc_id", "nll")
    span = z_corpus_span_dedup(spark, sf_dir).select("doc_id", "would_trim")

    d = mixing_doc_grain(docs)
    # lm/span are DOC-grain gate frames (grow with the corpus): shuffle on
    # doc_id, never broadcast (a corpus-grain side is never a broadcast)
    # mixing_profile consumes the survivor frame twice (lang stats +
    # accept groupBy): the barrier runs the lm/span joins once
    surv = barrier(
        d.join(lm.hint("shuffle_hash"), "doc_id")
        .join(span.hint("shuffle_hash"), "doc_id", "left")
        .where(
            (F.col("nll") <= _LM_REVIEW_T)
            & ~F.coalesce(F.col("would_trim"), F.lit(False))
        )
        .select("doc_id", "lang", "n_tok", "u")
    )
    prof = mixing_profile(surv)
    corp = docs.groupBy("lang").agg(F.count("*").alias("n_corpus"))
    return prof.join(F.broadcast(corp), "lang").select(
        "lang",
        "n_corpus",
        F.col("n_docs").alias("n_survivors"),
        F.col("total_tokens").alias("surviving_tokens"),
        "p_accept",
        F.col("n_kept").alias("n_final"),
        F.col("kept_tokens").alias("final_tokens"),
    )


# ---------------------------------------------------------------------------
# z_corpus_dsir — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every document by how target-like its hashed
# n-gram distribution is, then Gumbel-top-k resample toward the target.
#   1. hashed bigram features (md5 % B buckets) — the paper's hashed n-gram
#      feature space;
#   2. add-one-smoothed bucket distributions for the TARGET (here: the
#      lang='en' slice, standing in for the high-quality target domain) and
#      the RAW corpus; per-bucket log-ratio t_j = ln p_t[j] - ln p_r[j],
#      integer-quantized (1e-4) into a B-row broadcast table;
#   3. per-doc log importance weight lw_d = sum_j c_dj * t_j — an EXACT
#      integer sum (lm_score determinism contract);
#   4. Gumbel perturbation from the doc-id hash (two ln() of identical
#      doubles inside a ROUND), then top-K by (lw + gumbel) — the paper's
#      sampling-without-replacement trick, made deterministic.
# Scale shape: bucket stats are B rows (broadcast); the corpus shuffles
# once for per-doc feature counts and once for the per-doc weight sum; the
# top-K is a partial TakeOrdered (never a global sort), and the selected
# set broadcasts back as a flag join. Docs without bigrams score no weight
# and are excluded (same eligibility rule as the LM gate).
# ---------------------------------------------------------------------------

_DSIR_SH2 = sql_word_shingles(sql_tokens("text"), 2)
_DSIR_B = 256      # feature buckets
_DSIR_K = 100      # resample size
_DSIR_Q = 10_000   # log-ratio / gumbel quantum (1e-4)
_DSIR_U_MOD = 1_000_000

# ONE definition of the scoring SQL (features -> log-ratio -> exact integer
# weight -> deterministic Gumbel) shared by EVERY selection oracle — the
# variants must never drift in their scoring half. `prefix` namespaces the
# CTEs so the block composes with other families that also define
# toks/scored (the curation LM gate does).
def _dsir_score_ctes(prefix: str = "") -> str:
    p = prefix
    return f"""{p}toks AS (SELECT doc_id, lang, {_DSIR_SH2} AS sh FROM documents),
{p}s AS (SELECT doc_id, lang, unnest(sh) AS s FROM {p}toks WHERE len(sh) > 0),
{p}feat AS (
  SELECT doc_id, lang, ('0x' || substr(md5(s), 1, 8))::BIGINT % {_DSIR_B} AS j,
         COUNT(*) AS c
  FROM {p}s GROUP BY 1, 2, 3
),
{p}rawc AS (SELECT j, CAST(SUM(c) AS BIGINT) AS c FROM {p}feat GROUP BY 1),
{p}tgtc AS (SELECT j, CAST(SUM(c) AS BIGINT) AS c FROM {p}feat WHERE lang = 'en' GROUP BY 1),
{p}tots AS (
  SELECT (SELECT SUM(c) FROM {p}rawc) AS tr, (SELECT SUM(c) FROM {p}tgtc) AS tt
),
{p}t AS (
  SELECT r.j,
         CAST(ROUND({_DSIR_Q} * (
           LN((COALESCE(tg.c, 0) + 1.0) / (tt.tt + {_DSIR_B}))
           - LN((r.c + 1.0) / (tt.tr + {_DSIR_B}))
         )) AS BIGINT) AS t_q
  FROM {p}rawc r LEFT JOIN {p}tgtc tg ON r.j = tg.j CROSS JOIN {p}tots tt
),
{p}lw AS (
  SELECT f.doc_id, CAST(SUM(f.c * t.t_q) AS BIGINT) AS lw_q
  FROM {p}feat f JOIN {p}t t ON f.j = t.j GROUP BY 1
),
{p}scored AS (
  SELECT l.doc_id, l.lw_q,
         CAST(ROUND({_DSIR_Q} * (-LN(-LN(
           (('0x' || substr(md5('dsir:' || CAST(l.doc_id AS VARCHAR)), 1, 8))::BIGINT
            % {_DSIR_U_MOD} + 0.5) / {_DSIR_U_MOD}.0
         )))) AS BIGINT) AS g_q
  FROM {p}lw l
)"""


_DSIR_SCORE_CTES = _dsir_score_ctes()

_DSIR_ORACLE = f"""
WITH {_DSIR_SCORE_CTES},
r AS (
  SELECT doc_id, lw_q, g_q,
         ROW_NUMBER() OVER (ORDER BY lw_q + g_q DESC, doc_id) AS rn
  FROM scored
)
SELECT doc_id, lw_q, g_q,
       CAST(CASE WHEN rn <= {_DSIR_K} THEN 1 ELSE 0 END AS INTEGER) AS sel
FROM r
"""


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR scoring stages (features -> log-ratio table -> exact
    integer doc weight -> deterministic Gumbel): (doc_id, lw_q, g_q).
    Both selection variants (exact top-K for small K, distributed quantile
    threshold for corpus-fraction K) consume this one frame."""
    from d3d_etl_spark.functions.strings import md5_int
    from d3d_etl_spark.functions.text import tokens, word_shingles

    # fan the thin scan: the bigram explode + per-shingle md5 is the
    # heavy map of this family and would serialize on a single split
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sh = word_shingles(tokens(F.col("text")), 2)
    # feeds raw stats, target stats, and the per-doc weight sum
    feat = barrier(
        docs.select("doc_id", "lang", F.explode(sh).alias("s"))
        .withColumn("j", md5_int(F.col("s")) % _DSIR_B)
        .groupBy("doc_id", "lang", "j")
        .agg(F.count("*").alias("c"))
    )
    rawc = feat.groupBy("j").agg(F.sum("c").alias("c"))
    tgtc = feat.where(F.col("lang") == "en").groupBy("j").agg(F.sum("c").alias("ct"))
    tots = rawc.agg(F.sum("c").alias("tr")).crossJoin(
        feat.where(F.col("lang") == "en").agg(F.sum("c").alias("tt"))
    )
    t_q = F.round(
        _DSIR_Q
        * (
            F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("tt") + _DSIR_B))
            - F.log((F.col("c") + 1.0) / (F.col("tr") + _DSIR_B))
        )
    ).cast("long")
    t = (
        rawc.join(tgtc, "j", "left")
        .crossJoin(F.broadcast(tots))
        .select("j", t_q.alias("t_q"))
    )
    lw = (
        feat.join(F.broadcast(t), "j")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("t_q")).alias("lw_q"))
    )
    u = (
        md5_int(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))) % _DSIR_U_MOD
        + 0.5
    ) / float(_DSIR_U_MOD)
    return lw.select(
        "doc_id",
        "lw_q",
        F.round(_DSIR_Q * (-F.log(-F.log(u)))).cast("long").alias("g_q"),
    )


@register("z_corpus_dsir", _DSIR_ORACLE, tags=("corpus", "sampling"))
def z_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward the lang='en' target slice:
    per-doc exact-integer log importance weight + deterministic Gumbel
    top-K selection flag. Beyond-reference LLM-pipeline operator.

    This is the SMALL-K variant (fixed K, partial TakeOrdered, broadcast
    flag join) — right when K rows fit the driver and a broadcast. Real
    DSIR selects a corpus FRACTION (billions of rows at 100 TB), where
    TakeOrdered's driver funnel and the "broadcast" flag both collapse:
    that path is z_corpus_dsir_threshold, which converts the same scores
    into a distributed quantile threshold and never moves the selected
    set to the driver."""
    scored = _dsir_scored(spark, sf_dir)
    # partial top-K (TakeOrdered), selected set broadcast back as a flag
    topk = (
        scored.orderBy(F.desc(F.col("lw_q") + F.col("g_q")), F.asc("doc_id"))
        .limit(_DSIR_K)
        .select("doc_id", F.lit(1).alias("_sel"))
    )
    return scored.join(F.broadcast(topk), "doc_id", "left").select(
        "doc_id",
        "lw_q",
        "g_q",
        F.coalesce(F.col("_sel"), F.lit(0)).cast("int").alias("sel"),
    )


# ---------------------------------------------------------------------------
# z_corpus_dsir_threshold — DSIR at corpus-fraction K (the paper's actual
# regime: resample a constant FRACTION of a web-scale pool). Selecting
# ceil(frac * n) rows via top-K would funnel billions of rows through the
# driver; instead the selection threshold is computed DISTRIBUTED and
# EXACTLY:
#   1. scores are already integers (lw_q + g_q) -> group to a distinct-score
#      count table (score-cardinality rows, << corpus);
#   2. two-level descending prefix counts (the serpentine-sharding shape,
#      textops.py): coarse range buckets (score div 2^12, order-preserving)
#      -> per-bucket totals -> bucket offsets via a bucket-grain window ->
#      within-bucket running counts partitioned by bucket. No
#      corpus-cardinality or score-cardinality single-partition sort.
#   3. threshold t = MAX score whose count-of-scores-above-or-equal >= K —
#      an exact discrete quantile, as a one-row aggregate;
#   4. sel = (score >= t): a scan-local predicate against a broadcast
#      scalar. Ties AT the threshold are all kept (deterministic; the
#      smallest selectable superset of any exact top-K, pinned in
#      tests/test_curation_r5.py).
# The selected set never exists on the driver and nothing corpus-sized is
# broadcast — the two failure modes of the top-K shape at fraction-K.
# ---------------------------------------------------------------------------

_DSIR_FRAC_NUM, _DSIR_FRAC_DEN = 1, 5  # select 20% of eligible docs
_DSIR_BKT = 4096  # score-range coarse bucket (power of 2: exact float div)

def _dsir_threshold_ctes(prefix: str = "") -> str:
    """The corpus-fraction threshold chain ({p}scored -> {p}thr), prefixed
    like _dsir_score_ctes so it composes into multi-family oracles."""
    p = prefix
    return f"""{p}kk AS (
  SELECT CAST(CEIL(COUNT(*) * {_DSIR_FRAC_NUM}.0 / {_DSIR_FRAC_DEN}) AS BIGINT) AS k
  FROM {p}scored
),
{p}cnt AS (SELECT lw_q + g_q AS score, COUNT(*) AS c FROM {p}scored GROUP BY 1),
{p}cum AS (
  SELECT score, SUM(c) OVER (ORDER BY score DESC) AS cge FROM {p}cnt
),
{p}thr AS (SELECT MAX(score) AS t FROM {p}cum CROSS JOIN {p}kk WHERE cge >= {p}kk.k)"""


_DSIR_THRESHOLD_ORACLE = f"""
WITH {_DSIR_SCORE_CTES},
{_dsir_threshold_ctes()}
SELECT sc.doc_id, sc.lw_q, sc.g_q,
       CAST(CASE WHEN sc.lw_q + sc.g_q >= thr.t THEN 1 ELSE 0 END AS INTEGER) AS sel
FROM scored sc CROSS JOIN thr
"""


@register(
    "z_corpus_dsir_threshold",
    _DSIR_THRESHOLD_ORACLE,
    tags=("corpus", "sampling"),
    bench=True,
)
def z_corpus_dsir_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection at corpus-fraction K: exact distributed quantile
    threshold over the integer scores (two-level prefix counts), selection
    as a scan-local predicate. Beyond-reference LLM-pipeline operator."""
    from pyspark.sql import Window

    scored = barrier(_dsir_scored(spark, sf_dir))  # feeds cnt + output
    kdf = scored.agg(
        F.ceil(F.count("*") * _DSIR_FRAC_NUM / _DSIR_FRAC_DEN)
        .cast("long")
        .alias("k")
    )
    cnt = (
        scored.select((F.col("lw_q") + F.col("g_q")).alias("score"))
        .groupBy("score")
        .agg(F.count("*").alias("c"))
        .withColumn("b", F.floor(F.col("score") / float(_DSIR_BKT)).cast("long"))
    )
    # bucket-grain offsets: the only global window runs over range-bucket
    # rows (score range / 4096), never score- or corpus-cardinality
    per_b = cnt.groupBy("b").agg(F.sum("c").alias("bc"))
    w_above = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_b.select(
        "b", F.coalesce(F.sum("bc").over(w_above), F.lit(0)).alias("off")
    )
    w_in = (
        Window.partitionBy("b")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        cnt.join(F.broadcast(offsets), "b")
        .select("score", (F.col("off") + F.sum("c").over(w_in)).alias("cge"))
    )
    thr = (
        cum.crossJoin(F.broadcast(kdf))
        .where(F.col("cge") >= F.col("k"))
        .agg(F.max("score").alias("t"))
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "lw_q",
        "g_q",
        (F.col("lw_q") + F.col("g_q") >= F.col("t")).cast("int").alias("sel"),
    )


# ---------------------------------------------------------------------------
# z_corpus_selection_agreement — HOW MUCH DO THE SELECTORS AGREE? The
# curation-analysis query a data team runs before trusting any single
# strategy: pairwise overlap (counts + Jaccard) between the three oracled
# selection families — DSIR corpus-fraction threshold (target-likeness),
# the bigram-LM quality gate (statistical fluency), and the duplicated-
# span gate (boilerplate). Low agreement means the strategies prune
# DIFFERENT pathologies and should compose (exactly what z_corpus_curation
# chains); high agreement means one is redundant. Every selector reuses
# its family's shared CTEs (prefix-namespaced where names would collide),
# so the agreement matrix can never drift from the selectors it describes.
# Scale shape: three doc-grain flag joins + one global aggregate;
# everything upstream keeps its own query's shape.
# ---------------------------------------------------------------------------

_AGREE_ORACLE = f"""
WITH {_LM_CTES},
{_SPAN_CTES},
{_dsir_score_ctes('d_')},
{_dsir_threshold_ctes('d_')},
{_SPANFRAC_CTE},
flags AS (
  SELECT d.doc_id,
         CASE WHEN dsc.doc_id IS NOT NULL AND dsc.lw_q + dsc.g_q >= t.t
              THEN 1 ELSE 0 END AS f_dsir,
         CASE WHEN sc.doc_id IS NOT NULL AND {sql_lm_pass('sc')}
              THEN 1 ELSE 0 END AS f_lm,
         CASE WHEN {sql_span_trim('sf')} THEN 0 ELSE 1 END AS f_span
  FROM documents d
  LEFT JOIN d_scored dsc ON d.doc_id = dsc.doc_id
  LEFT JOIN scored sc ON d.doc_id = sc.doc_id
  LEFT JOIN spanfrac sf ON d.doc_id = sf.doc_id
  CROSS JOIN d_thr t
),
agg AS (
  SELECT CAST(SUM(f_dsir) AS BIGINT) AS n_dsir,
         CAST(SUM(f_lm) AS BIGINT) AS n_lm,
         CAST(SUM(f_span) AS BIGINT) AS n_span,
         CAST(SUM(f_dsir * f_lm) AS BIGINT) AS n_dl,
         CAST(SUM(f_dsir * f_span) AS BIGINT) AS n_ds,
         CAST(SUM(f_lm * f_span) AS BIGINT) AS n_ls
  FROM flags
)
SELECT 'dsir' AS sel_a, 'lm' AS sel_b, n_dsir AS n_a, n_lm AS n_b, n_dl AS n_both,
       ROUND(CAST(n_dl AS DOUBLE) / (n_dsir + n_lm - n_dl), 6) AS jaccard
FROM agg
UNION ALL
SELECT 'dsir', 'span', n_dsir, n_span, n_ds,
       ROUND(CAST(n_ds AS DOUBLE) / (n_dsir + n_span - n_ds), 6)
FROM agg
UNION ALL
SELECT 'lm', 'span', n_lm, n_span, n_ls,
       ROUND(CAST(n_ls AS DOUBLE) / (n_lm + n_span - n_ls), 6)
FROM agg
"""


@register("z_corpus_selection_agreement", _AGREE_ORACLE, tags=("corpus", "analysis"))
def z_corpus_selection_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement (counts + Jaccard) between the DSIR threshold,
    LM-gate, and span-gate selections over the whole corpus.
    Beyond-reference LLM-pipeline operator (curation strategy analysis)."""
    from d3d_etl_spark.queries.textops import z_corpus_lm_score, z_corpus_span_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dsir = z_corpus_dsir_threshold(spark, sf_dir).select(
        "doc_id", F.col("sel").alias("f_dsir")
    )
    lm = z_corpus_lm_score(spark, sf_dir).select(
        "doc_id", (F.col("nll") <= _LM_REVIEW_T).cast("int").alias("f_lm")
    )
    span = z_corpus_span_dedup(spark, sf_dir).select(
        "doc_id", (~F.col("would_trim")).cast("int").alias("f_span")
    )
    flags = (
        # doc-grain flag joins on the unique key: sort-free shuffled hash
        docs.join(dsir.hint("shuffle_hash"), "doc_id", "left")
        .join(lm.hint("shuffle_hash"), "doc_id", "left")
        .join(span.hint("shuffle_hash"), "doc_id", "left")
        .select(
            F.coalesce("f_dsir", F.lit(0)).alias("f_dsir"),
            F.coalesce("f_lm", F.lit(0)).alias("f_lm"),
            F.coalesce("f_span", F.lit(1)).alias("f_span"),
        )
    )
    agg = flags.agg(
        F.sum("f_dsir").cast("long").alias("n_dsir"),
        F.sum("f_lm").cast("long").alias("n_lm"),
        F.sum("f_span").cast("long").alias("n_span"),
        F.sum(F.col("f_dsir") * F.col("f_lm")).cast("long").alias("n_dl"),
        F.sum(F.col("f_dsir") * F.col("f_span")).cast("long").alias("n_ds"),
        F.sum(F.col("f_lm") * F.col("f_span")).cast("long").alias("n_ls"),
    )
    jac = lambda both, a, b: F.round(  # noqa: E731
        both.cast("double") / (a + b - both), 6
    )
    row = lambda name_a, name_b, a, b, both: agg.select(  # noqa: E731
        F.lit(name_a).alias("sel_a"),
        F.lit(name_b).alias("sel_b"),
        F.col(a).alias("n_a"),
        F.col(b).alias("n_b"),
        F.col(both).alias("n_both"),
        jac(F.col(both), F.col(a), F.col(b)).alias("jaccard"),
    )
    return (
        row("dsir", "lm", "n_dsir", "n_lm", "n_dl")
        .unionByName(row("dsir", "span", "n_dsir", "n_span", "n_ds"))
        .unionByName(row("lm", "span", "n_lm", "n_span", "n_ls"))
    )
