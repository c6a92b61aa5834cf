"""Deduplication queries over `events`/`documents` (north-star training-data
ops): exact content dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash.

Every sketch uses the md5-based portable hash family so DuckDB can compute
the identical value — the full pipelines (signature -> bands -> candidates ->
verified pairs) are oracle-checked end-to-end, not just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.functions.money import cents
from d3d_etl_spark.functions.text import sql_tokens, sql_word_shingles, tokens, word_shingles
from d3d_etl_spark.io import StateFamily, barrier, fan_out, load_table, read_parquet
from d3d_etl_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_band_keys,
    lsh_candidates,
    minhash_signatures,
    shingle_rows,
    simhash_near_pairs,
    simhash_signatures,
)
from d3d_etl_spark.queries.registry import register

_SHINGLE_N = 3
_JACCARD_T = 0.3
_N_HASHES = 16
_ROWS_PER_BAND = 4

# ---------------------------------------------------------------------------
# dedup_exact — hash-groupBy exact dedup (full event content)
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT
  md5(concat_ws(chr(31),
      CAST(user_id AS VARCHAR),
      event_type,
      CAST(CAST(ROUND(value*100) AS BIGINT) AS VARCHAR),
      props)) AS digest,
  MIN(event_id) AS canonical_id,
  COUNT(*)      AS n_copies
FROM events
GROUP BY 1
HAVING COUNT(*) > 1
"""


@register("dedup_exact", _EXACT_ORACLE, tags=("dedup",))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    content = [
        F.col("user_id"),
        F.col("event_type"),
        cents(F.col("value")),
        F.col("props"),
    ]
    return exact_dedup_groups(ev, content, "event_id").where(F.col("n_copies") > 1)


# ---------------------------------------------------------------------------
# shared oracle CTEs for shingle-based near-dup
# ---------------------------------------------------------------------------

_TOK = sql_tokens("text")
_SH = sql_word_shingles("w", _SHINGLE_N)

_SHINGLE_CTES = f"""
toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
sh_arr AS (SELECT doc_id, {_SH} AS sh FROM toks),
d AS (SELECT DISTINCT doc_id AS doc, unnest(sh) AS shingle FROM sh_arr),
sizes AS (SELECT doc, COUNT(*) AS sz FROM d GROUP BY doc)
"""

_JACCARD_ORACLE = f"""
WITH {_SHINGLE_CTES},
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {_JACCARD_T}
"""


@register("dedup_jaccard_pairs", _JACCARD_ORACLE, tags=("dedup",), bench=True)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the shingle table feeds sizes + both self-join sides: materialize once
    sh = barrier(shingle_rows(
        docs, "doc_id", word_shingles(tokens(F.col("text")), _SHINGLE_N)
    ))
    return jaccard_pairs(sh, _JACCARD_T)


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — signatures -> bands -> candidate pairs -> verified
# ---------------------------------------------------------------------------

_SIG_EXPRS = ",\n  ".join(
    f"COALESCE(list_aggregate(list_transform(sh, s -> md5('{j}:' || s)), 'min'), 'EMPTY') AS sig{j}"
    for j in range(_N_HASHES)
)


def _band_exprs(rows_per_band: int) -> str:
    """Band bucket keys over the 16 sigs at the given band width —
    mirrors lsh_band_keys' md5(concat_ws) exactly."""
    n_bands = _N_HASHES // rows_per_band
    return ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(
            f"sig{j}" for j in range(i * rows_per_band, (i + 1) * rows_per_band)
        )
        + "))"
        for i in range(n_bands)
    )


def _lsh_cand_ctes() -> str:
    """Oracle CTEs mirroring lsh_band_keys + lsh_candidates exactly
    (same md5 hash family), appended after _SHINGLE_CTES. Yields `cand`
    (doc_a < doc_b candidate pairs) and a candidate-gated `inter`."""
    n_bands = _N_HASHES // _ROWS_PER_BAND
    sig_exprs = _SIG_EXPRS
    band_exprs = _band_exprs(_ROWS_PER_BAND)
    return f"""sigs AS (SELECT doc_id, {sig_exprs} FROM sh_arr),
bands AS (
  SELECT doc_id,
         unnest([{band_exprs}]) AS band_key,
         unnest(range({n_bands})) AS band_idx
  FROM sigs
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM d a
  JOIN d b ON a.shingle = b.shingle AND a.doc < b.doc
  JOIN cand c ON c.doc_a = a.doc AND c.doc_b = b.doc
  GROUP BY 1, 2
)"""


# LSH-gated verified pairs as oracle CTEs: cand -> gated inter -> pairs.
# Shared by the flagship compositions (dedup_canonical, corpus_pipeline) so
# their oracles take the SAME sub-quadratic pair path as the Spark plans.
_LSH_PAIR_CTES = f"""{_lsh_cand_ctes()},
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc
  JOIN sizes sb ON doc_b = sb.doc
  WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {_JACCARD_T}
)"""


def lsh_gated_pairs(sh: DataFrame) -> DataFrame:
    """Sub-quadratic near-dup pairs: MinHash bands -> candidate pairs ->
    exact-Jaccard verify on candidates only. The scale path every flagship
    composition uses — cost tracks the duplicate rate, never the corpus
    size squared (the bare inverted-index self-join's Σ posting-list² blows
    up on any corpus with common shingles)."""
    bands = lsh_band_keys(shingle_df=sh, n_hashes=_N_HASHES, rows_per_band=_ROWS_PER_BAND)
    return jaccard_pairs(sh, _JACCARD_T, candidates=lsh_candidates(bands))


# ---------------------------------------------------------------------------
# z_dedup_recall_sweep — the LSH banding quality/cost curve as a
# DRIVER-HASHED measured invariant, the text twin of z_sim_recall_sweep:
# for rows_per_band in {2, 4, 8} over the same 16 minhashes (i.e. 8/4/2
# bands), the candidate-pair count the banding pays and how many of the
# TRUE near-dup pairs (exact Jaccard >= tau) it recalls. This is the
# (b, r) knob every MinHash deployment tunes (the S-curve
# 1-(1-s^r)^b from Broder / MMDS ch.3): narrower bands -> more buckets
# per doc -> more candidates AND more recall. Hashing the whole curve
# makes "this banding recalls everything at this tau on THIS corpus" a
# measured fact, and a banding regression flips a hash, not a vibe.
# Scale shape: sigs/bands are map-only per doc; each arm is the
# hot-bucket-guarded candidate self-join + two 1-row aggs; truth is the
# exactness baseline (dedup_jaccard_pairs' inverted-index path — at real
# corpus scale this sweep runs on a sampled shard, like any recall audit).
# ---------------------------------------------------------------------------

_SWEEP_RPB = (2, 4, 8)


def _lsh_sweep_oracle() -> str:
    per_r = []
    for r in _SWEEP_RPB:
        nb = _N_HASHES // r
        per_r.append(
            f"""bands{r} AS (
  SELECT doc_id, unnest([{_band_exprs(r)}]) AS band_key,
         unnest(range({nb})) AS band_idx
  FROM sigs
),
cand{r} AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands{r} a JOIN bands{r} b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""
        )
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({r} AS INT) AS rows_per_band,
       CAST({_N_HASHES // r} AS INT) AS n_bands,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{r}) AS n_cand,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{r} c
          JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS hits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true"""
        for r in _SWEEP_RPB
    )
    per_r_sql = ",\n".join(per_r)
    return f"""
WITH {_SHINGLE_CTES},
sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM sh_arr),
inter_all AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter_all
  JOIN sizes sa ON doc_a = sa.doc
  JOIN sizes sb ON doc_b = sb.doc
  WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {_JACCARD_T}
),
{per_r_sql}
{arms}
"""


@register("z_dedup_recall_sweep", _lsh_sweep_oracle(), tags=("dedup",))
def z_dedup_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate cost and true-pair recall of MinHash LSH per band width
    (rows_per_band 2/4/8 over 16 hashes) — the banding tuning curve,
    every point driver-hashed against the exact-Jaccard truth set."""
    docs = load_table(spark, sf_dir, "documents")
    sh = barrier(shingle_rows(
        docs, "doc_id", word_shingles(tokens(F.col("text")), _SHINGLE_N)
    ))  # one shingle pass feeds truth + all three bandings
    truth = barrier(
        jaccard_pairs(sh, _JACCARD_T).select("doc_a", "doc_b")
    )
    out = None
    for r in _SWEEP_RPB:
        cands = lsh_candidates(
            lsh_band_keys(shingle_df=sh, n_hashes=_N_HASHES, rows_per_band=r)
        )
        arm = (
            cands.agg(F.count("*").cast("long").alias("n_cand"))
            .crossJoin(
                cands.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
                    F.count("*").cast("long").alias("hits")
                )
            )
            .crossJoin(truth.agg(F.count("*").cast("long").alias("n_true")))
            .select(
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(_N_HASHES // r).cast("int").alias("n_bands"),
                "n_cand",
                "hits",
                "n_true",
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# z_dedup_minhash_estimate — the MinHash SKETCH's estimation error as a
# driver-hashed fact, completing the sketch-quality story (count-min and
# HLL/GK already carry bound contracts): for every true near-dup pair,
# the exact Jaccard next to the 16-hash estimate (matching-signature
# fraction, Broder's unbiased estimator) and their quantized absolute
# error. The binomial std at J~0.5 and n=16 is ~0.125; the pytest pin
# holds the measured errors inside that envelope, so a hash-family or
# signature regression (which silently degrades LSH recall) surfaces as
# an estimator-error blowup, not a downstream mystery.
# Scale shape: signatures are the existing grouped pass, the pair table
# is the LSH-bounded truth set, and the scoring join is pair-dimensional.
# ---------------------------------------------------------------------------

_EST_MATCH_SQL = " + ".join(
    f"CASE WHEN a.sig{j} = b.sig{j} THEN 1 ELSE 0 END" for j in range(_N_HASHES)
)

_EST_ORACLE = f"""
WITH {_SHINGLE_CTES},
sigs AS (SELECT doc_id, {_SIG_EXPRS} FROM sh_arr),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b,
         CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc
  JOIN sizes sb ON doc_b = sb.doc
  WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {_JACCARD_T}
),
m AS (
  SELECT p.doc_a, p.doc_b, p.jaccard, ({_EST_MATCH_SQL}) AS match_sigs
  FROM pairs p
  JOIN sigs a ON p.doc_a = a.doc_id
  JOIN sigs b ON p.doc_b = b.doc_id
)
SELECT doc_a, doc_b,
       CAST(ROUND(jaccard * 1000000) AS BIGINT) AS jacc_q,
       CAST(match_sigs AS INT) AS match_sigs,
       CAST(match_sigs * 1000000 // {_N_HASHES} AS BIGINT) AS est_q,
       CAST(ABS(match_sigs * 1000000 // {_N_HASHES}
                - CAST(ROUND(jaccard * 1000000) AS BIGINT)) AS BIGINT) AS err_q
FROM m
"""


@register("z_dedup_minhash_estimate", _EST_ORACLE, tags=("dedup",))
def z_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard vs the 16-hash MinHash estimate per true near-dup
    pair, with the quantized absolute error — the sketch's accuracy as a
    hashed fact."""
    docs = load_table(spark, sf_dir, "documents")
    sh = barrier(shingle_rows(
        docs, "doc_id", word_shingles(tokens(F.col("text")), _SHINGLE_N)
    ))  # feeds truth pairs + signatures
    pairs = jaccard_pairs(sh, _JACCARD_T)
    sigs = minhash_signatures(sh, _N_HASHES)
    sa = sigs.select(
        F.col("doc").alias("doc_a"),
        *[F.col(f"sig{j}").alias(f"a{j}") for j in range(_N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc").alias("doc_b"),
        *[F.col(f"sig{j}").alias(f"b{j}") for j in range(_N_HASHES)],
    )
    match = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(_N_HASHES)
    )
    jacc_q = F.round(F.col("jaccard") * 1_000_000).cast("long")
    est_q = (F.col("match_sigs").cast("long") * 1_000_000 / _N_HASHES).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("match_sigs", match.cast("int"))
        .select(
            "doc_a",
            "doc_b",
            jacc_q.alias("jacc_q"),
            "match_sigs",
            est_q.alias("est_q"),
            F.abs(est_q - jacc_q).alias("err_q"),
        )
    )


# --- fast path: one (doc, shingle-array) base feeds everything -------------
# The grouped signature pass (explode -> distinct -> 16-min groupBy) pays
# two shuffles before banding. Keeping shingles as a per-doc ARRAY behind a
# barrier instead lets band keys be computed MAP-ONLY from the stored
# arrays (band_keys_from_shingle_array — bit-identical, parity-proven) and
# the verify join explode the same arrays: zero signature shuffles.
# Measured at sf0.1: dedup_minhash_lsh 2.4s -> ~1.7s, corpus_pipeline's
# pair stage proportionally. The barrier also blocks Catalyst
# from collapsing shingle construction into the 16 per-hash transforms
# (the HOF CSE trap minhash_signatures documents).


def shingle_base(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, distinct-shingle-array) base pass; lazy — every consumer
    reads it more than once and barriers it.

    fan_out rebalances a thin bench-scale scan; a production-scale scan
    (or a caller that already fanned the frame) passes through with NO
    exchange — values unchanged (the shingle map is row-local)."""
    return fan_out(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(tokens(F.col("text")), _SHINGLE_N)).alias("sh"),
    )


def base_shingle_rows(base: DataFrame) -> DataFrame:
    """(doc, shingle) distinct rows off the base — explode only, no re-shingle."""
    return base.select(F.col("doc_id").alias("doc"), F.explode("sh").alias("shingle"))


def base_band_keys(base: DataFrame) -> DataFrame:
    """(doc, band_idx, band_key) off the base — map-only, no groupBy."""
    from d3d_etl_spark.operators.dedup import band_keys_from_shingle_array

    return base.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            band_keys_from_shingle_array(F.col("sh"), _N_HASHES, _ROWS_PER_BAND)
        ).alias("b"),
    ).select("doc", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))


def lsh_gated_pairs_base(base: DataFrame) -> DataFrame:
    """lsh_gated_pairs off a shingle-array base: same sub-quadratic gate,
    zero signature shuffles (lsh_candidates barriers the band table, which
    is consumed by both self-join sides).

    The exact-Jaccard verify is ARRAY-NATIVE: candidates broadcast into the doc-grain base to pick up each
    side's distinct-shingle ARRAY, and the intersection is
    size(array_intersect(sh_a, sh_b)) computed map-side — identical values
    to the exploded-row verify (both operate on distinct shingle sets), but
    with no corpus×shingle explode on the join path, no inter groupBy, and
    no doc-grain sizes joins. The only corpus-grain movement left is ONE
    shuffle of the base arrays on doc_b; per-task state is the pair-grain
    build side of that shuffled hash join. Parity with jaccard_pairs'
    row-based verify is pinned in tests/test_corpus_ops_r4.py."""
    base = barrier(base)  # band keys and both verify sides read it
    cand = lsh_candidates(base_band_keys(base))
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # broadcast the duplicate-rate-bounded candidate set into the corpus
    # probe; the second join is pair-grain × corpus-grain -> shuffled hash
    # with the pair side as build (never broadcast a corpus-grain side)
    withe_a = a.join(F.broadcast(cand), "doc_a")
    pairs = withe_a.hint("shuffle_hash").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    ).cast("double")
    return pairs.select("doc_a", "doc_b", jacc.alias("jaccard")).where(
        F.col("jaccard") >= F.lit(_JACCARD_T)
    )


def _minhash_oracle() -> str:
    return f"""
WITH {_SHINGLE_CTES},
{_lsh_cand_ctes()}
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {_JACCARD_T}
"""


@register("dedup_minhash_lsh", _minhash_oracle(), tags=("dedup",), bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one checkpointed shingle-array pass feeds BOTH the (map-only) banding
    # path and the exact verify path — lsh_gated_pairs_base, zero signature
    # shuffles
    return lsh_gated_pairs_base(shingle_base(docs))


# ---------------------------------------------------------------------------
# dedup_simhash — 32-bit simhash per doc + banded near-pairs by hamming
# ---------------------------------------------------------------------------

# 60-bit simhash: wide enough that unrelated docs over a shared vocabulary
# stay ~30 bits apart while true near-dups land within a few bits (32 bits
# was measured too coarse on this corpus: noise pairs flooded hamming<=6).
_BITS = 60
_HEXC = _BITS // 4


def _simhash_sql_expr() -> str:
    terms = []
    for i in range(_BITS):
        cnt = f"len(list_filter(hs, h -> ((h >> {i}) & 1) = 1))"
        terms.append(f"CASE WHEN 2 * {cnt} > len(hs) THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


_SIMHASH_CTES = f"""
toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
hashes AS (SELECT doc_id, list_transform(w, t -> ('0x' || substr(md5(t), 1, {_HEXC}))::BIGINT) AS hs FROM toks),
sims AS (SELECT doc_id, CAST({_simhash_sql_expr()} AS BIGINT) AS simhash FROM hashes)
"""

_SIMHASH_ORACLE = f"""
WITH {_SIMHASH_CTES}
SELECT doc_id, simhash FROM sims
"""


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs, "doc_id", tokens(F.col("text")), _BITS).select(
        F.col("doc").alias("doc_id"), "simhash"
    )


# hamming<=5 with 6 bands of 10 bits: any pair within 5 differing bits must
# share at least one exact band (pigeonhole) -> exhaustive recall at the
# chosen radius; measured on this corpus: true near-dups sit at h<=5, noise
# density there is ~4e-4 of all pairs.
_MAX_HAMMING = 5
_SIM_BANDS = 6
_BAND_WIDTH = _BITS // _SIM_BANDS

_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_CTES},
banded AS (
  SELECT doc_id, simhash,
         unnest([{", ".join(f"(simhash >> {i * _BAND_WIDTH}) & {(1 << _BAND_WIDTH) - 1}" for i in range(_SIM_BANDS))}]) AS band_val,
         unnest(range({_SIM_BANDS})) AS band_idx
  FROM sims
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
"""


def _simhash_pairs(spark: SparkSession, sf_dir: str, with_sim: DataFrame | None = None) -> DataFrame:
    # The banded candidate search self-joins the signatures; without a
    # materialization barrier Catalyst re-derives the whole explode+groupBy
    # signature pass on BOTH join sides (measured 2x the query cost at sf0.1).
    # The barrier computes the (tiny: one row per doc) signature table
    # once and the self-join reads it twice. Callers may pass an
    # already-barriered table to share it across more consumers.
    if with_sim is None:
        with_sim = barrier(_simhash_sigs(spark, sf_dir))
    return simhash_near_pairs(
        with_sim, "doc_id", "simhash", _MAX_HAMMING, _SIM_BANDS, _BITS
    )


# ---------------------------------------------------------------------------
# dedup_clusters — transitive closure of near-dup pairs: every clustered doc
# mapped to its component's min doc_id (the canonical-document assignment
# step after pair generation). Spark: iterative min-label propagation with
# localCheckpoint barriers; oracle: recursive CTE reachability.
# ---------------------------------------------------------------------------

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
{_LSH_PAIR_CTES},
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM e
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
)
SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
"""


@register("dedup_clusters", _CLUSTERS_ORACLE, tags=("dedup",))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # LSH-gated pair stage (never the raw shingle self-join): cluster
    # assignment runs over the same sub-quadratic candidate set the flagship
    # compositions use; the oracle takes the identical gate via _LSH_PAIR_CTES
    return connected_components(lsh_gated_pairs_base(shingle_base(docs)))


# ---------------------------------------------------------------------------
# dedup_canonical — dedup as an actual corpus FILTER (the step training
# pipelines run after pair detection): transitive near-dup clusters keep
# only their min-id representative; everything else passes through. Output
# is the deduplicated corpus profile per lang. One anti-join against the
# (tiny) drop set — at scale the pairs/closure stay proportional to the
# duplicate rate, never the corpus size.
# ---------------------------------------------------------------------------

_CANON_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
{_LSH_PAIR_CTES},
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM e
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
),
comp AS (SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src),
drops AS (SELECT node FROM comp WHERE node != component)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM drops)
GROUP BY lang
"""


@register("dedup_canonical", _CANON_ORACLE, tags=("dedup",))
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(lsh_gated_pairs_base(shingle_base(docs)))
    drops = comp.where(F.col("node") != F.col("component")).select("node")
    kept = docs.join(
        F.broadcast(drops), docs["doc_id"] == F.col("node"), "left_anti"
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# ---------------------------------------------------------------------------
# Signatures + banded near pairs publish as one tagged union, so both
# sit inside the driver's 50-query window (part='sig' one row per doc with
# its 60-bit simhash;
# part='pair' the pigeonhole-banded hamming<=5 candidates). Normalized:
# (part, a, b, h) — sig: a=doc_id, h=simhash; pair: a/b=doc pair, h=hamming.
# ---------------------------------------------------------------------------

_SIMHASH_FAMILY_ORACLE = f"""
SELECT 'sig' AS part, CAST(doc_id AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b,
       simhash AS h
FROM ({_SIMHASH_ORACLE})
UNION ALL
SELECT 'pair', CAST(doc_a AS BIGINT), CAST(doc_b AS BIGINT), hamming
FROM ({_SIMHASH_PAIRS_ORACLE})
"""


# ---------------------------------------------------------------------------
# z_corpus_incremental — incremental (two-batch) near-dup detection: the
# daily-ingest shape of a 100 TB corpus pipeline. Batch 1 ("old", doc_id %
# _NEW_MOD != 0) has its LSH band keys persisted to parquet ONCE (S18/S19
# twin of the reference's resume-by-watermark + skip-if-exists pattern,
# collect_game.py:197-198 / run_all.py:15-20, applied to the corpus side).
# The measured query then processes ONLY the new batch: it computes
# signatures for new docs, band-joins them against the stored state, and
# re-reads old TEXT only for the candidate ids (a selective semi-join) —
# the full corpus is never re-shingled. tests/test_scale_smoke.py proves
# the incremental result equals the full-batch LSH pairs restricted to
# pairs touching a new doc.
# ---------------------------------------------------------------------------

_NEW_MOD = 4  # doc_id % 4 == 0 -> "new" batch (deterministic 25% daily slice)
LSH_BANDS = StateFamily("lsh_bands")


def batch1_band_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted dedup state: batch-1 (doc, band_idx, band_key) rows.

    n_bands rows per doc regardless of doc size — the state a real pipeline
    keeps between ingests is THIS compact table, not the corpus."""

    def build(tmp: str) -> None:
        old = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % _NEW_MOD != 0
        )
        sh = shingle_rows(old, "doc_id", word_shingles(tokens(F.col("text")), _SHINGLE_N))
        lsh_band_keys(
            shingle_df=sh, n_hashes=_N_HASHES, rows_per_band=_ROWS_PER_BAND
        ).write.mode("overwrite").parquet(tmp)

    return read_parquet(spark, LSH_BANDS.ensure(sf_dir, build))


def _incremental_oracle() -> str:
    """DuckDB mirror: new-batch bands computed with the same md5 family,
    old-batch bands read from the SAME persisted parquet the Spark query
    reads — the state handoff is part of what the oracle checks."""
    n_bands = _N_HASHES // _ROWS_PER_BAND
    sig_exprs = ",\n  ".join(
        f"COALESCE(list_aggregate(list_transform(sh, s -> md5('{j}:' || s)), 'min'), 'EMPTY') AS sig{j}"
        for j in range(_N_HASHES)
    )
    band_exprs = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"sig{j}" for j in range(i * _ROWS_PER_BAND, (i + 1) * _ROWS_PER_BAND))
        + "))"
        for i in range(n_bands)
    )
    return f"""
WITH {_SHINGLE_CTES},
new_sigs AS (SELECT doc_id, {sig_exprs} FROM sh_arr WHERE doc_id % {_NEW_MOD} = 0),
new_bands AS (
  SELECT doc_id AS doc,
         unnest([{band_exprs}]) AS band_key,
         unnest(range({n_bands})) AS band_idx
  FROM new_sigs
),
old_bands AS (SELECT doc, band_idx, band_key FROM read_parquet('{LSH_BANDS.glob}')),
all_bands AS (SELECT * FROM old_bands UNION ALL SELECT doc, band_idx, band_key FROM new_bands),
cand AS (
  SELECT LEAST(p.doc, o.doc) AS doc_a, GREATEST(p.doc, o.doc) AS doc_b
  FROM new_bands p
  JOIN all_bands o ON p.band_idx = o.band_idx AND p.band_key = o.band_key
                   AND p.doc != o.doc
  GROUP BY 1, 2
),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc < b.doc
  JOIN cand c ON c.doc_a = a.doc AND c.doc_b = b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard,
       CASE WHEN doc_a % {_NEW_MOD} = 0 AND doc_b % {_NEW_MOD} = 0
            THEN 'new-new' ELSE 'new-old' END AS vs
FROM inter
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {_JACCARD_T}
"""


@register("z_corpus_incremental", _incremental_oracle(), tags=("dedup", "incremental"), bench=True)
def z_corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs introduced by the new batch, without reprocessing the
    old corpus: new signatures only + stored state + selective text fetch.

    Cost note: the incremental path does strictly less DATA work than the
    full-corpus dedup (shingles only the 25% new slice; the old corpus
    contributes just its stored n_bands-rows/doc state plus the candidate
    text fetch), but it carries two extra fixed stages (state read, fetch).
    At sf0.1 the corpus pass is <1 s, so wall-clock lands near the full
    recompute; the advantage is proportional to corpus size — at daily-
    ingest scale the full pass is the thing you cannot afford."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % _NEW_MOD) == 0

    old_bands = batch1_band_state(spark, sf_dir)
    # ONE barriered (doc_id, shingle-array) pass feeds everything on the
    # new side: band keys are computed MAP-ONLY from the stored arrays
    # (band_keys_from_shingle_array — no signature groupBy shuffle), and the
    # verify join explodes the same arrays (shingle_base barrier = no HOF
    # CSE re-evaluation). Measured 3.7s -> 1.9s at sf0.1.
    new_base = barrier(shingle_base(docs.where(is_new)))
    new_sh = base_shingle_rows(new_base)
    # consumed twice (probe side + the union'd other side): barrier the
    # 16-hash transform so it runs once — the table is n_bands rows/doc
    new_bands = barrier(base_band_keys(new_base))

    probe = new_bands.select(F.col("doc").alias("doc_p"), "band_idx", "band_key")
    other = old_bands.unionByName(new_bands).select(
        F.col("doc").alias("doc_o"), "band_idx", "band_key"
    )
    # feeds both the id fetch and the verify join
    cand = barrier(
        probe.join(other, ["band_idx", "band_key"])
        .where(F.col("doc_p") != F.col("doc_o"))
        .select(
            F.least("doc_p", "doc_o").alias("doc_a"),
            F.greatest("doc_p", "doc_o").alias("doc_b"),
        )
        .distinct()
    )

    # selective re-read: only candidate OLD docs get their text re-shingled —
    # at 100 TB this is a point-lookup-sized scan, not a corpus pass
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # broadcast the (tiny) candidate-id set so the fetch is a broadcast
    # semi-join — the corpus never shuffles for it
    old_cand_docs = docs.where(~is_new).join(
        F.broadcast(cand_ids), "doc_id", "left_semi"
    )
    # checkpoint: jaccard_pairs consumes the shingle table three times
    # (sizes + both join sides); without a barrier the semi-join + re-shingle
    # lineage would run three times (measured ~1.3s of the query at sf0.1)
    old_sh = barrier(shingle_rows(
        old_cand_docs, "doc_id", word_shingles(tokens(F.col("text")), _SHINGLE_N)
    ))

    pairs = jaccard_pairs(new_sh.unionByName(old_sh), _JACCARD_T, candidates=cand)
    return pairs.withColumn(
        "vs",
        F.when(
            ((F.col("doc_a") % _NEW_MOD) == 0) & ((F.col("doc_b") % _NEW_MOD) == 0),
            F.lit("new-new"),
        ).otherwise(F.lit("new-old")),
    )


@register("dedup_simhash", _SIMHASH_FAMILY_ORACLE, tags=("dedup",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE signature pass (the dominant stage) feeds both arms
    sigs = barrier(_simhash_sigs(spark, sf_dir))
    sig = sigs.select(
        F.lit("sig").alias("part"),
        F.col("doc_id").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("simhash").cast("long").alias("h"),
    )
    pair = _simhash_pairs(spark, sf_dir, with_sim=sigs).select(
        F.lit("pair").alias("part"),
        F.col("doc_a").cast("long").alias("a"),
        F.col("doc_b").cast("long").alias("b"),
        F.col("hamming").cast("long").alias("h"),
    )
    return sig.unionByName(pair)


# ---------------------------------------------------------------------------
# z_dedup_canonical_quality — quality-aware representative selection: the
# production variant of dedup_canonical. Real corpus pipelines keep the
# BEST document of each near-dup cluster (longest / highest quality), not
# the lowest id — the duplicates are usually truncated or boilerplated
# copies of the fullest one. Same LSH-gated pair stage + transitive
# closure; the representative is then rank-1 per component by
# (n_chars DESC, doc_id ASC). Output: per-lang profile of the surviving
# corpus plus how many survivors are cluster representatives (vs docs that
# were never in any near-dup pair).
# Scale shape: comp is duplicate-bounded (<< corpus); the per-component
# window partitions on component (bounded by cluster size); drop and
# representative sets broadcast back over the corpus.
# ---------------------------------------------------------------------------

_CANON_QUALITY_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
{_LSH_PAIR_CTES},
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM e
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
),
comp AS (SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src),
ranked AS (
  SELECT c.node, ROW_NUMBER() OVER (
           PARTITION BY c.component
           ORDER BY d.n_chars DESC, c.node
         ) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
drops AS (SELECT node FROM ranked WHERE rn > 1),
reps AS (SELECT node FROM ranked WHERE rn = 1)
SELECT d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN r.node IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reps
FROM documents d
LEFT JOIN reps r ON d.doc_id = r.node
WHERE d.doc_id NOT IN (SELECT node FROM drops)
GROUP BY d.lang
"""


@register("z_dedup_canonical_quality", _CANON_QUALITY_ORACLE, tags=("dedup",))
def z_dedup_canonical_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filter keeping the longest doc per near-dup cluster (quality-
    aware canonical selection). Beyond-reference LLM-pipeline operator."""
    from pyspark.sql import Window

    from d3d_etl_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(lsh_gated_pairs_base(shingle_base(docs)))
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("node"))
    # one closure pass feeds both the drop and representative sets
    ranked = barrier(
        comp.join(
            docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
        )
        .withColumn("rn", F.row_number().over(w))
    )
    drops = ranked.where(F.col("rn") > 1).select("node")
    reps = ranked.where(F.col("rn") == 1).select("node", F.lit(1).alias("_rep"))
    kept = docs.join(
        F.broadcast(drops), docs["doc_id"] == drops["node"], "left_anti"
    )
    return (
        kept.join(F.broadcast(reps), kept["doc_id"] == reps["node"], "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.coalesce(F.col("_rep"), F.lit(0))).cast("long").alias("n_reps"),
        )
    )


# ---------------------------------------------------------------------------
# z_corpus_safe_split — leakage-safe train/val/test splitting: near-duplicate
# documents MUST land in the same split, or the eval set silently contains
# paraphrases of training documents (the split-contamination failure mode of
# naive per-doc hashing). The split key is therefore the near-dup CLUSTER
# representative — component id from the LSH-gated transitive closure,
# falling back to the doc's own id for unclustered docs — pushed through the
# standard deterministic hash_split. Zero cross-split near-dup pairs by
# construction (property-pinned, alongside a demonstration that the naive
# doc-id split DOES leak on this corpus).
# Scale shape: comp is duplicate-bounded (<< corpus, broadcast); the split
# assignment is a pure column expression over the joined frame; output is
# split-cardinality rows.
# ---------------------------------------------------------------------------

_SAFE_SPLIT_WEIGHTS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]

_SAFE_SPLIT_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
{_LSH_PAIR_CTES},
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM e
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
),
comp AS (SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src),
r AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.component, d.doc_id) AS rep,
         CASE WHEN c.node IS NOT NULL THEN 1 ELSE 0 END AS clustered
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
s AS (SELECT r.*, {{split_case}} AS split FROM r)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(clustered) AS BIGINT) AS n_clustered,
       COUNT(DISTINCT CASE WHEN clustered = 1 THEN rep END) AS n_clusters
FROM s GROUP BY 1
"""


def _safe_split_oracle() -> str:
    from d3d_etl_spark.functions.sampling import sql_hash_split

    return _SAFE_SPLIT_ORACLE.format(
        split_case=sql_hash_split("rep", _SAFE_SPLIT_WEIGHTS)
    )


@register("z_corpus_safe_split", _safe_split_oracle(), tags=("dedup", "sampling"))
def z_corpus_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-keyed train/val/test split: no near-duplicate pair
    ever crosses a split boundary. Beyond-reference LLM-pipeline operator."""
    from d3d_etl_spark.functions.sampling import hash_split
    from d3d_etl_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(lsh_gated_pairs_base(shingle_base(docs)))
    r = docs.join(
        F.broadcast(comp), docs["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("rep"),
        F.when(F.col("node").isNotNull(), 1).otherwise(0).alias("clustered"),
    )
    return (
        r.withColumn("split", hash_split(F.col("rep"), _SAFE_SPLIT_WEIGHTS))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("clustered").cast("long").alias("n_clustered"),
            F.countDistinct(
                F.when(F.col("clustered") == 1, F.col("rep"))
            ).alias("n_clusters"),
        )
    )
