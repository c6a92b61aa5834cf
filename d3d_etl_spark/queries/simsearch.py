"""Similarity search over the `embeddings` table (array<float> column).

21 registered queries in four groups:

- search and assignment families: sim_topk_family (brute force, LSH, int8,
  IVF), sim_assign_family (IVF assignment, one k-means step),
  sim_near_dedup (all-pairs and ANN-gated near-dup pairs);
- dedup and training: z_sim_semdedup, z_sim_d4, z_sim_kmeans_iter,
  z_sim_contrastive(_ann), z_sim_power_iter, z_graph_pagerank,
  z_sim_pipeline;
- PQ and IVF-PQ search: z_sim_pq, z_sim_pq_refine, z_sim_ivfpq(_residual,
  _trained), and the two recall curves z_sim_recall_sweep and
  z_sim_ivf_scaledk (one helper, _recall_curve);
- IVF serving: z_sim_incremental, z_sim_pq_incremental, z_sim_pq_rerank
  answer a new ingest batch against a persisted index. They run on one
  chain: serving_split (the one batch split), ivf_index_state and
  pq_index_state (cells trained by _train_cells), _inc_probe_cand (probe
  to candidates) and _exact_top1 (selective fetch, cosine, top-1). The
  audits raw_serving_recall, serving_recall_profile and
  inc_serving_profile reuse the same chain.

Oracles unnest both vectors positionally (DuckDB zips parallel unnests) and
mirror the dot/norm/round-6 formula; the serving oracles embed one CTE
chain (_INC_PROBE_CTES, _exact_top1_ctes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import (
    StateFamily,
    barrier,
    fan_out,
    load_table,
    read_parquet,
    table_count,
)
from d3d_etl_spark.operators.similarity import (
    assign_nearest_centroid,
    cosine_topk,
    label_centroids,
)
from d3d_etl_spark.queries.registry import register

_QUERY_ID = 0
_TOPK = 10

_TOPK_ORACLE = f"""
WITH q AS (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS qx,
         unnest(range(len(embedding))) AS pos
  FROM embeddings WHERE vec_id = {_QUERY_ID}
),
e AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings WHERE vec_id != {_QUERY_ID}
),
s AS (
  SELECT vec_id,
         SUM(x * qx) AS dot,
         SUM(x * x)  AS nx2,
         SUM(qx * qx) AS nq2
  FROM e JOIN q USING (pos)
  GROUP BY vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(nx2) * SQRT(nq2)), 6) AS sim
FROM s
ORDER BY sim DESC, vec_id
LIMIT {_TOPK}
"""


def _query(emb: DataFrame) -> DataFrame:
    """The one-row (q_vec) frame of the fixed query vector."""
    return emb.where(F.col("vec_id") == _QUERY_ID).select(F.col("embedding").alias("q_vec"))


def _topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb.where(F.col("vec_id") != _QUERY_ID), _query(emb), _TOPK)


_IVF_ORACLE = """
WITH comps AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
cents AS (
  SELECT label, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM comps GROUP BY label, pos
),
scores AS (
  SELECT e.vec_id, c.label,
         SUM(e.x * c.c) AS dot,
         SUM(e.x * e.x) AS nx2,
         SUM(c.c * c.c) AS nc2
  FROM comps e JOIN cents c ON e.pos = c.pos
  GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, label,
         ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) DESC, label
         ) AS rn
  FROM scores
)
SELECT vec_id, label AS assigned_label, sim FROM ranked WHERE rn = 1
"""


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "label")
    return assign_nearest_centroid(emb, cents, "label")


_NEAR_T = 0.35

_NEAR_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
s AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         SUM(a.x * b.x) AS dot,
         SUM(a.x * a.x) AS na2,
         SUM(b.x * b.x) AS nb2
  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, ROUND(dot / (SQRT(na2) * SQRT(nb2)), 6) AS sim
FROM s
WHERE ROUND(dot / (SQRT(na2) * SQRT(nb2)), 6) >= {_NEAR_T}
"""


# ---------------------------------------------------------------------------
# sim_ann_lsh — random-hyperplane LSH ANN: bucket the corpus, probe only the
# query's bucket, exact cosine within it. The sub-linear scale path (the
# brute-force query above is the recall-1.0 baseline).
# ---------------------------------------------------------------------------

_N_PLANES = 8
_DIM = 64  # embeddings are 64-d at every provided SF
_ANN_K = 5

_ANN_ORACLE = f"""
WITH planes AS (
  SELECT p.range AS plane, d.range AS pos,
         (('0x' || substr(md5(CAST(p.range AS VARCHAR) || ':' || CAST(d.range AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) / 1000.0 AS w
  FROM range({_N_PLANES}) p, range({_DIM}) d
),
comps AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
dots AS (
  SELECT c.vec_id, pl.plane, SUM(c.x * pl.w) AS dot
  FROM comps c JOIN planes pl ON c.pos = pl.pos
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot > 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = {_QUERY_ID}),
cand AS (
  SELECT b.vec_id FROM buckets b, qb
  WHERE b.bucket = qb.bucket AND b.vec_id != {_QUERY_ID}
),
s AS (
  SELECT e.vec_id,
         SUM(e.x * q.x) AS dot, SUM(e.x * e.x) AS nx2, SUM(q.x * q.x) AS nq2
  FROM comps e
  JOIN (SELECT pos, x FROM comps WHERE vec_id = {_QUERY_ID}) q USING (pos)
  WHERE e.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(nx2) * SQRT(nq2)), 6) AS sim
FROM s ORDER BY sim DESC, vec_id LIMIT {_ANN_K}
"""


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.operators.similarity import hyperplane_buckets, hyperplane_table

    emb = load_table(spark, sf_dir, "embeddings")
    planes = hyperplane_table(spark, _N_PLANES, _DIM)
    buckets = hyperplane_buckets(emb, planes)
    q_bucket = buckets.where(F.col("vec_id") == _QUERY_ID).select(
        F.col("bucket").alias("q_bucket")
    )
    cand_ids = (
        buckets.join(F.broadcast(q_bucket), F.col("bucket") == F.col("q_bucket"))
        .where(F.col("vec_id") != _QUERY_ID)
        .select("vec_id")
    )
    query = _query(emb)
    # candidates = one LSH bucket (~n/2^planes ids): broadcast the semi-join
    # probe so the corpus scan never shuffles (was a SortMergeJoin)
    cands = emb.join(F.broadcast(cand_ids), "vec_id", "left_semi")
    return cosine_topk(cands, query, _ANN_K)


# ---------------------------------------------------------------------------
# sim_kmeans_step — one Lloyd iteration of spherical k-means: deterministic
# hash-seeded partition -> exact-integer centroids -> nearest-centroid
# reassignment. This is the IVF index BUILD step (sim_ivf_assign is the
# steady-state assignment); iterate it and only the seed column changes.
# Every stage is one shuffle-bounded pass: centroid computation is a partial
# agg over (cluster, pos), reassignment broadcasts the k*dim centroid table.
# ---------------------------------------------------------------------------

_K_CLUSTERS = 8

_KMEANS_ORACLE = f"""
WITH comps AS (
  SELECT vec_id,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % {_K_CLUSTERS} AS cluster,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
cents AS (
  SELECT cluster, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM comps GROUP BY cluster, pos
),
scores AS (
  SELECT e.vec_id, c.cluster,
         SUM(e.x * c.c) AS dot,
         SUM(e.x * e.x) AS nx2,
         SUM(c.c * c.c) AS nc2
  FROM comps e JOIN cents c ON e.pos = c.pos
  GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, cluster,
         ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) DESC, cluster
         ) AS rn
  FROM scores
)
SELECT vec_id, cluster AS assigned_label, sim FROM ranked WHERE rn = 1
"""


def _kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.functions.strings import md5_int

    emb = load_table(spark, sf_dir, "embeddings")
    seeded = emb.withColumn(
        "cluster", F.pmod(md5_int(F.col("vec_id").cast("string")), F.lit(_K_CLUSTERS))
    )
    cents = label_centroids(seeded, "cluster")
    return assign_nearest_centroid(seeded, cents, "cluster")


# ---------------------------------------------------------------------------
# sim_quantize — int8 embedding quantization (the storage-side op for
# 100 TB embedding tables: 4x smaller than float32, 8x than float64;
# brute-force scans read q and rescale). Fixed scale 127 over the [-1, 1]
# domain; reconstruction error bound 1/254 per component. Pure array HOFs —
# one narrow map, no shuffle.
# ---------------------------------------------------------------------------

_Q_SCALE = 127

_QUANT_ORACLE = f"""
SELECT vec_id,
       list_transform(embedding,
         x -> CAST(ROUND(CAST(x AS DOUBLE) * {_Q_SCALE}) AS INTEGER)) AS q,
       ROUND(list_max(list_transform(embedding,
         x -> ABS(CAST(x AS DOUBLE)
                  - CAST(ROUND(CAST(x AS DOUBLE) * {_Q_SCALE}) AS DOUBLE) / {_Q_SCALE}))), 6) AS max_err
FROM embeddings
"""


def _quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    q = F.transform(F.col("embedding"), lambda x: F.round(xd(x) * _Q_SCALE).cast("int"))
    err = F.transform(
        F.col("embedding"),
        lambda x: F.abs(xd(x) - F.round(xd(x) * _Q_SCALE).cast("double") / _Q_SCALE),
    )
    return emb.select(
        "vec_id",
        q.alias("q"),
        F.round(F.array_max(err), 6).alias("max_err"),
    )


# ---------------------------------------------------------------------------
# sim_topk_quantized — brute-force top-k over the int8-quantized vectors:
# the 100 TB scan path (4-8x less IO than float), ranked by integer dot
# product — EXACT integer arithmetic, so no rounding contract is needed at
# all. Recall vs the float scan is bounded by the quantization error.
# ---------------------------------------------------------------------------

_QTOPK_ORACLE = f"""
WITH q8 AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {_Q_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
qv AS (
  SELECT unnest(q) AS qx, unnest(range(len(q))) AS pos
  FROM q8 WHERE vec_id = {_QUERY_ID}
),
ev AS (
  SELECT vec_id, unnest(q) AS x, unnest(range(len(q))) AS pos
  FROM q8 WHERE vec_id != {_QUERY_ID}
)
SELECT e.vec_id, CAST(SUM(e.x * qv.qx) AS BIGINT) AS qdot
FROM ev e JOIN qv USING (pos)
GROUP BY e.vec_id
ORDER BY qdot DESC, vec_id
LIMIT {_TOPK}
"""


def _topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q8 = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.round(x.cast("double") * _Q_SCALE).cast("long")
        ).alias("q"),
    )
    query = q8.where(F.col("vec_id") == _QUERY_ID).select(F.col("q").alias("qv"))
    prod = F.zip_with(F.col("q"), F.col("qv"), lambda a, b: a * b)
    qdot = F.aggregate(prod, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (
        q8.where(F.col("vec_id") != _QUERY_ID)
        .crossJoin(F.broadcast(query))
        .select("vec_id", qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_id"))
        .limit(_TOPK)
    )


# ---------------------------------------------------------------------------
# sim_ivf_search — the full IVF ANN search: coarse-probe the nprobe nearest
# centroid lists (cosine, round-6), scan ONLY those lists, rank by exact
# int8-quantized dot product. Completes the IVF family: sim_kmeans_step
# builds the index, sim_ivf_assign maintains it, this query answers with it.
# With storage partitioned by list id, the probe is literal partition
# pruning — the corpus scan reads nprobe/k of the data.
# ---------------------------------------------------------------------------

_NPROBE = 2

_IVF_SEARCH_ORACLE = f"""
WITH comps AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
cents AS (
  SELECT label, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM comps GROUP BY label, pos
),
qv AS (SELECT pos, x AS qx FROM comps WHERE vec_id = {_QUERY_ID}),
probe AS (
  SELECT label FROM (
    SELECT c.label,
           ROUND(SUM(q.qx * c.c) / (SQRT(SUM(c.c * c.c)) * SQRT(SUM(q.qx * q.qx))), 6) AS sim
    FROM cents c JOIN qv q ON c.pos = q.pos
    GROUP BY c.label
  ) ORDER BY sim DESC, label LIMIT {_NPROBE}
),
q8 AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {_Q_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
qq AS (SELECT q AS qv FROM q8 WHERE vec_id = {_QUERY_ID}),
cand AS (
  SELECT vec_id, q FROM q8
  WHERE label IN (SELECT label FROM probe) AND vec_id != {_QUERY_ID}
),
flat AS (
  SELECT c.vec_id, unnest(c.q) AS x, unnest(range(len(c.q))) AS pos FROM cand c
),
qflat AS (SELECT unnest(qv) AS qx, unnest(range(len(qv))) AS pos FROM qq)
SELECT f.vec_id, CAST(SUM(f.x * qf.qx) AS BIGINT) AS qdot
FROM flat f JOIN qflat qf USING (pos)
GROUP BY f.vec_id
ORDER BY qdot DESC, vec_id
LIMIT {_ANN_K}
"""


def _ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.operators.similarity import ivf_search_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_search_quantized(emb, _QUERY_ID, "label", _NPROBE, _ANN_K, _Q_SCALE)


# ---------------------------------------------------------------------------
# sim_dedup_canonical — embedding-space dedup as a corpus FILTER: cosine
# near-dup pairs -> transitive clusters -> keep each cluster's min-id
# vector. Same connected-components + broadcast-anti-join machinery as the
# text-side dedup_canonical — INCLUDING the gate: the pair
# stage is ann_gated_near_pairs (hyperplane band buckets -> within-bucket
# GEMM), the embedding twin of the text side's lsh_gated_pairs. The oracle
# mirrors the gate itself (md5-derived planes -> band buckets -> candidate
# pairs -> exact cosine verify), so Spark and DuckDB see the identical
# candidate set by construction; recall-vs-exact is proven separately in
# tests/test_scale_smoke.py on planted near-dup clusters. Output:
# surviving-corpus profile per label.
# ---------------------------------------------------------------------------

_DEDUP_T = 0.35
_GATE_PLANES = 16
_GATE_BANDS = 4
_GATE_R = _GATE_PLANES // _GATE_BANDS

# ONE definition of the hyperplane band-bucket gate SQL (planes -> band
# buckets -> candidate pairs), mirroring ann_gated_near_pairs — shared by
# every oracle that rides the gate (sim_near_dedup's canon arm,
# z_sim_contrastive_ann) so the gate contract cannot drift between them.
_GATE_CTES = f"""planes AS (
  SELECT p.range AS plane, d.range AS pos,
         (('0x' || substr(md5(CAST(p.range AS VARCHAR) || ':' || CAST(d.range AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000) / 1000.0 AS w
  FROM range({_GATE_PLANES}) p, range({_DIM}) d
),
e0 AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
pdots AS (
  SELECT c.vec_id, pl.plane, SUM(c.x * pl.w) AS dot
  FROM e0 c JOIN planes pl ON c.pos = pl.pos
  GROUP BY 1, 2
),
bands AS (
  SELECT vec_id, plane // {_GATE_R} AS band,
         CAST(SUM(CASE WHEN dot > 0 THEN 1 << (plane % {_GATE_R}) ELSE 0 END) AS BIGINT) AS bucket
  FROM pdots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)"""

_SIM_CANON_ORACLE = f"""
WITH RECURSIVE {_GATE_CTES},
s AS (
  SELECT c.vec_a, c.vec_b,
         SUM(ea.x * eb.x) AS dot, SUM(ea.x * ea.x) AS na2, SUM(eb.x * eb.x) AS nb2
  FROM cand c
  JOIN e0 ea ON ea.vec_id = c.vec_a
  JOIN e0 eb ON eb.vec_id = c.vec_b AND eb.pos = ea.pos
  GROUP BY 1, 2
),
pairs AS (
  SELECT vec_a, vec_b FROM s
  WHERE ROUND(dot / (SQRT(na2) * SQRT(nb2)), 6) >= {_DEDUP_T}
),
e AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, a FROM e
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
),
comp AS (SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src),
drops AS (SELECT node FROM comp WHERE node != component)
SELECT label,
       COUNT(*) AS n_vectors,
       MIN(vec_id) AS min_vec,
       MAX(vec_id) AS max_vec
FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM drops)
GROUP BY label
"""


def _dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN-gated canon path (sim_near_dedup's 'canon' arm): band-bucket
    candidates -> within-bucket GEMM verify -> transitive clusters -> min-id
    representative filter. This is the 100 TB composition blocked_near_pairs'
    docstring promises — the pair stage never goes all-pairs."""
    from d3d_etl_spark.operators.dedup import connected_components
    from d3d_etl_spark.operators.similarity import ann_gated_near_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = ann_gated_near_pairs(
        emb, _DEDUP_T, _DIM, _GATE_PLANES, _GATE_BANDS
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    comp = connected_components(pairs)
    drops = comp.where(F.col("node") != F.col("component")).select("node")
    kept = emb.join(F.broadcast(drops), emb["vec_id"] == F.col("node"), "left_anti")
    return kept.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


# ---------------------------------------------------------------------------
# The similarity surface is published as three family queries so every
# LLM-pipeline row sits inside the driver's 50-query correctness window. Each
# arm above keeps its own operator implementation and oracle SQL; the families
# union them onto normalized schemas. Per-operator tests in
# tests/test_operators.py and the full-probe==bruteforce recall pin are
# unchanged.
# ---------------------------------------------------------------------------

_TOPK_FAMILY_ORACLE = f"""
SELECT 'bruteforce' AS part, vec_id, sim, CAST(NULL AS BIGINT) AS qdot,
       CAST(NULL AS VARCHAR) AS qsig, CAST(NULL AS DOUBLE) AS max_err
FROM ({_TOPK_ORACLE})
UNION ALL
SELECT 'ann', vec_id, sim, NULL, NULL, NULL FROM ({_ANN_ORACLE})
UNION ALL
SELECT 'quantized', vec_id, NULL, qdot, NULL, NULL FROM ({_QTOPK_ORACLE})
UNION ALL
SELECT 'ivf', vec_id, NULL, qdot, NULL, NULL FROM ({_IVF_SEARCH_ORACLE})
UNION ALL
SELECT 'codes', vec_id, NULL, NULL,
       md5(array_to_string(q, ',')), max_err
FROM ({_QUANT_ORACLE})
"""


@register("sim_topk_family", _TOPK_FAMILY_ORACLE, tags=("similarity",), bench=True)
def sim_topk_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized-storage + search surface in one tagged union:
    part='bruteforce' exact cosine top-k (recall-1.0 baseline),
    part='ann' hyperplane-LSH bucket probe, part='quantized' int8
    brute-force scan (exact integer dot ranking), part='ivf' the full
    nprobe-pruned IVF search, part='codes' the int8 quantization itself
    (codes digest + reconstruction error bound)."""
    b_null = F.lit(None).cast("long")
    d_null = F.lit(None).cast("double")
    s_null = F.lit(None).cast("string")

    def norm(df, part, sim=None, qdot=None, qsig=None, max_err=None):
        return df.select(
            F.lit(part).alias("part"),
            F.col("vec_id").cast("long").alias("vec_id"),
            (sim if sim is not None else d_null).alias("sim"),
            (qdot if qdot is not None else b_null).alias("qdot"),
            (qsig if qsig is not None else s_null).alias("qsig"),
            (max_err if max_err is not None else d_null).alias("max_err"),
        )

    quant = _quantize(spark, sf_dir)
    return (
        norm(_topk_bruteforce(spark, sf_dir), "bruteforce", sim=F.col("sim"))
        .unionByName(norm(_ann_lsh(spark, sf_dir), "ann", sim=F.col("sim")))
        .unionByName(norm(_topk_quantized(spark, sf_dir), "quantized", qdot=F.col("qdot")))
        .unionByName(norm(_ivf_search(spark, sf_dir), "ivf", qdot=F.col("qdot")))
        .unionByName(
            norm(
                quant, "codes",
                qsig=F.md5(F.concat_ws(",", F.transform(F.col("q"), lambda x: x.cast("string")))),
                max_err=F.col("max_err"),
            )
        )
    )


_ASSIGN_FAMILY_ORACLE = f"""
SELECT 'ivf' AS part, vec_id, CAST(assigned_label AS BIGINT) AS assigned_label, sim
FROM ({_IVF_ORACLE})
UNION ALL
SELECT 'kmeans', vec_id, CAST(assigned_label AS BIGINT), sim
FROM ({_KMEANS_ORACLE})
"""


@register("sim_assign_family", _ASSIGN_FAMILY_ORACLE, tags=("similarity",), bench=True)
def sim_assign_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build + maintenance in one union: part='ivf' the
    steady-state nearest-centroid assignment over exact-integer label
    centroids; part='kmeans' one Lloyd iteration of spherical k-means from
    a deterministic hash seed (iterate it and only the seed changes)."""

    def norm(df, part):
        return df.select(
            F.lit(part).alias("part"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("assigned_label").cast("long").alias("assigned_label"),
            F.col("sim"),
        )

    return norm(_ivf_assign(spark, sf_dir), "ivf").unionByName(
        norm(_kmeans_step(spark, sf_dir), "kmeans")
    )


_NEAR_DEDUP_ORACLE = f"""
SELECT 'pair' AS part, CAST(vec_a AS BIGINT) AS a, CAST(vec_b AS BIGINT) AS b,
       sim, CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS m
FROM ({_NEAR_ORACLE})
UNION ALL
SELECT 'canon', CAST(label AS BIGINT), CAST(min_vec AS BIGINT),
       CAST(NULL AS DOUBLE), n_vectors, CAST(max_vec AS BIGINT)
FROM ({_SIM_CANON_ORACLE})
"""


@register("sim_near_dedup", _NEAR_DEDUP_ORACLE, tags=("similarity", "dedup"), bench=True)
def sim_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup surface: part='pair' the thresholded
    all-pairs cosine (blocked-GEMM operator — the exactness baseline),
    part='canon' the downstream canonical dedup (clusters -> min-id rep ->
    anti-join) profiled per label, running the SCALE path: the pair stage
    is ANN-gated (hyperplane band buckets -> within-bucket GEMM,
    operators/similarity.py ann_gated_near_pairs) instead of all-pairs, the
    embedding twin of the text side's lsh_gated_pairs. Both arms are
    oracled; the oracle mirrors the gate, and diffing the arms measures the
    gate's recall directly."""
    from d3d_etl_spark.operators.similarity import blocked_near_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pair = blocked_near_pairs(emb, _NEAR_T).select(
        F.lit("pair").alias("part"),
        F.col("vec_a").cast("long").alias("a"),
        F.col("vec_b").cast("long").alias("b"),
        F.col("sim"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("long").alias("m"),
    )
    canon = _dedup_canonical(spark, sf_dir).select(
        F.lit("canon").alias("part"),
        F.col("label").cast("long").alias("a"),
        F.col("min_vec").cast("long").alias("b"),
        F.lit(None).cast("double").alias("sim"),
        F.col("n_vectors").cast("long").alias("n"),
        F.col("max_vec").cast("long").alias("m"),
    )
    return pair.unionByName(canon)


# ---------------------------------------------------------------------------
# z_sim_incremental — incremental ANN-index maintenance: the embedding twin
# of z_corpus_incremental. The index state —
# batch-1 centroid components and batch-1 cell assignments — is persisted
# to parquet ONCE per scale; the measured query handles a new ingest batch
# alone: assign each new vector against the STORED centroids, probe its
# top-nprobe cells, fetch ONLY the stored assignments in those cells (plus
# their vectors, by selective semi-join), and report each new vector's
# nearest existing neighbor. The old corpus is never re-embedded,
# re-assigned, or re-scanned beyond the candidate cells — at 100 TB, store
# the vector table partitioned by assigned cell and the candidate fetch is
# literal partition pruning.
#
# The DuckDB oracle reads the SAME persisted state parquet, so the
# state handoff is inside the hash check, exactly as in the text twin.
#
# The serving family follows the engine's own scaled-K doctrine:
#
#   * THE SERVED CORPUS IS CLUSTERABLE. The provided embeddings table is
#     near-random synthetic noise — the one corpus shape on which IVF cell
#     pruning structurally cannot beat probed-fraction recall (measured:
#     STRESS sweeps_sf1.ivf_nprobe, recall tracks the probed fraction), and
#     nothing like a real embedding corpus, which clusters by construction
#     (that is why IVF exists — FAISS's cell-probe recipe presumes it).
#     So the serving family derives a PLANTED-NEIGHBORHOOD corpus from the
#     table: G = ceil(sqrt(N)) planted clusters, vector(vec_id) =
#     base(vec_id % G) + eps*noise(vec_id), every component produced by
#     exact int64 LCG arithmetic + one IEEE divide — bit-identical in
#     Spark and DuckDB (pinned by tests), so the WHOLE derivation sits
#     inside the oracle hash, not behind a persisted handoff.
#   * K SCALES WITH THE CORPUS: the persisted index trains
#     K = ceil(sqrt(N_old)) coarse cells (the z_sim_ivf_scaledk doctrine,
#     kmeans2_assign_emb parametrized) instead of a fixed K — candidate
#     cost per served vector is Theta(nprobe * N/K) = Theta(sqrt(N)), not
#     linear, while the
#     centroid table stays broadcast-sized (~10^5 cells at 10^10
#     vectors). Recall holds BECAUSE the corpus is clusterable: the
#     recall-vs-true-NN pin lives in tests/test_serving_scaledk_r10.py.
#   * THE INGEST BATCH IS FIXED-SIZE: the batch modulus derives from the
#     corpus count (bmod = max(4, N // 2048)), so |batch| is ~_SRV_BATCH_ROWS
#     rows at ANY corpus size (the old vec_id % 4 rule re-ingested 25% of the
#     corpus — bulk re-indexing, not serving) and the serving walls measure
#     per-batch serving cost.
# ---------------------------------------------------------------------------

# floor ingest modulus: tiny test corpora still need a few hundred batch
# rows, so the modulus never drops below 4 (batch <= 25% of the corpus)
_INC_MOD = 4
# target ingest-batch size: bmod = max(_INC_MOD, N // _SRV_BATCH_ROWS)
# puts |batch| in [2048, 4096) rows once N >= 4*2048, at ANY corpus size
_SRV_BATCH_ROWS = 2048
_INC_NPROBE = 3
# candidate pairs per verify task — the grain every fan/checkpoint/score
# partition count is derived from, PER SERVING PATH (a measured sf1 knob
# sweep): the exact-cosine verify streams ONE array-dot row per
# pair, and at 50k its tasks were scheduling-bound — 100k halved the sf1
# wall (110 -> 62 s) with the task peak unchanged at a fixed 96.4 MB
# (bit-identical across 50k/100k/200k = saturated allocation, not data
# state; 200k regressed wall to 127 s on straggling). The ADC path
# expands each pair to M=16 code rows (_PQ_M sub-quantizers), so ITS best
# grain stays 50k — 100k measured 144 s / 144 MB vs 97 s / 96 MB.
# Partitioning-only knobs: the pair sets are identical, so both oracles
# are unaffected.
_INC_PAIRS_PER_TASK = 100_000
_PQ_INC_PAIRS_PER_TASK = 50_000
# ADC-table broadcast bound (rows = |new batch| x M x ks): under the cap the
# per-batch distance table broadcasts (~180 B/row in the hash relation,
# measured — 262144 rows ~ 47 MB); past it the lookup shuffle-hashes with
# dt as the build side, partitions scaled so each task's build map stays
# under _ADC_ROWS_PER_TASK rows at any corpus size
_ADC_BC_ROWS = 262_144
_ADC_ROWS_PER_TASK = 262_144
# "_s" = SCALED-K state-family version: cells trained over the
# clusterable serving corpus with K = ceil(sqrt(N_old)) — a new family
# name so stale fixed-K / raw-corpus caches can never serve this contract
# (the "_t" precedent: a contract change renames the family)
IVF_CENTS = StateFamily("ivf_cents_s")
IVF_ASSIGN = StateFamily("ivf_assign_s")


# ---------------------------------------------------------------------------
# The clusterable serving corpus — planted neighborhoods by exact shared
# arithmetic. Every component is two int64 LCG mixes + one IEEE double
# divide/scale/add, so Spark and DuckDB produce BIT-IDENTICAL doubles
# (pinned by tests/test_serving_scaledk_r10.py::test_corpus_bit_identical)
# and the whole derivation lives inside the oracle hash. eps = 2^-4 keeps
# the additions exact-scaled; per-component noise is ~6% of the base RMS,
# so within-cluster cosine ~0.99 while cross-cluster cosine is hyperplane
# noise (~N(0, 1/8) at 64-d) — neighborhoods are real, separations wide.
# ---------------------------------------------------------------------------


def serving_params(n: int) -> tuple[int, int]:
    """(g, bmod) for an n-row corpus: g = ceil(sqrt(n)) planted
    neighborhoods, bmod the fixed-size ingest-batch modulus."""
    import math

    return math.ceil(math.sqrt(n)), max(_INC_MOD, n // _SRV_BATCH_ROWS)


def clustered_corpus(emb: DataFrame, g: int) -> DataFrame:
    """(vec_id, embedding): the planted-neighborhood corpus derived from
    the table's vec_ids — cluster id = vec_id % g, component =
    base(cluster, pos) + 2^-4 * noise(vec_id, pos), both mixes int64 LCGs
    mod 2^31-1 mapped to [-0.5, 0.5). Mirrored verbatim by _SRV_CTES."""
    expr = f"""transform(sequence(0, {_DIM - 1}), p ->
      (CAST(((vec_id % {g}L) * 1103515245L + p * 12345L + 987654321L) % 2147483647L AS DOUBLE)
         / 2147483647.0D - 0.5D)
      + 0.0625D * (CAST((vec_id * 69069L + p * 2654435761L + 1234567L) % 2147483647L AS DOUBLE)
         / 2147483647.0D - 0.5D))"""
    return emb.select("vec_id", F.expr(expr).alias("embedding"))


def serving_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(corpus, bmod) for the incremental serving family at this scale.

    The table count feeding (g, bmod) is memoized per scale: a fresh
    count job per invocation would be pure driver-job tax for a value that
    is constant per scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    g, bmod = serving_params(table_count(spark, sf_dir, "embeddings"))
    return clustered_corpus(emb, g), bmod


def serving_split(
    spark: SparkSession, sf_dir: str, planted: bool = True
) -> tuple[DataFrame, DataFrame, int]:
    """(new, old, bmod): the one batch split of the serving family.
    vec_id % bmod == 0 is the new ingest batch; every other row is the
    indexed corpus. `planted` splits the planted serving corpus (every
    registered query); planted=False splits the provided table with the
    same bmod (raw_serving_recall)."""
    if planted:
        corp, bmod = serving_corpus(spark, sf_dir)
    else:
        corp = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        _, bmod = serving_params(table_count(spark, sf_dir, "embeddings"))
    is_new = F.col("vec_id") % bmod == 0
    return corp.where(is_new), corp.where(~is_new), bmod


# the corpus-derivation CTEs every serving oracle starts from: srvp the
# derived params (g, bmod) from the table count, cemb the planted corpus
# at (vec_id, pos, x) grain — the exact SQL image of clustered_corpus
_SRV_CTES = f"""srvp AS (
  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS g,
         GREATEST({_INC_MOD}, COUNT(*) // {_SRV_BATCH_ROWS}) AS bmod
  FROM embeddings
),
cemb AS (
  SELECT e.vec_id, p.pos,
         (CAST(((e.vec_id % s.g) * 1103515245 + p.pos * 12345 + 987654321) % 2147483647 AS DOUBLE)
            / 2147483647.0 - 0.5)
         + 0.0625 * (CAST((e.vec_id * 69069 + p.pos * 2654435761 + 1234567) % 2147483647 AS DOUBLE)
            / 2147483647.0 - 0.5) AS x
  FROM embeddings e
  CROSS JOIN srvp s
  CROSS JOIN (SELECT CAST(unnest(range({_DIM})) AS BIGINT) AS pos) p
)"""


def _hash_sample_ids(df: DataFrame, k: int) -> list[int]:
    """The k smallest vec_ids by md5 rank — a deterministic uniform
    sample, selected by TakeOrdered(k) (distributed; k is
    dimension-sized driver state)."""
    from d3d_etl_spark.functions.strings import md5_int

    return [
        r["vec_id"]
        for r in df.select("vec_id")
        .orderBy(md5_int(F.col("vec_id").cast("string")).asc(), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def _train_cells(old: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """(cells, cents, k): K = ceil(sqrt(|old|)) coarse cells learned from
    the `old` vectors alone. cells is (vec_id, label), cents the
    exact-integer (label, pos, c) centroids of those cells.

    Seeding is DETERMINISTIC K-SAMPLE: the K smallest vec_ids by md5 rank
    seed one cell each, then two Lloyd refinements. Random-PARTITION
    seeding (kmeans2_assign_emb's hash rule) puts every initial centroid
    at ~the grand mean, and on a clusterable corpus the planted blocs
    then pile into a handful of cells (measured: 4 non-empty of K=20 at
    sf0.01), the classic empty-cell collapse. A seed that is an actual
    vector sits at full vector norm, so distinct neighborhoods claim
    distinct cells. Seed selection is a TakeOrdered(k) plus a K-row
    broadcast map: dimension-bounded driver state."""
    import math

    spark = old.sparkSession
    k = math.ceil(math.sqrt(old.count()))
    seed_map = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(_hash_sample_ids(old, k))],
        "vec_id long, cluster int",
    )
    cents1 = (
        old.join(F.broadcast(seed_map), "vec_id")
        .select("cluster", F.posexplode("embedding").alias("pos", "x"))
        .select("cluster", "pos", F.col("x").cast("double").alias("c"))
    )
    asgn1 = barrier(assign_nearest_centroid(old, cents1, "cluster"))
    relabeled = old.join(
        asgn1.select("vec_id", F.col("assigned_label").alias("cluster")).hint(
            "shuffle_hash"
        ),
        "vec_id",
    )
    cents2 = label_centroids(relabeled, "cluster")
    # the centroid mean below and raw_serving_recall's assignment both
    # read cells (ivf_index_state's one-time build reads it once)
    cells = barrier(
        assign_nearest_centroid(old, cents2, "cluster").select(
            "vec_id", F.col("assigned_label").alias("label")
        )
    )
    cents = label_centroids(old.join(cells.hint("shuffle_hash"), "vec_id"), "label")
    return cells, cents, k


def ivf_index_state(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) of the batch-1 index, persisted per scale.

    Centroids: (label, pos, c) of the K = ceil(sqrt(N_old)) cells that
    _train_cells learns from the old serving-corpus vectors (no planted
    labels consumed); assignments: (vec_id, assigned_label, sim) from the
    same nearest-centroid rule the steady-state query uses. The
    incremental oracle reads THIS persisted state, so training changes the
    index content, not the serving contract."""

    def build_cents(tmp: str) -> None:
        _, cents, _ = _train_cells(serving_split(spark, sf_dir)[1])
        cents.write.mode("overwrite").parquet(tmp)

    cents = read_parquet(spark, IVF_CENTS.ensure(sf_dir, build_cents))

    def build_assign(tmp: str) -> None:
        assign_nearest_centroid(serving_split(spark, sf_dir)[1], cents, "label").write.mode(
            "overwrite"
        ).parquet(tmp)

    return cents, read_parquet(spark, IVF_ASSIGN.ensure(sf_dir, build_assign))


# The IVF-state probe -> candidate CTE chain, shared by z_sim_incremental
# (exact-cosine verify) and z_sim_pq_incremental (ADC verify over stored
# codes) — one definition so the two incremental serving paths can never
# drift in WHO is a candidate.
_INC_PROBE_CTES = f"""{_SRV_CTES},
newv AS (
  SELECT c.vec_id, c.x, c.pos
  FROM cemb c CROSS JOIN srvp s WHERE c.vec_id % s.bmod = 0
),
cents AS (SELECT label, pos, c FROM read_parquet('{IVF_CENTS.glob}')),
assign AS (SELECT vec_id AS old_id, assigned_label AS label
           FROM read_parquet('{IVF_ASSIGN.glob}')),
pscore AS (
  SELECT n.vec_id, c.label,
         SUM(n.x * c.c) AS dot, SUM(n.x * n.x) AS nx2, SUM(c.c * c.c) AS nc2
  FROM newv n JOIN cents c ON n.pos = c.pos
  GROUP BY 1, 2
),
pranked AS (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) DESC, label
         ) AS rn
  FROM pscore
),
probe AS (SELECT vec_id, label, rn FROM pranked WHERE rn <= {_INC_NPROBE}),
cand AS (
  SELECT p.vec_id, a.old_id, p.label
  FROM probe p JOIN assign a ON p.label = a.label
)"""

def _exact_top1_ctes(pairs: str) -> str:
    """SQL image of _exact_top1 over the (vec_id, old_id) CTE `pairs`:
    the candidate old vectors' selective fetch, the rounded cosine, and
    top1 (vec_id, old_id, sim), first by (sim DESC, old_id). Needs the
    srvp, cemb and newv CTEs of _INC_PROBE_CTES."""
    return f"""oldv AS (
  SELECT c.vec_id AS old_id, c.x AS y, c.pos
  FROM cemb c CROSS JOIN srvp s
  WHERE c.vec_id % s.bmod != 0
    AND c.vec_id IN (SELECT old_id FROM {pairs})
),
nnorm AS (SELECT vec_id, SUM(x * x) AS nx2 FROM newv GROUP BY 1),
onorm AS (SELECT old_id, SUM(y * y) AS ny2 FROM oldv GROUP BY 1),
dots AS (
  SELECT c.vec_id, c.old_id, SUM(n.x * o.y) AS dot
  FROM {pairs} c
  JOIN newv n ON n.vec_id = c.vec_id
  JOIN oldv o ON o.old_id = c.old_id AND o.pos = n.pos
  GROUP BY 1, 2
),
sims AS (
  SELECT d.vec_id, d.old_id,
         ROUND(d.dot / (SQRT(nn.nx2) * SQRT(oo.ny2)), 6) AS sim
  FROM dots d
  JOIN nnorm nn ON d.vec_id = nn.vec_id
  JOIN onorm oo ON d.old_id = oo.old_id
),
top1 AS (
  SELECT vec_id, old_id, sim FROM (
    SELECT vec_id, old_id, sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, old_id) AS rn
    FROM sims
  ) WHERE rn = 1
)"""


_INC_ORACLE = f"""
WITH {_INC_PROBE_CTES},
{_exact_top1_ctes("cand")}
SELECT t.vec_id, p.label AS assigned_label, t.old_id AS nn_id, t.sim AS nn_sim
FROM top1 t JOIN probe p ON p.vec_id = t.vec_id AND p.rn = 1
"""


def _inc_probe_cand(
    spark: SparkSession,
    new_batch: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    pairs_per_task: int = _INC_PAIRS_PER_TASK,
    nprobe: int = _INC_NPROBE,
    cand_key: str = "vec_id",
) -> tuple[DataFrame, DataFrame, dict]:
    """probe (vec_id, label, rn), candidate pairs (vec_id, old_id) and a
    stats dict for the ingest batch `new_batch` (vec_id, embedding) off
    the persisted IVF state — the engine twin of _INC_PROBE_CTES, shared
    by the exact-cosine and the ADC incremental serving paths. `cand`
    comes back lazy with pair-count-scaled partitioning (bounds every
    downstream per-task state; fixed-width partitioning of a pair-grain
    table measured a 2.2 GB task at sf1); a caller that reads it twice
    barriers it. `cand_key`: the ADC serving path consumes cand once and
    immediately re-keys it on old_id for the codes join — for it, a
    vec_id layout means two back-to-back exchanges of the pair table.
    `nprobe` defaults to the serving contract's _INC_NPROBE;
    the raw-corpus recall sweep passes other values to publish
    the recall/cost trade curve — every REGISTERED query keeps the
    default.

    stats: {"n_pairs", "n_probe_rows", "n_old"} — exact scalars the
    fan-out collect already pays for. n_pairs == cand.count() (every
    (probe, old) pair of a shared label meets exactly once by
    construction), n_probe_rows == probe.count() (sum of per-label probe
    counts over ALL probe labels), n_old == assign.count() (sum of
    per-label occupancies over ALL assign labels — the outer join below
    keeps labels the probes missed). Callers that previously re-counted
    these tables would pay three extra driver jobs per invocation; they
    read the dict instead."""
    from d3d_etl_spark.functions.vectors import sim_desc_key
    from d3d_etl_spark.operators.similarity import centroid_arrays

    # ARRAY-NATIVE probe ranking: posexploding the batch against the
    # centroid components (|new| x dim x K rows through a hash aggregate)
    # and ranking with a row_number window costs two exchanges plus a
    # per-task sort. Broadcasting the centroid
    # list as ONE row of array<struct<label, c_arr, nc2>> turns the whole
    # chain into a single projection: per vector, fold each centroid's
    # dot sequentially (ascending pos — the same effective order as the
    # replaced SUMs), sort the K-entry key array, slice nprobe, explode.
    # The sort key struct (sim_desc_key(psim), label) is the
    # window's (psim DESC NULLS LAST, label ASC) exactly, so probe membership
    # AND rn ranks are unchanged. fan_out: the batch otherwise rides the
    # embeddings scan's single split at bench scale and the fold chain
    # would run on one core; production-sized scans pass through.
    clist = centroid_arrays(cents, "label").agg(
        F.array_sort(F.collect_list(F.struct("label", "c_arr", "nc2"))).alias("_cents")
    )
    x = F.col("embedding")
    nx2 = F.aggregate(
        x, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )

    def _pkey(s):
        prod = F.zip_with(x, s["c_arr"], lambda a, b: a.cast("double") * b)
        d = F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)
        psim = F.round(F.try_divide(d, F.sqrt(F.col("_nx2")) * F.sqrt(s["nc2"])), 6)
        return F.struct(
            sim_desc_key(psim).alias("k"),
            s["label"].alias("label"),
        )

    probe = barrier(
        fan_out(new_batch)
        .where(x.isNotNull() & (F.size(x) > 0))
        .crossJoin(F.broadcast(clist))
        .withColumn("_nx2", nx2)
        .select(
            "vec_id",
            F.posexplode(
                F.slice(F.array_sort(F.transform(F.col("_cents"), _pkey)), 1, nprobe)
            ).alias("_rn0", "_p"),
        )
        .select(
            "vec_id",
            F.col("_p.label").alias("label"),
            (F.col("_rn0") + 1).cast("int").alias("rn"),
        )
    )
    # DETERMINISTIC, SKEW-PROOF fan-out. The cell join multiplies each probe
    # row by its cell's occupancy, and k-means cells are NOT balanced — at the
    # sf1 slice the isometry replicas collapse most vectors into a few cells,
    # so neither a label-hash shuffle (K=8 active tasks), a planner-chosen
    # broadcast (spread nullified — one map task buffered the whole |cand|
    # exchange write, 1.38 GB measured), nor a FIXED per-label fan (measured:
    # the hot cell's slices still emitted ~7M pairs each, 608 MB opportunistic
    # sort buffers + a 917 MB single-task checkpoint read) bounds the worst
    # task.
    #
    # The per-label pair load is EXACTLY probes(l) x occupancy(l) — a
    # K-row driver scalar from two label-grain aggregates. So slice each
    # label into nsub(l) = ceil(probes(l)*occ(l) / pairs_per_task)
    # id-hash sub-slices (the FUZZY_MAX_BLOCK recipe at cell grain):
    # probes replicate to every slice of their label, old rows hash into
    # one, each (probe, old) pair meets exactly once, and EVERY join task
    # emits <= pairs_per_task pairs by construction — the exchange
    # write, the checkpoint partitions, and the shuffled-hash build
    # (probes of one label — ingest-batch grain) are all bounded at any
    # corpus size or cell skew. The count-scaled vec_id repartition then
    # carries one balanced partitioning through the downstream pair
    # joins + top-1 window (the ride-one-partitioning pattern).
    fan = spark.sparkContext.defaultParallelism
    # FULL OUTER on label: an inner join would drop probe labels with no
    # members and assign labels no probe reached — fine for the pair fan
    # (their pair load is zero), but the batch/corpus totals would then
    # need a re-count downstream. With both
    # sides kept, sum(np) == probe.count() and sum(no) == assign.count()
    # exactly; the fan tables below filter back to the inner rows, so the
    # emitted pair set and its partitioning are byte-identical.
    all_sizes = (
        probe.groupBy("label").agg(F.count("*").alias("np"))
        .join(
            assign.groupBy("label").agg(F.count("*").alias("no")),
            "label",
            "full_outer",
        )
        .collect()
    )  # K rows — dimension-bounded driver scalar
    stats = {
        "n_pairs": sum((r.np or 0) * (r.no or 0) for r in all_sizes),
        "n_probe_rows": sum(r.np or 0 for r in all_sizes),
        "n_old": sum(r.no or 0 for r in all_sizes),
    }
    sizes = [r for r in all_sizes if r.np and r.no]
    n_pairs = stats["n_pairs"]
    cand_parts = max(fan, -(-n_pairs // pairs_per_task))
    nsub = spark.createDataFrame(
        [
            (r.label, max(1, -(-(r.np * r.no) // pairs_per_task)))
            for r in sizes
        ],
        "label long, _nsub int",
    )
    # the explicit numPartitions repartitions are LOAD-BEARING: the fan
    # sides' shuffled BYTES are tiny (narrow rows — the blow-up is the
    # join's OUTPUT), so AQE coalesces a planner-made (label, fan)
    # exchange down to a handful of tasks and re-concentrates the fan-out
    # (measured: 9 tasks emitting 28M pairs, 272 MB task peak). A
    # user-specified repartition(N, keys) is exempt from AQE coalescing,
    # and both sides sharing (N, keys) means the join adds no exchange —
    # one task per sub-slice, <= pairs_per_task pairs each.
    n_slices = max(fan, sum(
        max(1, -(-(r.np * r.no) // pairs_per_task)) for r in sizes
    ))
    probe_fan = (
        probe.join(F.broadcast(nsub), "label")
        .withColumn("_fan", F.explode(F.expr("sequence(0, _nsub - 1)")))
        .drop("_nsub")
        .repartition(n_slices, "label", "_fan")
    )
    assign_fan = (
        assign.join(F.broadcast(nsub), "label")
        .withColumn("_fan", F.pmod(F.hash("old_id"), F.col("_nsub")).cast("int"))
        .drop("_nsub")
        .repartition(n_slices, "label", "_fan")
    )
    cand = (
        probe_fan.hint("shuffle_hash")
        .join(assign_fan, ["label", "_fan"])
        # label rides along: the residual-ADC path scores each candidate
        # against the new vector's residual IN THE OLD VECTOR'S CELL
        .select("vec_id", "old_id", "label")
        .repartition(cand_parts, cand_key)
    )
    return probe, cand, stats


def _exact_top1(pairs: DataFrame, new: DataFrame, old: DataFrame) -> DataFrame:
    """(vec_id, old_id, sim): each new vector's best candidate by exact
    6-dp cosine over the candidate pairs `pairs` (vec_id, old_id), the
    split's `new` and `old` (vec_id, embedding) frames. The engine twin
    of _exact_top1_ctes; `pairs` is read twice, so callers barrier it.

    Only candidate old vectors are read back: the candidate-id set is the
    semi join's build side (pair-bounded; the hint keeps the planner off a
    sorting SMJ). The verify is ARRAY-NATIVE, one zip_with dot per pair:
    an exploded-components triple join materializes |pairs| x dim rows
    (measured: a 2.2 GB checkpoint partition read by ONE task at sf1).
    The 6-dp rounding absorbs the <1e-13 fold divergence from the
    oracle's exploded SUM.

    Top-1 is a min_by HASH AGGREGATE over (sim_desc_key(sim), old_id),
    exactly a (sim desc, old_id asc) window's first row: old_id is unique
    per group, so the order has no ties. It rides the pairs' vec_id
    partitioning (no further exchange) and skips the window's per-task
    sort of the pair-grain table."""
    from d3d_etl_spark.functions.vectors import cosine, sim_desc_key

    old_vecs = old.join(
        pairs.select(F.col("old_id").alias("vec_id")).distinct().hint("shuffle_hash"),
        "vec_id",
        "left_semi",
    ).select(F.col("vec_id").alias("old_id"), F.col("embedding").alias("yv"))
    new_vecs = new.select("vec_id", F.col("embedding").alias("xv"))
    return (
        pairs.join(new_vecs.hint("shuffle_hash"), "vec_id")
        .join(old_vecs.hint("shuffle_hash"), "old_id")
        .select(
            "vec_id",
            "old_id",
            F.round(cosine(F.col("xv"), F.col("yv")), 6).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("old_id", "sim"),
                F.struct(sim_desc_key(F.col("sim")).alias("k"), "old_id"),
            ).alias("_b")
        )
        .select("vec_id", F.col("_b.old_id").alias("old_id"), F.col("_b.sim").alias("sim"))
    )


def _ivf_assign_l(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(cents, assign) of ivf_index_state, assign keyed (old_id, label)
    as _inc_probe_cand reads it."""
    cents, assign = ivf_index_state(spark, sf_dir)
    return cents, assign.select(
        F.col("vec_id").alias("old_id"), F.col("assigned_label").alias("label")
    )


@register(
    "z_sim_incremental", _INC_ORACLE, tags=("similarity", "incremental"), bench=True
)
def z_sim_incremental(
    spark: SparkSession, sf_dir: str, pairs_per_task: int = _INC_PAIRS_PER_TASK
) -> DataFrame:
    """Nearest existing neighbor for each new-batch vector, via the stored
    IVF state: new-side work only + selective candidate fetch.
    `pairs_per_task` exposes the fan/score grain for the stress tier's
    serving-grain saturation sweep (partitioning-only; the result set is
    grain-independent)."""
    new, old, _ = serving_split(spark, sf_dir)
    probe, cand, _ = _inc_probe_cand(
        spark, new, *_ivf_assign_l(spark, sf_dir), pairs_per_task
    )
    top1 = _exact_top1(barrier(cand), new, old)
    return top1.join(
        probe.where(F.col("rn") == 1).select("vec_id", "label").hint("shuffle_hash"),
        "vec_id",
    ).select(
        "vec_id",
        F.col("label").alias("assigned_label"),
        F.col("old_id").alias("nn_id"),
        F.col("sim").alias("nn_sim"),
    )


def inc_serving_profile(spark: SparkSession, sf_dir: str) -> dict:
    """Measured serving-scale profile at this corpus scale, for the stress
    tier's sqrt-growth contract: candidate
    pairs per served vector must grow ~sqrt(10)x across an sf0.1 -> sf1
    pair (Theta(nprobe * N/K) with K = ceil(sqrt(N_old))), and the batch
    row count must be ~_SRV_BATCH_ROWS once the corpus clears 4x that."""
    new, _, bmod = serving_split(spark, sf_dir)
    n = table_count(spark, sf_dir, "embeddings")  # the split covers the table
    cents, assign = _ivf_assign_l(spark, sf_dir)
    _, _, stats = _inc_probe_cand(spark, new, cents, assign)
    n_batch = n - stats["n_old"]
    n_pairs = stats["n_pairs"]
    return {
        "n": n,
        "n_old": n - n_batch,
        "bmod": bmod,
        "batch_rows": n_batch,
        "k_cells": cents.select("label").distinct().count(),
        "n_cand_pairs": n_pairs,
        "cand_per_new": round(n_pairs / max(1, n_batch), 1),
    }


def _bruteforce_nn(new_rows: list, old_rows: list) -> dict[int, int]:
    """True nearest OLD neighbor per new-batch vector by chunked numpy
    brute force over the collected rows of serving_split's two sides —
    6-dp-rounded cosine, (sim desc, old_id asc) tie-break,
    the engine/oracle ranking contract. Rounding is HALF-AWAY (the shared
    _np_round6_half_away helper), matching F.round/DuckDB ROUND — np.round
    is banker's, so a sim on an exact 5e-7 boundary would otherwise give
    the auditor a different "true NN" than the engine's own tie-break
    contract and turn the recall floors into noise.
    Driver-side audit machinery (the corpus collects are 2k/20k rows at
    the audited scales)."""
    import numpy as np

    from d3d_etl_spark.operators.similarity import _np_round6_half_away

    def unit(rows):
        X = np.array([r["embedding"] for r in rows])
        return np.array([r["vec_id"] for r in rows]), X / np.linalg.norm(
            X, axis=1, keepdims=True
        )

    new_ids, new_X = unit(new_rows)
    old_ids, old_X = unit(old_rows)
    out: dict[int, int] = {}
    for i0 in range(0, len(new_ids), 256):
        S = _np_round6_half_away(new_X[i0 : i0 + 256] @ old_X.T)
        for j in range(S.shape[0]):
            best = S[j].max()
            out[int(new_ids[i0 + j])] = int(old_ids[S[j] == best].min())
    return out


def serving_recall_profile(spark: SparkSession, sf_dir: str) -> dict:
    """Measured recall@1 of the exact and rerank serving arms vs the
    brute-force true nearest old neighbor ON THE PLANTED CORPUS at this
    scale — the audit twin of tests/test_serving_scaledk_r10.py's pins,
    run where the walls are quoted from (the sqrt-N candidate cut must
    not silently trade recall at scale)."""
    from d3d_etl_spark.queries.registry import REGISTRY

    new, old, _ = serving_split(spark, sf_dir)
    true_nn = _bruteforce_nn(new.collect(), old.collect())
    out: dict = {"n_new": len(true_nn)}
    for key, qname in (("exact", "z_sim_incremental"), ("rerank", "z_sim_pq_rerank")):
        got = {
            r["vec_id"]: r["nn_id"]
            for r in REGISTRY[qname].fn(spark, sf_dir).collect()
        }
        hits = sum(1 for v, nid in got.items() if true_nn.get(v) == nid)
        out[f"{key}_recall@1"] = round(hits / max(1, len(got)), 4)
        out[f"{key}_hits"] = f"{hits}/{len(got)}"
    return out


def raw_serving_recall(
    spark: SparkSession, sf_dir: str, nprobe: int = _INC_NPROBE
) -> dict:
    """Worst-case serving recall row: the SAME scaled-K
    train/probe/verify chain served over the PROVIDED embeddings
    table — no planted neighborhoods, ephemeral state (nothing
    persisted). The synthetic test embeddings are near-isotropic
    (between-cluster variance ~2%), so nearest-neighbor structure is
    barely clusterable and nprobe=3 of K=ceil(sqrt(N)) cells fetches
    ~3*sqrt(N) of N candidates — THIS row documents what that candidate
    cut costs in recall on unstructured data, next to the planted-corpus
    floors the tests pin. `nprobe` lets
    the stress tier publish the full recall/cost knob curve
    (nprobe in {3, 8, 16, K}); the nprobe=K point probes every cell, so
    its candidates are ALL old vectors and recall@1 must be exactly 1.0
    — a brute-force-equivalence sanity check on the whole chain. The
    cells serve as the assignment (no reassignment pass)."""
    new, old, _ = serving_split(spark, sf_dir, planted=False)
    cells, cents, k_cells = _train_cells(old)
    probe, cand, rstats = _inc_probe_cand(
        spark, new, cents, cells.select(F.col("vec_id").alias("old_id"), "label"),
        nprobe=min(nprobe, k_cells),
    )
    got = {r["vec_id"]: r["old_id"] for r in _exact_top1(barrier(cand), new, old).collect()}
    true_nn = _bruteforce_nn(new.collect(), old.collect())
    hits = sum(1 for v, nid in got.items() if true_nn.get(v) == nid)
    return {
        "n": table_count(spark, sf_dir, "embeddings"),
        "nprobe": min(nprobe, k_cells),
        "k_cells": k_cells,
        "n_new": len(true_nn),
        "served": len(got),
        "cand_per_new": round(rstats["n_pairs"] / max(1, len(true_nn)), 1),
        "recall@1": round(hits / max(1, len(got)), 4) if got else 0.0,
        "hits": f"{hits}/{len(got)}",
    }


# ---------------------------------------------------------------------------
# z_sim_semdedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
# dedup = k-means cluster the embeddings, search near-duplicate pairs only
# WITHIN each cluster, and from every qualifying pair drop the member whose
# cosine to its cluster centroid is HIGHER (the paper keeps the duplicate
# farthest from the centroid — the most "informative" copy). Composes the
# oracled kmeans arm (hash-seeded Lloyd step, sim_assign_family) with the
# within-cluster pair operator; the drop rule is a deterministic
# (centroid_sim, vec_id) lexicographic loser per pair, no recursion.
# Scale shape: pair work is sum(c_i^2) not n^2 (cluster-local self-join),
# centroid table is k*dim broadcast rows, the drop set is pair-bounded and
# broadcast back over the corpus. Output: one row per vector with its
# assigned cluster, centroid sim, and kept flag (the full dedup decision —
# every assignment participates in the hash).
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35

# shared CTE body (e0 -> asgn -> pairs -> drops): z_sim_semdedup publishes
# the per-vector decision; z_sim_d4 stacks prototype pruning on top
_SEMDEDUP_CTES = f"""e0 AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
comps AS (
  SELECT vec_id,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % {_K_CLUSTERS} AS cluster,
         x, pos
  FROM e0
),
cents AS (
  SELECT cluster, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM comps GROUP BY cluster, pos
),
scores AS (
  SELECT e.vec_id, c.cluster,
         SUM(e.x * c.c) AS dot, SUM(e.x * e.x) AS nx2, SUM(c.c * c.c) AS nc2
  FROM comps e JOIN cents c ON e.pos = c.pos
  GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, cluster, ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) AS csim,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) DESC, cluster
         ) AS rn
  FROM scores
),
asgn AS (SELECT vec_id, cluster, csim FROM ranked WHERE rn = 1),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.csim AS ca, b.csim AS cb,
         SUM(ea.x * eb.x) AS dot, SUM(ea.x * ea.x) AS na2, SUM(eb.x * eb.x) AS nb2
  FROM asgn a JOIN asgn b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN e0 ea ON ea.vec_id = a.vec_id
  JOIN e0 eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
  GROUP BY 1, 2, 3, 4
),
drops AS (
  SELECT DISTINCT
         CASE WHEN ca > cb OR (ca = cb AND id_a > id_b) THEN id_a ELSE id_b END AS vec_id
  FROM p
  WHERE ROUND(dot / (SQRT(na2) * SQRT(nb2)), 6) >= {_SEMDEDUP_TAU}
)"""

_SEMDEDUP_ORACLE = f"""
WITH {_SEMDEDUP_CTES}
SELECT a.vec_id, a.cluster, a.csim,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM asgn a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""


# runaway-cluster bound for the pair stage: the GEMM engine materializes one
# dense c x c sims matrix per cluster, so the largest admissible cluster is a
# MEMORY bound, not a tuning knob — 8192^2 float64 = 512 MB per task, the
# ceiling for a healthy executor. Clusters above it are re-split by the
# content-based second k-means level (resplit_oversized_clusters) before any
# pair work; at the k ~ n/1000 sizing rule this never fires on a balanced
# corpus (sf0.1 clusters are ~250 rows), so the guard costs one
# cluster-cardinality count probe — and on a skewed corpus it is the
# difference between a bounded task and an OOM (tests/test_skew.py drives a
# planted mega-cluster through z_sim_semdedup itself).
_SEMDEDUP_MAX_CLUSTER = 8192


def _semdedup_pair_scope(clustered: DataFrame) -> DataFrame:
    """Pair-SEARCH scope for the SemDeDup stage: the published `cluster`
    label, refined by the runaway-cluster guard into `_pair_lbl`. Only the
    pair search narrows to the refined label — the published assignment,
    csim, and drop rule all keep the original cluster, so the guard is
    invisible (a count probe) unless a cluster actually exceeds the memory
    bound. Content-based re-splitting keeps exact/near-dup recall: identical
    vectors always share a sub-cluster (operators/similarity.py
    resplit_oversized_clusters).

    ORACLE CONTRACT (explicit, not an accident): the registered DuckDB
    oracles model the UNGUARDED pair grain — the paper's semantics, pair
    search over the full cluster. When the guard fires (a cluster above
    _SEMDEDUP_MAX_CLUSTER), the engine INTENTIONALLY diverges: pairs
    straddling a sub-cluster boundary are not scored, trading bounded task
    memory for tail recall exactly as the SemDeDup cluster restriction
    itself already trades k-means-boundary recall for sum-c^2 work. The
    driver corpora never trip the bound (pinned no-op in
    tests/test_skew.py), so oracle parity holds everywhere it is checked;
    the guarded regime is verified by the planted-skew smoke (recall on
    planted dups, bounded scope) rather than by SQL, which cannot express
    the iterative content re-split."""
    from d3d_etl_spark.operators.similarity import resplit_oversized_clusters

    scoped = clustered.withColumn("_pair_lbl", F.col("cluster"))
    return resplit_oversized_clusters(
        scoped, max_size=_SEMDEDUP_MAX_CLUSTER, label_col="_pair_lbl"
    )


def _semdedup_parts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared SemDeDup stages: (clustered, drops). `clustered` carries
    (vec_id, embedding, ..., cluster, csim) behind a localCheckpoint barrier
    (one assignment pass feeds both pair-join sides and the final output);
    `drops` is the pair-bounded loser set."""
    from d3d_etl_spark.functions.strings import md5_int

    emb = load_table(spark, sf_dir, "embeddings")
    seeded = emb.withColumn(
        "cluster", F.pmod(md5_int(F.col("vec_id").cast("string")), F.lit(_K_CLUSTERS))
    )
    cents = label_centroids(seeded, "cluster")
    # unique-key corpus-corpus join: sort-free shuffled hash (per-partition
    # build side is corpus/n_parts rows — the SMJ sorts buy nothing here)
    clustered = barrier(emb.join(
        assign_nearest_centroid(seeded, cents, "cluster")
        .select(
            "vec_id",
            F.col("assigned_label").alias("cluster"),
            F.col("sim").alias("csim"),
        )
        .hint("shuffle_hash"),
        "vec_id",
    ))
    # csim rides through the pair stage (carry=) — the loser rule reads it
    # off the pair row; no corpus-sized join-back. GEMM engine: one BLAS
    # task per cluster (2x the salted HOF join even at these 64 dims, an
    # order of magnitude at production dims); round-6 keeps it
    # hash-identical to the HOF engine AND the DuckDB oracle, and the
    # equivalence is pinned in tests/test_operators.py. The pair search
    # runs on the GUARDED scope label (_semdedup_pair_scope): oversized
    # clusters are content-re-split below the GEMM memory bound first.
    from d3d_etl_spark.operators.similarity import within_cluster_near_pairs_gemm

    pairs = within_cluster_near_pairs_gemm(
        _semdedup_pair_scope(clustered),
        _SEMDEDUP_TAU,
        label_col="_pair_lbl",
        carry=("csim",),
    )
    loser = F.when(
        (F.col("csim_a") > F.col("csim_b"))
        | ((F.col("csim_a") == F.col("csim_b")) & (F.col("id_a") > F.col("id_b"))),
        F.col("id_a"),
    ).otherwise(F.col("id_b"))
    return clustered, pairs.select(loser.alias("vec_id")).distinct()


@register("z_sim_semdedup", _SEMDEDUP_ORACLE, tags=("similarity", "dedup"))
def z_sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over the embeddings table: hash-seeded k-means step ->
    within-cluster cosine pairs (>= tau) -> drop the closer-to-centroid
    member of each pair. Beyond-reference LLM-pipeline operator."""
    clustered, drops = _semdedup_parts(spark, sf_dir)
    # drop set is pair-bounded (<< corpus) -> broadcast flag join
    return clustered.join(
        F.broadcast(drops.withColumn("_d", F.lit(1))), "vec_id", "left"
    ).select(
        "vec_id",
        "cluster",
        "csim",
        F.when(F.col("_d").isNull(), 1).otherwise(0).cast("int").alias("kept"),
    )


# ---------------------------------------------------------------------------
# z_sim_d4 — the D4 pipeline (Tirumala et al. 2023, arXiv:2308.12284):
# SemDeDup followed by SSL-prototype pruning (Sorscher et al. 2022) — after
# removing semantic duplicates, also prune the most PROTOTYPICAL fraction of
# each cluster (the survivors closest to their centroid carry the least
# marginal information; the hard, far-from-centroid examples are kept).
# Deterministic: survivors ranked per cluster by (csim DESC, vec_id ASC);
# the top floor(n_c / DEN) rows are pruned. Output: one row per vector with
# its terminal stage ('semdedup_drop' | 'prototype_drop' | 'kept').
# Scale shape: everything SemDeDup had, plus ONE per-cluster window pass
# (bounded by cluster size — same k sizing rule): the survivor rank is a
# running sum of the survivor indicator over the full (csim DESC, vec_id)
# order, which equals ROW_NUMBER over the survivors-only partition — no
# survivors-table join-back.
# ---------------------------------------------------------------------------

_D4_PRUNE_DEN = 4  # prune the most-prototypical 1/4 of each cluster's survivors

_D4_ORACLE = f"""
WITH {_SEMDEDUP_CTES},
surv AS (
  SELECT a.vec_id, a.cluster, a.csim
  FROM asgn a LEFT JOIN drops d ON a.vec_id = d.vec_id
  WHERE d.vec_id IS NULL
),
r AS (
  SELECT vec_id,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY csim DESC, vec_id) AS rn,
         COUNT(*) OVER (PARTITION BY cluster) AS nc
  FROM surv
)
SELECT a.vec_id, a.cluster, a.csim,
       CASE WHEN d.vec_id IS NOT NULL THEN 'semdedup_drop'
            WHEN r.rn <= r.nc // {_D4_PRUNE_DEN} THEN 'prototype_drop'
            ELSE 'kept' END AS stage
FROM asgn a
LEFT JOIN drops d ON a.vec_id = d.vec_id
LEFT JOIN r ON a.vec_id = r.vec_id
"""


@register("z_sim_d4", _D4_ORACLE, tags=("similarity", "dedup"), bench=True)
def z_sim_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 data selection: SemDeDup drops, then prototype-prune the
    closest-to-centroid 1/DEN of each cluster's survivors. Beyond-reference
    LLM-pipeline operator."""
    from pyspark.sql import Window

    clustered, drops = _semdedup_parts(spark, sf_dir)
    flagged = clustered.join(
        F.broadcast(drops.withColumn("_d", F.lit(1))), "vec_id", "left"
    ).select(
        "vec_id",
        "cluster",
        "csim",
        F.when(F.col("_d").isNull(), 1).otherwise(0).alias("_surv"),
    )
    w_ord = Window.partitionBy("cluster").orderBy(F.desc("csim"), F.asc("vec_id"))
    w_all = Window.partitionBy("cluster")
    ranked = flagged.select(
        "vec_id",
        "cluster",
        "csim",
        "_surv",
        # survivor rank = running survivor count in the full order
        F.sum("_surv").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("srank"),
        F.sum("_surv").over(w_all).alias("nc"),
    )
    stage = (
        F.when(F.col("_surv") == 0, "semdedup_drop")
        .when(F.col("srank") <= F.expr(f"nc div {_D4_PRUNE_DEN}"), "prototype_drop")
        .otherwise("kept")
    )
    return ranked.select("vec_id", "cluster", "csim", stage.alias("stage"))


# ---------------------------------------------------------------------------
# z_sim_kmeans_iter — TWO Lloyd iterations, both oracled: proves the
# "iterate it and only the seed column changes" claim of sim_kmeans_step
# with SQL-mirrored evidence instead of a docstring. Iteration 1 is the
# oracled kmeans arm (hash-seeded partition -> exact-integer centroids ->
# reassign); iteration 2 re-derives centroids FROM iteration 1's assigned
# clusters and reassigns again. Output: (iter, vec_id, cluster, sim) for
# both iterations — the hash covers the full trajectory, and the pytest
# invariant pins that mean assignment similarity does not decrease
# (Lloyd monotonicity under the cosine objective, modulo round-6).
# Scale shape per iteration: unchanged from sim_kmeans_step (one partial
# agg over (cluster, pos), one broadcast k*dim reassignment join).
# ---------------------------------------------------------------------------

def _km2_ctes(k_sql: str) -> str:
    """The two-Lloyd-iteration CTE chain (e0 .. asgn2), K parametrized as a
    SQL expression so the corpus-scaled-K sweep can derive K from the
    corpus itself (a scalar subquery) while the fixed-K queries keep the
    literal."""
    return f"""e0 AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
comps1 AS (
  SELECT vec_id,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % ({k_sql}) AS cluster,
         x, pos
  FROM e0
),
cents1 AS (
  SELECT cluster, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM comps1 GROUP BY cluster, pos
),
scores1 AS (
  SELECT e.vec_id, c.cluster,
         SUM(e.x * c.c) AS dot, SUM(e.x * e.x) AS nx2, SUM(c.c * c.c) AS nc2
  FROM comps1 e JOIN cents1 c ON e.pos = c.pos
  GROUP BY 1, 2
),
ranked1 AS (
  SELECT vec_id, cluster, ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) DESC, cluster
         ) AS rn
  FROM scores1
),
asgn1 AS (SELECT vec_id, cluster, sim FROM ranked1 WHERE rn = 1),
comps2 AS (
  SELECT e0.vec_id, a.cluster, e0.x, e0.pos
  FROM e0 JOIN asgn1 a ON e0.vec_id = a.vec_id
),
cents2 AS (
  SELECT cluster, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM comps2 GROUP BY cluster, pos
),
scores2 AS (
  SELECT e.vec_id, c.cluster,
         SUM(e.x * c.c) AS dot, SUM(e.x * e.x) AS nx2, SUM(c.c * c.c) AS nc2
  FROM e0 e JOIN cents2 c ON e.pos = c.pos
  GROUP BY 1, 2
),
ranked2 AS (
  SELECT vec_id, cluster, ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) DESC, cluster
         ) AS rn
  FROM scores2
),
asgn2 AS (SELECT vec_id, cluster, sim FROM ranked2 WHERE rn = 1)"""


_KM2_CTES = _km2_ctes(str(_K_CLUSTERS))

_KMEANS2_ORACLE = f"""
WITH {_KM2_CTES}
SELECT CAST(1 AS BIGINT) AS iter, vec_id, cluster, sim FROM asgn1
UNION ALL
SELECT CAST(2 AS BIGINT), vec_id, cluster, sim FROM asgn2
"""


def _kmeans2_assign(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two Lloyd iterations over the sf_dir embeddings table."""
    return kmeans2_assign_emb(load_table(spark, sf_dir, "embeddings"))


def kmeans2_assign_emb(emb: DataFrame, k: int = _K_CLUSTERS) -> tuple[DataFrame, DataFrame]:
    """Two Lloyd iterations of spherical k-means from a hash-seeded random
    partition (no labels consumed): returns (asgn1, asgn2), each
    (vec_id, assigned_label, sim). Shared by the oracled iteration query,
    the trained-coarse-quantizer IVF-PQ index build, and the
    corpus-scaled-K sweep (z_sim_ivf_scaledk)."""
    from d3d_etl_spark.functions.strings import md5_int

    seeded = emb.withColumn(
        "cluster", F.pmod(md5_int(F.col("vec_id").cast("string")), F.lit(k))
    )
    cents1 = label_centroids(seeded, "cluster")
    # one assignment pass feeds iteration-1 output AND iteration-2 centroids
    asgn1 = barrier(assign_nearest_centroid(seeded, cents1, "cluster"))
    relabeled = emb.join(
        asgn1.select("vec_id", F.col("assigned_label").alias("cluster")).hint(
            "shuffle_hash"
        ),
        "vec_id",
    )
    cents2 = label_centroids(relabeled, "cluster")
    asgn2 = assign_nearest_centroid(emb, cents2, "cluster")
    return asgn1, asgn2


@register("z_sim_kmeans_iter", _KMEANS2_ORACLE, tags=("similarity",))
def z_sim_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two oracled Lloyd iterations of spherical k-means: iteration 2's
    centroids come from iteration 1's assignments — the convergence loop's
    body as SQL-mirrored evidence."""
    asgn1, asgn2 = _kmeans2_assign(spark, sf_dir)
    row = lambda df, i: df.select(  # noqa: E731
        F.lit(i).cast("long").alias("iter"),
        "vec_id",
        F.col("assigned_label").alias("cluster"),
        "sim",
    )
    return row(asgn1, 1).unionByName(row(asgn2, 2))


# ---------------------------------------------------------------------------
# z_sim_contrastive — contrastive training-pair mining for embedding-model
# fine-tuning: positives are within-cluster near-duplicate pairs (cosine >=
# tau, both orientations — each member anchors once), and each anchor gets
# the HARDEST in-cluster negative: the most-similar same-cluster vector
# that is NOT a positive (max sim < tau, id-asc tiebreak) — the standard
# hard-negative mining recipe, deterministic. Anchors whose cluster offers
# no sub-tau vector emit no row (nothing to contrast against).
# Scale shape: the candidate set is the SemDeDup cluster-local pair stage
# (sum c_i^2 work, GEMM engine), so positives and hard negatives come from
# ONE pass over the same gated candidates. The ANN-widened negative pool
# (band-bucket candidates instead of k-means-cluster candidates) is the
# COMPOSED sibling z_sim_contrastive_ann below — k-means clusters
# under-cover the true hardest negatives when they fall across a cluster
# boundary, and the widening is measured on real data in
# tests/test_contrastive_r5.py.
# ---------------------------------------------------------------------------

_CONTRASTIVE_ORACLE = f"""
WITH {_SEMDEDUP_CTES.replace("drops AS (", "_drops_unused AS (")},
allp AS (
  SELECT id_a, id_b, ROUND(dot / (SQRT(na2) * SQRT(nb2)), 6) AS sim FROM p
),
sym AS (
  SELECT id_a AS anchor, id_b AS other, sim FROM allp
  UNION ALL
  SELECT id_b, id_a, sim FROM allp
),
pos AS (SELECT anchor, other AS positive, sim AS pos_sim FROM sym WHERE sim >= {_SEMDEDUP_TAU}),
neg AS (
  SELECT anchor, other AS negative, sim AS neg_sim,
         ROW_NUMBER() OVER (
           PARTITION BY anchor ORDER BY sim DESC, other
         ) AS rn
  FROM sym WHERE sim < {_SEMDEDUP_TAU}
)
SELECT p.anchor, p.positive, p.pos_sim, n.negative, n.neg_sim
FROM pos p JOIN neg n ON p.anchor = n.anchor AND n.rn = 1
"""


@register("z_sim_contrastive", _CONTRASTIVE_ORACLE, tags=("similarity", "training"))
def z_sim_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets: near-dup positives + hardest
    sub-tau in-cluster negatives. Beyond-reference LLM-pipeline operator
    (embedding-model training-pair mining)."""
    from pyspark.sql import Window

    from d3d_etl_spark.operators.similarity import within_cluster_contrastive_rows

    clustered, _ = _semdedup_parts(spark, sf_dir)
    # One cluster-local GEMM pass emits per-anchor rows directly (all
    # >=tau positives + each task's hardest sub-tau negative) — the
    # previous unthresholded pair pass materialized every cluster pair,
    # measured as a 754 MB-input task at the sf1 registry audit. Same
    # runaway-cluster re-split scope (_pair_lbl) as the dedup pair stage.
    rows = barrier(within_cluster_contrastive_rows(
        _semdedup_pair_scope(clustered),
        float(_SEMDEDUP_TAU),
        label_col="_pair_lbl",
    ))
    pos = rows.where(F.col("is_pos")).select(
        "anchor", F.col("other").alias("positive"), F.col("sim").alias("pos_sim")
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("sim"), F.asc("other"))
    neg = (
        rows.where(~F.col("is_pos"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "anchor",
            F.col("other").alias("negative"),
            F.col("sim").alias("neg_sim"),
        )
    )
    return pos.join(neg.hint("shuffle_hash"), "anchor")


# ---------------------------------------------------------------------------
# z_sim_contrastive_ann — the ANN-WIDENED negative pool, composed: the
# candidate set is the hyperplane band-bucket gate
# (ann_gated_near_pairs, the sim_near_dedup canon machinery) instead of
# the k-means clusters. A k-means cluster boundary can split an anchor
# from its true hardest negative — vectors at cosine just below tau are
# exactly the ones that straddle cluster edges — while the band gate
# buckets by the vectors' OWN hyperplane signs, so near-threshold
# neighbours keep colliding in some band. Same triplet semantics as
# z_sim_contrastive (positives >= tau, hardest sub-tau negative per
# anchor, id-asc tiebreak); only the candidate pool differs, and
# tests/test_contrastive_r5.py measures the widening on real data
# (anchors whose ANN negative is strictly harder than their cluster
# negative).
# Scale shape: identical to sim_near_dedup's canon arm — work is
# sum(bucket^2) per band with the hot-bucket guard bounding every GEMM
# task; candidates never go all-pairs, and the pos/neg split is one
# window over the candidate (not corpus) grain.
# ---------------------------------------------------------------------------

_CONTRASTIVE_ANN_ORACLE = f"""
WITH {_GATE_CTES},
s AS (
  SELECT c.vec_a, c.vec_b,
         ROUND(SUM(ea.x * eb.x)
               / (SQRT(SUM(ea.x * ea.x)) * SQRT(SUM(eb.x * eb.x))), 6) AS sim
  FROM cand c
  JOIN e0 ea ON ea.vec_id = c.vec_a
  JOIN e0 eb ON eb.vec_id = c.vec_b AND eb.pos = ea.pos
  GROUP BY 1, 2
),
sym AS (
  SELECT vec_a AS anchor, vec_b AS other, sim FROM s
  UNION ALL
  SELECT vec_b, vec_a, sim FROM s
),
pos AS (
  SELECT anchor, other AS positive, sim AS pos_sim
  FROM sym WHERE sim >= {_SEMDEDUP_TAU}
),
neg AS (
  SELECT anchor, other AS negative, sim AS neg_sim,
         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY sim DESC, other) AS rn
  FROM sym WHERE sim < {_SEMDEDUP_TAU}
)
SELECT p.anchor, p.positive, p.pos_sim, n.negative, n.neg_sim
FROM pos p JOIN neg n ON p.anchor = n.anchor AND n.rn = 1
"""


@register(
    "z_sim_contrastive_ann",
    _CONTRASTIVE_ANN_ORACLE,
    tags=("similarity", "training"),
    bench=True,
)
def z_sim_contrastive_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, negative) triplets over the ANN band-bucket
    candidate pool: near-dup positives + hardest sub-tau GATED negatives —
    the composed corpus-scale form of z_sim_contrastive's negative mining.
    Beyond-reference LLM-pipeline operator."""
    from pyspark.sql import Window

    from d3d_etl_spark.operators.similarity import ann_gated_contrastive_rows

    emb = load_table(spark, sf_dir, "embeddings")
    # One gated GEMM pass emits per-anchor rows DIRECTLY: all >=tau
    # positives + each task's hardest sub-tau negative candidate. The
    # previous form (threshold -1 through the pair operator) materialized
    # every bucket pair — bucket-size-QUADRATIC output whose dedup agg
    # measured a 4.6 GiB task at the sf1 stress tier (scope=all audit);
    # this one's shuffle volume tracks the duplicate rate.
    rows = barrier(ann_gated_contrastive_rows(
        emb, float(_SEMDEDUP_TAU), _DIM, _GATE_PLANES, _GATE_BANDS
    ))
    # positives: dedupe the per-band/per-block copies (sims identical)
    pos = (
        rows.where(F.col("is_pos"))
        .groupBy("anchor", F.col("other").alias("positive"))
        .agg(F.max("sim").alias("pos_sim"))
    )
    # hardest negative: global (sim desc, id asc) top-1 over the per-task
    # winners — <= n_bands x n_sub candidate rows per anchor, so the
    # window's per-key state is banding-bounded, never bucket-sized
    w = Window.partitionBy("anchor").orderBy(F.desc("sim"), F.asc("other"))
    neg = (
        rows.where(~F.col("is_pos"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("anchor", F.col("other").alias("negative"), F.col("sim").alias("neg_sim"))
    )
    # candidate-grain x candidate-grain on a unique-ish key: sort-free
    # shuffled-hash, the SMJ's sorts buy nothing (repo-wide pattern)
    return pos.join(neg.hint("shuffle_hash"), "anchor")


# ---------------------------------------------------------------------------
# z_sim_pq — product quantization + ADC search (Jégou et al. 2011; the
# FAISS PQ shape; operators/pq.py): per-subspace hash-seeded codebooks,
# every vector encoded to M small codes, then the fixed query scored
# against the CODE table via a broadcast (M x ks) integer distance table —
# M integer adds per vector, raw floats never read at query time. The
# compression economics (dim floats -> M codes per vector) is what makes
# billion-scale ANN storable; determinism is total (exact integer
# squared-L2 everywhere past the quantized codebooks, ties on code/id).
# Output: every vector with its code signature, ADC distance to the query,
# and a top-K selection flag — assignment, compression, and search all
# inside the hash.
# ---------------------------------------------------------------------------

# 16 sub-quantizers x 16 codes = 64-bit codes: 16x compression over the
# raw float32 vectors. Recall@25 vs exact quantized-L2 is bit-budget-bound
# on this (unclustered) corpus — measured 9/25 at 32 bits, 12/25 at
# 64 bits, 16-17/25 at 128 bits — so the knob that matters at scale is
# (m, ks), pinned in tests/test_pq_r5.py. The two training levers are measured
# invariants, not claims: Lloyd refinement's quantization-error trajectory is
# ORACLED (z_sim_pq_refine: ~2x error drop over 2 rounds, monotone pin in
# tests/test_pq_r6.py — the error improves even where the recall stays
# budget-bound), and residual encoding (z_sim_ivfpq_residual) is pinned to
# beat raw codes by >= 3/25 recall on a planted clustered corpus at the same
# 64-bit budget.
_PQ_M = 16       # sub-quantizers (64-dim -> 16 x 4-dim subspaces)
_PQ_KS = 16      # codes per subspace
# vectors per task in the residual-PQ encode fan-out (bounds the
# (vec, sub, code) partial-agg state per task — see _ivfpq_residual_search)
_VECS_PER_ENCODE_TASK = 150
_PQ_DSUB = _DIM // _PQ_M
_PQ_KSEL = 25    # published top-K flag

def _pq_ctes(source: str = "embeddings") -> str:
    """The PQ stage CTEs (es -> cb -> enc -> adc -> sc -> sig) over an
    arbitrary row source — z_sim_pq trains/encodes the whole corpus;
    z_sim_pipeline passes the SemDeDup-survivor subquery so the index is
    genuinely built on deduplicated data."""
    return f"""es AS (
  SELECT vec_id,
         CAST(unnest(range(len(embedding))) AS BIGINT) // {_PQ_DSUB} AS sub,
         CAST(unnest(range(len(embedding))) AS BIGINT) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xs
  FROM {source}
),
seeded AS (
  SELECT vec_id, sub, pos, xs,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(sub AS VARCHAR)), 1, 8))::BIGINT % {_PQ_KS} AS code
  FROM es
),
cb AS (
  SELECT sub, code, pos,
         CAST(ROUND(CAST(SUM(xs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c_q
  FROM seeded GROUP BY 1, 2, 3
),
dists AS (
  SELECT es.vec_id, es.sub, cb.code,
         SUM((es.xs - cb.c_q) * (es.xs - cb.c_q)) AS dist
  FROM es JOIN cb ON es.sub = cb.sub AND es.pos = cb.pos
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM dists
  ) WHERE rn = 1
),
qsv AS (SELECT sub, pos, xs AS q_xs FROM es WHERE vec_id = {_QUERY_ID}),
adc AS (
  SELECT cb.sub, cb.code,
         SUM((qsv.q_xs - cb.c_q) * (qsv.q_xs - cb.c_q)) AS d
  FROM cb JOIN qsv ON cb.sub = qsv.sub AND cb.pos = qsv.pos
  GROUP BY 1, 2
),
sc AS (
  SELECT e2.vec_id, CAST(SUM(a.d) AS BIGINT) AS adist
  FROM enc e2 JOIN adc a ON e2.sub = a.sub AND e2.code = a.code
  GROUP BY 1
),
sig AS (
  SELECT vec_id, string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS code_sig
  FROM enc GROUP BY 1
)"""


_PQ_CTES = _pq_ctes()

_PQ_ORACLE = f"""
WITH {_PQ_CTES},
r AS (SELECT vec_id, adist, ROW_NUMBER() OVER (ORDER BY adist, vec_id) AS rn FROM sc)
SELECT r.vec_id, sig.code_sig, r.adist,
       CAST(CASE WHEN r.rn <= {_PQ_KSEL} THEN 1 ELSE 0 END AS INTEGER) AS sel
FROM r JOIN sig ON r.vec_id = sig.vec_id
"""


def _pq_parts(spark: SparkSession, sf_dir: str):
    """(codes, adc, emb): shared PQ stages — codebooks built (barriered:
    the encode's broadcast and the ADC table both read them), corpus
    encoded (lazy: a caller that reads the codes twice barriers them), the
    fixed query's ADC table."""
    from d3d_etl_spark.operators.pq import (
        pq_adc_table,
        pq_codebooks,
        pq_encode,
        pq_subspace_comps,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = barrier(pq_codebooks(emb, _DIM, _PQ_M, _PQ_KS))
    codes = pq_encode(emb, cb, _DIM, _PQ_M)
    qc = pq_subspace_comps(
        emb.where(F.col("vec_id") == _QUERY_ID), _DIM, _PQ_M
    ).select("sub", "pos", F.col("xs").alias("qs"))
    adc = pq_adc_table(cb, qc)
    return codes, adc, emb


@register("z_sim_pq", _PQ_ORACLE, tags=("similarity",))
def z_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compress + ADC search: per-vector code signature, exact-integer
    asymmetric distance to the fixed query, top-K flag. Beyond-reference
    LLM-pipeline operator (billion-scale ANN storage shape)."""
    from d3d_etl_spark.operators.pq import pq_adc_scores

    codes, adc, _ = _pq_parts(spark, sf_dir)
    codes = barrier(codes)  # scoring and the signature both read it
    scores = pq_adc_scores(codes, adc)
    sig = codes.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"].cast("string"),
            ),
            "-",
        ).alias("code_sig")
    )
    # unique-key corpus-corpus join: sort-free shuffled hash
    rows = scores.join(sig.hint("shuffle_hash"), "vec_id")
    return _flag_top(rows, scores, _PQ_KSEL, "code_sig")


def _flag_top(rows: DataFrame, scores: DataFrame, k: int, col: str) -> DataFrame:
    """(vec_id, col, adist, sel) of `rows`: sel = 1 on the k best
    (adist, vec_id) rows of `scores`, else 0. A partial TakeOrdered and a
    broadcast flag join, never a global window over the candidates."""
    top = (
        scores.orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", F.lit(1).alias("_sel"))
    )
    return rows.join(F.broadcast(top), "vec_id", "left").select(
        "vec_id", col, "adist", F.coalesce(F.col("_sel"), F.lit(0)).cast("int").alias("sel")
    )


# ---------------------------------------------------------------------------
# z_sim_ivfpq — the composed FAISS IVF-PQ search: the IVF coarse stage
# prunes to nprobe cells (partition pruning at scale — store codes
# partitioned by the coarse label), then ADC scores ONLY those cells'
# CODES. Candidate set = probe-cell membership minus the query itself;
# published with the coarse label, the exact-integer ADC distance, and the
# top-k flag. Storage read at query time: nprobe/k of the corpus, M bytes
# per vector.
# ---------------------------------------------------------------------------

# the IVF coarse-probe CTE block (comps -> cents -> qv -> probe -> cand), shared
# by every IVF-composed oracle (z_sim_ivfpq, z_sim_ivfpq_residual) — the
# prefix-parameterized-helper discipline: one definition, never copied.
_IVF_PROBE_CTES = f"""comps AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
cents AS (
  SELECT label, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM comps GROUP BY label, pos
),
qv AS (SELECT pos, x AS qx FROM comps WHERE vec_id = {_QUERY_ID}),
probe AS (
  SELECT label FROM (
    SELECT c.label,
           ROUND(SUM(q.qx * c.c) / (SQRT(SUM(c.c * c.c)) * SQRT(SUM(q.qx * q.qx))), 6) AS sim
    FROM cents c JOIN qv q ON c.pos = q.pos
    GROUP BY c.label
  ) ORDER BY sim DESC, label LIMIT {_NPROBE}
),
cand AS (
  SELECT e.vec_id, e.label FROM embeddings e
  WHERE e.label IN (SELECT label FROM probe) AND e.vec_id != {_QUERY_ID}
)"""

_IVFPQ_ORACLE = f"""
WITH {_PQ_CTES},
{_IVF_PROBE_CTES},
csc AS (
  SELECT sc.vec_id, sc.adist FROM sc JOIN cand ON sc.vec_id = cand.vec_id
)
SELECT c.vec_id, cand.label, c.adist,
       CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY c.adist, c.vec_id) <= {_ANN_K}
            THEN 1 ELSE 0 END AS INTEGER) AS sel
FROM csc c JOIN cand ON c.vec_id = cand.vec_id
"""


@register("z_sim_ivfpq", _IVFPQ_ORACLE, tags=("similarity",))
def z_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse probe (nprobe cells) -> ADC over those cells' codes
    only. Beyond-reference LLM-pipeline operator (the FAISS billion-scale
    search composition)."""
    from d3d_etl_spark.operators.pq import pq_adc_scores

    codes, adc, emb = _pq_parts(spark, sf_dir)
    _, cand = _probe_cand(emb)
    scores = barrier(pq_adc_scores(
        codes.join(cand.select("vec_id"), "vec_id", "left_semi"), adc
    ))  # feeds the top-k AND the published rows
    return _flag_top(scores.join(cand, "vec_id"), scores, _ANN_K, "label")


def _probe_cand(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(probe, cand) of the IVF coarse stage over `emb` (vec_id, label,
    embedding): the _NPROBE cells whose exact-integer centroids are
    closest to the query, and their members but the query as (vec_id,
    label). The engine twin of _IVF_PROBE_CTES."""
    from d3d_etl_spark.operators.similarity import ivf_probe_labels

    probe = ivf_probe_labels(label_centroids(emb, "label"), _query(emb), "label", _NPROBE)
    cand = (
        emb.join(F.broadcast(probe), "label", "left_semi")
        .where(F.col("vec_id") != _QUERY_ID)
        .select("vec_id", "label")
    )
    return probe, cand


# ---------------------------------------------------------------------------
# z_sim_ivfpq_residual — IVF-PQ with RESIDUAL encoding, the FAISS IVF-PQ
# default (Jégou, Douze, Schmid 2011 §IV: quantize r = x - q1(x), the
# vector minus its coarse centroid, not x itself). Residuals concentrate
# near the origin once the coarse quantizer absorbs the between-cell
# variance, so the same (m, ks) bit budget covers a tighter distribution —
# on clustered corpora this buys recall at identical storage (pinned on a
# planted clustered corpus in tests/test_pq_r6.py; the synthetic test
# corpus here is near-isotropic — between-cluster variance ~2% — so the
# oracle verifies CORRECTNESS while the recall claim is pinned where the
# structure exists).
# Exact-integer contract preserved end-to-end: coarse centroids quantize
# to integers (round of exact-integer-sum / count), residuals are integer
# differences, codebooks/encode/ADC run on them unchanged. The ADC table
# becomes PER-PROBED-CELL ((label, sub, code, d): the query's residual
# differs per cell) — nprobe*m*ks rows, still broadcast-sized.
# ---------------------------------------------------------------------------

_IVFPQR_BODY = f"""lc AS (
  SELECT vec_id, label,
         CAST(unnest(range(len(embedding))) AS BIGINT) // {_PQ_DSUB} AS sub,
         CAST(unnest(range(len(embedding))) AS BIGINT) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xs
  FROM embeddings
),
ic AS (
  SELECT label, pos, CAST(ROUND(CAST(SUM(xs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c_int
  FROM lc GROUP BY 1, 2
),
res AS (
  SELECT lc.vec_id, lc.label, lc.sub, lc.pos, lc.xs - ic.c_int AS rs
  FROM lc JOIN ic ON lc.label = ic.label AND lc.pos = ic.pos
),
rseed AS (
  SELECT vec_id, sub, pos, rs,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(sub AS VARCHAR)), 1, 8))::BIGINT % {_PQ_KS} AS code
  FROM res
),
rcb AS (
  SELECT sub, code, pos, CAST(ROUND(CAST(SUM(rs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c_q
  FROM rseed GROUP BY 1, 2, 3
),
rd AS (
  SELECT res.vec_id, res.sub, rcb.code,
         SUM((res.rs - rcb.c_q) * (res.rs - rcb.c_q)) AS dist
  FROM res JOIN rcb ON res.sub = rcb.sub AND res.pos = rcb.pos
  GROUP BY 1, 2, 3
),
renc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM rd
  ) WHERE rn = 1
),
{_IVF_PROBE_CTES},
qres AS (
  SELECT ic.label, lc.sub, lc.pos, lc.xs - ic.c_int AS qrs
  FROM lc JOIN ic ON lc.pos = ic.pos
  WHERE lc.vec_id = {_QUERY_ID} AND ic.label IN (SELECT label FROM probe)
),
radc AS (
  SELECT q.label, rcb.sub, rcb.code,
         SUM((q.qrs - rcb.c_q) * (q.qrs - rcb.c_q)) AS d
  FROM rcb JOIN qres q ON rcb.sub = q.sub AND rcb.pos = q.pos
  GROUP BY 1, 2, 3
),
rsc AS (
  SELECT renc.vec_id, cand.label, CAST(SUM(radc.d) AS BIGINT) AS adist
  FROM renc
  JOIN cand ON renc.vec_id = cand.vec_id
  JOIN radc ON radc.label = cand.label AND radc.sub = renc.sub AND radc.code = renc.code
  GROUP BY 1, 2
)
SELECT vec_id, label, adist,
       CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY adist, vec_id) <= {_ANN_K}
            THEN 1 ELSE 0 END AS INTEGER) AS sel
FROM rsc
"""

_IVFPQR_ORACLE = "\nWITH " + _IVFPQR_BODY


def _labeled_comps(emb: DataFrame) -> DataFrame:
    """(vec_id, label, sub, pos, xs): fixed-point subspace components that
    KEEP the coarse label (pq_subspace_comps drops it)."""
    return emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") / _PQ_DSUB).cast("int").alias("sub"),
        "pos",
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("xs"),
    )


def residual_comps(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(icents, res): integer coarse centroids per label and every
    vector's residual components (vec_id, label, sub, pos, xs = x - c).
    Residuals stay exact integers so the whole PQ chain downstream keeps
    its no-rounding-contract ranking."""
    c = _labeled_comps(emb)
    icents = c.groupBy("label", "pos").agg(
        F.round(F.sum("xs") / F.count("*")).cast("long").alias("c_int")
    )
    res = c.join(F.broadcast(icents), ["label", "pos"]).select(
        "vec_id", "label", "sub", "pos", (F.col("xs") - F.col("c_int")).alias("xs")
    )
    return icents, res


def _ivfpq_residual_search(emb: DataFrame, n_vec: int | None = None) -> DataFrame:
    """Residual IVF-PQ search over `emb` (vec_id, label, embedding):
    residual codebook training + encoding, nprobe coarse probe, per-cell
    ADC, exact-integer ranking. `label` is whatever coarse-cell column the
    caller provides — planted cells (z_sim_ivfpq_residual) or cells
    LEARNED by the k-means machinery (z_sim_ivfpq_trained). Callers that
    already know the vector count pass `n_vec` (both registered callers
    read the memoized table count, so no per-invocation count job runs)."""
    from d3d_etl_spark.operators.pq import pq_codebooks_from_comps, pq_encode_comps

    icents, res = residual_comps(emb)
    # Scale the residual table's task count with the VECTOR count before
    # the checkpoint: the encode chain fans each (vec, sub) out to ks
    # candidate codes and partial-aggregates on (vec, sub, code), so
    # per-task state is proportional to vectors per task — inheriting the
    # scan's fixed partitioning held it flat only until the corpus grew
    # (measured 49 -> 161 MB task peak at the 10x stress pair).
    if n_vec is None:
        n_vec = emb.count()
    n_parts = max(
        emb.sparkSession.sparkContext.defaultParallelism,
        -(-n_vec // _VECS_PER_ENCODE_TASK),
    )
    res = barrier(res.repartition(n_parts))  # feeds codebook training AND encoding
    rcb = barrier(pq_codebooks_from_comps(
        res.select("vec_id", "sub", "pos", "xs"), _PQ_KS
    ))
    rcodes = pq_encode_comps(res.select("vec_id", "sub", "pos", "xs"), rcb)

    probe, cand = _probe_cand(emb)
    # per-probed-cell query residual -> per-cell ADC table (nprobe*m*ks
    # rows): the query's residual differs per cell, unlike plain PQ
    qres = (
        icents.join(F.broadcast(probe), "label", "left_semi")
        .join(
            F.broadcast(
                _labeled_comps(emb.where(F.col("vec_id") == _QUERY_ID)).select(
                    "sub", "pos", F.col("xs").alias("q_xs")
                )
            ),
            "pos",
        )
        .select("label", "sub", "pos", (F.col("q_xs") - F.col("c_int")).alias("qrs"))
    )
    radc = (
        rcb.join(F.broadcast(qres), ["sub", "pos"])
        .groupBy("label", "sub", "code")
        .agg(F.sum((F.col("qrs") - F.col("c_q")) * (F.col("qrs") - F.col("c_q"))).alias("d"))
    )
    # both sides are corpus-grain (codes = m rows per vector off the res
    # checkpoint; cand = the probed-cells fraction of the corpus): the join
    # must SHUFFLE on vec_id — the checkpointed LogicalRDD keeps the
    # original small size estimate and Catalyst otherwise auto-broadcasts a
    # side that grows linearly with the corpus (measured 49 -> 161 MB task
    # peak at the 10x stress pair before this hint)
    # feeds the top-k AND the published rows
    scores = barrier(
        rcodes.hint("shuffle_hash").join(cand, "vec_id")
        .join(F.broadcast(radc), ["label", "sub", "code"])
        .groupBy("vec_id", "label")
        .agg(F.sum("d").cast("long").alias("adist"))
    )
    return _flag_top(scores, scores, _ANN_K, "label")


@register("z_sim_ivfpq_residual", _IVFPQR_ORACLE, tags=("similarity",))
def z_sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding: codebooks trained on and codes
    assigned to (vector - coarse centroid) integer residuals; ADC scores
    against a per-probed-cell distance table. Beyond-reference operator
    (the FAISS IVF-PQ §IV default)."""
    return _ivfpq_residual_search(
        load_table(spark, sf_dir, "embeddings"),
        n_vec=table_count(spark, sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# z_sim_ivfpq_trained — residual IVF-PQ over a TRAINED coarse quantizer:
# the index the FAISS recipe actually builds on unlabeled data. The two
# oracled Lloyd iterations (z_sim_kmeans_iter's machinery, hash-seeded
# random partition) learn the coarse cells from the vectors alone; the
# residual-PQ chain then runs on the learned cells unchanged. Closes the
# "coarse cells come from the planted label column" gap — this variant
# consumes NO labels anywhere.
# Oracle: the k-means CTE chain feeds a relabeled embeddings view (tre),
# and the residual-IVF-PQ body runs verbatim over it — one chained
# definition on both engines, so training AND search are driver-hashed.
# Scale shape: index build = 2x (assignment agg + dimension-sized
# re-mean) with broadcast centroids, checkpointed like the incremental
# IVF state; search is byte-identical to z_sim_ivfpq_residual's.
# ---------------------------------------------------------------------------

_IVFPQ_TRAINED_ORACLE = f"""
WITH {_KM2_CTES},
tre AS (
  SELECT e.vec_id, a.cluster AS label, e.embedding
  FROM embeddings e JOIN asgn2 a ON e.vec_id = a.vec_id
),
{_IVFPQR_BODY.replace("FROM embeddings", "FROM tre")}
"""


@register(
    "z_sim_ivfpq_trained", _IVFPQ_TRAINED_ORACLE, tags=("similarity",), bench=True
)
def z_sim_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ whose coarse cells are LEARNED (2 Lloyd iterations
    from a hash-seeded partition) instead of read from the planted label
    column — the end-to-end unlabeled index build + search."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, asgn2 = _kmeans2_assign(spark, sf_dir)
    # stamp the learned assignment on as the coarse-cell column and
    # materialize the RESULT once (it feeds every downstream stage). The
    # intermediate `cells` has one consumer, this join: no barrier.
    cells = asgn2.select("vec_id", F.col("assigned_label").alias("label"))
    trained = barrier(
        emb.drop("label").join(cells.hint("shuffle_hash"), "vec_id")
    )
    # trained joins the full assignment back onto the full table — row
    # count is the table's (memoized, no count job)
    return _ivfpq_residual_search(trained, n_vec=table_count(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# z_sim_recall_sweep — the IVF quality/cost curve as a DRIVER-HASHED
# measured invariant: recall@K of cell-pruned exact search vs the
# brute-force top-K, for nprobe in {1, 2, 4, 8}, plus the candidate count
# each probe level pays. This is the number an ANN deployment actually
# tunes (FAISS's nprobe knob: recall rises, candidate cost rises); here
# the whole curve is oracled, so "probing more cells monotonically buys
# recall on THIS corpus" is a hashed fact, not a docstring claim.
# Scale shape: per-vector sims are computed ONCE (broadcast query, narrow
# map) and checkpointed; each arm is a filter (rn <= nprobe) + distributed
# TakeOrdered(K) + two 1-row aggs — no window ever touches the candidate
# set (the only window ranks the dimension-grain cell table).
# ---------------------------------------------------------------------------

_SWEEP_NPROBES = (1, 2, 4, 8)
_SWEEP_K = 10


def _recall_curve_sql(comps: str, cells: str, probes: str, extra: str = "") -> str:
    """SQL image of _recall_curve, as CTEs plus the final SELECT: `comps`
    (vec_id, x, pos) names the corpus components, `cells` (vec_id, cell)
    each vector's coarse cell, `probes` a SELECT of the INT nprobe
    values; `extra` appends columns to the output."""
    return f"""cc AS (
  SELECT c.vec_id, a.cell, c.x, c.pos FROM {comps} c JOIN {cells} a ON c.vec_id = a.vec_id
),
ccents AS (
  SELECT cell, pos,
         CAST(SUM(CAST(ROUND(x * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000 AS c
  FROM cc GROUP BY cell, pos
),
qv AS (SELECT pos, x AS qx FROM {comps} WHERE vec_id = {_QUERY_ID}),
cellrank AS (
  SELECT cell, ROW_NUMBER() OVER (ORDER BY sim DESC, cell) AS rn FROM (
    SELECT c.cell,
           ROUND(SUM(q.qx * c.c) / (SQRT(SUM(c.c * c.c)) * SQRT(SUM(q.qx * q.qx))), 6) AS sim
    FROM ccents c JOIN qv q ON c.pos = q.pos
    GROUP BY c.cell
  )
),
vs AS (
  SELECT e.vec_id,
         ROUND(SUM(e.x * q.qx) / (SQRT(SUM(e.x * e.x)) * SQRT(SUM(q.qx * q.qx))), 6) AS sim
  FROM {comps} e JOIN qv q ON e.pos = q.pos
  WHERE e.vec_id != {_QUERY_ID}
  GROUP BY 1
),
sims AS (
  SELECT v.vec_id, r.rn, v.sim
  FROM vs v JOIN {cells} a ON v.vec_id = a.vec_id
  JOIN cellrank r ON a.cell = r.cell
),
exact AS (SELECT vec_id FROM vs ORDER BY sim DESC, vec_id LIMIT {_SWEEP_K}),
probes AS ({probes}),
ranked_c AS (
  SELECT p.nprobe, s.vec_id,
         ROW_NUMBER() OVER (PARTITION BY p.nprobe ORDER BY s.sim DESC, s.vec_id) AS rr
  FROM probes p JOIN sims s ON s.rn <= p.nprobe
),
counts AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_cand FROM ranked_c GROUP BY 1),
hitc AS (
  SELECT t.nprobe, CAST(COUNT(e.vec_id) AS BIGINT) AS hits
  FROM (SELECT nprobe, vec_id FROM ranked_c WHERE rr <= {_SWEEP_K}) t
  LEFT JOIN exact e ON t.vec_id = e.vec_id
  GROUP BY 1
)
SELECT p.nprobe,
       COALESCE(c.n_cand, 0) AS n_cand,
       COALESCE(h.hits, 0) AS hits,
       CAST({_SWEEP_K} AS INT) AS k{extra}
FROM probes p
LEFT JOIN counts c ON p.nprobe = c.nprobe
LEFT JOIN hitc h ON p.nprobe = h.nprobe
"""


_SWEEP_ORACLE = """
WITH comps AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(len(embedding))) AS pos
  FROM embeddings
),
""" + _recall_curve_sql(
    "comps",
    "(SELECT vec_id, label AS cell FROM embeddings)",
    f"SELECT CAST(unnest({list(_SWEEP_NPROBES)}) AS INT) AS nprobe",
)


def _recall_curve(
    emb: DataFrame, cents: DataFrame, cell: str, nprobes, cells=None, **lits
) -> DataFrame:
    """(nprobe, n_cand, hits, k, *lits): recall@K of cell-pruned exact
    search for the fixed query vs the brute-force top-K, one row per
    nprobe. `cents` (cell, pos, c) are the cell centroids, ranked by
    cosine to the query; the `cell` column rides on `emb` or, when
    `cells` (vec_id, cell) is given, joins on from it. One barriered
    scoring pass feeds the exact top-K and every arm; an arm is a filter
    rn <= nprobe, a distributed TakeOrdered(K) and two 1-row aggs. `lits`
    add int literal columns."""
    from d3d_etl_spark.functions.vectors import cosine
    from d3d_etl_spark.operators.similarity import ivf_ranked_cells

    query = _query(emb)
    sims = (
        emb.where(F.col("vec_id") != _QUERY_ID)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            *([] if cells is not None else [cell]),
            F.round(cosine(F.col("embedding"), F.col("q_vec")), 6).alias("sim"),
        )
    )
    if cells is not None:
        sims = sims.join(cells.hint("shuffle_hash"), "vec_id")
    ranked = ivf_ranked_cells(cents, query, cell)
    sims = barrier(sims.join(F.broadcast(ranked), cell))
    exact = F.broadcast(
        sims.orderBy(F.desc("sim"), F.asc("vec_id")).limit(_SWEEP_K).select("vec_id")
    )
    out = None
    for n in nprobes:
        cand = sims.where(F.col("rn") <= n)
        ann = cand.orderBy(F.desc("sim"), F.asc("vec_id")).limit(_SWEEP_K).select("vec_id")
        arm = (
            cand.agg(F.count("*").cast("long").alias("n_cand"))
            .crossJoin(
                ann.join(exact, "vec_id", "left_semi").agg(
                    F.count("*").cast("long").alias("hits")
                )
            )
            .select(
                F.lit(n).cast("int").alias("nprobe"),
                "n_cand",
                "hits",
                F.lit(_SWEEP_K).cast("int").alias("k"),
                *[F.lit(v).cast("int").alias(c) for c, v in lits.items()],
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


@register("z_sim_recall_sweep", _SWEEP_ORACLE, tags=("similarity",))
def z_sim_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@K and candidate cost of IVF cell pruning, per nprobe — the
    ANN tuning curve, every point driver-hashed against brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_curve(emb, label_centroids(emb, "label"), "label", _SWEEP_NPROBES)


# ---------------------------------------------------------------------------
# z_sim_pq_refine — Lloyd refinement of the PQ codebooks, the WHOLE
# trajectory oracled (the LR/BPE/power-iteration unroll pattern): publish
# per-iteration total quantization error and live-code count for the
# seeded codebook and two refine rounds. Refinement is the standard PQ
# training step (Jégou et al. train per-subspace k-means); publishing the
# error TRAJECTORY turns "does refinement help on this corpus?" into a
# driver-hashed measured invariant instead of a docstring claim — the
# companion recall pin lives in tests/test_pq_r6.py.
# Scale shape: each iteration is one (id, sub, code) re-assignment agg
# (broadcast codebook) + one dimension-sized re-mean; the published table
# is `iters+1` rows.
# ---------------------------------------------------------------------------

_PQ_REFINE_ITERS = 2


def _pq_refine_oracle(iters: int) -> str:
    head = f"""es AS (
  SELECT vec_id,
         CAST(unnest(range(len(embedding))) AS BIGINT) // {_PQ_DSUB} AS sub,
         CAST(unnest(range(len(embedding))) AS BIGINT) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xs
  FROM embeddings
),
seeded AS (
  SELECT vec_id, sub, pos, xs,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || CAST(sub AS VARCHAR)), 1, 8))::BIGINT % {_PQ_KS} AS code
  FROM es
),
cb0 AS (
  SELECT sub, code, pos,
         CAST(ROUND(CAST(SUM(xs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c_q
  FROM seeded GROUP BY 1, 2, 3
)"""
    blocks = [head]
    for k in range(iters + 1):
        blocks.append(
            f"""d{k} AS (
  SELECT es.vec_id, es.sub, cb{k}.code,
         SUM((es.xs - cb{k}.c_q) * (es.xs - cb{k}.c_q)) AS dist
  FROM es JOIN cb{k} ON es.sub = cb{k}.sub AND es.pos = cb{k}.pos
  GROUP BY 1, 2, 3
),
e{k} AS (
  SELECT vec_id, sub, code, dist FROM (
    SELECT vec_id, sub, code, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, code) AS rn
    FROM d{k}
  ) WHERE rn = 1
)"""
        )
        if k < iters:
            blocks.append(
                f"""cb{k + 1} AS (
  SELECT es.sub, e{k}.code, es.pos,
         CAST(ROUND(CAST(SUM(es.xs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c_q
  FROM es JOIN e{k} ON es.vec_id = e{k}.vec_id AND es.sub = e{k}.sub
  GROUP BY 1, 2, 3
)"""
            )
    tail = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS iter, "
        f"CAST((SELECT SUM(dist) FROM e{k}) AS BIGINT) AS total_err, "
        f"CAST((SELECT COUNT(*) FROM (SELECT DISTINCT sub, code FROM cb{k})) AS BIGINT) AS n_codes"
        for k in range(iters + 1)
    )
    return "WITH " + ",\n".join(blocks) + "\n" + tail


@register("z_sim_pq_refine", _pq_refine_oracle(_PQ_REFINE_ITERS), tags=("similarity",))
def z_sim_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(iter, total_err, n_codes): the PQ codebook Lloyd-refinement
    trajectory — total exact-integer quantization error and live-code
    count at the seeded codebook and after each of two refine rounds
    (operators/pq.py pq_refine_step)."""
    from d3d_etl_spark.operators.pq import (
        pq_encode_comps,
        pq_codebooks_from_comps,
        pq_refine_step,
        pq_subspace_comps,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Count-scaled task grain (the registry audit measured this query's top
    # task peak growing 49 -> 164 MB across the sf0.1 -> sf1 pair — at the
    # SAME fixed 32-partition layout, so the "fixed allocation" was per-task
    # hash-agg group state, uniform across tasks because groups distribute
    # evenly, and page-quantized so it stepped ~4x at 10x data). Attribution
    # (measured from the stage tables at both scales): the encode chain's
    # (vec, sub, code) agg + argmin state is proportional to VECTORS PER TASK;
    # holding that constant across scales flattens the pair (64/task: 70.0 MB
    # at sf0.1 == 70.0 MB at sf1, min=med=max uniform, <= 2 MB/task shuffled).
    # The count is a parquet-metadata read; partitioning-only — the oracle is
    # unaffected.
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        -(-table_count(spark, sf_dir, "embeddings") // 64),
    )
    comps = barrier(
        pq_subspace_comps(emb, _DIM, _PQ_M).repartition(n_parts)
    )
    cb = barrier(pq_codebooks_from_comps(comps, _PQ_KS))
    rows = []
    for it in range(_PQ_REFINE_ITERS + 1):
        # ONE encode per iteration, checkpointed: the error readout AND
        # the re-mean both consume it. The old shape re-encoded inside
        # pq_refine_step, and the fused stage pipelined two encode
        # chains' agg state into one task (measured 164-195 MB uniform
        # task peaks at sf1 whatever the partition count); the breaker
        # pins the top stage at ONE encode's allocation — measured flat
        # 44 -> 50 MB across the sf0.1 -> sf1 pair at 64 vectors/task.
        enc = barrier(pq_encode_comps(comps, cb, enc_parts=n_parts))
        err = enc.agg(F.sum("dist").cast("long").alias("total_err"))
        n_codes = cb.select("sub", "code").distinct().agg(
            F.count("*").cast("long").alias("n_codes")
        )
        rows.append(
            err.crossJoin(F.broadcast(n_codes)).select(
                F.lit(it).cast("int").alias("iter"), "total_err", "n_codes"
            )
        )
        if it < _PQ_REFINE_ITERS:
            cb = barrier(pq_refine_step(
                comps, cb, enc_parts=n_parts, assigned=enc
            ))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# z_sim_power_iter — leading principal component by distributed power
# iteration (operators/pca.py), fully oracled: exact-integer centered Gram
# matrix (per-partition BLAS partials, dim^2 shuffle rows — never the
# n*d^2 join explosion), _POWER_ITERS exact-integer power steps from an
# md5-seeded vector with integer-max renormalization, then every vector's exact
# integer projection on the learned direction. The published projections
# are the 1-D embedding summary curation uses for dominant-direction
# analysis / curriculum ordering; the whole trajectory (mean, Gram, both
# iterates, projections) is inside the hash because any change to any
# stage changes every projection. Oracle: the same unroll with the Gram
# matrix as a vec_id self-join (fine at oracle scale; the engine side
# keeps the partial-aggregation shape).
# ---------------------------------------------------------------------------

# 4 iterations: each costs two dimension-sized joins, and convergence rate
# is (lambda2/lambda1)^k — on the ISOTROPIC synthetic corpus (the hardest
# case, near-flat Marchenko-Pastur spectrum) 4 steps reach ~86% of the
# leading eigenvalue (measured: 2->78%, 4->86%, 12->92%); a real embedding
# corpus with a dominant direction converges in a handful of steps.
_POWER_ITERS = 4


def _power_oracle(iters: int) -> str:
    """The full power-iteration trajectory unrolled as chained CTEs (the
    LR/BPE-trainer pattern): mean -> centered -> Gram (vec_id self-join at
    oracle scale) -> `iters` exact-integer matvec+renormalize steps ->
    projections."""
    head = f"""e AS (
  SELECT vec_id,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xs,
         CAST(unnest(range(len(embedding))) AS INTEGER) AS pos
  FROM embeddings
),
mu AS (
  SELECT pos, CAST(ROUND(CAST(SUM(xs) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
  FROM e GROUP BY 1
),
cc AS (SELECT e.vec_id, e.pos, e.xs - mu.mu AS c FROM e JOIN mu ON e.pos = mu.pos),
g AS (
  SELECT a.pos AS p, b.pos AS q, SUM(a.c * b.c) AS v
  FROM cc a JOIN cc b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v0 AS (
  SELECT CAST(r.range AS INTEGER) AS pos,
         ('0x' || substr(md5('pc:' || CAST(r.range AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000 AS v_q
  FROM range({_DIM}) r
)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""w{k} AS (SELECT g.p AS pos, SUM(g.v * v{k - 1}.v_q) AS w FROM g JOIN v{k - 1} ON g.q = v{k - 1}.pos GROUP BY 1),
m{k} AS (SELECT MAX(ABS(w)) AS m FROM w{k}),
v{k} AS (
  SELECT pos,
         CAST(ROUND(CAST(w AS DOUBLE) * 1000000 / CAST(m AS DOUBLE)) AS BIGINT) AS v_q
  FROM w{k} CROSS JOIN m{k}
)"""
        )
    body = ",\n".join([head, *steps])
    return (
        f"WITH {body}\n"
        f"SELECT cc.vec_id, CAST(SUM(cc.c * v{iters}.v_q) AS BIGINT) AS proj_q\n"
        f"FROM cc JOIN v{iters} ON cc.pos = v{iters}.pos\n"
        f"GROUP BY 1"
    )


_POWER_ORACLE = _power_oracle(_POWER_ITERS)


@register("z_sim_power_iter", _POWER_ORACLE, tags=("similarity", "analysis"))
def z_sim_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-PC projections by exact-integer distributed power iteration:
    (vec_id, proj_q) for every vector. Beyond-reference LLM-pipeline
    operator (embedding whitening / dominant-direction analysis)."""
    from d3d_etl_spark.operators.pca import (
        gram_matrix_int,
        mean_vector_q,
        power_iterate,
        project_q,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mu_q = mean_vector_q(emb)
    gram = gram_matrix_int(emb, mu_q)
    v = power_iterate(gram, _DIM, _POWER_ITERS)
    return project_q(emb, mu_q, v)


# ---------------------------------------------------------------------------
# z_sim_pipeline — the embedding-side flagship composition (the vector twin
# of corpus_pipeline's dedup -> split -> pack): SemDeDup the corpus, then
# INDEX THE SURVIVORS — PQ codes + IVF cell assignment — and publish
# per-cell index statistics. This is the shape a production vector store
# build takes: dedup before indexing (duplicates poison both the codebook
# budget and the probe distribution), codes stored per coarse cell.
# Every stage is an already-oracled operator (the semdedup CTEs, the PQ
# CTEs, the label cells); the composition shares one scan and hashes
# end-to-end. Scale shape: the stages' own notes apply; the final rollup
# is cell-cardinality rows.
# ---------------------------------------------------------------------------

# the PQ stage reads the SURVIVOR subquery — codebooks are trained and
# codes built on deduplicated data, matching the stated rationale
# (duplicates poison both the codebook budget and the probe distribution)
_SIM_PIPE_SURV = (
    "(SELECT e.* FROM embeddings e "
    "LEFT JOIN drops d ON e.vec_id = d.vec_id WHERE d.vec_id IS NULL)"
)

_SIM_PIPE_ORACLE = f"""
WITH {_SEMDEDUP_CTES},
{_pq_ctes(_SIM_PIPE_SURV)},
cells AS (SELECT vec_id, label FROM embeddings)
SELECT c.label,
       CAST(COUNT(s.vec_id) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - COUNT(s.vec_id) AS BIGINT) AS n_dropped,
       CAST(COUNT(DISTINCT s.code_sig) AS BIGINT) AS n_code_sigs
FROM cells c
LEFT JOIN sig s ON c.vec_id = s.vec_id
GROUP BY c.label
"""


@register("z_sim_pipeline", _SIM_PIPE_ORACLE, tags=("similarity", "pipeline"), bench=True)
def z_sim_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding pipeline end-to-end: SemDeDup -> survivor PQ codes ->
    per-IVF-cell index profile (kept/dropped counts, distinct code
    signatures). Beyond-reference LLM-pipeline composition."""
    from d3d_etl_spark.operators.pq import pq_codebooks, pq_encode

    clustered, drops = _semdedup_parts(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # the index is built on the SURVIVORS: codebooks trained and codes
    # encoded post-dedup (the drop set is pair-bounded -> broadcast anti).
    # No barrier on cb: pq_encode broadcasts the codebook exactly once (one
    # consumer). The training aggregate still stays out of the broadcast
    # build: AQE stages its exchange as a ShuffleQueryStage — the survivor
    # scan, partial agg and shuffle write run as their own job first — so
    # the broadcast thread only merges the shuffled partials into the
    # M x ks x (dim/M) codebook rows. This holds only with
    # spark.sql.adaptive.enabled, which get_spark sets.
    surv = emb.join(F.broadcast(drops), "vec_id", "left_anti")
    cb = pq_codebooks(surv, _DIM, _PQ_M, _PQ_KS)
    codes = pq_encode(surv, cb, _DIM, _PQ_M)
    sig = codes.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda s: s["code"].cast("string"),
            ),
            "-",
        ).alias("code_sig")
    )
    flagged = emb.select("vec_id", "label").join(
        sig.hint("shuffle_hash"), "vec_id", "left"
    )
    kept = F.col("code_sig").isNotNull()
    return flagged.groupBy("label").agg(
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.sum((~kept).cast("int")).cast("long").alias("n_dropped"),
        F.count_distinct("code_sig").cast("long").alias("n_code_sigs"),
    )


# ---------------------------------------------------------------------------
# z_graph_pagerank — PageRank over the near-duplicate graph: which
# documents sit at the CENTER of duplication clusters (high-rank nodes are
# the "canonical attractors" a dedup reviewer looks at first; rank also
# orders cluster representatives better than min-id when clusters are
# star-shaped). Beyond-CC graph analytics: an ITERATIVE fixed-point
# algorithm with per-node state, fully oracled.
# Arithmetic is EXACT INTEGERS END TO END — no rounding contract at all:
# rank quantized to 1e9 units, damping 0.85 applied as (17 * x) div 20 and
# the teleport term as (3 * SCALE) div (20 * N), neighbor contributions as
# pr div deg — every engine computes identical longs at every step, so the
# 3-iteration trajectory unrolls as chained CTEs like the LR/BPE/power
# trainers. Edges are the ANN-gated near-dup pairs (the sim_near_dedup
# candidate machinery, so the gate contract is shared); dangling mass
# (isolated vectors) redistributes uniformly.
# Scale shape: one edges table (gated, not all-pairs), degree = one agg,
# each iteration = one join edges x ranks + one agg + two broadcast
# scalars (dangling sum, N). The 100 TB shape of power iteration applied
# to a sparse matrix.
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000
_PR_ITERS = 3


def _pagerank_oracle(iters: int) -> str:
    head = f"""{_GATE_CTES},
s AS (
  SELECT c.vec_a, c.vec_b,
         ROUND(SUM(ea.x * eb.x)
               / (SQRT(SUM(ea.x * ea.x)) * SQRT(SUM(eb.x * eb.x))), 6) AS sim
  FROM cand c
  JOIN e0 ea ON ea.vec_id = c.vec_a
  JOIN e0 eb ON eb.vec_id = c.vec_b AND eb.pos = ea.pos
  GROUP BY 1, 2
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM s WHERE sim >= {_DEDUP_T}
  UNION ALL
  SELECT vec_b, vec_a FROM s WHERE sim >= {_DEDUP_T}
),
nodes AS (SELECT vec_id FROM embeddings),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
deg AS (SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
pr0 AS (
  SELECT vec_id, CAST({_PR_SCALE} // nn.n AS BIGINT) AS pr
  FROM nodes CROSS JOIN nn
)"""
    steps = []
    for k in range(iters):
        steps.append(
            f"""contrib{k} AS (
  SELECT e.dst AS vec_id, CAST(SUM(p.pr // dg.d) AS BIGINT) AS s_in
  FROM edges e
  JOIN pr{k} p ON e.src = p.vec_id
  JOIN deg dg ON e.src = dg.vec_id
  GROUP BY 1
),
dang{k} AS (
  SELECT CAST(COALESCE(SUM(p.pr), 0) AS BIGINT) AS dm
  FROM pr{k} p LEFT JOIN deg dg ON p.vec_id = dg.vec_id
  WHERE dg.vec_id IS NULL
),
pr{k + 1} AS (
  SELECT p.vec_id,
         CAST({3 * _PR_SCALE} // (20 * nn.n)
              + (17 * (COALESCE(c.s_in, 0) + dang{k}.dm // nn.n)) // 20 AS BIGINT) AS pr
  FROM pr{k} p
  LEFT JOIN contrib{k} c ON p.vec_id = c.vec_id
  CROSS JOIN nn CROSS JOIN dang{k}
)"""
        )
    body = ",\n".join([head, *steps])
    return (
        f"WITH {body}\n"
        f"SELECT vec_id, pr AS pr_q FROM pr{iters}"
    )


_PAGERANK_ORACLE = _pagerank_oracle(_PR_ITERS)


@register("z_graph_pagerank", _PAGERANK_ORACLE, tags=("similarity", "graph"))
def z_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 exact-integer PageRank iterations over the ANN-gated near-dup
    graph: (vec_id, pr_q) with pr in 1e-9 units. Beyond-reference
    LLM-pipeline operator (duplication-cluster centrality)."""
    from d3d_etl_spark.operators.similarity import ann_gated_near_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = barrier(ann_gated_near_pairs(
        emb, _DEDUP_T, _DIM, _GATE_PLANES, _GATE_BANDS
    ))
    edges = barrier(
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")).unionByName(
            pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
        )
    )
    nodes = emb.select("vec_id")
    nn = nodes.agg(F.count("*").cast("long").alias("n"))
    deg = barrier(edges.groupBy(F.col("src").alias("vec_id")).agg(
        F.count("*").cast("long").alias("d")
    ))
    pr = barrier(nodes.crossJoin(F.broadcast(nn)).select(
        "vec_id", F.expr(f"{_PR_SCALE} div n").cast("long").alias("pr")
    ))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(pr.withColumnRenamed("vec_id", "src"), "src")
            .join(deg.withColumnRenamed("vec_id", "src").hint("shuffle_hash"), "src")
            .groupBy(F.col("dst").alias("vec_id"))
            .agg(F.sum(F.expr("pr div d")).cast("long").alias("s_in"))
        )
        dang = (
            pr.join(deg, "vec_id", "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0)).cast("long").alias("dm"))
        )
        pr = barrier(
            pr.join(contrib.hint("shuffle_hash"), "vec_id", "left")
            .crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .select(
                "vec_id",
                F.expr(
                    f"CAST({3 * _PR_SCALE}L div (20 * n) "
                    f"+ (17 * (coalesce(s_in, 0) + dm div n)) div 20 AS BIGINT)"
                ).alias("pr"),
            )
        )
    return pr.select("vec_id", F.col("pr").alias("pr_q"))


# ---------------------------------------------------------------------------
# z_sim_pq_incremental — incremental PQ index maintenance + serving: the
# PQ lifecycle's state-shaped daily path (the z_sim_incremental pattern
# applied to the compressed index). Batch-1 state — the trained codebooks
# and the old corpus's CODES — is persisted to parquet once per scale; the
# measured query handles the new fixed-size ingest batch alone:
#   1. encode new vectors against the STORED codebooks (map-only after
#      a broadcast — no retrain; codebook drift is the documented
#      periodic-retrain concern, exactly as in FAISS practice);
#   2. candidates by CODE COLLISION (new and old share a sub-code in some
#      subspace — PQ-codes-as-multi-index blocking, work proportional to
#      collisions, never |new| x |old|);
#   3. ADC-score only the candidates: per-new-vector (M x ks) integer
#      distance table from the stored codebooks, M adds per candidate
#      pair — the old corpus's floats are NEVER read (codes only).
# The DuckDB oracle reads the SAME persisted state parquet, so the state
# handoff sits inside the hash check. New vectors with no collision emit
# no row (nothing servable from the index without a wider probe).
# ---------------------------------------------------------------------------

# "_r" = RESIDUAL-encoded state-family version: codes quantize
# (vector - assigned coarse centroid) integer residuals, the FAISS IVFADC
# default (Jégou, Douze, Schmid 2011 §IV) and the repo's own pinned
# doctrine (z_sim_ivfpq_residual: residual codes >= 3/25 better than raw
# at identical storage). A new family name so stale raw-code caches can
# never serve the residual contract (the "_s"/"_t" precedent).
PQ_ICENTS = StateFamily("pq_icents_r")
PQ_CB = StateFamily("pq_cb_r")
PQ_CODES = StateFamily("pq_codes_r")


def pq_index_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(icents, codebooks, old_codes): the batch-1 PQ index, persisted per
    scale, RESIDUAL-encoded: codes quantize
    r = x - q1(x) — the old vector minus its assigned coarse centroid,
    integer-quantized per cell — not x itself. The coarse quantizer
    absorbs the between-cell variance, so the (m, ks) bit budget covers
    the tight within-cell residual distribution instead of the whole
    corpus spread; cross-cell ADC ties (the raw-code arm's measured
    aliasing, 87/125 in-true-cluster) break because a new vector's
    residual against a WRONG probed cell's centroid is large.
    icents: (label, pos, c_int) integer residual anchors = round of the
    exact integer component sum / count over each cell's old members —
    the same deterministic quantized-mean rule as the doctrine oracle's
    `ic` CTE, K*dim rows (broadcast-sized at any corpus scale)."""
    from d3d_etl_spark.operators.pq import pq_subspace_comps

    _, assign = ivf_index_state(spark, sf_dir)
    lab = assign.select("vec_id", F.col("assigned_label").alias("label"))

    def old_batch() -> DataFrame:
        return serving_split(spark, sf_dir)[1]

    def old_comps() -> DataFrame:
        return pq_subspace_comps(old_batch(), _DIM, _PQ_M).join(
            lab.hint("shuffle_hash"), "vec_id"
        )

    def build_icents(tmp: str) -> None:
        old_comps().groupBy("label", "pos").agg(
            F.round(F.sum("xs") / F.count("*")).cast("long").alias("c_int")
        ).write.mode("overwrite").parquet(tmp)

    icents = read_parquet(spark, PQ_ICENTS.ensure(sf_dir, build_icents))

    def res_comps() -> DataFrame:
        # (vec_id, sub, pos, xs): exact-integer residuals vs the assigned
        # cell's quantized anchor — the codebook trainer and the encoder
        # both consume THIS table, so codes and codebooks share one
        # residual definition with the oracle's serving-side mirror
        return old_comps().join(F.broadcast(icents), ["label", "pos"]).select(
            "vec_id", "sub", "pos", (F.col("xs") - F.col("c_int")).alias("xs")
        )

    def build_cb(tmp: str) -> None:
        # SAMPLE-SEEDED + twice-refined codebooks: the
        # hash-partition seeding puts all ks sub-centroids at ~the
        # subspace grand mean, which quantizes every neighborhood to the
        # same codes (measured: ADC neighbor landed in the true neighbor's
        # planted cluster only 43/125 times at sf0.001 under grand-mean
        # raw codebooks). Seeding each code from an ACTUAL vector's
        # residual sub-components (ks hash-ranked ids — FAISS-style
        # sample init) and running two Lloyd refinements anchors codes at
        # distinct residual modes; the state build is Spark-only (the
        # oracle reads the persisted parquet), so the better trainer
        # changes index content, never the serving contract.
        from d3d_etl_spark.operators.pq import pq_refine_step

        comps = barrier(res_comps())
        seed_map = spark.createDataFrame(
            [(int(v), c) for c, v in enumerate(_hash_sample_ids(old_batch(), _PQ_KS))],
            "vec_id long, code int",
        )
        cb = comps.join(F.broadcast(seed_map), "vec_id").select(
            "sub", "code", "pos", F.col("xs").alias("c_q")
        )
        for _ in range(2):
            cb = pq_refine_step(comps, cb)
        cb.write.mode("overwrite").parquet(tmp)

    cb = read_parquet(spark, PQ_CB.ensure(sf_dir, build_cb))

    def build_codes(tmp: str) -> None:
        from d3d_etl_spark.operators.pq import pq_encode_comps

        pq_encode_comps(res_comps(), cb).select(
            "vec_id", "sub", "code"
        ).write.mode("overwrite").parquet(tmp)

    return icents, cb, read_parquet(spark, PQ_CODES.ensure(sf_dir, build_codes))


# Candidates come from the persisted IVF cell state (the _INC_PROBE_CTES
# chain — FAISS's IVFADC serving recipe), NOT from code collisions: with
# ks=16 codes per subspace, "shares ANY code" admits ~1-(15/16)^M of the
# ENTIRE old corpus as candidates (all-pairs-grade — the registry audit
# measured a 3.5 GiB task and a timeout at sf1 under that rule).
# The cell gate bounds candidates at nprobe x cell occupancy, and the ADC
# half still never reads an old float.
# RESIDUAL serving: codes quantize (old - c_int(assigned cell))
# and the new side mirrors it — newe subtracts the PROBED cell's anchor,
# so the ADC table dt is per (new vector, probed cell) and scored matches
# each candidate against the table row of the OLD vector's own cell
# (dt.label = cand.label). Exact-integer contract end-to-end: anchors are
# round(sum/count) integers, residuals integer differences.
_PQ_INC_CTES = f"""{_INC_PROBE_CTES},
cb AS (SELECT sub, code, pos, c_q FROM read_parquet('{PQ_CB.glob}')),
ic AS (SELECT label, pos, c_int FROM read_parquet('{PQ_ICENTS.glob}')),
oldc AS (SELECT vec_id AS old_id, sub, code FROM read_parquet('{PQ_CODES.glob}')),
newe AS (
  SELECT c.vec_id, p.label,
         c.pos // {_PQ_DSUB} AS sub,
         c.pos,
         CAST(ROUND(c.x * 1000000) AS BIGINT) - i.c_int AS rs
  FROM cemb c
  JOIN probe p ON c.vec_id = p.vec_id
  JOIN ic i ON i.label = p.label AND i.pos = c.pos
),
dt AS (
  SELECT n.vec_id, n.label, cb.sub, cb.code,
         SUM((n.rs - cb.c_q) * (n.rs - cb.c_q)) AS d
  FROM newe n JOIN cb ON n.sub = cb.sub AND n.pos = cb.pos
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT c.vec_id, c.old_id, CAST(SUM(dt.d) AS BIGINT) AS adist
  FROM cand c
  JOIN oldc o ON o.old_id = c.old_id
  JOIN dt ON dt.vec_id = c.vec_id AND dt.label = c.label
         AND dt.sub = o.sub AND dt.code = o.code
  GROUP BY 1, 2
)
"""

_PQ_INC_ORACLE = f"""
WITH {_PQ_INC_CTES}
SELECT vec_id, old_id AS nn_id, adist FROM (
  SELECT vec_id, old_id, adist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adist, old_id) AS rn
  FROM scored
) WHERE rn = 1
"""

# ADC shortlist size for the refine arm. Within a probed cell, ADC
# cannot rank finer than code granularity (in-cluster members share
# codes and tie), so the shortlist must carry the TIE SET into the exact
# re-rank — and the tie set is a slice of the true cell's OCCUPANCY,
# which grows ~sqrt(N) under the scaled-K index. A FIXED R=16 measured
# the predicted decay where the walls are quoted: recall@1 0.924 @ sf0.1
# -> 0.861 @ sf1 as the covered fraction of a cell fell 42% -> 12%;
# linear extrapolation crossed the 0.8 audit floor within another ~10x.
# So R scales with occupancy: R = max(16, ceil(0.4 * N_old / K)) with
# K = ceil(sqrt(N_old)) — the covered fraction stays ~0.4 at every
# scale, the knee the R-sweep measured (R=2/4/8/16/32 ->
# 65/71/90/123/124 of 125 at sf0.001/sf0.01, where occupancy ~= 19/38
# puts the knee R=16 at exactly this fraction). Integer ceil-division on
# both engines (python // and DuckDB //), so the SQL image is exact.
# Cost shape: the refine fetch becomes |new| x R with R ~ 0.4*sqrt(N_old)
# — sqrt-growth, not corpus-proportional (at 10^10 vectors R ~ 40k of
# 10^10 — five orders under the candidate set it re-ranks). At the
# shipped scales R stays 16 through sf0.1 (occupancy 38: ceil(0.4*38) =
# 16) and becomes 54 at the sf1 slice (occupancy ~133), which restores
# the sf0.1-level covered fraction — measured recall back over the 0.9
# floor (STRESS_registry.json).
_PQ_RERANK_R_MIN = 16


def rerank_r(n_old: int) -> int:
    """Occupancy-scaled exact-refine shortlist size (see block comment):
    max(16, ceil(2*N_old / (5*K))), K = ceil(sqrt(N_old)) — the same
    integer arithmetic as the oracle's rparams CTE."""
    import math

    k = math.ceil(math.sqrt(n_old))
    return max(_PQ_RERANK_R_MIN, (2 * n_old + 5 * k - 1) // (5 * k))


_PQ_RERANK_ORACLE = f"""
WITH {_PQ_INC_CTES},
rparams AS (
  SELECT GREATEST({_PQ_RERANK_R_MIN}, (2 * n_old + 5 * k - 1) // (5 * k)) AS r_eff
  FROM (
    SELECT COUNT(*) AS n_old, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k
    FROM embeddings e CROSS JOIN srvp s WHERE e.vec_id % s.bmod != 0
  )
),
short AS (
  SELECT vec_id, old_id FROM (
    SELECT vec_id, old_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adist, old_id) AS rn
    FROM scored
  ) WHERE rn <= (SELECT r_eff FROM rparams)
),
{_exact_top1_ctes("short")}
SELECT vec_id, old_id AS nn_id, sim AS nn_sim FROM top1
"""


def _pq_inc_scored(
    spark: SparkSession, sf_dir: str, new: DataFrame
) -> tuple[DataFrame, dict]:
    """((vec_id, old_id, adist), stats): the IVFADC candidate scores of
    the new batch `new` (serving_split's first frame) —
    cell-gated candidates x exact-integer ADC over stored codes — shared
    by the pure ADC serving arm (z_sim_pq_incremental) and the
    exact-refine arm (z_sim_pq_rerank). The engine twin of the
    _PQ_INC_CTES `scored` table. `stats` is _inc_probe_cand's
    scalar dict — the rerank arm reads n_old from it instead of running
    a per-invocation corpus count job."""
    from d3d_etl_spark.operators.pq import pq_subspace_comps

    icents, cb, old_codes = pq_index_state(spark, sf_dir)
    old_codes = old_codes.select(F.col("vec_id").alias("old_id"), "sub", "code")
    cents, assign = _ivf_assign_l(spark, sf_dir)
    # fan the thin single-split batch once; _inc_probe_cand's own fan_out
    # then sees >= session parallelism and passes it through, so the qres
    # residual chain below shares the rebalance instead of re-serializing
    # on the scan split (unfanned, the dt map side ran as ONE 1.5 s task)
    new = fan_out(new)
    # cand_key="old_id": the ONLY consumer below is the codes join, keyed
    # on old_id — the vec_id layout would make the pair table cross two
    # exchanges back to back (vec_id, then old_id). One consumer, so no
    # barrier: the fan join runs inside the one scoring job, concurrently
    # with the dt/codes subtrees AQE materializes. The pair-count-scaled
    # repartition inside _inc_probe_cand lands directly on old_id.
    probe, cand, stats = _inc_probe_cand(
        spark,
        new,
        cents,
        assign,
        pairs_per_task=_PQ_INC_PAIRS_PER_TASK,
        cand_key="old_id",
    )
    # per-PROBED-CELL new residual: the stored codes quantize
    # residuals, so the query side must too — r = x_new - c_int(probed
    # cell), one residual per (new vector, probed cell). probe is
    # batch-grain (|new| x nprobe rows) and icents is K x dim — both
    # broadcast-sized at any corpus scale.
    qres = (
        pq_subspace_comps(new, _DIM, _PQ_M)
        .join(F.broadcast(probe.select("vec_id", "label")), "vec_id")
        .join(F.broadcast(icents), ["label", "pos"])
        .select(
            "vec_id", "label", "sub", "pos",
            (F.col("xs") - F.col("c_int")).alias("rs"),
        )
    )
    # per-new-vector ADC table: EXACTLY |new| x nprobe x M x ks integer
    # rows (every (vec, label) carries a full residual, the cb join is
    # complete, and the groupBy emits every (sub, code) cell) — so the
    # broadcast-cap row count is ANALYTIC from the checkpointed probe's
    # count, and dt itself needs no checkpoint/count job of its own (the
    # residual tables are nprobe x bigger, so a materialize-then-count
    # pass is not free)
    dt = (
        qres.join(F.broadcast(cb), ["sub", "pos"])
        .groupBy("vec_id", "label", "sub", "code")
        .agg(
            F.sum((F.col("rs") - F.col("c_q")) * (F.col("rs") - F.col("c_q"))).alias("d")
        )
    )
    # The scoring chain rides ONE candidate-count-scaled old_id
    # partitioning: cand arrives already repartitioned by old_id (pair-
    # grain, scaled in _inc_probe_cand — same ceil(n_pairs/pairs_per_task)
    # formula as score_parts), the corpus-grain old_codes shuffle-hashes
    # to match.
    n_pairs = stats["n_pairs"]  # exact, from the fan-out collect — no job
    score_parts = max(
        spark.sparkContext.defaultParallelism,
        -(-n_pairs // _PQ_INC_PAIRS_PER_TASK),
    )
    pair_codes = cand.join(old_codes.hint("shuffle_hash"), "old_id")
    # ADC lookup: an unconditional dt broadcast grows with the ingest
    # batch (a corpus-proportional batch measured 230 MB at sf1, the
    # registry tail's largest task peak); the fixed-size batch bounds dt
    # by itself, and the counted cap stays as the enforced guard either
    # way. The bound is ENFORCED, not asserted:
    # dt's exact row count (|new| x nprobe x M x ks — the groupBy emits
    # every (vec, label, sub, code) cell, and the checkpointed dt's count
    # is a cheap
    # post-materialization read) broadcasts only under _ADC_BC_ROWS; past
    # the cap the lookup becomes a shuffle-hash join with dt as the build
    # side, partitions scaled by BOTH sides' counts (the stream side is
    # pairs x M rows — pair-grain, so it must drive the partition count too
    # or per-task stream volume would grow with corpus occupancy). Same
    # pair set, same sums — oracle-neutral (parity pinned in
    # tests/test_pq_r5.py::test_pq_incremental_adc_cap).
    dt_rows = stats["n_probe_rows"] * _PQ_M * _PQ_KS  # exact (see dt comment)
    if dt_rows <= _ADC_BC_ROWS:
        # broadcast lookup leaves pair_codes' old_id partitioning intact:
        # HashPartitioning([old_id]) satisfies the (vec_id, old_id)
        # aggregate's clustering (subset rule), so no further exchange
        adc_joined = pair_codes.join(F.broadcast(dt), ["vec_id", "label", "sub", "code"])
    else:
        adc_parts = max(
            spark.sparkContext.defaultParallelism,
            -(-max(dt_rows, n_pairs * _PQ_M) // _ADC_ROWS_PER_TASK),
        )
        # the (vec_id, label, sub, code) join partitioning does NOT satisfy
        # the (vec_id, old_id) aggregate's clustering, so restore the
        # count-scaled old_id layout explicitly before the groupBy — a
        # planner-inserted exchange would run at the FIXED session
        # shuffle-partition count, whose per-task group state grows with
        # the corpus (review finding; the ride-one-partitioning rule)
        adc_joined = (
            pair_codes.repartition(adc_parts, "vec_id", "label", "sub", "code")
            .join(
                dt.repartition(adc_parts, "vec_id", "label", "sub", "code").hint(
                    "shuffle_hash"
                ),
                ["vec_id", "label", "sub", "code"],
            )
            .repartition(score_parts, "old_id")
        )
    scored = adc_joined.groupBy("vec_id", "old_id").agg(
        F.sum("d").cast("long").alias("adist")
    )
    return scored, stats


@register("z_sim_pq_incremental", _PQ_INC_ORACLE, tags=("similarity", "incremental"))
def z_sim_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest indexed neighbor (by exact-integer ADC over stored
    RESIDUAL codes) for each new-batch vector — the FAISS IVFADC serving
    recipe over THREE persisted states: the coarse-cell index gates
    candidates (probe nprobe cells, fetch their members), the residual
    anchors + PQ codes score them (per-(new, probed-cell) ADC table, M
    integer adds per candidate) — old floats never read. Residual
    encoding (the z_sim_ivfpq_residual doctrine) lifts
    the in-true-cluster rate 87 -> 123/125 by breaking cross-cell code
    aliasing. Beyond-reference LLM-pipeline operator (compressed-index
    maintenance + serving).

    Candidates come from the cell gate, not from code collisions: the rule
    "shares ANY code with the new vector's encoding" admits ~1-(15/16)^M of
    the ENTIRE old corpus at ks=16 — all-pairs-grade, measured as a 3.5 GiB
    task + timeout at sf1. The cell gate bounds candidates at nprobe x cell
    occupancy and shares its definition (engine helper + oracle CTEs) with
    z_sim_incremental."""
    scored, _ = _pq_inc_scored(spark, sf_dir, serving_split(spark, sf_dir)[0])
    # top-1 as a min_by hash aggregate over the (adist, old_id) total
    # order — the exact arm's sort-free argmin recipe; adist is an exact
    # integer and old_id unique per group, so no ties
    return (
        scored.groupBy("vec_id")
        .agg(F.min_by(F.struct("old_id", "adist"), F.struct("adist", "old_id")).alias("_b"))
        .select("vec_id", F.col("_b.old_id").alias("nn_id"), F.col("_b.adist").alias("adist"))
    )


@register(
    "z_sim_pq_rerank", _PQ_RERANK_ORACLE, tags=("similarity", "incremental"), bench=True
)
def z_sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + REFINE: the ADC arm's top-R shortlist re-ranked
    by exact cosine — FAISS's IndexRefine recipe, the standard answer to
    PQ quantization loss (with residual codes the remaining loss is
    WITHIN-cell: residuals are near-noise, so in-cell members tie at code
    granularity; the shortlist carries the tie set into the exact
    re-rank — measured 123/125 recall@1 at the shipped R=16, pinned >=
    0.95 in tests/test_serving_scaledk_r10.py). The residual tables cost
    wall and task memory honestly: 5.1 -> 7.5 s and max-task
    18.6 -> 45.2 MB vs raw codes — the ADC table is nprobe x
    bigger and its lookup shuffle-hashes past the broadcast cap — both
    batch-grain BOUNDED (fixed |new|), the price of recall 0.88 -> 0.98.
    Old floats are read ONLY
    for the R-per-new shortlist — a
    selective semi-join fetch exactly like z_sim_incremental's, but over
    |new| x R rows instead of the full candidate set; R is
    OCCUPANCY-SCALED (R = max(16, ceil(0.4 * N_old / K)),
    see _PQ_RERANK_R_MIN) so recall holds at scale while the refine
    fetch grows only ~sqrt(N_old), five orders under the candidate set
    it re-ranks. Shares the scored chain (engine helper +
    oracle CTEs) with the ADC arm — the two arms can never drift on WHO
    is scored."""
    from pyspark.sql import Window

    new, old, _ = serving_split(spark, sf_dir)
    scored, stats = _pq_inc_scored(spark, sf_dir, new)
    # occupancy-scaled shortlist width (see _PQ_RERANK_R_MIN):
    # n_old is a driver scalar shared with the oracle's rparams CTE via
    # the exact integer rerank_r rule. It comes from the probe
    # fan-out's label-grain collect (sum of per-cell occupancies of the
    # persisted assignment — every old vector is assigned exactly once,
    # so the sum IS the old-corpus count), so the plan runs no
    # per-invocation corpus count job.
    n_old = stats["n_old"]
    w_adc = Window.partitionBy("vec_id").orderBy(F.asc("adist"), F.asc("old_id"))
    # |new| x R rows — batch-grain, reused twice; the shortlist keeps its
    # row_number window (top-R needs ranks)
    short = barrier(
        scored.withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= rerank_r(n_old))
        .select("vec_id", "old_id")
    )
    return _exact_top1(short, new, old).select(
        "vec_id", F.col("old_id").alias("nn_id"), F.col("sim").alias("nn_sim")
    )


# ---------------------------------------------------------------------------
# z_sim_ivf_scaledk — the FAISS cell-count doctrine as a driver-hashed
# measured invariant. The sf1 sweep audit measured recall@nprobe
# collapsing at 10x corpus under the FIXED K=8 coarse cells
# (STRESS_registry.json sweeps_sf1: 3/10 at nprobe=4): cells must scale
# with the corpus. This query BUILDS the scaled index — K = ceil(sqrt(N))
# cells, two Lloyd iterations from the hash seed (the oracled kmeans2
# chain, K now corpus-derived on both engines: python sqrt vs SQL
# CEIL(SQRT(COUNT(*)))) — and publishes the recall/cost curve at
# nprobe = ceil(K/16 / K/8 / K/4 / K/2): the same sweep contract as
# z_sim_recall_sweep, with the knob the doctrine actually prescribes.
# Scale shape: identical to the fixed-K sweep (one broadcast-query scoring
# pass, checkpointed; arms are filters + TakeOrdered(k) + 1-row aggs;
# the only windows rank the K-row cell table) — K=sqrt(N) keeps the
# centroid table broadcastable to ~10^5 cells at 10^10 vectors.
# ---------------------------------------------------------------------------

_SCALEDK_DIVS = (16.0, 8.0, 4.0, 2.0)

_SCALEDK_ORACLE = f"""
WITH kq AS (
  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS kc FROM embeddings
),
{_km2_ctes("SELECT kc FROM kq")},
""" + _recall_curve_sql(
    "e0",
    "(SELECT vec_id, cluster AS cell FROM asgn2)",
    "SELECT DISTINCT GREATEST(1, CAST(CEIL(kc / d.d) AS INT)) AS nprobe "
    f"FROM kq, (SELECT unnest({list(_SCALEDK_DIVS)}) AS d) d",
    ", (SELECT CAST(kc AS INT) FROM kq) AS k_cells",
)


@register("z_sim_ivf_scaledk", _SCALEDK_ORACLE, tags=("similarity",))
def z_sim_ivf_scaledk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@K and candidate cost of IVF pruning with CORPUS-SCALED cell
    count: K = ceil(sqrt(N)) cells trained by two oracled Lloyd
    iterations, probed at nprobe = ceil(K/16 .. K/2). The constructive
    answer to the sf1 sweep finding that fixed K=8 cells under-partition
    a growing corpus — and the doctrine the incremental
    serving family (ivf_index_state) actually serves with."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_count(spark, sf_dir, "embeddings")  # memoized — drives K on both engines
    k_cells = math.ceil(math.sqrt(n))
    _, asgn2 = kmeans2_assign_emb(emb, k=k_cells)
    cells = asgn2.select("vec_id", F.col("assigned_label").alias("cluster"))
    cents = label_centroids(emb.join(cells.hint("shuffle_hash"), "vec_id"), "cluster")
    nprobes = sorted({max(1, math.ceil(k_cells / d)) for d in _SCALEDK_DIVS})
    return _recall_curve(emb, cents, "cluster", nprobes, cells=cells, k_cells=k_cells)
