"""Product quantization (PQ) for embedding compression + ADC search
(Jégou, Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
Search"; the FAISS IVF-PQ shape).

Why this exists at 100 TB: a float32 corpus at dim 768 is 3 KB/vector;
PQ with M sub-quantizers stores M small codes (M bytes at ks<=256) — a
~400x shrink — and queries score candidates from a per-query
(M x ks) distance TABLE with M integer adds per vector (ADC: asymmetric
distance computation), never touching the raw floats. The index scan
becomes bandwidth-bound over codes instead of floats, which is the whole
economics of billion-scale ANN.

Engine determinism contract (matches the IVF/k-means arms):
- components are fixed-point integers (round(x * 1e6), SIM_SCALE);
- sub-centroids are hash-seeded (md5(vec_id || ':' || sub) % ks — each
  subspace seeds independently) and quantized back to integers
  (round of an exact-integer-sum / count division: both engines divide
  identical integers and round half-away on identical doubles);
- encoding distance and ADC distance are EXACT integer sums of squared
  integer differences — no float exposure anywhere past the centroid
  quantization, so ranking needs no rounding contract at all;
- every argmin/top-k tie-breaks on (distance asc, code/id asc).

Scale shape: codebooks are M * ks * dsub rows (tiny, broadcast); encoding
is one broadcast join + per-(vector, sub) argmin over ks candidates
(map-side after the broadcast); the ADC distance table is M * ks integers
per query (broadcast); scoring is a map over the code table + one
partial top-k. Composes with the IVF coarse stage (probe cells, then ADC
only within them) exactly like FAISS IVF-PQ — z_sim_ivfpq in
queries/simsearch.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.operators.similarity import SIM_SCALE


def pq_subspace_comps(
    emb: DataFrame, dim: int, m: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, sub, pos, xs): fixed-point components tagged with their
    subspace (contiguous blocks of dim/m positions)."""
    if dim % m:
        raise ValueError(f"dim {dim} must split evenly into {m} subspaces")
    dsub = dim // m
    return emb.select(
        id_col, F.posexplode(vec_col).alias("pos", "x")
    ).select(
        id_col,
        (F.col("pos") / dsub).cast("int").alias("sub"),
        "pos",
        F.round(F.col("x").cast("double") * SIM_SCALE).cast("long").alias("xs"),
    )


def pq_codebooks_from_comps(
    comps: DataFrame, ks: int, id_col: str = "vec_id"
) -> DataFrame:
    """(sub, code, pos, c_q) from an (id, sub, pos, xs) component table —
    one hash-seeded Lloyd assignment + integer-quantized means. Taking
    comps (not vectors) lets the residual IVF-PQ path train codebooks on
    (vector - coarse centroid) residuals with the same machinery."""
    from d3d_etl_spark.functions.strings import md5_int

    seeded = comps.withColumn(
        "code",
        F.pmod(
            md5_int(
                F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("sub").cast("string"))
            ),
            F.lit(ks),
        ).cast("int"),
    )
    return seeded.groupBy("sub", "code", "pos").agg(
        F.round(F.sum("xs") / F.count("*")).cast("long").alias("c_q")
    )


def pq_codebooks(
    emb: DataFrame,
    dim: int,
    m: int,
    ks: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, code, pos, c_q): per-subspace codebooks from one hash-seeded
    Lloyd assignment — the deterministic k-means-step contract of
    label_centroids applied per subspace, centroids quantized back to
    fixed-point integers so downstream distances stay exact."""
    return pq_codebooks_from_comps(
        pq_subspace_comps(emb, dim, m, id_col, vec_col), ks, id_col
    )


def pq_encode_comps(
    comps: DataFrame, codebooks: DataFrame, id_col: str = "vec_id",
    enc_parts: int | None = None,
) -> DataFrame:
    """(id, sub, code, dist) from an (id, sub, pos, xs) component table:
    nearest sub-centroid per subspace by exact integer squared-L2,
    tie-break code asc. The codebook is broadcast; per-vector work is ks
    candidate sums per subspace.

    `enc_parts`: optional count-scaled partition count for the candidate
    (id, sub, code) table. The encode chain's agg + argmin-window
    otherwise exchange at the FIXED session shuffle-partition count, so
    per-task agg/sort state grows linearly with the corpus (a registry
    audit measured z_sim_pq_refine's top task 49 -> 164 MB across a 10x
    scale step). A user repartition on (id, sub) satisfies BOTH
    the aggregate's and the window's clustering (subset rule), so one
    exchange serves the whole chain and per-task state is vectors-per-
    task-bounded. Partitioning-only — results identical."""
    from pyspark.sql import Window

    fan = comps.join(F.broadcast(codebooks), ["sub", "pos"])
    if enc_parts:
        fan = fan.repartition(enc_parts, id_col, "sub")
    d = (
        fan
        .groupBy(id_col, "sub", "code")
        .agg(
            F.sum(
                (F.col("xs") - F.col("c_q")) * (F.col("xs") - F.col("c_q"))
            ).alias("dist")
        )
    )
    # argmin as a HASH AGGREGATE, not a row_number window: min_by over the
    # total order (dist, code) picks exactly the window's (dist asc, code
    # asc) first row — same result, deterministic (code is unique within
    # the group, so the struct order has no ties) — but the plan swaps the
    # window's per-task SORT for dimension-bounded hash-agg state, and a
    # hash partitioning on (id, sub) from either the d agg above (subset
    # rule) or the caller's enc_parts repartition satisfies its
    # clustering, so no further exchange. A window form's sort pages grow
    # z_sim_pq_refine's task peak 49 -> 164 MB across a 10x scale step.
    best = F.min_by(F.struct("code", "dist"), F.struct("dist", "code")).alias("_b")
    return (
        d.groupBy(id_col, "sub")
        .agg(best)
        .select(id_col, "sub", F.col("_b.code").alias("code"), F.col("_b.dist").alias("dist"))
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """pq_encode_comps over vectors — see there."""
    return pq_encode_comps(
        pq_subspace_comps(emb, dim, m, id_col, vec_col), codebooks, id_col
    )


def pq_refine_step(
    comps: DataFrame, codebooks: DataFrame, id_col: str = "vec_id",
    enc_parts: int | None = None, assigned: DataFrame | None = None,
) -> DataFrame:
    """One Lloyd iteration of the PQ codebooks: re-assign every vector to
    its nearest sub-centroid (pq_encode_comps), then re-mean each
    (sub, code) cluster's components with the same integer-quantized
    division the seeding used. Deterministic end-to-end (exact integer
    distances, (dist, code) tie-break, round-half-away on an exact
    integer-sum / count). Codes whose cluster empties simply drop out —
    the encode path argmins over present codes only. One shuffle per
    iteration (the (id, sub, code) re-assignment agg); the re-mean output
    stays M*ks*dsub-row dimension-sized."""
    # `assigned`: a caller that already materialized this iteration's
    # encode (e.g. for an error readout) passes it so the step re-means
    # WITHOUT re-encoding — halves the work and keeps the stage from
    # pipelining two full encode chains' agg state into one task
    if assigned is None:
        assigned = pq_encode_comps(comps, codebooks, id_col, enc_parts=enc_parts)
    assigned = assigned.select(id_col, "sub", "code")
    return (
        # shuffle-hash, never SMJ: both sides are corpus-grain (comps
        # n*dim rows, assigned n*m rows off a checkpoint whose stats
        # Catalyst can't see) and an SMJ's per-task sort pages were the
        # last 95 MB of z_sim_pq_refine's audited task peak; the build
        # side (assigned) is the narrower table
        comps.join(assigned.hint("shuffle_hash"), [id_col, "sub"])
        .groupBy("sub", "code", "pos")
        .agg(F.round(F.sum("xs") / F.count("*")).cast("long").alias("c_q"))
    )


def pq_adc_table(codebooks: DataFrame, query_comps: DataFrame) -> DataFrame:
    """(sub, code, d): the per-query ADC distance table — exact integer
    squared-L2 from the query's sub-vectors to every sub-centroid.
    M * ks rows; broadcast-sized for any corpus."""
    return (
        codebooks.join(F.broadcast(query_comps), ["sub", "pos"])
        .groupBy("sub", "code")
        .agg(
            F.sum((F.col("qs") - F.col("c_q")) * (F.col("qs") - F.col("c_q"))).alias("d")
        )
    )


def pq_adc_scores(
    codes: DataFrame, adc: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(id, adist): asymmetric distance = sum over subspaces of the
    table entry for the vector's code — M integer adds per vector over
    the CODE table (the raw floats are never read)."""
    return (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("d").alias("adist"))
    )
