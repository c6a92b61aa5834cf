"""Leading principal component by distributed power iteration — the
embedding-analysis stage (whitening / dominant-direction removal /
1-D curriculum ordering) a curation pipeline runs over its vector corpus.

Engine determinism contract (the k-means/PQ discipline applied to linear
algebra):
- components fixed-point (round(x * 1e6), SIM_SCALE); the mean is an
  exact-integer-sum / count division rounded back to an integer, so
  centering is integer subtraction;
- the covariance Gram matrix C[p][q] = sum_i c_ip * c_iq is an EXACT
  integer sum — order-free under any partitioning;
- each power step w = C v is an exact integer matrix-vector product;
  renormalization divides by the step's exact integer max-|w| and rounds
  back to 1e6 fixed-point (identical doubles -> identical rounding in
  every engine), so iterates never accumulate float noise;
- the seed vector is md5-derived per position (the hyperplane_table
  family) — reproducible anywhere.

Scale shape: the Gram matrix is computed as PER-PARTITION BLAS outer
products (mapInArrow: each task reduces its k x d slice to one d x d
integer partial) summed by a (p, q) aggregate — corpus touched once,
shuffle volume dim^2 per partition, never the n * d^2 row explosion a
pairwise-join formulation would ship. Everything after is dimension-sized
(d^2 rows): the iteration itself is two joins over a localCheckpointed
frame. Projections are one broadcast join over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.io import barrier
from d3d_etl_spark.operators.similarity import SIM_SCALE


def mean_vector_q(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> list[int]:
    """Exact fixed-point corpus mean, one integer per position
    (dimension-sized -> returned as driver literals, the centroid-literal
    pattern)."""
    rows = (
        emb.select(F.posexplode(vec_col).alias("pos", "x"))
        .select(
            "pos",
            F.round(F.col("x").cast("double") * SIM_SCALE).cast("long").alias("xs"),
        )
        .groupBy("pos")
        .agg(F.round(F.sum("xs") / F.count("*")).cast("long").alias("mu"))
        .collect()
    )
    mu = {r["pos"]: int(r["mu"]) for r in rows}
    return [mu[p] for p in range(len(mu))]


def gram_matrix_int(
    emb: DataFrame, mu_q: list[int], id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(p, q, v): exact integer centered Gram matrix sum_i c_ip * c_iq,
    via per-partition BLAS partials (one d x d int64 matrix per task)."""
    import pyarrow as pa

    dim = len(mu_q)
    out_schema = pa.schema([("p", pa.int32()), ("q", pa.int32()), ("v", pa.int64())])

    # int64 overflow budget for one emitted partial: centered components
    # reach ~2 * SIM_SCALE, so each Gram term is <= ~4e12 and int64 wraps
    # past ~2.3e6 accumulated rows. Emitting a partial at least every
    # _GRAM_CHUNK_ROWS keeps each int64 partial 4x inside the budget at
    # ANY partition size; the cross-partial sum then runs in decimal(38,0)
    # — the Spark twin of DuckDB's HUGEINT promotion — so the corpus-wide
    # Gram entries stay exact at the 100 TB shape this module claims.
    chunk_rows = 500_000

    def partials(batches):
        import numpy as np

        mu = np.array(mu_q, dtype=np.int64)
        p, q = np.meshgrid(
            np.arange(dim, dtype=np.int32), np.arange(dim, dtype=np.int32), indexing="ij"
        )

        def emit(acc):
            return pa.record_batch(
                [pa.array(p.ravel(), pa.int32()), pa.array(q.ravel(), pa.int32()),
                 pa.array(acc.ravel(), pa.int64())],
                schema=out_schema,
            )

        acc = np.zeros((dim, dim), dtype=np.int64)
        rows_in_acc = 0
        for tbl in batches:
            if tbl.num_rows == 0:
                continue
            # mapInArrow yields RecordBatches (columns are plain Arrays,
            # no chunking), unlike the grouped applyInArrow paths
            c = tbl.column("vec")
            A = c.flatten().to_numpy(zero_copy_only=False).reshape(len(c), -1)
            # half-AWAY rounding (np.rint is banker's): must match F.round
            # and DuckDB ROUND on exact .5 ties (see _np_round6_half_away)
            scaled = A * SIM_SCALE
            xs = (
                np.copysign(np.floor(np.abs(scaled) + 0.5), scaled).astype(np.int64)
                - mu
            )
            acc += xs.T @ xs
            rows_in_acc += len(xs)
            if rows_in_acc >= chunk_rows:
                yield emit(acc)
                acc = np.zeros((dim, dim), dtype=np.int64)
                rows_in_acc = 0
        if rows_in_acc:
            yield emit(acc)

    base = emb.select(F.col(vec_col).cast("array<double>").alias("vec"))
    return (
        base.mapInArrow(partials, "p int, q int, v long")
        .groupBy("p", "q")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
    )


def power_iterate(gram: DataFrame, dim: int, n_iter: int) -> DataFrame:
    """(pos, v_q): n_iter exact-integer power steps from the md5-seeded
    vector, renormalized to 1e6 fixed-point by the step's max-|w| after
    each multiply. Everything is dimension-sized."""
    from d3d_etl_spark.functions.strings import md5_int

    spark = gram.sparkSession
    gram = barrier(gram)
    v = spark.range(dim).select(
        F.col("id").cast("int").alias("pos"),
        (md5_int(F.concat(F.lit("pc:"), F.col("id").cast("string"))) % 2001 - 1000)
        .cast("long")
        .alias("v_q"),
    )
    for _ in range(n_iter):
        # decimal BEFORE the multiply: Gram entries reach ~|c|^2 * n and the
        # product with a 1e6-scale iterate overflows int64 (DuckDB promotes
        # to HUGEINT; decimal(38,0) is the Spark twin)
        w = (
            gram.join(F.broadcast(v.withColumnRenamed("pos", "q")), "q")
            .groupBy("p")
            .agg(
                F.sum(F.col("v").cast("decimal(38,0)") * F.col("v_q")).alias("w")
            )
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = barrier(
            w.crossJoin(F.broadcast(m))
            .select(
                F.col("p").alias("pos"),
                F.round(
                    F.col("w").cast("double") * SIM_SCALE / F.col("m").cast("double")
                )
                .cast("long")
                .alias("v_q"),
            )
        )
    return v


def project_q(
    emb: DataFrame,
    mu_q: list[int],
    v: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, proj_q): exact integer projection of every centered vector on
    the direction — one broadcast join over the corpus components."""
    comps = emb.select(
        id_col, F.posexplode(vec_col).alias("pos", "x")
    ).select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        F.round(F.col("x").cast("double") * SIM_SCALE).cast("long").alias("xs"),
    )
    mu_lit = F.array(*[F.lit(m).cast("long") for m in mu_q])
    centered = comps.select(
        id_col, "pos", (F.col("xs") - F.element_at(mu_lit, F.col("pos") + 1)).alias("c")
    )
    return (
        centered.join(F.broadcast(v), "pos")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("v_q"))
            .cast("long")
            .alias("proj_q")
        )
    )
