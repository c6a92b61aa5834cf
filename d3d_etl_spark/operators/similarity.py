"""Similarity search over embedding columns (array<float>).

Per the engine's scale doctrine:
- brute-force cosine top-k: the exactness baseline. One broadcast of the
  query vector, one narrow map (zip_with dot product), one top-k. Linear
  scan — right answer, right plan for a single query over any data size
  (top-k is a partial agg, no full sort).
- IVF-style coarse assignment: k centroids from exact scaled-integer means
  (deterministic under any partitioning), every vector assigned to its
  nearest centroid. At query time you probe only the closest cells —
  the list-pruning path that replaces the linear scan at 100 TB.
- pair search: every GEMM pair engine (all-pairs blocked, ANN-gated,
  within-cluster; pair or contrastive rows) is one tagging rule
  (:func:`_block_tagged`: rows replicated into id-hash block pairs, so
  each unordered pair of a group meets in exactly one task) feeding one
  Arrow kernel (:func:`_block_gemm`: an id-sorted matrix, one round-6
  cosine block, then a pair or contrastive emitter). The JVM-side HOF
  engine :func:`within_cluster_near_pairs` is its equivalence reference.

Similarities are computed in double and rounded to 6 dp before any ordering
or publication: the fold order of a 64-term dot product can differ across
engines/partitionings by ~1e-14, and rounding makes downstream top-k cuts
and hashes stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.functions.vectors import cosine, sim_desc_key
from d3d_etl_spark.io import barrier

SIM_SCALE = 1_000_000  # embedding fixed-point scale for exact centroid sums


def _np_round6_half_away(x):
    """numpy round-HALF-AWAY at 6dp — np.round is banker's (half-even)
    while Spark F.round and DuckDB ROUND are half-away-from-zero, so the
    GEMM paths must not use np.round directly: an exact 6dp half-tie would
    round differently from the oracle and flip a >= tau cut (vanishingly
    rare on float dots, but a hash hazard the HOF paths don't have)."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6


def cosine_topk(
    emb: DataFrame, query: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Top-k rows of `emb` by cosine similarity to the single-row `query`
    (columns: q_vec). Deterministic: rounded sim desc, then id asc."""
    sim = F.round(cosine(F.col(vec_col), F.col("q_vec")), 6)
    return (
        emb.crossJoin(F.broadcast(query))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def scaled_components(emb: DataFrame, id_cols: list[str], vec_col: str = "embedding") -> DataFrame:
    """posexplode to (ids..., pos, comp) with exact fixed-point components."""
    return emb.select(
        *id_cols, F.posexplode(vec_col).alias("pos", "x")
    ).select(*id_cols, "pos", F.round(F.col("x").cast("double") * SIM_SCALE).cast("long").alias("xs"))


def label_centroids(emb: DataFrame, label_col: str, vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid components from exact integer sums:
    (label, pos, c) with c = sum(scaled)/n/SCALE — deterministic under any
    shuffle order, unlike a naive double mean."""
    comps = scaled_components(emb, [label_col], vec_col)
    return comps.groupBy(label_col, "pos").agg(
        (F.sum("xs").cast("double") / F.count("*") / SIM_SCALE).alias("c")
    )


def centroid_arrays(
    centroids: DataFrame, label_col: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(extra..., label, c_arr, nc2) from a (label, pos, c) component
    table: the pos-ascending component array plus its squared norm.
    nc2's sequential ascending-pos fold is the same effective order as
    the row-grain SUM it replaces (explode emits pos ascending and the
    partial hash agg accumulated in stream order), and every consumer
    rounds sims to 6dp, the contract that absorbs fold-order noise."""
    return (
        centroids.groupBy(*extra_cols, label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("_pc"))
        .select(
            *extra_cols,
            label_col,
            F.expr("transform(_pc, s -> s.c)").alias("c_arr"),
        )
        .withColumn(
            "nc2",
            F.aggregate("c_arr", F.lit(0.0), lambda acc, c: acc + c * c),
        )
    )


def assign_nearest_centroid(
    emb: DataFrame, centroids: DataFrame, label_col: str, id_col: str = "vec_id",
    vec_col: str = "embedding", restrict_cols: tuple[str, ...] = (),
) -> DataFrame:
    """IVF coarse assignment: nearest centroid by cosine (rounded 6dp,
    label-asc tiebreak). Centroids are tiny -> broadcast; the per-vector
    work is a positional join + exact-shaped reduction.

    `restrict_cols`: extra key columns present on BOTH `emb` and
    `centroids` that restrict each vector's candidate set to centroids
    sharing those keys (the re-split guard assigns within a PARENT cluster
    this way). Output carries them alongside (id, assigned_label, sim)."""

    comps = emb.select(
        id_col, *restrict_cols, F.posexplode(vec_col).alias("pos", "x")
    ).select(id_col, *restrict_cols, "pos", F.col("x").cast("double").alias("x"))
    joined = comps.join(F.broadcast(centroids), [*restrict_cols, "pos"])
    scores = joined.groupBy(id_col, *restrict_cols, label_col).agg(
        F.sum(F.col("x") * F.col("c")).alias("dot"),
        F.sum(F.col("x") * F.col("x")).alias("nx2"),
        F.sum(F.col("c") * F.col("c")).alias("nc2"),
    )
    # NOTE: these per-vector sums are 64-term reductions; rounding to 6dp
    # below absorbs fold-order noise exactly as in cosine_topk. try_divide
    # = DuckDB's NULL on a zero-norm vector/centroid (ANSI `/` would
    # throw); the min_by key below orders that NULL last.
    sim = F.round(
        F.try_divide(F.col("dot"), F.sqrt(F.col("nx2")) * F.sqrt(F.col("nc2"))), 6
    )
    # argmax as a min_by HASH AGGREGATE over the (-sim, label) total order
    # — exactly the old row_number window's (sim desc, label asc) first
    # row (sim is already 6-dp rounded, so negation is exact; label is
    # unique within a group, so no ties), without the window's per-task
    # sort of the corpus x K score table (the pq_encode_comps argmin
    # recipe). restrict_cols join the ORDER key after label: the window
    # never ordered on them, so any cross-restrict tie was
    # nondeterministic before — this makes it deterministic. sim_desc_key
    # states how -0.0, NaN and a zero-norm vector's NULL sim order.
    best = F.min_by(
        F.struct(*restrict_cols, F.col(label_col), F.col("sim")),
        F.struct(
            sim_desc_key(F.col("sim")).alias("k"),
            F.col(label_col),
            *[F.col(c) for c in restrict_cols],
        ),
    ).alias("_b")
    return (
        scores.select(id_col, *restrict_cols, F.col(label_col), sim.alias("sim"))
        .groupBy(id_col)
        .agg(best)
        .select(
            id_col,
            *[F.col(f"_b.{c}").alias(c) for c in restrict_cols],
            F.col(f"_b.{label_col}").alias("assigned_label"),
            F.col("_b.sim").alias("sim"),
        )
    )


def blocked_near_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine >= threshold via blocked matrix multiplication.

    The exact-pairs scale shape: vectors are hashed into `n_blocks` blocks,
    each of the B(B+1)/2 unordered block pairs becomes one grouped GEMM
    task that computes a similarity matrix with one BLAS matmul, and only
    qualifying pairs leave the task. Versus the naive theta-join
    (`a.join(b, id_a < id_b)` + per-pair array folds) this replaces O(n^2)
    codegen'd 64-term folds with dense GEMM — measured 40x at sf0.1 — and it
    parallelizes as B^2/2 independent tasks instead of one quadratic
    nested-loop join. At 100 TB you size n_blocks so a block pair fits
    executor memory (each row is replicated into the B block pairs that
    contain its block) and front it with LSH/IVF gating; values here are
    exact, matching the brute-force oracle. Each unordered pair lands in
    exactly one block-pair task, so no distinct is needed afterwards.

    Output: (vec_a, vec_b, sim) with vec_a < vec_b, sim rounded to 6 dp
    (absorbs GEMM-vs-sequential fold-order noise, ~1e-15).

    The tasks run applyInArrow, not applyInPandas: fixed-width vector
    lists reshape straight from the Arrow flat value buffer into the
    (n, dim) matrix, skipping the pandas object-array detour on both sides
    of the UDF (measured ~30% end-to-end at sf0.1: 2.0s -> 1.3s warm).
    """
    tagged = _block_tagged(emb, [], id_col, vec_col, n_sub=n_blocks)
    return _block_gemm(tagged, ["_bi", "_bj"], _emit_pairs, threshold, _PAIR_FIELDS)


def hyperplane_table(spark, n_planes: int, dim: int):
    """Deterministic random hyperplanes: w(plane, dim) in [-1, 1] derived
    from the portable md5 hash family — reproducible in any engine, so the
    whole LSH path is oracle-checkable."""
    from d3d_etl_spark.functions.strings import md5_int

    planes = spark.range(n_planes).select(F.col("id").alias("plane"))
    dims = spark.range(dim).select(F.col("id").alias("pos"))
    key = F.concat_ws(":", F.col("plane").cast("string"), F.col("pos").cast("string"))
    return planes.crossJoin(dims).select(
        "plane", "pos", ((md5_int(key) % 2001 - 1000) / 1000.0).alias("w")
    )


def hyperplane_buckets(emb: DataFrame, planes: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """(id, bucket): sign-of-projection bits packed into an integer bucket.

    At scale this is the ANN index build: one narrow pass per vector (the
    plane table is broadcast), bucket cardinality 2^n_planes; queries probe
    only their own bucket instead of scanning the corpus.

    This is :func:`hyperplane_band_buckets` with one band as wide as the
    long bucket (64 bits): every plane of a table of at most 64 planes lands
    in band 0 at bit `plane`.
    """
    return hyperplane_band_buckets(emb, planes, 64, id_col, vec_col).select(
        id_col, "bucket"
    )


def hyperplane_band_buckets(
    emb: DataFrame,
    planes: DataFrame,
    band_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, bucket): hyperplane sign bits packed PER BAND.

    The general form of :func:`hyperplane_buckets`: n_planes bits split
    into bands of `band_size` bits each, so two vectors are candidate
    neighbours when they agree on ALL bits of ANY band — the same
    banding-amplification trick as MinHash LSH (text side,
    operators/dedup.py lsh_band_keys). Recall for a pair at angle θ is
    1-(1-p^r)^b with p = 1-θ/π, r = band_size, b = n_planes/band_size.
    """
    comps = emb.select(id_col, F.posexplode(vec_col).alias("pos", "x")).select(
        id_col, "pos", F.col("x").cast("double").alias("x")
    )
    dots = (
        comps.join(F.broadcast(planes), "pos")
        .groupBy(id_col, "plane")
        .agg(F.sum(F.col("x") * F.col("w")).alias("dot"))
    )
    band = F.floor(F.col("plane") / band_size).cast("int")
    bit = F.when(
        F.col("dot") > 0,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(plane % {band_size} AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    return dots.groupBy(id_col, band.alias("band")).agg(F.sum(bit).alias("bucket"))


ANN_MAX_BUCKET = 4096  # hot-bucket guard: max rows per GEMM block (see below)

_PAIR_FIELDS = [("vec_a", "long"), ("vec_b", "long"), ("sim", "double")]
_CONTRASTIVE_FIELDS = [
    ("anchor", "long"), ("other", "long"), ("sim", "double"), ("is_pos", "boolean"),
]


def _block_tagged(
    df: DataFrame,
    group_cols: list,
    id_col: str,
    vec_col: str,
    carry: tuple[str, ...] = (),
    n_sub=None,
) -> DataFrame:
    """(group cols..., vid, vec, [carry...], _blk, _bi, _bj) rows: the one
    block-pair rule of the GEMM pair engines.

    Each row gets an id-hash block `_blk` in [0, n_sub) and is replicated
    into the n_sub unordered block pairs (_bi, _bj) that contain its block.
    Within a group every unordered pair of rows therefore meets in exactly
    one (_bi, _bj) task: the diagonal task (b, b) when both rows sit in
    block b, the off-diagonal task otherwise. `n_sub` is an int or a
    per-row Column (a hot bucket's own split count); n_sub=None keeps the
    whole group as one block and adds no block columns.

    Ids must be integral: the kernel ships them as int64, and a
    non-integral id would NULL-cast silently, so this fails fast instead.
    Carry columns must be numeric and ship as float64."""
    from d3d_etl_spark.functions.strings import md5_int

    id_type = dict(df.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(f"GEMM pair engine requires an integral {id_col} (got {id_type})")
    rows = df.select(
        *group_cols,
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *[F.col(c).cast("double").alias(c) for c in carry],
        *([] if n_sub is None else [F.lit(n_sub).alias("_nsub")]),
    )
    if n_sub is None:
        return rows
    return (
        rows.withColumn(
            "_blk",
            F.pmod(md5_int(F.col("vid").cast("string")), F.col("_nsub")).cast("int"),
        )
        .withColumn("_j", F.explode(F.expr("sequence(0, _nsub - 1)")))
        .select(
            *rows.columns[:-1],
            "_blk",
            F.least("_blk", "_j").alias("_bi"),
            F.greatest("_blk", "_j").alias("_bj"),
        )
    )


def _ann_tagged(
    emb: DataFrame,
    dim: int,
    n_planes: int,
    n_bands: int,
    id_col: str,
    vec_col: str,
    max_bucket: int,
) -> DataFrame:
    """:func:`_block_tagged` rows grouped by hyperplane (band, bucket),
    each bucket split into ceil(size / max_bucket) blocks: the shared
    front half of the gated GEMM operators.

    Hot-bucket detection is a WINDOW count over (band, bucket): stays
    inside the one plan (no checkpoint barrier, no separate probe job —
    measured cheaper than the agg+join-back form, which either recomputes
    the banding lineage on both sides or pays two extra jobs for a
    barrier+driver probe). One extra exchange of the n_bands-rows-per-id
    band table; _nsub is 1 everywhere on a clean corpus, so the explode
    emits exactly one row per input and the block keys are constant."""
    from pyspark.sql import Window

    if n_planes % n_bands:
        raise ValueError("n_planes must divide evenly into n_bands bands")
    planes = hyperplane_table(emb.sparkSession, n_planes, dim)
    bb = hyperplane_band_buckets(emb, planes, n_planes // n_bands, id_col, vec_col)
    nsub = F.greatest(
        F.lit(1),
        F.ceil(F.count("*").over(Window.partitionBy("band", "bucket")) / F.lit(max_bucket)),
    ).cast("int")
    # bucket membership lists are corpus-sized: this join shuffles both
    # sides on the id — one exchange, then the grouped GEMM reuses the
    # (band, bucket, block-pair) clustering from the groupBy
    return _block_tagged(
        emb.join(bb.withColumn("_nsub", nsub), id_col),
        ["band", "bucket"],
        id_col,
        vec_col,
        n_sub=F.col("_nsub"),
    )


_ANN_KEYS = ["band", "bucket", "_bi", "_bj"]


def ann_gated_near_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = ANN_MAX_BUCKET,
) -> DataFrame:
    """Near-pairs cosine >= threshold, ANN-GATED: hyperplane band buckets
    pick the candidates, a within-bucket GEMM verifies them exactly.

    This is the composition :func:`blocked_near_pairs` documents for 100 TB
    — the same shape the text side's lsh_gated_pairs gives MinHash dedup
    (queries/dedup.py): instead of B^2/2 all-pairs block tasks whose work is
    O(n^2/B) regardless of data, each (band, bucket) group becomes ONE
    GEMM task over vectors that already agree on `band_size` hyperplane
    bits. Work is sum(bucket_size^2) per band — proportional to how
    clustered the corpus actually is, not to n^2. Replication is n_bands
    rows per vector (vs B per row for the blocked exact pass).
    A pair found in several bands is deduped by a final (vec_a, vec_b)
    group-max; sims are identical across copies (same rounded GEMM value).

    Recall < 1.0 by construction (pairs colliding in NO band are never
    scored) and is governed by (n_planes, n_bands) exactly as in the text
    LSH gate; the oracle SQL mirrors the gate itself, and
    tests/test_scale_smoke.py proves candidate volume << exact with full
    recall on planted near-dup clusters. At scale: raise n_planes to shrink
    buckets, raise n_bands to buy recall.

    HOT-BUCKET GUARD (always on): a low-entropy region — precisely the
    near-duplicate-heavy shard this operator targets — can put a
    corpus-scale fraction of vectors into ONE (band, bucket), and a single
    c x c GEMM task over it would OOM. Buckets larger than `max_bucket`
    are split into ceil(size/max_bucket) id-hash sub-blocks and the GEMM
    runs per unordered BLOCK PAIR (the blocked_near_pairs scheme applied
    inside the bucket): every within-bucket pair is still scored exactly
    once per band, so the guard NEVER changes the pair set or the sims —
    it only bounds task memory at (c/n_sub)^2 and multiplies hot-bucket
    replication by n_sub. Invariance is pinned in tests/test_skew.py
    (forced split == unsplit, planted mega-bucket) — the same guard shape
    as resplit_oversized_clusters on the k-means side, but lossless here
    because sub-blocks still meet in block-pair tasks.
    """
    tagged = _ann_tagged(emb, dim, n_planes, n_bands, id_col, vec_col, max_bucket)
    pairs = _block_gemm(tagged, _ANN_KEYS, _emit_pairs, threshold, _PAIR_FIELDS)
    return pairs.groupBy("vec_a", "vec_b").agg(F.max("sim").alias("sim"))


def ann_gated_contrastive_rows(
    emb: DataFrame,
    tau: float,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = ANN_MAX_BUCKET,
) -> DataFrame:
    """Per-anchor contrastive rows over the band-bucket candidate pool:
    for every vector, ALL gated partners with sim >= tau (positives,
    duplicate-rate bounded) plus the single hardest sub-tau partner per
    GEMM task (negative candidate; tie sim desc, other-id asc).

    This exists because mining triplets through the pair operator with
    threshold -1 materializes EVERY bucket pair — output (and the
    downstream dedup agg's state) is bucket-size-QUADRATIC, measured as a
    4.6 GiB task at the sf1 stress tier. Here the quadratic sims matrix
    still exists inside each task (bounded at max_bucket^2 by the
    hot-bucket guard), but only
    O(positives + 1) rows per vector per task LEAVE it, so shuffle volume
    and downstream state track the duplicate rate, never bucket^2.

    Result equivalence with the all-pairs form (pinned in
    tests/test_contrastive_r5.py): positives are emitted from both
    orientations in every shared bucket and deduped downstream; the global
    hardest negative per anchor is the (sim desc, id asc)-argmax over the
    per-task argmaxes, which equals the argmax over all gated partners
    because every partner appears in some task and the order is total.
    Columns are id-sorted before the GEMM so numpy's first-max argmax IS
    the min-id tiebreak."""
    tagged = _ann_tagged(emb, dim, n_planes, n_bands, id_col, vec_col, max_bucket)
    return _block_gemm(tagged, _ANN_KEYS, _emit_contrastive, tau, _CONTRASTIVE_FIELDS)


def within_cluster_contrastive_rows(
    clustered: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    label_col: str = "cluster",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-anchor contrastive rows over the CLUSTER-LOCAL candidate pool
    (the k-means twin of :func:`ann_gated_contrastive_rows`): one GEMM
    task per cluster emits every >=tau partner (positives) and each row's
    hardest sub-tau partner — O(positives + 1) rows per vector leave the
    task instead of the cluster^2 pair set (mining through the pair
    operator with threshold -1 measured a 754 MB-input task at the sf1
    registry audit). Each vector lives in exactly one cluster, so the
    emitted negative IS the scope-global hardest and positives need no
    cross-task dedup."""
    tagged = _block_tagged(clustered, [F.col(label_col).alias("_lbl")], id_col, vec_col)
    return _block_gemm(tagged, ["_lbl"], _emit_contrastive, tau, _CONTRASTIVE_FIELDS)


_ARROW_TYPES = {"long": "int64", "double": "float64", "boolean": "bool_"}


def _block_gemm(
    tagged: DataFrame,
    keys: list[str],
    emit,
    tau: float,
    fields: list[tuple[str, str]],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The one cosine-block kernel behind every GEMM pair engine: group
    :func:`_block_tagged` rows by `keys` and run one Arrow task per group.

    The task sorts its rows by id (so an emitter's first-max argmax is the
    min-id tie-break), reshapes the Arrow vector lists into one (n, dim)
    matrix and takes one :func:`_gemm_cos`: a self-GEMM for a diagonal
    block (no _bi/_bj columns, or _bi == _bj), a cross-GEMM between the
    rows with _blk == _bi and those with _blk == _bj otherwise. It hands
    `emit(np, a, b, sims, diagonal, tau)` the two sides as [ids] arrays,
    or [ids, row positions] when there are `carry` columns; the emitter
    returns the output columns in `fields` order ((name, ddl type) pairs),
    with the two position columns last. The kernel then replaces those
    with each carry column taken at the positions: Arrow `take` keeps a
    NULL carry NULL, where a numpy round trip would turn it into NaN."""
    import pyarrow as pa

    schema = pa.schema([(n, getattr(pa, _ARROW_TYPES[t])()) for n, t in fields])

    def gemm_blocks(tbl: "pa.Table") -> "pa.Table":
        import numpy as np

        if tbl.num_rows < 2:
            return schema.empty_table()
        ids = tbl.column("vid").combine_chunks().to_numpy()
        order = np.argsort(ids, kind="stable")
        vec = tbl.column("vec").combine_chunks()
        M = vec.flatten().to_numpy(zero_copy_only=False).reshape(len(vec), -1)[order]
        rows = [ids[order]] + ([order] if carry else [])
        bi = bj = 0
        if "_bi" in tbl.column_names:
            bi, bj = tbl.column("_bi")[0].as_py(), tbl.column("_bj")[0].as_py()
        if bi == bj:
            a, b, sims = rows, rows, _gemm_cos(np, M, M)
        else:
            blk = tbl.column("_blk").combine_chunks().to_numpy()[order]
            sa, sb = blk == bi, blk == bj
            a, b = [r[sa] for r in rows], [r[sb] for r in rows]
            sims = _gemm_cos(np, M[sa], M[sb])
        if sims.size == 0:
            return schema.empty_table()
        cols = emit(np, a, b, sims, bi == bj, tau)
        if carry:
            pos = cols[-2:]
            cols = cols[:-2] + [
                tbl.column(c).combine_chunks().take(p) for c in carry for p in pos
            ]
        return pa.table(dict(zip(schema.names, cols)), schema=schema)

    ddl = ", ".join(f"{n} {t}" for n, t in fields)
    return tagged.groupBy(*keys).applyInArrow(gemm_blocks, ddl)


def _gemm_cos(np, A, B):
    """6-dp-rounded cosine of every (row of A, row of B) pair: one BLAS matmul
    over the outer product of the row norms. A zero-norm row gives a
    non-finite cell, which every emitter drops."""
    def norm(X):
        return np.sqrt(np.einsum("ij,ij->i", X, X))

    return _np_round6_half_away((A @ B.T) / np.outer(norm(A), norm(B)))


def _emit_pairs(np, a, b, sims, diagonal, tau):
    """Cells with sim >= tau as (id_lo, id_hi, sim, x_lo, x_hi, ...) for
    every further side array x, which swaps WITH its ids. A diagonal
    block keeps its strict upper triangle — ids are sorted, so that is
    id_a < id_b and no self pair.

    Zero-norm guard (pair-stage contract): a zero vector has no cosine —
    numpy yields NaN/inf here, Spark's double division yields NULL, and
    both drop the pair; the explicit isfinite mask pins that agreement
    instead of leaning on NaN-comparison quirks (IEEE engines disagree on
    NaN >= tau)."""
    ok = np.isfinite(sims) & (sims >= tau)
    if diagonal:
        ok = np.triu(ok, 1)
    i, j = np.nonzero(ok)
    swap = a[0][i] > b[0][j]
    cols = []
    for x, y in zip(a, b):
        cols += [np.where(swap, y[j], x[i]), np.where(swap, x[i], y[j])]
    cols.insert(2, sims[i, j])
    return cols


def _emit_contrastive(np, a, b, sims, diagonal, tau):
    """(anchor, other, sim, is_pos): every cell with sim >= tau plus each
    anchor row's best sub-tau cell (tie: first max = min id, columns are
    id-sorted), from both orientations of an off-diagonal block."""
    if diagonal:
        np.fill_diagonal(sims, -np.inf)  # a vector never partners itself
        sides = [(a[0], b[0], sims)]
    else:
        sides = [(a[0], b[0], sims), (b[0], a[0], sims.T)]
    parts = []
    for ids_a, ids_b, s in sides:
        finite = np.isfinite(s)
        pi, pj = np.nonzero(finite & (s >= tau))
        masked = np.where(finite & (s < tau), s, -np.inf)
        best_j = np.argmax(masked, axis=1)
        best_v = masked[np.arange(len(best_j)), best_j]
        ni = np.nonzero(np.isfinite(best_v))[0]
        parts.append((
            np.concatenate([ids_a[pi], ids_a[ni]]),
            np.concatenate([ids_b[pj], ids_b[best_j[ni]]]),
            np.concatenate([s[pi, pj], best_v[ni]]),
            np.arange(pi.size + ni.size) < pi.size,
        ))
    return [np.concatenate(c) for c in zip(*parts)]


def ivf_probe_labels(
    centroids: DataFrame, query: DataFrame, label_col: str, nprobe: int
) -> DataFrame:
    """Rank coarse cells by cosine(query, centroid), keep the `nprobe`
    closest — the list-pruning half of an IVF search. `centroids` is
    (label, pos, c) from :func:`label_centroids`; `query` is one row
    (q_vec). Output: one column `label_col`, nprobe rows.

    The centroid table is k*dim rows (tiny at any corpus size) and the
    query is one vector, so this whole step is broadcast-local work."""
    qc = query.select(F.posexplode("q_vec").alias("pos", "qx")).select(
        "pos", F.col("qx").cast("double").alias("qx")
    )
    scores = (
        centroids.join(F.broadcast(qc), "pos")
        .groupBy(label_col)
        .agg(
            F.sum(F.col("qx") * F.col("c")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("nc2"),
            F.sum(F.col("qx") * F.col("qx")).alias("nq2"),
        )
    )
    # try_divide = DuckDB's NULL on a zero-norm cell/query (ANSI `/`
    # throws); desc(sim) orders the NULL last, as the oracle does
    sim = F.round(
        F.try_divide(F.col("dot"), F.sqrt(F.col("nc2")) * F.sqrt(F.col("nq2"))), 6
    )
    return (
        scores.select(F.col(label_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc(label_col))
        .limit(nprobe)
        .select(label_col)
    )


def ivf_ranked_cells(
    centroids: DataFrame, query: DataFrame, label_col: str
) -> DataFrame:
    """Every coarse cell with its closeness rank to the query:
    (label, rn), rn=1 nearest — ivf_probe_labels without the cut, for
    nprobe sweeps. The window runs over the dimension-grain cell table
    (k rows), the sanctioned bounded-global-window case."""
    from pyspark.sql import Window

    qc = query.select(F.posexplode("q_vec").alias("pos", "qx")).select(
        "pos", F.col("qx").cast("double").alias("qx")
    )
    scores = (
        centroids.join(F.broadcast(qc), "pos")
        .groupBy(label_col)
        .agg(
            F.sum(F.col("qx") * F.col("c")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("nc2"),
            F.sum(F.col("qx") * F.col("qx")).alias("nq2"),
        )
    )
    # try_divide = DuckDB's NULL on a zero-norm cell/query (ANSI `/`
    # throws); desc(sim) orders the NULL last, as the oracle does
    sim = F.round(
        F.try_divide(F.col("dot"), F.sqrt(F.col("nc2")) * F.sqrt(F.col("nq2"))), 6
    )
    w = Window.orderBy(F.desc("sim"), F.asc(label_col))
    return (
        scores.select(F.col(label_col), sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .select(label_col, "rn")
    )


def ivf_search_quantized(
    emb: DataFrame,
    query_id: int,
    label_col: str,
    nprobe: int,
    k: int,
    q_scale: int = 127,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full IVF ANN search: probe the `nprobe` nearest coarse cells, then
    rank ONLY those cells' vectors by int8-quantized dot product with the
    query — exact integer arithmetic, so the ranking needs no float
    rounding contract at all.

    The 100 TB shape: the corpus scan is partition-pruned to nprobe/k of
    the data (store the table partitioned/bucketed by `label_col` and the
    probe becomes literal partition pruning), the probe set and the query
    vector are broadcast, and the final top-k is a partial agg. Recall is
    governed by nprobe exactly as in a FAISS-style IVF index."""
    cents = label_centroids(emb, label_col, vec_col)
    query = emb.where(F.col(id_col) == query_id).select(F.col(vec_col).alias("q_vec"))
    probe = ivf_probe_labels(cents, query, label_col, nprobe)

    quant = lambda c: F.transform(c, lambda x: F.round(x.cast("double") * q_scale).cast("long"))  # noqa: E731
    q8 = emb.select(id_col, label_col, quant(F.col(vec_col)).alias("q"))
    qv = query.select(quant(F.col("q_vec")).alias("qv"))
    cands = (
        q8.join(F.broadcast(probe), label_col, "left_semi")
        .where(F.col(id_col) != query_id)
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cands.crossJoin(F.broadcast(qv))
        .select(id_col, qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc(id_col))
        .limit(k)
    )


def within_cluster_near_pairs(
    clustered: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    label_col: str = "cluster",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
    salt: int = 1,
) -> DataFrame:
    """SemDeDup pair stage (Abbas et al. 2023, arXiv:2303.09540): candidate
    near-duplicate pairs are searched only WITHIN a k-means cluster, never
    across clusters. Input carries (id, label, vec); output is one row per
    within-cluster pair with cosine >= tau: (id_a, id_b, pair_sim),
    id_a < id_b, sim rounded 6dp (fold-order stability, file docstring).
    `carry` columns ride through from both sides as <col>_a / <col>_b —
    downstream drop rules read them off the pair row instead of paying a
    corpus-sized join-back.

    Scale shape: the self-join shuffles both sides hash-partitioned on the
    cluster label, so total pair work is sum(c_i^2) over cluster sizes
    instead of n^2 — the paper's point. SIZING RULE: pick k so the largest
    cluster's c^2 fits one task (k ~ n/1000 keeps clusters ~1000 rows
    regardless of corpus size); a runaway cluster is re-split by
    :func:`resplit_oversized_clusters` (a second hash-seeded k-means
    level, content-based so dup recall survives). That same rule makes the
    sort-free shuffled-hash join the right physical strategy (the build
    side's per-partition slice is cluster-bounded by construction) — the
    hint drops two full sorts vs the SMJ default. The pair compare itself
    is a JVM-side zip_with/aggregate fold — no Python, no explode.

    Per-pair work is ONE dot product: norms precompute per ROW before the
    join (identical values and fold order as the inline cosine — one fold
    per row instead of two per pair). `salt` splits each cluster's pair
    block into `salt` independent tasks (probe side bucketed by id hash,
    build side replicated salt-fold): the pair stage's cost is per-pair
    CPU, not bytes, so when the cluster count is below the core count —
    or AQE coalesces the small-byte shuffle onto one core — salting is
    what restores parallelism. Pair output is salt-invariant (each (a, b)
    meets exactly once, in a's salt bucket); the explicit fixed-width
    repartition is deliberate — AQE does not coalesce user-specified
    repartitions, which is the point. At real corpus scale k >> cores and
    salt=1 is right; size salt ~ cores/k otherwise.

    Zero-norm contract (all pair engines): a zero/NULL-norm vector has no
    cosine, and the pair is DROPPED — here the double division yields NULL
    and the `>= tau` filter rejects it; the GEMM engines mask non-finite
    sims explicitly to the same effect. Oracles must mirror this (IEEE
    engines where NaN compares high, e.g. DuckDB, would otherwise emit
    the pair); current corpora contain no zero-norm embeddings."""
    from d3d_etl_spark.functions.strings import md5_int
    from d3d_etl_spark.functions.vectors import dot, norm

    a = clustered.select(
        F.col(id_col).alias("id_a"),
        F.col(label_col).alias("_lbl"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = clustered.select(
        F.col(id_col).alias("id_b"),
        F.col(label_col).alias("_lbl"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    join_keys = ["_lbl"]
    if salt > 1:
        a = a.withColumn(
            "_salt", F.pmod(md5_int(F.col("id_a").cast("string")), F.lit(salt))
        )
        b = b.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        n_parts = clustered.sparkSession.sparkContext.defaultParallelism
        a = a.repartition(n_parts, "_lbl", "_salt")
        b = b.repartition(n_parts, "_lbl", "_salt")
        join_keys = ["_lbl", "_salt"]
    pair_sim = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        a.join(b.hint("shuffle_hash"), join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            pair_sim.alias("pair_sim"),
            *[f"{c}_a" for c in carry],
            *[f"{c}_b" for c in carry],
        )
        .where(F.col("pair_sim") >= tau)
    )


def resplit_oversized_clusters(
    clustered: DataFrame,
    max_size: int,
    sub_k: int = 4,
    max_levels: int = 4,
    id_col: str = "vec_id",
    label_col: str = "cluster",
    vec_col: str = "embedding",
) -> DataFrame:
    """The runaway-cluster guard `within_cluster_near_pairs`' sizing rule
    leans on, as code: clusters above `max_size` are re-split by a second
    hash-seeded k-means level — seed sub-clusters by id hash WITHIN the
    parent, compute sub-centroids, reassign by EMBEDDING restricted to the
    parent's own sub-centroids. Assignment is content-based, so identical
    vectors always land in the same sub-cluster and the exact-duplicate
    recall guarantee of the pair stage survives every split level.

    Iterates up to `max_levels` (each level multiplies the label by
    sub_k + 1, so labels stay collision-free longs AND slot sub_k stays
    reserved as the sentinel for rows that cannot be content-assigned —
    NULL/empty embeddings never merge into a content-assigned
    sub-cluster). A cluster of near-identical
    vectors is NOT separable by content — by design: those rows genuinely
    are each other's near-dup candidates, and the loop detects the
    no-progress level (oversized size multiset unchanged) and stops rather
    than paying every remaining level for zero effect. Output: same rows,
    `label_col` refined; rows whose embedding is NULL/empty cannot be
    content-assigned and keep their (scaled) parent label.

    Scale shape per level: one size agg (cluster-cardinality rows,
    broadcast + driver progress check), one centroid agg over only the
    oversized rows, one restricted assignment (assign_nearest_centroid
    keyed on the parent) — never touches rows in compliant clusters."""
    out = clustered
    prev_over_sizes: list[int] | None = None
    for _ in range(max_levels):
        sizes = out.groupBy(label_col).agg(F.count("*").alias("_csz"))
        over_sizes = sorted(
            r._csz for r in sizes.where(F.col("_csz") > max_size).collect()
        )
        # converged, or stuck (content-inseparable clusters): stop
        if not over_sizes or over_sizes == prev_over_sizes:
            break
        prev_over_sizes = over_sizes
        big = sizes.where(F.col("_csz") > max_size).select(label_col)
        flagged = out.join(
            F.broadcast(big.withColumn("_big", F.lit(1))), label_col, "left"
        )
        ok = flagged.where(F.col("_big").isNull()).drop("_big")
        over = flagged.where(F.col("_big").isNotNull()).drop("_big")

        from d3d_etl_spark.functions.strings import md5_int

        seeded = over.withColumn(
            "_sub", F.pmod(md5_int(F.col(id_col).cast("string")), F.lit(sub_k))
        )
        # same exact fixed-point centroid contract as label_centroids, with
        # the (parent, sub) composite label
        comps = scaled_components(seeded, [label_col, "_sub"], vec_col)
        cents = comps.groupBy(label_col, "_sub", "pos").agg(
            (F.sum("xs").cast("double") / F.count("*") / SIM_SCALE).alias("c")
        )
        # restricted assignment: candidates are the PARENT's sub-centroids
        # only (assign_nearest_centroid restrict_cols)
        best = assign_nearest_centroid(
            over, cents, "_sub", id_col=id_col, vec_col=vec_col,
            restrict_cols=(label_col,),
        ).select(
            id_col,
            (F.col(label_col) * (sub_k + 1) + F.col("assigned_label")).alias("_new"),
        )
        # LEFT join + coalesce: a NULL/empty-embedding row produces no
        # components and no assignment — it lands in the reserved sentinel
        # slot sub_k (never a content-assigned sub-cluster) instead of
        # silently vanishing from the output
        refined = over.join(best.hint("shuffle_hash"), id_col, "left").select(
            *[
                F.coalesce(
                    F.col("_new"), F.col(label_col) * (sub_k + 1) + sub_k
                ).alias(label_col)
                if c == label_col
                else F.col(c)
                for c in over.columns
            ]
        )
        # compliant clusters keep label-space parity with the refined ones
        out = barrier(ok.withColumn(
            label_col, F.col(label_col) * (sub_k + 1)
        ).unionByName(refined))
    return out


def within_cluster_near_pairs_gemm(
    clustered: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    label_col: str = "cluster",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """GEMM engine for the SemDeDup pair stage: ONE numpy/BLAS task per
    cluster (the ann_gated_near_pairs bucket-GEMM applied to k-means
    clusters). Same output contract as :func:`within_cluster_near_pairs`
    (id_a < id_b, pair_sim rounded 6dp, `carry` columns as <c>_a/<c>_b) —
    round-6 makes the two engines' sims identical, pinned by the
    equivalence test in tests/test_operators.py.

    When to pick which: the HOF engine's per-pair cost is a JVM fold per
    element — fine at modest dims; at production embedding dims (768-4096)
    the GEMM's BLAS matmul wins by an order of magnitude. Parallelism is
    one task per cluster, exactly right at real scale where k >> cores
    (the sizing rule bounds each task's c^2 GEMM); below that the HOF
    engine's salt knob spreads better. Carry columns must be numeric
    (shipped as float64 through Arrow), and ids must be integral — the HOF
    engine accepts any orderable id type, this one fails fast instead of
    silently NULL-casting."""
    fields = [("id_a", "long"), ("id_b", "long"), ("pair_sim", "double")]
    fields += [(f"{c}_{s}", "double") for c in carry for s in ("a", "b")]
    tagged = _block_tagged(
        clustered, [F.col(label_col).alias("_lbl")], id_col, vec_col, carry
    )
    return _block_gemm(tagged, ["_lbl"], _emit_pairs, tau, fields, carry)
