"""Streaming embedding ingest: near-neighbor alerts for vectors ARRIVING
as a stream, probed against the persisted IVF index state — the Structured
Streaming twin of the batch z_sim_incremental query, and the embedding
sibling of streaming/corpus.py.

Stateless by the same design: centroid scoring is per-row column math
against DRIVER-COLLECTED centroid literals (the centroid table is k*dim
rows — dimension-sized at any corpus scale, the canonical broadcast-as-
literal case), probing and candidate fetch are stream-static joins, and
the exact cosine verify is a per-row zip_with against the candidate's
vector. No watermark, no state store. Ranking/top-1 happens at the
idempotent sink (alerts above `min_sim` stream through once per matching
candidate), mirroring the corpus twin's dedup-at-sink contract.

Static-side sizing: the assignment state and the indexed-vector table are
corpus-proportional, so no broadcast is forced — Spark broadcasts them
while they fit and shuffles the per-batch join when they don't; at real
scale both live bucketed/partitioned by cell label so the probe join
prunes to the probed cells, or the verify moves into foreachBatch for the
batch twin's candidate-gated selective fetch.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.functions.vectors import cosine, dot, norm


def streaming_ann_probe(
    vec_stream: DataFrame,
    centroid_rows: DataFrame,
    assignments: DataFrame,
    old_vectors: DataFrame,
    nprobe: int,
    min_sim: float,
) -> DataFrame:
    """(vec_id, old_id, sim) alerts for every arriving vector whose probed
    cells contain an indexed vector with cosine >= min_sim.

    `vec_stream` needs (vec_id, embedding); `centroid_rows` is the
    persisted (label, pos, c) table (queries.simsearch.ivf_index_state);
    `assignments` the persisted (vec_id, assigned_label, sim); and
    `old_vectors` the static slice of the corpus the state indexes, used
    only for candidate verification.
    """
    # dimension-sized state -> driver-side literals (collected ONCE at
    # query construction, not per batch)
    cents: dict[int, dict[int, float]] = {}
    for r in centroid_rows.collect():
        cents.setdefault(r["label"], {})[r["pos"]] = r["c"]
    labels = sorted(cents)
    vectors = {
        lab: [cents[lab][p] for p in sorted(cents[lab])] for lab in labels
    }
    norms = {lab: math.sqrt(sum(x * x for x in vectors[lab])) for lab in labels}

    vnorm = norm(F.col("embedding"))
    cell_scores = F.array(
        *[
            F.struct(
                F.round(
                    # try_divide = the batch arm's zero-norm NULL: an
                    # all-zero embedding or stored centroid must not
                    # ANSI-throw inside the stream
                    F.try_divide(
                        dot(
                            F.col("embedding"),
                            F.array(*[F.lit(float(v)) for v in vectors[lab]]),
                        ),
                        vnorm * F.lit(norms[lab]),
                    ),
                    6,
                ).alias("sim"),
                F.lit(lab).alias("label"),
            )
            for lab in labels
        ]
    )
    # descending sim, ascending label — the same probe order as the batch
    # ivf ranking (array_sort is ascending, so flip the sim sign). The
    # key mirrors the batch min_by exactly: +0.0 normalizes IEEE -0.0,
    # coalesce-to-+inf = NULLS LAST for a zero-norm cell's NULL sim
    ranked = F.array_sort(
        F.transform(
            cell_scores,
            lambda s: F.struct(
                F.coalesce(F.nanvl(-s["sim"] + F.lit(0.0), F.lit(float("-inf"))), F.lit(float("inf"))).alias("k"),
                s["label"].alias("label"),
            ),
        )
    )
    probes = vec_stream.select(
        "vec_id",
        F.col("embedding").alias("v_new"),
        F.explode(F.slice(ranked, 1, nprobe)).alias("p"),
    ).select("vec_id", "v_new", F.col("p.label").alias("label"))

    state = assignments.select(
        F.col("vec_id").alias("old_id"), F.col("assigned_label").alias("label")
    )
    cand = probes.join(state, "label")

    old = old_vectors.select(
        F.col("vec_id").alias("old_id"), F.col("embedding").alias("v_old")
    )
    # try_divide (via cosine): a zero-norm pair's NULL sim fails the
    # >= min_sim cut below (never qualifies), the batch arm's exact semantics
    sim = F.round(cosine(F.col("v_new"), F.col("v_old")), 6)
    return (
        cand.join(old, "old_id")
        .where(F.col("vec_id") != F.col("old_id"))
        .select("vec_id", "old_id", sim.alias("sim"))
        .where(F.col("sim") >= min_sim)
    )


def streaming_pq_scores(
    vec_stream: DataFrame,
    codebook_rows: DataFrame,
    adc_rows: DataFrame,
    m: int,
    ks: int,
    dsub: int,
) -> DataFrame:
    """PQ-encode + ADC-score vectors ARRIVING as a stream against persisted
    batch state — the streaming twin of z_sim_pq's encode/score stages.

    `codebook_rows` is the persisted (sub, code, pos, c_q) table and
    `adc_rows` the persisted per-query (sub, code, d) distance table; both
    are DIMENSION-sized (m*ks*dsub and m*ks rows at any corpus scale), the
    canonical broadcast-as-literal case — collected ONCE at query
    construction. Per row everything is column math: fixed-point the
    vector, per-subspace argmin over ks candidate integer distances
    (tie-break code asc via lexicographic struct min — the batch engine's
    (dist, code) ordering), then M integer table adds for the ADC
    distance. EXACT integer parity with batch pq_encode/pq_adc_scores is
    pinned in tests/test_pq_r5.py. Stateless; zero shuffle; no watermark.
    """
    from d3d_etl_spark.operators.similarity import SIM_SCALE

    collected = codebook_rows.collect()
    cb: dict[tuple[int, int], dict[int, int]] = {}
    for r in collected:
        cb.setdefault((r["sub"], r["code"]), {})[r["pos"]] = int(r["c_q"])
    # Hash-seeded pq_codebooks can legitimately leave (sub, code) clusters
    # EMPTY on small/skewed corpora (no row for that code) — batch
    # encode/ADC simply never assigns the missing code, so the twin must
    # load such state too. Validate only what parity needs: every subspace
    # has >=1 code, every PRESENT (sub, code) covers its dsub positions,
    # and the ADC table keys exactly the present codes.
    present: dict[int, list[int]] = {}
    for (s, c) in sorted(cb):
        present.setdefault(s, []).append(c)
    if sorted(present) != list(range(m)) or any(
        sorted(v) != list(range(s * dsub, (s + 1) * dsub))
        for (s, _), v in cb.items()
    ):
        raise ValueError(
            f"codebook must cover all {m} subspaces x {dsub} positions per "
            f"present code; got {len(collected)} rows"
        )
    adc_collected = adc_rows.collect()
    adc = {(r["sub"], r["code"]): int(r["d"]) for r in adc_collected}
    if sorted(adc) != sorted(cb):
        raise ValueError(
            f"ADC table keys must match the codebook's present (sub, code) "
            f"set; got {len(adc_collected)} rows vs {len(cb)} codebook codes"
        )

    xs = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * SIM_SCALE).cast("long"),
    )
    code_cols = []
    adist = F.lit(0).cast("long")
    for sub in range(m):
        sub_xs = F.slice(xs, sub * dsub + 1, dsub)
        cands = []
        # argmin over the PRESENT codes only — exactly the set the batch
        # encode join can assign. The ADC value rides in the candidate
        # struct (third field, never reached by the (dist, code) compare
        # since codes are distinct) so missing codes need no placeholder.
        for code in present[sub]:
            lit_arr = F.array(
                *[
                    F.lit(cb[(sub, code)][p]).cast("long")
                    for p in range(sub * dsub, (sub + 1) * dsub)
                ]
            )
            dist = F.aggregate(
                F.zip_with(sub_xs, lit_arr, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            cands.append(
                F.struct(
                    dist.alias("dist"),
                    F.lit(code).alias("code"),
                    F.lit(adc[(sub, code)]).cast("long").alias("adc"),
                )
            )
        best = F.array_min(F.array(*cands))
        code_cols.append(best["code"])
        adist = adist + best["adc"]
    sig = F.concat_ws("-", *[c.cast("string") for c in code_cols])
    return vec_stream.select(
        "vec_id", sig.alias("code_sig"), adist.alias("adist")
    )
