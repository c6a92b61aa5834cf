"""Zero-norm NULL-ordering guards for the min_by argmin sites (round 12,
VERDICT r11 finding 2 / ADVICE r11 #2).

cosine() has no zero-norm guard: a zero vector or zero centroid makes
sim NULL (Spark non-ANSI x/0.0). The row_number windows the round-11
min_by hash aggregates replaced ordered desc(sim) = NULLS LAST, so a
NULL-sim candidate always LOST; Spark's struct ordering inside min_by
sorts a NULL key field FIRST ascending, so without the coalesce-to-+inf
guard a degenerate all-zero centroid would have captured EVERY vector
instead of none. These fixtures pin the guarded behavior on adversarial
zero-norm input — impossible on the shipped corpora (all planted/LCG
components are bounded away from zero), conceivable after exact integer
cancellation on hostile data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from d3d_etl_spark.operators.similarity import assign_nearest_centroid


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cents_df(spark, cents: dict[int, list[float]]):
    rows = [
        (label, pos, float(c))
        for label, vec in cents.items()
        for pos, c in enumerate(vec)
    ]
    return spark.createDataFrame(rows, "label long, pos int, c double")


def test_zero_norm_centroid_attracts_nothing(spark):
    """An all-zero centroid (sim NULL vs every vector) must lose to any
    real centroid — the replaced window's NULLS-LAST contract."""
    emb = _emb_df(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ],
    )
    cents = _cents_df(
        spark,
        {
            0: [0.0, 0.0, 0.0, 0.0],  # degenerate: nc2 = 0 -> sim NULL
            1: [1.0, 0.0, 0.0, 0.0],
            2: [0.0, 0.0, 1.0, 0.0],
        },
    )
    got = {
        r["vec_id"]: r["assigned_label"]
        for r in assign_nearest_centroid(emb, cents, "label").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2}, (
        "the zero-norm centroid must attract no vector; NULL sim orders last"
    )


def test_all_null_sims_keep_window_semantics(spark):
    """When EVERY candidate sim is NULL (zero-norm vector), the row still
    publishes — smallest label wins with sim NULL, exactly the old
    row_number window's rn=1 among an all-NULL desc ordering."""
    emb = _emb_df(spark, [(7, [0.0, 0.0, 0.0, 0.0])])  # nx2 = 0 -> all NULL
    cents = _cents_df(spark, {3: [1.0, 0.0, 0.0, 0.0], 5: [0.0, 1.0, 0.0, 0.0]})
    rows = assign_nearest_centroid(emb, cents, "label").collect()
    assert len(rows) == 1
    assert rows[0]["assigned_label"] == 3
    assert rows[0]["sim"] is None


def test_serving_top1_null_guard_shape(spark):
    """The serving top-1 min_by shape (simsearch._exact_top1, keyed by
    the package's sim_desc_key): a NULL-sim pair must lose to any real-sim
    pair within the group, and win only when the group is all-NULL."""
    sims = spark.createDataFrame(
        [
            (1, 10, 0.5),
            (1, 11, None),  # zero-norm old vector: must NOT win
            (2, 12, None),  # all-NULL group: publishes with sim NULL
        ],
        "vec_id long, old_id long, sim double",
    )
    from d3d_etl_spark.functions.vectors import sim_desc_key

    top1 = (
        sims.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("old_id", "sim"),
                F.struct(sim_desc_key(F.col("sim")).alias("k"), "old_id"),
            ).alias("_b")
        )
        .select("vec_id", F.col("_b.old_id").alias("old_id"), F.col("_b.sim").alias("sim"))
    )
    got = {r["vec_id"]: (r["old_id"], r["sim"]) for r in top1.collect()}
    assert got[1] == (10, 0.5)
    assert got[2] == (12, None)


def test_bruteforce_round_matches_engine_contract():
    """_bruteforce_nn's rounding is half-away at 6dp (F.round/ROUND),
    not numpy banker's (ADVICE r11 #3): an exact 5e-7 boundary must round
    AWAY from zero on both the auditor and the engine."""
    np = pytest.importorskip("numpy")

    from d3d_etl_spark.operators.similarity import _np_round6_half_away

    x = np.array([0.0000005, 0.0000015, -0.0000005, 0.1234565])
    got = _np_round6_half_away(x)
    # np.round gives [0.0, 0.000002, -0.0, 0.123456] (half-even) — the
    # engine contract is half-away on every boundary value
    assert got.tolist() == [0.000001, 0.000002, -0.000001, 0.123457]
