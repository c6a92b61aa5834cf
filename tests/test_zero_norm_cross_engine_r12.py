"""Cross-engine fuzz for the round-12 zero-norm contract: the coarse
assignment (try_divide NULL sims + coalesce-to-+inf min_by key) must
equal the oracle's SQL image (plain `/` -> DuckDB NULL, ROW_NUMBER
ORDER BY sim DESC NULLS-LAST) on ADVERSARIAL vector corpora — planted
zero vectors, zero centroids (including ALL-zero centroid sets), tiny
and huge magnitudes, and exact duplicate vectors that force id
tie-breaks. The fixed corpora can never exercise these rows; this pins
the agreement as a property of the operator, not of the data.
"""

from __future__ import annotations

import random

import duckdb


def _corpora():
    r = random.Random(0x5EED12)
    dims = 4
    cases = []
    # case 1: one zero vector, one zero centroid among real ones
    cases.append(
        (
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]),
             (3, [0.5, 0.5, 0.0, 0.0]), (4, [-1.0, 0.0, 0.0, 0.0])],
            {0: [0.0] * dims, 1: [1.0, 0.0, 0.0, 0.0], 2: [0.0, 1.0, 0.0, 0.0]},
        )
    )
    # case 2: ALL centroids zero-norm (every sim NULL)
    cases.append(
        (
            [(7, [0.25, -0.5, 0.125, 1.0]), (9, [1e-300, 0.0, 0.0, 0.0])],
            {3: [0.0] * dims, 5: [0.0] * dims},
        )
    )
    # case 3: duplicate vectors + duplicate centroids (tie-break by label)
    cases.append(
        (
            [(1, [1.0, 1.0, 0.0, 0.0]), (2, [1.0, 1.0, 0.0, 0.0])],
            {4: [2.0, 2.0, 0.0, 0.0], 6: [1.0, 1.0, 0.0, 0.0], 8: [0.0] * dims},
        )
    )
    # case 3b: an EMPTY embedding array — posexplode yields no component
    # rows, so the vector must be ABSENT from the output on both engines
    # (the SQL image has no e rows for it), not present with NULL sim
    cases.append(
        (
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [])],
            {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0]},
        )
    )
    # cases 4+: seeded random with planted zeros and magnitude extremes
    for _ in range(4):
        vecs = []
        for vid in range(12):
            kind = r.randrange(5)
            if kind == 0:
                v = [0.0] * dims
            elif kind == 1:
                v = [r.uniform(-1, 1) * 1e12 for _ in range(dims)]
            elif kind == 2:
                v = [r.uniform(-1, 1) * 1e-12 for _ in range(dims)]
            else:
                v = [round(r.uniform(-1, 1), 3) for _ in range(dims)]
            vecs.append((vid, v))
        cents = {}
        for lab in range(4):
            if r.randrange(4) == 0:
                cents[lab] = [0.0] * dims
            else:
                cents[lab] = [round(r.uniform(-1, 1), 3) for _ in range(dims)]
        cases.append((vecs, cents))
    return cases


def _duck_assign(vecs, cents):
    """The oracle-side image of assign_nearest_centroid: plain division
    (NULL on zero norm), ROUND 6, ROW_NUMBER ORDER BY sim DESC, label —
    DuckDB defaults give NULLS LAST, the replaced-window contract."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE e (vec_id BIGINT, pos INT, x DOUBLE)")
        con.executemany(
            "INSERT INTO e VALUES (?, ?, ?)",
            [(vid, p, float(x)) for vid, v in vecs for p, x in enumerate(v)],
        )
        con.execute("CREATE TABLE c (label BIGINT, pos INT, c DOUBLE)")
        con.executemany(
            "INSERT INTO c VALUES (?, ?, ?)",
            [(lab, p, float(x)) for lab, v in cents.items() for p, x in enumerate(v)],
        )
        rows = con.execute(
            """
            SELECT vec_id, label, sim FROM (
              SELECT vec_id, label,
                     ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) AS sim,
                     ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY ROUND(dot / (SQRT(nx2) * SQRT(nc2)), 6) DESC, label
                     ) AS rn
              FROM (
                SELECT e.vec_id, c.label,
                       SUM(e.x * c.c) AS dot,
                       SUM(e.x * e.x) AS nx2,
                       SUM(c.c * c.c) AS nc2
                FROM e JOIN c ON e.pos = c.pos
                GROUP BY 1, 2
              )
            ) WHERE rn = 1
            """
        ).fetchall()
        return {int(v): (int(l), s) for v, l, s in rows}
    finally:
        con.close()


def test_serving_top1_min_by_matches_sql_window(spark):
    """The serving top-1 min_by shape (simsearch._exact_top1, keyed by
    the package's sim_desc_key) vs the oracle's ROW_NUMBER(ORDER BY sim
    DESC, old_id) on seeded random pair tables with NULL sims mixed in —
    including groups that are entirely NULL, exact sim ties, and a NaN
    sim, which DuckDB's ORDER BY sim DESC puts first."""
    import math

    from pyspark.sql import functions as F

    from d3d_etl_spark.functions.vectors import sim_desc_key

    def nan_tag(sim):
        # NaN != NaN: compare a NaN winner by tag on both sides
        return "nan" if sim is not None and math.isnan(sim) else sim

    r = random.Random(0x701)
    rows = []
    for vec in range(30):
        n_cand = r.randint(1, 6)
        for c in range(n_cand):
            kind = r.randrange(6)
            sim = None if kind == 0 else round(r.choice([0.5, -0.25, 0.9, r.uniform(-1, 1)]), 6)
            rows.append((vec, 100 + c * 7 + vec, sim))
    # one all-NULL group and one all-tied group
    rows += [(98, 1, None), (98, 2, None)]
    rows += [(99, 5, 0.5), (99, 3, 0.5), (99, 9, 0.5)]
    # a NaN sim outranks every real sim under ORDER BY sim DESC
    rows += [(97, 4, 0.9), (97, 6, float("nan")), (97, 8, None)]

    sims = spark.createDataFrame(rows, "vec_id long, old_id long, sim double")
    got = {
        x["vec_id"]: (x["old_id"], nan_tag(x["sim"]))
        for x in sims.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("old_id", "sim"),
                F.struct(sim_desc_key(F.col("sim")).alias("k"), "old_id"),
            ).alias("_b")
        )
        .select("vec_id", F.col("_b.old_id").alias("old_id"), F.col("_b.sim").alias("sim"))
        .collect()
    }
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE s (vec_id BIGINT, old_id BIGINT, sim DOUBLE)")
        con.executemany("INSERT INTO s VALUES (?, ?, ?)", rows)
        want = {
            int(v): (int(o), nan_tag(sim))
            for v, o, sim in con.execute(
                """SELECT vec_id, old_id, sim FROM (
                     SELECT vec_id, old_id, sim,
                            ROW_NUMBER() OVER (
                              PARTITION BY vec_id ORDER BY sim DESC, old_id
                            ) AS rn
                     FROM s) WHERE rn = 1"""
            ).fetchall()
        }
    finally:
        con.close()
    assert got == want


def test_assign_nearest_centroid_zero_norm_parity(spark):
    from d3d_etl_spark.operators.similarity import assign_nearest_centroid

    for ci, (vecs, cents) in enumerate(_corpora()):
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        cdf = spark.createDataFrame(
            [(lab, p, float(x)) for lab, v in cents.items() for p, x in enumerate(v)],
            "label long, pos int, c double",
        )
        got = {
            r["vec_id"]: (r["assigned_label"], r["sim"])
            for r in assign_nearest_centroid(emb, cdf, "label").collect()
        }
        want = _duck_assign(vecs, cents)
        assert got == want, f"case {ci}: engine {got} != oracle {want}"
