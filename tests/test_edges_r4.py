"""Degenerate-input edges for the round-4 surface: empty corpora, single
documents, and the fan_out guard — cheap failures a 100 TB run cannot
afford to hit for the first time in production."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_fan_out_noop_when_scan_is_parallel(spark):
    """fan_out must pass a well-partitioned frame through UNCHANGED (no
    exchange added — the production case) and rebalance a single-partition
    frame to session parallelism."""
    from d3d_etl_spark.io import fan_out
    from d3d_etl_spark.plans.inspect import count_shuffles

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, n * 2).selectExpr("id", "id * 2 AS v")
    assert fan_out(wide) is wide, "parallel input must pass through untouched"

    thin = spark.range(0, 10_000, 1, 1).selectExpr("id", "id * 2 AS v")
    fanned = fan_out(thin)
    # check the plan BEFORE touching .rdd: once AQE materializes a stage,
    # the plan text shows the ShuffleQueryStage alongside the original
    # Exchange and the count double-reports
    assert count_shuffles(fanned) == 1  # exactly the round-robin rebalance
    assert fanned.rdd.getNumPartitions() == n
    assert fanned.count() == 10_000


def test_lsh_chain_on_empty_and_singleton_corpus(spark):
    """The whole gated dedup chain (base -> bands -> candidates -> verified
    pairs -> components) must return EMPTY, not error, for an empty corpus
    and for a single document (no pair can exist)."""
    from d3d_etl_spark.operators.dedup import connected_components
    from d3d_etl_spark.queries.dedup import lsh_gated_pairs_base, shingle_base

    empty = spark.createDataFrame([], "doc_id long, text string")
    pairs = lsh_gated_pairs_base(shingle_base(empty))
    assert pairs.count() == 0
    assert connected_components(pairs).count() == 0

    one = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    assert lsh_gated_pairs_base(shingle_base(one)).count() == 0


def test_incremental_dedup_empty_new_batch(spark, tmp_path):
    """A day with no qualifying new documents: the band join and the verify
    stage must both produce empty frames, not fail on empty checkpoints."""
    from d3d_etl_spark.operators.dedup import jaccard_pairs
    from d3d_etl_spark.queries.dedup import (
        base_band_keys,
        base_shingle_rows,
        shingle_base,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    base = shingle_base(empty)
    bands = base_band_keys(base)
    assert bands.count() == 0
    cand = spark.createDataFrame([], "doc_a long, doc_b long")
    assert jaccard_pairs(base_shingle_rows(base), 0.3, candidates=cand).count() == 0


def test_span_dedup_short_docs_excluded(spark):
    """Documents shorter than the span width produce no spans and must be
    absent from the output — and a corpus of only short docs yields an
    empty frame."""
    from d3d_etl_spark.functions.strings import md5_int
    from d3d_etl_spark.functions.text import tokens, word_shingles
    from d3d_etl_spark.queries.textops import _SPAN_N

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "also quite short indeed")],
        "doc_id long, text string",
    )
    sp = docs.select(
        "doc_id",
        F.explode(word_shingles(tokens(F.col("text")), _SPAN_N)).alias("s"),
    ).select("doc_id", md5_int(F.col("s"), 15).alias("sh"))
    assert sp.count() == 0


def test_mixing_single_language(spark):
    """One-language corpus: the weight normalizes to 1 and the acceptance
    must be exactly budget/total = 0.5 (quantized), never above 1."""
    from d3d_etl_spark.queries import sampling as S

    docs = spark.createDataFrame(
        [(i, "xx", " ".join(["tok"] * 20)) for i in range(40)],
        "doc_id long, lang string, text string",
    )

    real = S.load_table
    try:
        S.load_table = lambda _s, _d, _n: docs
        rows = S.z_corpus_mixing(spark, "sf0.001-fake").collect()
    finally:
        S.load_table = real
    assert len(rows) == 1
    assert rows[0]["p_accept"] == 0.5
    assert rows[0]["n_kept"] <= rows[0]["n_docs"]


def test_ensure_materialized_tmp_outside_glob(tmp_path, monkeypatch):
    """Crash-safety contract of StateFamily.ensure: builds happen in a
    DOT-prefixed temp dir that the family glob cannot match, and stale
    crash leftovers are swept on the next regeneration."""
    import glob
    import os

    from d3d_etl_spark import io

    cache = str(tmp_path / "cache")
    os.makedirs(cache)
    monkeypatch.setattr(io, "STATE_ROOT", cache)
    monkeypatch.setattr(io, "STATE_FAMILIES", {})
    fam = io.StateFamily("fam", key=str)

    path = os.path.join(cache, "fam_a")
    # a previous crashed build left its temp dir behind
    stale = os.path.join(cache, ".tmp_fam_b")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "w") as f:
        f.write("half-written")

    seen_tmp = {}

    def build(tmp):
        seen_tmp["path"] = tmp
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data.parquet"), "w") as f:
            f.write("ok")

    assert fam.ensure("a", build) == path

    # build ran in a dot-prefixed dir the family glob can never see
    assert os.path.basename(seen_tmp["path"]).startswith(".tmp_")
    assert glob.glob(os.path.join(cache, "fam_*", "*.parquet")) == [
        os.path.join(path, "data.parquet")
    ]
    assert fam.glob == os.path.join(cache, "fam_*", "*.parquet")
    # the crash leftover was swept
    assert not os.path.exists(stale)
    # idempotent fast path: a second call does not rebuild
    seen_tmp.clear()
    assert fam.ensure("a", build) == path
    assert not seen_tmp
