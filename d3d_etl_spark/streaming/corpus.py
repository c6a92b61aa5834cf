"""Streaming corpus ingest: near-dup detection for documents ARRIVING as a
stream, probed against the persisted batch index state — the Structured
Streaming twin of the batch z_corpus_incremental query (queries/dedup.py).

Shape: everything is map-side or stream-static, so the stream carries ZERO
aggregation state — no watermark bookkeeping, no state store growth:

1. shingle arrays materialize ONCE per document behind a Generate barrier
   (explode of a one-element array — CollapseProject cannot inline an
   expression through a Generate, so the 16 per-hash transforms of the
   band computation reference the bound attribute instead of re-running
   tokenize+shingle per hash: the HOF CSE trap, same fix as the batch
   side's shingle_base checkpoint);
2. band keys come from the shared band_keys_from_shingle_array — the same
   bits as the batch grouped signature pass (parity-tested);
3. candidates come from a stream-static join against the persisted
   (doc, band_idx, band_key) state;
4. exact-Jaccard verification is a per-row array_intersect against the
   candidate old doc's shingle set (stream-static join on the old id).

Static-side sizing: the band state and the old-doc shingle table are
corpus-PROPORTIONAL (compact — n_bands rows/doc and one array/doc), so no
broadcast is forced here; Spark's planner broadcasts them while they fit
and falls back to a per-batch shuffled join when they don't. At real scale
the static sides live bucketed on their join keys (io.write_bucketed) so
the per-batch join is co-located, or the verify step moves into
foreachBatch where full batch semantics allow the same candidate-gated
selective fetch the batch twin uses.

A pair that shares several bands is emitted once per shared band; the lake
sink dedups on (doc_a, doc_b) exactly as the batch upsert sink does
(stream_upsert_sink dedup_keys) — keeping the stream stateless is the
100 TB trade: dedup at the idempotent sink, not in the state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.functions.text import tokens, word_shingles


def _with_shingle_array(df: DataFrame, shingle_n: int, out_col: str) -> DataFrame:
    """(df columns..., out_col: array<string>) with the shingle expression
    evaluated EXACTLY ONCE per row: explode of a one-element array is a
    Generate node, and projections cannot collapse through it — the
    streaming-legal stand-in for a checkpoint barrier."""
    sh_expr = F.array_distinct(word_shingles(tokens(F.col("text")), shingle_n))
    return df.select("*", F.explode(F.array(sh_expr)).alias(out_col)).drop("text")


def streaming_incremental_dedup(
    doc_stream: DataFrame,
    band_state: DataFrame,
    old_docs: DataFrame,
    min_jaccard: float,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, old_id, band_idx, jaccard) rows for every arriving document
    that near-dups an indexed one. `doc_stream` needs (doc_id, text);
    `band_state` is the persisted (doc, band_idx, band_key) table
    (queries.dedup.batch1_band_state); `old_docs` is the static corpus
    slice the state was built from, used only for candidate verification.
    """
    from d3d_etl_spark.operators.dedup import band_keys_from_shingle_array

    staged = _with_shingle_array(doc_stream, shingle_n, "sh_new")
    probes = staged.select(
        "doc_id",
        "sh_new",
        F.explode(
            band_keys_from_shingle_array(F.col("sh_new"), n_hashes, rows_per_band)
        ).alias("b"),
    ).select(
        "doc_id", "sh_new",
        F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"),
    )

    state = band_state.select(F.col("doc").alias("old_id"), "band_idx", "band_key")
    cand = probes.join(state, ["band_idx", "band_key"]).where(
        F.col("doc_id") != F.col("old_id")
    )

    old_sh = _with_shingle_array(
        old_docs.select(F.col("doc_id").alias("old_id"), "text"), shingle_n, "sh_old"
    )
    inter = F.size(F.array_intersect("sh_new", "sh_old"))
    union = F.size("sh_new") + F.size("sh_old") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(old_sh, "old_id")
        .select("doc_id", "old_id", "band_idx", jac.alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard)
    )
