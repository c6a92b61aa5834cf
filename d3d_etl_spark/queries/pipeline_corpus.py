"""corpus_pipeline — the LLM-training-data pipeline END-TO-END as one
oracled query: near-dup dedup -> canonical filter -> deterministic
train/val/test split -> token counting -> chunk counting -> sequence
packing, composed from the same operators the standalone queries use.

This is the flagship composition for the repo's north star (large-scale
training-data preparation): every stage is the scale-shaped operator
(inverted-index dedup pairs, broadcast anti-join drop set, scan-local hash
split, two-level prefix-sum packing), and the whole chain is exact —
the DuckDB oracle recomputes all six stages and must hash-match.

Output grain: one row per split with corpus statistics after dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from d3d_etl_spark.functions.sampling import hash_split, sql_hash_split
from d3d_etl_spark.functions.text import tokens
from d3d_etl_spark.io import load_table
from d3d_etl_spark.operators.dedup import connected_components
from d3d_etl_spark.queries.dedup import (
    _LSH_PAIR_CTES,
    _SHINGLE_CTES,
    lsh_gated_pairs_base,
    shingle_base,
)
from d3d_etl_spark.queries.registry import register
from d3d_etl_spark.queries.sampling import _SPLITS

_STRIDE = 45
_BUDGET = 512
_BUCKET = 100

_PIPELINE_ORACLE = f"""
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
drops AS (SELECT node FROM comp WHERE node != component),
kept AS (
  SELECT doc_id,
         {sql_hash_split("doc_id", _SPLITS)} AS split,
         len(w) AS n
  FROM toks
  WHERE doc_id NOT IN (SELECT node FROM drops)
),
packed AS (
  SELECT split, n,
         COALESCE(SUM(n) OVER (
           PARTITION BY split ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) // {_BUDGET} AS seq_id
  FROM kept
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM((n + {_STRIDE} - 1) // {_STRIDE}) AS BIGINT) AS n_chunks,
       COUNT(DISTINCT seq_id) AS n_sequences
FROM packed
GROUP BY split
"""


@register("corpus_pipeline", _PIPELINE_ORACLE, tags=("dedup", "sampling", "text"), bench=True)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO fan_out on the scan: a quiet-host A/B measured this query at
    # ~5.5 s with the scan fanned vs 4.2 s without;
    # shingle_base applies its own guard where the rebalance pays, and the
    # `kept` tokenize pass is too light to amortize a payload exchange.
    docs = load_table(spark, sf_dir, "documents")

    # 1-2: LSH-gated near-dup pairs -> transitive clusters -> drop
    # non-representatives. The gate (MinHash bands -> candidates -> exact
    # verify) keeps pair generation sub-quadratic; the bare inverted-index
    # self-join is only the standalone exactness baseline
    # (dedup_jaccard_pairs), never the flagship path.
    comp = connected_components(lsh_gated_pairs_base(shingle_base(docs)))
    drops = comp.where(F.col("node") != F.col("component")).select("node")

    # 3-4: split assignment + token counts on the surviving corpus
    kept = (
        docs.join(F.broadcast(drops), docs["doc_id"] == F.col("node"), "left_anti")
        .select(
            "doc_id",
            hash_split(F.col("doc_id"), _SPLITS).alias("split"),
            F.size(tokens(F.col("text"))).cast("long").alias("n"),
        )
    )

    # 5: per-split sequence packing via the two-level prefix sum
    # (within-bucket window in parallel; per-split bucket offsets are tiny)
    t = kept.withColumn("bucket", F.expr(f"doc_id div {_BUCKET}"))
    w_in = (
        Window.partitionBy("split", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = t.withColumn("cum_in", F.coalesce(F.sum("n").over(w_in), F.lit(0)))
    totals = t.groupBy("split", "bucket").agg(F.sum("n").alias("btotal"))
    w_b = (
        Window.partitionBy("split")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("btotal").over(w_b), F.lit(0))
    ).select("split", "bucket", "offset")
    packed = within.join(F.broadcast(offsets), ["split", "bucket"]).withColumn(
        "seq_id", F.expr(f"(offset + cum_in) div {_BUDGET}")
    )

    # 6: corpus statistics per split (chunk count = ceil(n / stride))
    return packed.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum(F.expr(f"(n + {_STRIDE} - 1) div {_STRIDE}")).alias("n_chunks"),
        F.countDistinct("seq_id").alias("n_sequences"),
    )
