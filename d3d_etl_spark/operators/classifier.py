"""Distributed linear-classifier training step (the CCNet/fastText-style
quality-classifier shape): logistic regression on hashed bag-of-words
features, trained by full-batch gradient descent where each step is one
Spark pass — the per-feature gradient is a single groupBy over the
(doc, feature) stream.

Determinism contract (mirrors z_corpus_lm_score): feature values AND
weights are integer-quantized (1e-6 units) at each step boundary, so the
per-doc margin is an EXACT integer sum — identical across engines under
any fold order. The only float exposure is exp() of identical doubles
inside a ROUND (the z_corpus_lm_score ln() precedent), after which the
predicted probability is re-quantized to an integer BEFORE the
corpus-sized gradient sum — the gradient aggregation is exact integer
arithmetic on both engines.

Scale shape: weights are feature-dim rows (broadcast); the feature stream
shuffles once per step (groupBy doc for the margin, groupBy feature for the
gradient); nothing corpus-sized ever sits on the driver. Full-batch GD over
100 TB is the one-pass-per-epoch shape; minibatching = the deterministic
hash-split sampler upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

X_SCALE = 1_000_000  # feature / probability / weight quantum (1e-6)


def lr_gradient_step(
    xq: DataFrame, labels: DataFrame, weights: DataFrame, lr: float
) -> DataFrame:
    """One full-batch logistic-regression GD step.

    xq: (doc_id, j, x_q) — integer-quantized features (x = x_q / X_SCALE).
    labels: (doc_id, y_q) — y_q in {0, X_SCALE}; exactly the docs that
    carry features (zero-token docs take no gradient and must be absent).
    weights: (j, w) — current weights, double; re-quantized to 1e-6 here.
    Returns (j, w, g_int): updated weight
    w' = w - lr * (1/N) * sum_d (p_d - y_d) * x_dj and the exact-integer
    gradient sum (1e-12 units before the 1/N). Features never observed
    keep their weight (gradient 0).
    """
    wq = weights.select(
        "j", "w", F.round(F.col("w") * X_SCALE).cast("long").alias("w_q")
    )
    # exact integer margin sum -> one division -> exp of IDENTICAL doubles
    margin = (
        xq.join(F.broadcast(wq), "j")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("x_q") * F.col("w_q")).cast("double")
                / (float(X_SCALE) * X_SCALE)
            ).alias("m")
        )
    )
    p = margin.select(
        "doc_id",
        F.round(X_SCALE / (F.lit(1.0) + F.exp(-F.col("m")))).cast("long").alias("p_q"),
    )
    # decimal(38,0) accumulator: each term is bounded by 1e12, so a long
    # sum would wrap past ~9.2e6 docs per feature — exactly the 100 TB
    # full-batch shape this module claims. DuckDB's SUM(BIGINT) promotes
    # to HUGEINT; decimal(38,0) is the Spark twin of that promotion.
    grad = (
        xq.join(p, "doc_id")
        .join(labels, "doc_id")
        .groupBy("j")
        .agg(
            F.sum(
                ((F.col("p_q") - F.col("y_q")) * F.col("x_q")).cast("decimal(38,0)")
            ).alias("g_int")
        )
    )
    n = labels.agg(F.count("*").alias("n_docs"))
    return (
        weights.join(grad, "j", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "j",
            (
                F.col("w")
                - lr
                * F.coalesce(F.col("g_int"), F.lit(0)).cast("double")
                / (float(X_SCALE) * X_SCALE)
                / F.col("n_docs")
            ).alias("w"),
            F.coalesce(F.col("g_int"), F.lit(0)).alias("g_int"),
        )
    )


def hashed_features(
    docs: DataFrame, tok_col, n_features: int, id_col: str = "doc_id"
) -> DataFrame:
    """Hashed bag-of-words: (doc_id, j, x_q) with j = md5(token) % n_features
    and x_q = round(X_SCALE * tf / doc_len) — integer-quantized L1-normalized
    term frequencies. Zero-token docs emit no rows (and take no gradient)."""
    from d3d_etl_spark.functions.strings import md5_int

    ex = docs.select(
        id_col, F.size(tok_col).alias("nd"), F.explode(tok_col).alias("tok")
    )
    return (
        ex.withColumn("j", md5_int(F.col("tok")) % n_features)
        .groupBy(id_col, "j", "nd")
        .agg(F.count("*").alias("c"))
        .select(
            id_col,
            "j",
            F.round(F.lit(float(X_SCALE)) * F.col("c") / F.col("nd"))
            .cast("long")
            .alias("x_q"),
        )
    )


def lr_corpus_inputs(docs: DataFrame, n_features: int):
    """Shared (features, labels) construction for the LR surface — the ONE
    definition of the eligibility rule (docs with >= 1 token) and the label
    encoding (y_q = X_SCALE iff lang = 'en'), used by the oracled step
    query and the trainer loop alike. Both frames come back lazy;
    lr_gradient_step reads xq twice, and a loop reads both every step, so
    the caller barriers them."""
    from d3d_etl_spark.functions.text import tokens

    tok = tokens(F.col("text"))
    xq = hashed_features(
        docs.select("doc_id", tok.alias("toks")), F.col("toks"), n_features
    )
    labels = (
        docs.select(
            "doc_id",
            F.size(tok).alias("nd"),
            F.when(F.col("lang") == "en", F.lit(X_SCALE))
            .otherwise(0)
            .cast("long")
            .alias("y_q"),
        )
        .where(F.col("nd") > 0)
        .select("doc_id", "y_q")
    )
    return xq, labels
