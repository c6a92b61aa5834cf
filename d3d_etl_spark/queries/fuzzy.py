"""Fuzzy entity-resolution query (SURVEY.md §2.3 J10-J13).

Probes are part names deterministically corrupted (so the cascade has work
to do): even partkeys lose their last character, odd partkeys stay exact.
Blocked on p_brand; exact tier catches the untouched names, fuzzy tier
resolves the corrupted ones by normalized Levenshtein top-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import load_table
from d3d_etl_spark.operators.fuzzy_join import blocked_fuzzy_join, fits_broadcast
from d3d_etl_spark.queries.registry import register

_CUTOFF = 0.7

_FUZZY_ORACLE = f"""
WITH probes AS (
  SELECT p_partkey AS probe_id, p_brand,
         CASE WHEN p_partkey % 2 = 0 THEN substr(p_name, 1, len(p_name) - 1)
              ELSE p_name END AS probe_name
  FROM part
),
exact AS (
  SELECT probe_id, matched_id, 1.0 AS score, 'exact' AS tier
  FROM (
    SELECT p.probe_id, c.p_partkey AS matched_id,
           ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY c.p_partkey) AS rn
    FROM probes p JOIN part c USING (p_brand)
    WHERE p.probe_name = c.p_name
  ) WHERE rn = 1
),
fuzzy AS (
  SELECT probe_id, matched_id, score, 'fuzzy' AS tier
  FROM (
    SELECT p.probe_id, c.p_partkey AS matched_id,
           1.0 - CAST(levenshtein(p.probe_name, c.p_name) AS DOUBLE)
               / GREATEST(len(p.probe_name), len(c.p_name)) AS score,
           ROW_NUMBER() OVER (
             PARTITION BY p.probe_id
             ORDER BY 1.0 - CAST(levenshtein(p.probe_name, c.p_name) AS DOUBLE)
                      / GREATEST(len(p.probe_name), len(c.p_name)) DESC,
                      c.p_partkey
           ) AS rn
    FROM probes p JOIN part c USING (p_brand)
    WHERE p.probe_id NOT IN (SELECT probe_id FROM exact)
      AND 1.0 - CAST(levenshtein(p.probe_name, c.p_name) AS DOUBLE)
          / GREATEST(len(p.probe_name), len(c.p_name)) >= {_CUTOFF}
  ) WHERE rn = 1
)
SELECT * FROM exact UNION ALL SELECT * FROM fuzzy
"""


def _fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    probes = part.select(
        F.col("p_partkey").alias("probe_id"),
        "p_brand",
        F.when(
            F.col("p_partkey") % 2 == 0,
            F.expr("substr(p_name, 1, length(p_name) - 1)"),
        )
        .otherwise(F.col("p_name"))
        .alias("probe_name"),
    )
    return blocked_fuzzy_join(
        probes,
        part,
        block_keys=["p_brand"],
        probe_id="probe_id",
        probe_name="probe_name",
        cand_id="p_partkey",
        cand_name="p_name",
        cutoff=_CUTOFF,
        # part grows linearly with SF — probe its on-disk size instead of
        # hard-coding the broadcast that wins at sf0.1 but OOMs at high SF.
        broadcast_candidates=fits_broadcast(part),
    )


# ---------------------------------------------------------------------------
# fuzzy_variation_match — the T6 variation-explode tier as a contract query:
# candidate names explode to their deterministic variant set (flipped /
# initialed / double-initial / 3-prefix / last-only forms in normalized
# space), probes (half of them abbreviated to "f last" form) resolve by
# EQUI-join on the variants — no fuzzy scoring. The oracle mirrors the
# variant generator in SQL.
# ---------------------------------------------------------------------------

_VAR_ORACLE = """
WITH parts AS (
  SELECT p_partkey, p_brand,
         trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM part
),
feat AS (
  SELECT p_partkey, p_brand, norm,
         string_split(norm, ' ')[1] AS fw,
         string_split(norm, ' ')[len(string_split(norm, ' '))] AS lw
  FROM parts
),
cand AS (
  SELECT p_partkey, p_brand,
         unnest(list_distinct([
           norm,
           lw || ' ' || fw,
           substr(fw, 1, 1) || ' ' || lw,
           fw || ' ' || substr(lw, 1, 1),
           substr(fw, 1, 1) || ' ' || substr(lw, 1, 1),
           substr(fw, 1, 1) || substr(lw, 1, 1),
           lw,
           CASE WHEN len(fw) >= 3 AND len(lw) >= 3
                THEN substr(fw, 1, 3) || ' ' || substr(lw, 1, 3)
                ELSE norm END
         ])) AS variant
  FROM feat
),
probes AS (
  SELECT p_partkey AS probe_id, p_brand,
         CASE WHEN p_partkey % 2 = 0 THEN substr(fw, 1, 1) || ' ' || lw
              ELSE norm END AS pname
  FROM feat
),
m AS (
  SELECT probe_id, c.p_partkey AS matched_id,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY c.p_partkey) AS rn
  FROM probes p JOIN cand c ON p.p_brand = c.p_brand AND p.pname = c.variant
)
SELECT probe_id, matched_id, 'variation' AS tier FROM m WHERE rn = 1
"""


def _fuzzy_variation_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from d3d_etl_spark.functions.strings import normalize_name
    from d3d_etl_spark.operators.fuzzy_join import variation_tier

    part = load_table(spark, sf_dir, "part")
    norm = normalize_name(F.col("p_name"))
    first = F.substring_index(norm, " ", 1)
    last = F.substring_index(norm, " ", -1)
    probes = part.select(
        F.col("p_partkey").alias("probe_id"),
        "p_brand",
        F.when(
            F.col("p_partkey") % 2 == 0,
            F.concat(F.substring(first, 1, 1), F.lit(" "), last),
        ).otherwise(norm).alias("probe_name"),
    )
    return variation_tier(
        probes, part,
        block_keys=["p_brand"],
        probe_id="probe_id", probe_name="probe_name",
        cand_id="p_partkey", cand_name="p_name",
    )


# ---------------------------------------------------------------------------
# Both fuzzy-resolution queries publish as one union (the tier column
# distinguishes exact/fuzzy cascade output from the
# variation-equi-join tier; the variation arm has no numeric score).
# ---------------------------------------------------------------------------

_FUZZY_FAMILY_ORACLE = f"""
SELECT probe_id, matched_id, score, tier FROM ({_FUZZY_ORACLE})
UNION ALL
SELECT probe_id, matched_id, CAST(NULL AS DOUBLE), tier FROM ({_VAR_ORACLE})
"""


@register("fuzzy_match_family", _FUZZY_FAMILY_ORACLE, tags=("fuzzy", "join"), bench=True)
def fuzzy_match_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tier='exact'/'fuzzy': the blocked cascade (J10-J13 shape, blocked
    equi-join + JVM Levenshtein top-1); tier='variation': the T6
    variation-explode equi-join tier."""
    cascade = _fuzzy_match_names(spark, sf_dir)
    variation = _fuzzy_variation_match(spark, sf_dir).select(
        "probe_id", "matched_id", F.lit(None).cast("double").alias("score"), "tier"
    )
    return cascade.select("probe_id", "matched_id", "score", "tier").unionByName(variation)
