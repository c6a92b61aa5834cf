"""z_bucketed_spine — the bucketed co-located fact-fact join exercised in a
real pipeline query: a bench row and a plan assert inside the query path,
not just a synthetic pin.

The parsed-play spine (the table every domain query re-joins; reference
stores it as parsed_pbp CSV between stages, processors/run_all.py) is
persisted ONCE per scale as a parquet table bucketed+sorted by contest_id —
the reference's natural co-location key (every per-game fact joins on it:
pitcher assignments, lineups, win-prob states). The query then runs a
game-total aggregation AND a fact-fact join-back AND a (contest_id, half)
re-aggregation with ZERO shuffle exchanges: the bucket layout satisfies
every clustering requirement downstream, so at 100 TB the recurring daily
joins pay no shuffle at read time — the bucketing shuffle was paid once at
write. The query body asserts the zero-exchange property on its own plan
every time it runs (driver verify included), so a layout regression fails
correctness, not just a synthetic pytest pin.

Catalog note: bucketing metadata lives in the session catalog, not in the
parquet files, so a fresh session re-registers the existing files with a
CREATE TABLE ... CLUSTERED BY DDL (bucket ids are recovered from the
writer's _000NN file-name tags) — no rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import StateFamily
from d3d_etl_spark.plans.inspect import count_shuffles
from d3d_etl_spark.queries.domain import _games_for, materialized_parsed
from d3d_etl_spark.queries.registry import register

_N_BUCKETS = 8
_SPINE_COLS_DDL = (
    "contest_id BIGINT, play_id BIGINT, half STRING, "
    "division STRING, year INT, runs_on_play INT"
)
BUCKETED_SPINE = StateFamily("bucketed_spine", key=_games_for)


def bucketed_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parsed-play spine as a bucketed table (S19 memoized per scale).

    Build path: narrow projection of materialized_parsed, repartitioned to
    exactly one partition per bucket (repartition and bucketBy share the
    murmur3 pmod hash, so each write task holds one whole bucket -> one
    file per bucket -> the scan also reports the sortBy order, letting
    sort-merge joins skip their local sorts).
    """
    table = f"z_spine_bkt_{_games_for(sf_dir)}"

    def build(tmp: str) -> None:
        tmp_table = f"{table}_tmp"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        (
            materialized_parsed(spark, sf_dir)
            .select("contest_id", "play_id", "half", "division", "year", "runs_on_play")
            .repartition(_N_BUCKETS, "contest_id")
            .write.mode("overwrite")
            .bucketBy(_N_BUCKETS, "contest_id")
            .sortBy("contest_id", "play_id")
            .option("path", tmp)
            .format("parquet")
            .saveAsTable(tmp_table)
        )
        # external table: dropping the catalog entry keeps the files, which
        # StateFamily.ensure then moves into the final path
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")

    path = BUCKETED_SPINE.ensure(sf_dir, build)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({_SPINE_COLS_DDL}) "
        f"USING PARQUET CLUSTERED BY (contest_id) "
        f"SORTED BY (contest_id, play_id) INTO {_N_BUCKETS} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(table)


_SPINE_ORACLE = f"""
WITH g AS (
  SELECT contest_id,
         SUM(runs_on_play) AS game_runs,
         COUNT(*) AS game_plays
  FROM read_parquet('{BUCKETED_SPINE.glob}')
  GROUP BY 1
  HAVING SUM(runs_on_play) > 0
)
SELECT s.contest_id, s.half,
       COUNT(*) AS n_plays,
       CAST(SUM(s.runs_on_play) AS BIGINT) AS runs,
       MAX(g.game_plays) AS game_plays,
       CAST(SUM(s.runs_on_play) AS DOUBLE) / MAX(g.game_runs) AS run_share
FROM read_parquet('{BUCKETED_SPINE.glob}') s
JOIN g ON s.contest_id = g.contest_id
GROUP BY 1, 2
"""


@register("z_bucketed_spine", _SPINE_ORACLE, tags=("bucketed", "join"), bench=True)
def z_bucketed_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(game, half) run share of the game total — agg + fact-fact
    join-back + re-agg, all riding the bucket layout with zero shuffles.

    The merge hint keeps the join a sort-merge join (the fact-fact shape
    this lever exists for) instead of letting local-mode sizes pick a
    broadcast; either way the pinned property below holds.
    """
    spine = bucketed_spine(spark, sf_dir)
    game = (
        spine.groupBy("contest_id")
        .agg(
            F.sum("runs_on_play").alias("game_runs"),
            F.count("*").alias("game_plays"),
        )
        .where(F.col("game_runs") > 0)
    )
    out = (
        spine.select("contest_id", "half", "runs_on_play")
        .join(game.hint("merge"), "contest_id")
        .groupBy("contest_id", "half")
        .agg(
            F.count("*").alias("n_plays"),
            F.sum("runs_on_play").cast("long").alias("runs"),
            F.max("game_plays").alias("game_plays"),
            (F.sum("runs_on_play").cast("double") / F.max("game_runs")).alias("run_share"),
        )
    )
    # the property IS the query's contract: agg + join + re-agg must all be
    # satisfied by the bucket partitioning — a single Exchange here means
    # the layout lever broke, and that is a correctness failure of this
    # query. An explicit raise (not assert) so python -O can't compile the
    # contract away.
    n = count_shuffles(out)
    if n != 0:
        raise RuntimeError(
            f"z_bucketed_spine expected a zero-exchange plan, found {n} exchanges"
        )
    return out
