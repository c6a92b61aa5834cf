"""Stateful-sequence queries (SURVEY.md §2.8) + multimodal plumbing.

- sessionize_events: the window-expressible stateful shape (segment keys
  from boundary flags — reference columns.py:144-159) — full SQL oracle.
- fsm_funnel: a genuine per-group FSM via applyInPandas, oracled through
  the 3-state machine's closed relational form (view-segments; completion
  = click-before-purchase within the segment) as pure window SQL, on top
  of the pure-python reference pin in tests/test_operators.py.
- multimodal_extract: binary-column decode plumbing via mapInPandas with a
  deterministic fake decoder — byte math only, so it IS oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from d3d_etl_spark.io import load_table
from d3d_etl_spark.operators.fsm import FUNNEL_SCHEMA, funnel_fsm, run_grouped_fsm
from d3d_etl_spark.operators.multimodal import extract_media_features
from d3d_etl_spark.operators.sessionize import session_stats, sessionize
from d3d_etl_spark.queries.domain import (
    PARSED_PBP,
    _batting_war_ctes,
    _er_re24_ctes,
    _run_value_ctes,
    _sql_in,
)
from d3d_etl_spark.queries.registry import register

_GAP_US = 30 * 60 * 1_000_000

_SESSION_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
flags AS (
  SELECT *,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > {_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM e
),
sess AS (
  SELECT *,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS session_seq
  FROM flags
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(us)  AS start_us,
       MAX(us)  AS end_us,
       CAST(MAX(us) - MIN(us) AS DOUBLE) / 1000000.0 AS duration_sec
FROM sess
GROUP BY user_id, session_seq
"""


@register("sessionize_events", _SESSION_ORACLE, tags=("stateful", "window"), bench=True)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    with_sessions = sessionize(ev, "user_id", "ts", "event_id", gap_micros=_GAP_US)
    return session_stats(with_sessions, "user_id", "ts")


# The funnel FSM's run has a CLOSED RELATIONAL FORM, so the oracle is
# pure window SQL. Derivation: every view starts a segment; within a
# segment the state can only walk 1 -> 2 -> (complete, 0) and nothing
# after the completion matters until the next view, so
#   - a segment COMPLETES a funnel iff it contains a purchase with a
#     click before it inside the segment (existence == "the first such
#     purchase fired; later ones are no-ops");
#   - a view ABANDONS iff the segment it terminates did not complete, so
#     n_abandoned = non-last segments without a completion;
#   - final_state = 0 with no segments or a completed last segment, else
#     2 if the last segment has a click, else 1.
# (A DuckDB 1.0.0 list_reduce fold is no oracle: it returns different
# accumulators for the SAME per-user list under full-table vs
# WHERE-filtered evaluation — a vectorization bug.) Windows are user- or
# (user, segment)-grain; epoch_us not raw ts so sub-microsecond orderings
# tie exactly as they do after Spark's nanos -> micros load, event_id
# breaking ties identically in both engines.
_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 0 END AS x
  FROM events
),
s AS (
  SELECT *,
         SUM(CASE WHEN x = 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM e
),
c AS (
  SELECT *,
         COALESCE(SUM(CASE WHEN x = 2 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id, seg ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clicks_before
  FROM s
),
segstat AS (
  SELECT user_id, seg,
         MAX(CASE WHEN x = 3 AND clicks_before > 0 THEN 1 ELSE 0 END) AS completed,
         MAX(CASE WHEN x = 2 THEN 1 ELSE 0 END) AS has_click
  FROM c WHERE seg >= 1
  GROUP BY 1, 2
),
lastseg AS (
  SELECT *, MAX(seg) OVER (PARTITION BY user_id) AS last_seg FROM segstat
),
per_user AS (
  SELECT user_id,
         CAST(SUM(completed) AS BIGINT) AS n_funnels,
         CAST(SUM(CASE WHEN completed = 0 AND seg < last_seg THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
         CAST(MAX(CASE WHEN seg = last_seg THEN
                  CASE WHEN completed = 1 THEN 0
                       WHEN has_click = 1 THEN 2 ELSE 1 END END) AS BIGINT) AS final_state
  FROM lastseg
  GROUP BY 1
)
SELECT u.user_id,
       COALESCE(p.n_funnels, 0) AS n_funnels,
       COALESCE(p.n_abandoned, 0) AS n_abandoned,
       COALESCE(p.final_state, 0) AS final_state
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN per_user p ON u.user_id = p.user_id
"""


@register("z_fsm_funnel", _FUNNEL_ORACLE, tags=("stateful", "fsm"))
def z_fsm_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion-funnel FSM (view->click->purchase with resets).

    applyInPandas grouped map — the same execution shape that carries the
    reference's base-state tracker (columns.py:332-529). Oracled via the
    closed relational form of the 3-state machine (see _FUNNEL_ORACLE's
    derivation above) — the engine side deliberately stays an FSM so the
    applyInPandas execution shape remains covered.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    return run_grouped_fsm(ev, ["user_id"], ["ts", "event_id"], funnel_fsm, FUNNEL_SCHEMA)


_MM_ORACLE = """
SELECT
  doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS content_hash,
  CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
  CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height,
  CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS n_frames
FROM documents
"""


def _multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media-column plumbing: text bytes stand in for image payloads;
    mapInPandas runs the (stubbed) decoder over Arrow batches."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return extract_media_features(with_payload)


def _pbp_dag_oracle() -> str:
    """Full SQL mirror of the end-to-end board: the shared ER/RE24 CTEs,
    then the counting board with re24_total summed as 1e-9-scaled longs
    (never-sum-raw-doubles, functions/money.py). Reads the materialized FSM
    parquet, whose content is itself hash-verified against the rule-table
    recursive recomputation from raw narration (z_pbp_corpus_fsm)."""
    from d3d_etl_spark.pbp.events import PA_EVENTS, SO_EVENTS

    return f"""
WITH {_er_re24_ctes()},
b AS (
  SELECT division, year, batter_name,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(PA_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS pa,
         CAST(SUM(CASE WHEN event_type IN ('1B', '2B', '3B', 'HR') THEN 1 ELSE 0 END) AS BIGINT) AS h,
         CAST(SUM(CASE WHEN event_type = '1B' THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(SUM(CASE WHEN event_type = '2B' THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(SUM(CASE WHEN event_type = '3B' THEN 1 ELSE 0 END) AS BIGINT) AS b3,
         CAST(SUM(CASE WHEN event_type = 'HR' THEN 1 ELSE 0 END) AS BIGINT) AS hr,
         CAST(SUM(CASE WHEN event_type IN ('BB', 'IBB') THEN 1 ELSE 0 END) AS BIGINT) AS bb,
         CAST(SUM(CASE WHEN event_type = 'HBP' THEN 1 ELSE 0 END) AS BIGINT) AS hbp,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(SO_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS so,
         CAST(SUM(runs_on_play) AS BIGINT) AS runs_driven,
         CAST(SUM(CAST(ROUND(re24 * 1000000000) AS BIGINT)) AS DOUBLE) / 1e9 AS re24_total
  FROM p
  WHERE batter_name IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT *, CAST(h + bb + hbp AS DOUBLE) / pa AS ob_pct
FROM b
WHERE pa >= 1
"""


@register("z_pbp_dag", _pbp_dag_oracle(), tags=("stateful", "domain"), bench=True)
def z_pbp_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The domain pipeline end-to-end: generated narration (the testdata has
    no baseball tables) -> parse (classifier + windows + base-state FSM) ->
    RE24 -> batting board. Game count scales with the SF in `sf_dir`.
    The board's re24_total aggregates as 1e-9-scaled longs
    (pbp/leaderboards.batting_board), so the whole board is a fixed
    expression tree over exact integers and hashes end-to-end.
    The oracle recomputes the ER matrix + RE24 + board over the
    materialized FSM parquet; the parquet itself is hash-verified against
    the rule-table recursive recomputation from raw text (z_pbp_corpus_fsm),
    so no engine output stands unverified in the chain."""
    from d3d_etl_spark.pbp.pipeline import run_analytics
    from d3d_etl_spark.queries.domain import ensure_parsed, materialized_raw

    # the oracle reads the materialized FSM parquet: ensure it exists (a
    # marker-file stat after the first build at this scale). The measured
    # pipeline below still parses in-query, so the compare verifies parse
    # determinism end-to-end, not a parquet read-back.
    ensure_parsed(spark, sf_dir)
    out = run_analytics(materialized_raw(spark, sf_dir))
    return out.batting


_FRAMES_STRIDE = 3

_FRAMES_ORACLE = f"""
WITH d AS (
  SELECT doc_id, md5(text) AS chash,
         CAST(octet_length(encode(text)) AS BIGINT) AS n,
         CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS nf
  FROM documents
),
fr AS (
  SELECT doc_id, chash, n, nf, unnest(range(nf)) AS idx FROM d
)
SELECT doc_id,
       idx AS frame_idx,
       md5(chash || ':' || CAST(idx AS VARCHAR)) AS frame_hash,
       n // nf AS frame_bytes
FROM fr
WHERE idx % {_FRAMES_STRIDE} = 0
"""


def _multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (UDTF shape): every stride-th frame of each
    payload becomes a row — the video-pipeline stage ahead of per-frame
    featurization. Stubbed decode, real mapInPandas plumbing."""
    from d3d_etl_spark.operators.multimodal import sample_media_frames

    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return sample_media_frames(with_payload, _FRAMES_STRIDE)


_RESIZE_W, _RESIZE_H = 160, 120

_RESIZE_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n,
         CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS w,
         CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS h
  FROM documents
),
r AS (
  SELECT doc_id, n, w, h,
         CASE
           WHEN w <= {_RESIZE_W} AND h <= {_RESIZE_H} THEN w
           WHEN w * {_RESIZE_H} <= h * {_RESIZE_W} THEN GREATEST(1, (w * {_RESIZE_H}) // h)
           ELSE {_RESIZE_W}
         END AS nw,
         CASE
           WHEN w <= {_RESIZE_W} AND h <= {_RESIZE_H} THEN h
           WHEN w * {_RESIZE_H} <= h * {_RESIZE_W} THEN {_RESIZE_H}
           ELSE GREATEST(1, (h * {_RESIZE_W}) // w)
         END AS nh
  FROM d
)
SELECT doc_id, w AS width, h AS height,
       nw AS new_width, nh AS new_height,
       LEAST(n, nw * nh * 3) AS out_bytes
FROM r
"""


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plumbing: exact integer fit math inside the
    Arrow-batched worker (stubbed resample, real dimension contract)."""
    from d3d_etl_spark.operators.multimodal import resize_media

    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return resize_media(with_payload, _RESIZE_W, _RESIZE_H)


def _pbp_war_oracle() -> str:
    """Full SQL mirror of the end-to-end WAR pipeline: the run-value chain
    (domain._run_value_ctes) and batting_war (domain._batting_war_ctes)
    over this query's own cube, whose crc32 team ids are derived from
    first principles: DuckDB 1.0 ships no crc32, so a recursive CTE folds
    the 256-entry IEEE CRC-32 table (polynomial 0xEDB88320, the one
    java.util.zip.CRC32 / Spark's F.crc32 implements), then a second
    recursion folds each distinct batter name over its UTF-8 BYTES (the
    name hex-encoded once via hex(encode(..)), byte i = hex pair i), so
    the fold matches Spark's byte-level crc32 for ANY unicode input.
    Breadth = the dimension-bounded name pool, depth = byte length.

    The play source is the materialized FSM parquet (itself hash-verified
    against the rule-table recursive recomputation — z_pbp_corpus_fsm)."""
    from d3d_etl_spark.pbp.events import PA_EVENTS, SO_EVENTS
    from d3d_etl_spark.queries.boards import _RUNNER_ACTION_SQL, _RUNNER_ONLY_IN

    return f"""
WITH RECURSIVE {_run_value_ctes()},
counting AS (
  SELECT division, year, batter_name,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(PA_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS pa_n,
         CAST(SUM(CASE WHEN event_type IN ('1B', '2B', '3B', 'HR') THEN 1 ELSE 0 END) AS BIGINT) AS h,
         CAST(SUM(CASE WHEN event_type = '2B' THEN 1 ELSE 0 END) AS BIGINT) AS double_,
         CAST(SUM(CASE WHEN event_type = '3B' THEN 1 ELSE 0 END) AS BIGINT) AS triple_,
         CAST(SUM(CASE WHEN event_type = 'HR' THEN 1 ELSE 0 END) AS BIGINT) AS hr,
         CAST(SUM(CASE WHEN event_type IN ('BB', 'IBB') THEN 1 ELSE 0 END) AS BIGINT) AS bb,
         CAST(SUM(CASE WHEN event_type = 'IBB' THEN 1 ELSE 0 END) AS BIGINT) AS ibb,
         CAST(SUM(CASE WHEN event_type = 'HBP' THEN 1 ELSE 0 END) AS BIGINT) AS hbp,
         CAST(SUM(CASE WHEN event_type IN {_sql_in(SO_EVENTS)} THEN 1 ELSE 0 END) AS BIGINT) AS k,
         CAST(SUM(CASE WHEN event_type = 'SF' THEN 1 ELSE 0 END) AS BIGINT) AS sf,
         CAST(SUM(CASE WHEN event_type = 'SH' THEN 1 ELSE 0 END) AS BIGINT) AS sh
  FROM read_parquet('{PARSED_PBP.glob}')
  WHERE batter_name IS NOT NULL
  GROUP BY 1, 2, 3
),
segs AS (
  SELECT division, year, event_type,
         unnest(string_split(play_text, ';')) AS seg,
         unnest(range(len(string_split(play_text, ';')))) AS pos
  FROM read_parquet('{PARSED_PBP.glob}')
),
brclassed AS (
  SELECT division, year,
         regexp_extract(seg, '{_RUNNER_ACTION_SQL}', 1) AS runner_name,
         lower(regexp_extract(seg, '{_RUNNER_ACTION_SQL}', 2)) AS action
  FROM segs
  WHERE (pos > 0 OR event_type IN {_RUNNER_ONLY_IN})
),
bsr AS (
  SELECT division, year, runner_name AS batter_name,
         CAST(SUM(CASE WHEN action LIKE 'stole%' THEN 1 ELSE 0 END) AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN action = 'caught stealing' THEN 1 ELSE 0 END) AS BIGINT) AS cs
  FROM brclassed
  WHERE runner_name != '' AND action != ''
  GROUP BY 1, 2, 3
),
crcbuild(bn, i, c) AS (
  SELECT r.range::INT, 0, r.range::BIGINT FROM range(256) r
  UNION ALL
  SELECT bn, i + 1,
         CASE WHEN c % 2 = 1 THEN xor(c >> 1, 3988292384) ELSE c >> 1 END
  FROM crcbuild WHERE i < 8
),
crctab AS (SELECT bn, c FROM crcbuild WHERE i = 8),
crcsrc AS (
  SELECT batter_name, hex(encode(batter_name)) AS hx
  FROM (SELECT DISTINCT batter_name FROM counting)
),
crcfold(s, hx, pos, c) AS (
  SELECT batter_name, hx, 0, CAST(4294967295 AS BIGINT) FROM crcsrc
  UNION ALL
  SELECT f.s, f.hx, f.pos + 1, xor(f.c >> 8, t.c)
  FROM crcfold f
  JOIN crctab t
    ON t.bn = xor(f.c % 256, ('0x' || substr(f.hx, 2 * f.pos + 1, 2))::BIGINT)
  WHERE f.pos < length(f.hx) // 2
),
crc AS (
  SELECT s AS batter_name, xor(c, 4294967295) AS crc32
  FROM crcfold WHERE pos = length(hx) // 2
),
cube AS (
  SELECT c.batter_name AS player_id, c.batter_name AS player_name,
         't' || CAST(cr.crc32 % 4 AS VARCHAR) AS team_id,
         'conf-x' AS conference, c.division, c.year,
         c.pa_n - c.bb - c.hbp - c.sf - c.sh AS ab,
         c.h, c.double_, c.triple_, c.hr, c.bb, c.ibb, c.hbp, c.sf, c.sh,
         COALESCE(b.sb, 0) AS sb, COALESCE(b.cs, 0) AS cs
  FROM counting c
  JOIN crc cr ON cr.batter_name = c.batter_name
  LEFT JOIN bsr b ON b.division = c.division AND b.year = c.year
                 AND b.batter_name = c.batter_name
),
{_batting_war_ctes("cube")},
teams AS (
  SELECT team_id, division, year,
         CAST(SUM(CAST(ROUND(war_raw * 1000000000) AS BIGINT)) AS DOUBLE) / 1e9 AS team_war
  FROM batwar GROUP BY 1, 2, 3
)
SELECT w.player_id, w.player_name, w.team_id, w.conference, w.division, w.year,
       w.pa, w.woba, w.wraa, w.bsr, w.rar, w.war_raw, t.team_war
FROM batwar w
JOIN teams t ON w.team_id = t.team_id AND w.division = t.division
            AND w.year = t.year
"""


@register("z_pbp_war", _pbp_war_oracle(), tags=("stateful", "domain"))
def z_pbp_war(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAR end-to-end on generated narration: parse -> RE24 -> linear
    weights -> guts constants (run_analytics) -> per-batter season
    counting stats (the cube_batting shape, derived from the same plays)
    -> batting WAR -> team rollup join-back. Oracled: the crc32 team ids are
    recomputed from first principles in SQL (recursive table-build +
    byte-fold CTEs — see _pbp_war_oracle), and the linear-weight /
    woba_scale means aggregate as 1e-9-scaled longs on both engines
    (never-sum-raw-doubles), so the whole chain — weights, wOBA, wRAA,
    RAR, WAR, exact team rollup — hashes end-to-end at corpus scale. The
    FSM upstream is hashed independently (z_pbp_corpus_fsm), and
    z_pbp_fixture_war runs the same run-value chain from raw text."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.pbp.events import PA_EVENTS, SO_EVENTS
    from d3d_etl_spark.pbp.pipeline import run_analytics
    from d3d_etl_spark.pbp.war import batting_war, team_war
    from d3d_etl_spark.queries.domain import ensure_parsed, materialized_raw

    # the oracle reads the materialized FSM parquet (marker-stat after the
    # first build); the measured pipeline still parses in-query
    ensure_parsed(spark, sf_dir)
    out = run_analytics(materialized_raw(spark, sf_dir))
    plays = out.with_metrics

    ev = F.col("event_type")
    n = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    counting = (
        plays.where(F.col("batter_name").isNotNull())
        .groupBy("division", "year", "batter_name")
        .agg(
            n(ev.isin(*PA_EVENTS)).alias("pa_n"),
            n(ev.isin("1B", "2B", "3B", "HR")).alias("h"),
            n(ev == "2B").alias("double_"),
            n(ev == "3B").alias("triple_"),
            n(ev == "HR").alias("hr"),
            # bb INCLUDES ibb — saber.woba/pa's contract (uBB = bb - ibb),
            # the same convention war_chain._batting_cube uses; a
            # BB-only count would subtract IBB twice from the wOBA numerator
            n(ev.isin("BB", "IBB")).alias("bb"),
            n(ev == "IBB").alias("ibb"),
            n(ev == "HBP").alias("hbp"),
            n(ev.isin(*SO_EVENTS)).alias("k"),
            n(ev == "SF").alias("sf"),
            n(ev == "SH").alias("sh"),
        )
    )
    bsr = out.baserunning.select(
        "division", "year",
        F.col("runner_name").alias("batter_name"), "sb", "cs",
    )
    cube = (
        counting.join(bsr, ["division", "year", "batter_name"], "left")
        .select(
            F.col("batter_name").alias("player_id"),
            F.col("batter_name").alias("player_name"),
            # deterministic synthetic team/conference (narration has no team ids)
            F.concat(F.lit("t"), (F.crc32(F.col("batter_name")) % 4).cast("string")).alias("team_id"),
            F.lit("conf-x").alias("conference"),
            "division", "year",
            (F.col("pa_n") - F.col("bb") - F.col("hbp")
             - F.col("sf") - F.col("sh")).alias("ab"),
            "h", "double_", "triple_", "hr", "bb", "ibb", "hbp", "k", "sf", "sh",
            F.coalesce("sb", F.lit(0)).alias("sb"),
            F.coalesce("cs", F.lit(0)).alias("cs"),
        )
    )
    war = batting_war(cube, out.guts).withColumn("war", F.col("war_raw"))
    teams = team_war(war)
    return war.join(
        teams.select("team_id", "division", "year", F.col("war").alias("team_war")),
        ["team_id", "division", "year"],
    ).drop("war")


_INFER_CLASSES = 4

_INFER_ORACLE = f"""
WITH p AS (SELECT doc_id, md5(text) AS h FROM documents),
l AS (
  SELECT p.doc_id, k.range AS k,
         (('0x' || substr(md5(p.h || ':' || CAST(k.range AS VARCHAR)), 1, 8))::BIGINT
          % 1000) / 1000.0 AS logit
  FROM p, range({_INFER_CLASSES}) k
),
ranked AS (
  SELECT doc_id, k, logit,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY logit DESC, k) AS rn
  FROM l
)
SELECT doc_id, k AS pred_class, logit AS confidence
FROM ranked WHERE rn = 1
"""


def _multimodal_batch_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-micro-batch model inference over a binary column (the
    GPU-pipeline plumbing, operators/multimodal.batch_infer). The stub
    model's logits are md5-derived from the payload hash, so the whole
    path — batching, argmax+tiebreak, confidence — is oracle-checked."""
    from d3d_etl_spark.operators.multimodal import batch_infer

    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return batch_infer(with_payload, batch_size=32, n_classes=_INFER_CLASSES)


# ---------------------------------------------------------------------------
# funnel_window — the SQL-expressible funnel: a purchase converts when a
# click precedes it and a view precedes that click (no reset semantics —
# that variant is the FSM, fsm_funnel). Two stacked conditional windows
# over ONE (user, ts) sort: last-view-ts, then last-click-after-view-ts —
# the second level reuses the first's partitioning, so the whole query is
# a single shuffle. Oracle mirrors the same two-level window.
# ---------------------------------------------------------------------------

_FUNNEL_W_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_view
  FROM events
),
c AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(CASE WHEN event_type = 'click' AND last_view IS NOT NULL
                  THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_valid_click
  FROM o
)
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'purchase'
                        AND last_valid_click IS NOT NULL) AS n_conversions,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
FROM c
GROUP BY user_id
HAVING COUNT(*) FILTER (WHERE event_type = 'purchase') > 0
"""


@register("z_funnel_window", _FUNNEL_W_ORACLE, tags=("stateful", "window"))
def z_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = ev.withColumn(
        "last_view",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    c = o.withColumn(
        "last_valid_click",
        F.max(
            F.when(
                (F.col("event_type") == "click") & F.col("last_view").isNotNull(),
                F.col("ts"),
            )
        ).over(w),
    )
    is_purch = F.col("event_type") == "purchase"
    return (
        c.groupBy("user_id")
        .agg(
            F.sum(
                (is_purch & F.col("last_valid_click").isNotNull()).cast("long")
            ).alias("n_conversions"),
            F.sum(is_purch.cast("long")).alias("n_purchases"),
        )
        .where(F.col("n_purchases") > 0)
    )


# ---------------------------------------------------------------------------
# multimodal_family: the four multimodal plumbing queries are one tagged
# union (part='extract'/'frames'/'resize'/'infer') so the whole
# binary-column surface sits inside the driver's 50-query window. Each arm
# keeps its own mapInPandas operator (operators/multimodal.py: stubbed
# decode, real Arrow batch plumbing) and oracle; the batch-size-invariance
# test in tests/test_operators.py is unchanged.
# Normalized: (part, doc_id, idx, h, n1-n4, v).
# ---------------------------------------------------------------------------

_MM_FAMILY_ORACLE = f"""
SELECT 'extract' AS part, doc_id, CAST(NULL AS BIGINT) AS idx, content_hash AS h,
       n_bytes AS n1, width AS n2, height AS n3, n_frames AS n4,
       CAST(NULL AS DOUBLE) AS v
FROM ({_MM_ORACLE})
UNION ALL
SELECT 'frames', doc_id, frame_idx, frame_hash, frame_bytes, NULL, NULL, NULL, NULL
FROM ({_FRAMES_ORACLE})
UNION ALL
SELECT 'resize', doc_id, NULL, NULL, width, height, new_width, new_height,
       CAST(out_bytes AS DOUBLE)
FROM ({_RESIZE_ORACLE})
UNION ALL
SELECT 'infer', doc_id, NULL, NULL, pred_class, NULL, NULL, NULL, confidence
FROM ({_INFER_ORACLE})
"""


@register("multimodal_family", _MM_FAMILY_ORACLE, tags=("multimodal",))
def multimodal_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    b_null = F.lit(None).cast("long")
    d_null = F.lit(None).cast("double")
    s_null = F.lit(None).cast("string")

    extract = _multimodal_extract(spark, sf_dir).select(
        F.lit("extract").alias("part"), "doc_id", b_null.alias("idx"),
        F.col("content_hash").alias("h"),
        F.col("n_bytes").cast("long").alias("n1"),
        F.col("width").cast("long").alias("n2"),
        F.col("height").cast("long").alias("n3"),
        F.col("n_frames").cast("long").alias("n4"),
        d_null.alias("v"),
    )
    frames = _multimodal_frames(spark, sf_dir).select(
        F.lit("frames").alias("part"), "doc_id",
        F.col("frame_idx").cast("long").alias("idx"),
        F.col("frame_hash").alias("h"),
        F.col("frame_bytes").cast("long").alias("n1"),
        b_null.alias("n2"), b_null.alias("n3"), b_null.alias("n4"),
        d_null.alias("v"),
    )
    resize = _multimodal_resize(spark, sf_dir).select(
        F.lit("resize").alias("part"), "doc_id", b_null.alias("idx"), s_null.alias("h"),
        F.col("width").cast("long").alias("n1"),
        F.col("height").cast("long").alias("n2"),
        F.col("new_width").cast("long").alias("n3"),
        F.col("new_height").cast("long").alias("n4"),
        F.col("out_bytes").cast("double").alias("v"),
    )
    infer = _multimodal_batch_infer(spark, sf_dir).select(
        F.lit("infer").alias("part"), "doc_id", b_null.alias("idx"), s_null.alias("h"),
        F.col("pred_class").cast("long").alias("n1"),
        b_null.alias("n2"), b_null.alias("n3"), b_null.alias("n4"),
        F.col("confidence").alias("v"),
    )
    return extract.unionByName(frames).unionByName(resize).unionByName(infer)
