"""Plan-shape regression tests: the scale doctrine, pinned.

Correct results with a degraded plan is still a bug at 100 TB — these tests
fail if a headline query loses predicate pushdown, stops broadcasting its
dimensions, or grows extra shuffles.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from d3d_etl_spark.plans.inspect import count_shuffles, has_pushed_filter, summarize_plan
from d3d_etl_spark.queries.registry import REGISTRY
import d3d_etl_spark.queries as qmod

qmod.load_all()


def test_q1_pushdown_and_single_shuffle(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    s = summarize_plan(df)
    assert any("l_shipdate" in pf for pf in s.pushed_filters), "shipdate filter not pushed to scan"
    # partial agg + final agg -> exactly one shuffle exchange
    assert count_shuffles(df) == 1
    # column pruning: only the 7 needed lineitem columns are read
    assert s.scan_reads_only(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    )


def test_q5_scale_aware_join_strategy(spark, sf_dir):
    """Only fixed-cardinality dimensions broadcast: the scope=all stress
    audit measured the broadcast relations of the SF-SCALED sides
    (orders/customer/supplier) growing linearly with the corpus (the q3
    twin breached the 3x flatness bound at 10x). Only the
    fixed-cardinality dimensions (nation, region) broadcast; every scaled
    side takes a sort-free shuffled hash join."""
    import re as _re

    df = REGISTRY["q5_nation_revenue"].fn(spark, sf_dir)
    s = summarize_plan(df)
    n_shj = len(_re.findall(r"\n\(\d+\) ShuffledHashJoin\b", s.text))
    assert s.n_broadcast_joins == 2, "exactly nation+region broadcast"
    assert n_shj == 3, "orders/customer/supplier must shuffle-hash"
    assert s.n_sortmerge_joins == 0, "no sorts — the keys are hash-joinable"


def test_q3_region_filter_pushed(spark, sf_dir):
    df = REGISTRY["q3_top_orders"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "o_orderdate")
    assert has_pushed_filter(df, "l_shipdate")


def test_text_ops_no_shuffle(spark, sf_dir):
    """Per-document text analytics (tokens/quality/langid/fingerprint/regex,
    now one wide query) must stay a narrow map stage: the ONLY permissible
    exchange is io.fan_out's round-robin rebalance of a thin scan (which at
    test scale is a single split — measured 2x wall-clock win at sf0.1);
    any data-DEPENDENT shuffle (hash/range partitioning) is a regression."""
    df = REGISTRY["corpus_doc_stats"].fn(spark, sf_dir)
    s = summarize_plan(df)
    assert s.n_exchanges <= 1, "corpus_doc_stats gained a shuffle"
    assert "hashpartitioning" not in s.text.lower(), (
        "corpus_doc_stats gained a data-dependent shuffle"
    )


def test_events_window_family_single_shuffle(spark, sf_dir):
    """16 window-derived columns over one (user_id | ts,event_id) partition:
    the whole family must cost exactly ONE exchange."""
    df = REGISTRY["events_window_family"].fn(spark, sf_dir)
    assert count_shuffles(df) == 1, "events_window_family grew extra exchanges"


def test_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization = one exchange on the partition key; both windows and
    the rollup reuse it."""
    df = REGISTRY["sessionize_events"].fn(spark, sf_dir)
    assert count_shuffles(df) == 1


def test_complex_pipelines_no_sortmerge(spark, sf_dir):
    """Dimension/candidate joins in the sketch pipelines must broadcast —
    a SortMergeJoin here means a small side lost its broadcast and the
    fact table started shuffling for it."""
    # dedup_minhash_lsh budget is 5: +1 for the hot-bucket
    # guard's count probe over the (tiny) band table — the price of
    # bounding the worst self-join task on a boilerplate-heavy corpus.
    # fuzzy_match_family budget is 5: the variation tier's
    # exploded candidate side (corpus x ~6 variants) shuffle-hashes instead
    # of auto-broadcasting (measured 320 MB relation at the sf1 pair) — +2
    # exchanges for a task-memory ceiling.
    for name, max_shuffles in (("dedup_minhash_lsh", 5), ("fuzzy_match_family", 5)):
        df = REGISTRY[name].fn(spark, sf_dir)
        s = summarize_plan(df)
        assert s.n_sortmerge_joins == 0, f"{name} grew a sort-merge join"
        assert count_shuffles(df) <= max_shuffles, f"{name} gained shuffles"


def test_benched_queries_no_sortmerge(spark, sf_dir):
    """Every headline (benched) query must run free of SHUFFLING sort-merge
    joins at test scale: an SMJ fed by an Exchange means a dimension/
    candidate side lost its broadcast and the fact side started shuffling
    for it. An SMJ in a zero-exchange plan is the opposite case — the
    bucketed co-located merge join (z_bucketed_spine) — and is exactly what
    that query pins for itself."""
    for name, q in sorted(REGISTRY.items()):
        if not q.bench:
            continue
        s = summarize_plan(q.fn(spark, sf_dir))
        assert s.n_sortmerge_joins == 0 or s.n_exchanges == 0, (
            f"{name} grew a shuffling SortMergeJoin"
        )


def test_aqe_splits_skewed_join(spark):
    """Runtime skew evidence: with skew-join thresholds lowered, AQE marks
    the join `SortMergeJoin(skew=true)` and splits the hot partition into
    multiple tasks. This is the moderate-skew path the engine leans on by
    default; operators/joins.salted_join is the extreme-skew fallback."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        # 95% of fact rows share one key. Pitfalls this construction dodges:
        # payload must SURVIVE the join (column pruning would shrink the
        # shuffle below every threshold), must not COMPRESS away (AQE sees
        # compressed block sizes), and the downstream agg must be GLOBAL —
        # a groupBy(k) right after would make the skew split introduce an
        # extra shuffle, which AQE refuses without forceOptimizeSkewedJoin.
        fact = spark.range(200_000).selectExpr(
            "CASE WHEN id % 20 = 0 THEN CAST(id % 50 AS LONG) ELSE 0L END AS k",
            "md5(CAST(id AS STRING)) AS payload",
        )
        dim = spark.range(50).selectExpr("id AS k", "id * 10 AS dval")
        joined = fact.join(dim, "k").agg(
            F.sum(F.length("payload") + F.col("dval")).alias("s")
        )
        joined.collect()  # materialize so AQE finalizes the plan
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
        assert "skewed" in final  # the AQEShuffleRead actually split it
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_new_ops_plan_shapes(spark, sf_dir):
    """Plan pins for the training-pipeline ops (now family queries — the
    per-arm structural pins target the module-level arm helpers, which are
    exactly what the families union)."""
    from d3d_etl_spark.queries.sampling import _sample_hash, _split_train_test

    # hash split: scan-local predicate work + one final aggregation exchange
    df = _split_train_test(spark, sf_dir)
    assert count_shuffles(df) == 1, "split_train_test arm should only shuffle for the agg"
    s = summarize_plan(df)
    assert s.scan_reads_only("doc_id", "lang", "n_chars")

    # deterministic sample: predicate evaluated at the scan, one agg exchange
    df = _sample_hash(spark, sf_dir)
    assert count_shuffles(df) == 1

    # the full sampling family: three arms, still no SMJ, bounded exchanges
    df = REGISTRY["sample_splits"].fn(spark, sf_dir)
    s = summarize_plan(df)
    assert s.n_sortmerge_joins == 0
    assert count_shuffles(df) <= 4

    # chunk+pack family: chunking contributes no exchange (narrow explode);
    # the pack arm pays the two-level prefix-sum windows. Bound the total.
    df = REGISTRY["corpus_chunk_pack"].fn(spark, sf_dir)
    s = summarize_plan(df)
    assert s.n_sortmerge_joins == 0
    assert count_shuffles(df) <= 4, "corpus_chunk_pack gained exchanges"

    # search family (bruteforce/LSH/int8/IVF): everything dimensional
    # broadcasts; no sort-merge join anywhere
    df = REGISTRY["sim_topk_family"].fn(spark, sf_dir)
    s = summarize_plan(df)
    assert s.n_sortmerge_joins == 0, "similarity search must not SMJ"


def test_flagship_dedup_pair_stage_lsh_gated(spark, sf_dir):
    """The flagship compositions (corpus_pipeline, dedup_canonical) must take
    the sub-quadratic LSH-gated pair path: MinHash bands -> candidates ->
    exact verify on candidates only. The bare inverted-index self-join
    (cost Σ posting-list²) is a scale-killer and is allowed only as the
    standalone exactness baseline (dedup_jaccard_pairs)."""
    import inspect

    from d3d_etl_spark.functions.text import tokens, word_shingles
    from d3d_etl_spark.io import load_table
    from d3d_etl_spark.operators.dedup import shingle_rows
    from d3d_etl_spark.queries.dedup import _SHINGLE_N, lsh_gated_pairs
    import d3d_etl_spark.queries.dedup as dq
    import d3d_etl_spark.queries.pipeline_corpus as pc

    # plan shape: every shingle-equality join in the gated pair stage is
    # candidate-driven (also keyed on a doc column) — never the bare
    # shingle-only self-join
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", word_shingles(tokens(F.col("text")), _SHINGLE_N))
    plan = lsh_gated_pairs(sh)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line and "shingle#" in line:
            assert "doc_b#" in line, f"bare shingle-shingle self-join:\n{line}"

    # and the flagship query fns actually route through the gate (their
    # final plans hide the pair stage behind connected_components'
    # localCheckpoint barriers, so pin at the source level too)
    for fn in (pc.corpus_pipeline, dq.dedup_canonical, dq.dedup_clusters):
        src = inspect.getsource(fn)
        assert "lsh_gated_pairs" in src, f"{fn.__name__} lost the LSH gate"
        assert "jaccard_pairs(sh" not in src, f"{fn.__name__} calls the un-gated pair path"


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """Runtime row-filter evidence: for a shuffle join whose build side is
    selective, the optimizer injects a bloom_filter_agg on the dim side and
    a might_contain predicate on the FACT side's scan — at 100 TB this is
    the semi-join pushdown that keeps a selective fact-fact join from
    shuffling the full fact table. (Dims that fit memory broadcast instead;
    this is the path for the ones that don't.)"""
    from pyspark.sql import functions as F

    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    saved = {}
    for k in keys:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # local-mode sizes are far below the production thresholds: lower
        # them so the injection decision fires at test scale
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join

        fact = spark.range(2_000_000).selectExpr(
            "id % 100000 AS k", "md5(cast(id as string)) AS payload"
        )
        dim = spark.range(100_000).selectExpr("id AS k", "id * 2 AS v").where("k % 1000 = 7")
        j = fact.join(dim, "k").agg(F.count("*"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom filter built on the selective side"
        assert "might_contain" in plan, "fact side not pruned by the runtime filter"
    finally:
        for k, v in saved.items():
            if v is not None:
                conf.set(k, v)


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-located fact-fact join: two tables bucketed+sorted on the join key
    merge-join with ZERO exchanges (and zero sorts — the buckets are
    sort-ordered on disk). At 100 TB this is the pre-partitioning lever for
    recurring fact-fact joins (play table x pitcher table, embeddings x
    clusters): pay the bucketing shuffle once at write time, never again at
    read time."""
    import uuid

    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        a = spark.range(100_000).selectExpr("id AS k", "id*2 AS va")
        b = spark.range(100_000).selectExpr("id AS k", "id*3 AS vb")
        a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(f"{db}.fact_a")
        b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(f"{db}.fact_b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(f"{db}.fact_a").join(spark.table(f"{db}.fact_b"), "k")
        assert count_shuffles(j) == 0, "bucketed join must read co-located buckets"
        assert j.count() == 100_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_sim_canon_pair_stage_ann_gated(spark):
    """Embedding twin of test_flagship_dedup_pair_stage_lsh_gated: the
    canonical-dedup composition (sim_near_dedup's canon arm) must take the
    ANN-gated pair path — hyperplane band buckets -> within-bucket GEMM —
    never the all-pairs blocked GEMM, whose work is O(n^2/B) regardless of
    data. The exact operator stays available as the standalone exactness
    baseline (the 'pair' arm)."""
    import inspect

    from d3d_etl_spark.operators.similarity import ann_gated_near_pairs
    import d3d_etl_spark.queries.simsearch as ss

    # source-level pin: the canon helper routes through the gate
    src = inspect.getsource(ss._dedup_canonical)
    assert "ann_gated_near_pairs" in src, "canon arm lost the ANN gate"
    assert "blocked_near_pairs(" not in src, "canon arm calls the un-gated pair path"

    # plan-shape pin: both pair paths run the one grouped Arrow GEMM, so
    # what tells the gate apart is the grouping — the gated operator keys
    # its GEMM tasks by (band, bucket), the all-pairs path by block pair only
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )

    def gemm_keys(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [ln for ln in plan.splitlines() if "FlatMapGroupsInArrow" in ln]
        assert len(lines) == 1, "pair stage must be one grouped GEMM"
        return set(re.findall(r"(\w+)#\d+", lines[0].split("]")[0]))

    from d3d_etl_spark.operators.similarity import blocked_near_pairs

    assert {"band", "bucket"} <= gemm_keys(ann_gated_near_pairs(emb, 0.9, 8, 8, 4)), (
        "gated pair stage must group its GEMM by (band, bucket)"
    )
    assert not {"band", "bucket"} & gemm_keys(blocked_near_pairs(emb, 0.9)), (
        "the all-pairs path must not pass the gate check"
    )


def test_semdedup_plan_cluster_local(spark, sf_dir):
    """z_sim_semdedup's pair stage must stay cluster-local: the self-join is
    keyed on the cluster label (never a cartesian all-pairs), and the
    pair-bounded drop set broadcasts back over the corpus."""
    import inspect

    import d3d_etl_spark.queries.simsearch as ss

    df = REGISTRY["z_sim_semdedup"].fn(spark, sf_dir)
    s = summarize_plan(df)
    assert "CartesianProduct" not in s.text, "semdedup pair stage went all-pairs"
    assert s.n_broadcast_joins >= 1, "drop-set flag join must broadcast"
    # source-level: both SemDeDup-family queries route through the shared
    # stage helper, which routes through the within-cluster operator
    # the GEMM engine of the cluster-local pair operator is the default
    # path (HOF is the parity anchor — equivalence pinned in test_operators);
    # the call must be the gemm variant specifically, not a substring match
    assert "within_cluster_near_pairs_gemm(" in inspect.getsource(ss._semdedup_parts)
    for fn in (ss.z_sim_semdedup, ss.z_sim_d4):
        assert "_semdedup_parts" in inspect.getsource(fn)

    # D4 adds only survivor-bounded windows on top — still no cartesian
    d4 = REGISTRY["z_sim_d4"].fn(spark, sf_dir)
    assert "CartesianProduct" not in summarize_plan(d4).text


def test_round5_queries_no_shuffling_sortmerge(spark, sf_dir):
    """These z_-tier queries keep the repo's join discipline:
    dimension/codebook/state sides broadcast, unique-key corpus joins take
    sort-free shuffled hash — no shuffling SortMergeJoin anywhere."""
    for name in (
        "z_sim_pq",
        "z_sim_ivfpq",
        "z_corpus_countmin",
        "z_sample_stratified_exact",
        "z_corpus_selection_agreement",
        "z_sim_power_iter",
        "z_io_zorder",
        "z_graph_pagerank",
        "z_sim_pq_incremental",
        "z_sim_incremental",
        "z_sim_pq_rerank",
        "z_corpus_dsir_threshold",
        "z_sim_contrastive_ann",
        "z_io_zorder_read",
    ):
        s = summarize_plan(REGISTRY[name].fn(spark, sf_dir))
        assert s.n_sortmerge_joins == 0 or s.n_exchanges == 0, (
            f"{name} grew a shuffling SortMergeJoin"
        )


def test_dedup_pair_stage_no_corpus_broadcast(spark, sf_dir):
    """The dedup pair stage never broadcasts a corpus-grain side: Catalyst's
    size estimates behind a localCheckpoint + explode are structurally
    wrong, and at sf1 it auto-broadcast the CORPUS-grain shingle/band
    sides (416 MiB hash relation in one task, linear in the
    corpus). The pair stage must broadcast ONLY the duplicate-rate-bounded
    candidate set; the band self-join and the array verify's doc_b join are
    shuffled hash joins. Measured fixed: max task peak exec memory flat
    32->34 MB across sf0.1->sf1 (was 75->761 MB)."""
    import re as _re

    df = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir)
    s = summarize_plan(df)
    n_shj = len(_re.findall(r"\n\(\d+\) ShuffledHashJoin\b", s.text))
    assert s.n_broadcast_joins <= 1, (
        "pair stage broadcasts more than the candidate set — a corpus-grain "
        "side regained auto-broadcast (unbounded task memory at scale)"
    )
    assert n_shj >= 2, "band self-join / verify join lost the shuffled-hash strategy"

    # the exactness baseline (inverted-index self-join) must never broadcast
    # at all: every side is corpus-grain
    s2 = summarize_plan(REGISTRY["dedup_jaccard_pairs"].fn(spark, sf_dir))
    assert s2.n_broadcast_joins == 0, "inverted-index baseline broadcast a corpus side"


def test_no_single_partition_window(spark, sf_dir):
    """`keyed_window_family`'s rescale arm must compute its global scalars
    as a 1-row agg + broadcast crossJoin, never an empty-partition Window
    that drags the whole table onto one task. The
    detector is self-checked against a deliberately bad plan first."""
    from pyspark.sql import Window

    from d3d_etl_spark.plans.inspect import n_single_partition_windows

    bad = spark.range(100).withColumn("t", F.sum("id").over(Window.partitionBy()))
    assert n_single_partition_windows(bad) >= 1, "detector missed a global window"

    df = REGISTRY["keyed_window_family"].fn(spark, sf_dir)
    assert n_single_partition_windows(df) == 0, (
        "keyed_window_family regained a single-partition Window"
    )


def test_pbp_parse_one_exchange(spark, tmp_path):
    """The parse is one stage after one exchange: the executed plan of
    parse_pbp scans the narration once, shuffles once (hash on
    contest_id, the head exchange every per-game window reuses) and
    neither broadcasts nor joins — the FSM appends its columns in a
    pass-through Arrow map instead of being joined back."""
    import contextlib
    import io
    import re as _re

    from d3d_etl_spark.io import read_parquet
    from d3d_etl_spark.pbp.parser import parse_pbp
    from d3d_etl_spark.pbp.synth import RAW_SCHEMA, generate_games

    path = str(tmp_path / "narration")
    spark.createDataFrame(generate_games(12, seed=3), RAW_SCHEMA).write.parquet(path)
    df = parse_pbp(read_parquet(spark, path))
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    # the executed plan: AQE's final plan, without the initial plan below it
    text = buf.getvalue()
    assert "== Final Plan ==" in text, text
    final = text.split("== Initial Plan ==")[0]
    assert len(_re.findall(r"\bFileScan parquet\b", final)) == 1, final
    exchanges = _re.findall(r"\bExchange (\w+)\((\w+)#", final)
    assert exchanges == [("hashpartitioning", "contest_id")], final
    assert "BroadcastExchange" not in final
    assert not _re.search(r"\w*Join\b", final), final


def test_pbp_refresh_build_trips(spark, tmp_path, monkeypatch):
    """A warm single-slice refresh builds its plans in few py4j round
    trips: every fixed Column tree on the run_analytics path comes from a
    per_gateway builder (functions/trees.py), so only DataFrame calls and
    their argument lists reach the JVM. Counted: the second of two
    identical builds of run_analytics(raw) plus .batting and .situational,
    their two barrier jobs included, without `m` commands (py4j's
    garbage-collection deletes). A tree rebuilt per call costs about ten
    trips per node; rebuilding them all measured 3434 trips, the cached
    build 335."""
    from d3d_etl_spark.io import read_parquet
    from d3d_etl_spark.pbp.pipeline import run_analytics
    from d3d_etl_spark.pbp.synth import RAW_SCHEMA, generate_games

    path = str(tmp_path / "narration")
    spark.createDataFrame(generate_games(20, seed=5), RAW_SCHEMA).write.parquet(path)
    trips = _trip_counter(monkeypatch)
    for warm in (False, True):
        raw = read_parquet(spark, path)
        if warm:
            trips.append(0)
        out = run_analytics(raw)
        out.batting, out.situational
    assert trips[0] < 500, trips[0]


def test_q1_build_trips(spark, sf_dir, monkeypatch):
    """Building q1_pricing_summary's plan costs few py4j round trips once
    PySpark stops recording a Python call site around every Column method
    and `F.col` (session.get_spark sets
    spark.python.sql.dataFrameDebugging.enabled=false): that bookkeeping
    costs several JVM calls per wrapped call. Counted on the second of two
    builds, without `m` commands: 158 measured, 618 with the call sites."""
    trips = _trip_counter(monkeypatch)
    for warm in (False, True):
        if warm:
            trips.append(0)
        REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    assert trips[0] < 250, trips[0]


def _trip_counter(monkeypatch) -> list:
    """Count py4j round trips other than `m` (garbage-collection deletes)
    into trips[0] once the caller appends it; until then count nothing."""
    from py4j.clientserver import ClientServerConnection

    trips: list = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        if trips and not command.startswith("m\n"):
            trips[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return trips


def test_fixture_war_runs_production_chain(spark, monkeypatch):
    """The fixture-scale WAR query must run the engine chain the
    corpus-scale queries and run_analytics run (linear_weights ->
    guts_constants -> batting_war) — a twin with its own arithmetic would
    verify nothing about the production chain — and its oracle must be the
    one run-value SQL mirror over the fixture plays CTE."""
    import sys

    import d3d_etl_spark.queries.pbp_fixture as pf
    from d3d_etl_spark.pbp import guts, metrics, war
    from d3d_etl_spark.queries.domain import _batting_war_ctes, _run_value_ctes

    called = set()
    for owner, name in (
        (metrics, "linear_weights"), (guts, "guts_constants"), (war, "batting_war"),
    ):
        real = getattr(owner, name)

        def spy(*args, _real=real, _name=name, **kwargs):
            called.add(_name)
            return _real(*args, **kwargs)

        # patch every package module that bound the function by name
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("d3d_etl_spark") and (
                getattr(mod, name, None) is real
            ):
                monkeypatch.setattr(mod, name, spy)
    pf.z_pbp_fixture_war(spark, "")
    assert called == {"linear_weights", "guts_constants", "batting_war"}, called
    oracle = pf._war_fixture_oracle()
    assert _run_value_ctes("fxplays") in oracle
    assert _batting_war_ctes("bcube") in oracle


def test_one_run_value_chain():
    """Run values have one implementation (pbp/metrics -> pbp/guts ->
    pbp/war) and one SQL mirror: the names of the 1e-6-quantized twin are
    gone from the package, and exactly one function emits the woba_scale
    CTE text (domain._run_value_ctes)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "d3d_etl_spark"
    twin = ("erv_u", "re24_u", "lwao_u", "tot_u", "_lw_quant", "war_batting_from_parsed")
    leftovers, emitters = [], []
    for py in sorted(pkg.rglob("*.py")):
        text = py.read_text()
        leftovers += [f"{py.relative_to(pkg)}: {n}" for n in twin if n in text]
        funcs = [
            n for n in ast.walk(ast.parse(text))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for i, line in enumerate(text.splitlines(), 1):
            if "AS woba_scale" not in line:
                continue
            owner = min(
                (f for f in funcs if f.lineno <= i <= f.end_lineno),
                key=lambda f: f.end_lineno - f.lineno,
                default=None,
            )
            emitters.append(f"{py.relative_to(pkg)}:{getattr(owner, 'name', '<module>')}")
    assert not leftovers, leftovers
    assert emitters == ["queries/domain.py:_run_value_ctes"], emitters


def test_no_stream_api_in_package():
    """The engine is batch-only: each operator has one batch path, pinned by
    its oracle. No Structured Streaming source, sink or stateful-stream API
    appears in the package or the harness."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    files = [*(repo / "d3d_etl_spark").rglob("*.py"), repo / "bench.py", repo / "stress_sf1.py"]
    apis = ("readStream", "writeStream", "applyInPandasWithState", "transformWithState")
    hits = [
        f"{py.relative_to(repo)}: {api}"
        for py in sorted(files)
        for api in apis
        if api in py.read_text()
    ]
    assert not hits, hits


def test_committed_bench_no_task_mem_regressions():
    """bench.py diffs each run's per-query max-task peak execution memory
    against the committed run (git HEAD copy of BENCH.json) and records
    >2x growth in `task_mem_regressions`. The committed bench state must
    be clean — a non-empty list at HEAD means a plan regression shipped
    (task maxima are contention-immune, so this is never host noise)."""
    import json
    import pathlib

    p = pathlib.Path(__file__).resolve().parents[1] / "BENCH.json"
    if not p.exists():
        import pytest

        pytest.skip("no BENCH.json at HEAD (bench not yet run)")
    d = json.loads(p.read_text())
    assert d.get("task_mem_regressions", []) == [], (
        "committed bench carries task-memory regressions: "
        + "; ".join(d["task_mem_regressions"])
    )


def test_no_empty_partitionby_in_package():
    """Package-wide source pin: `Window.partitionBy()` with no columns is
    banned — the A6 1-row-agg + broadcast shape replaces it. Global
    `Window.orderBy` sites (bucket-/strata-grain, audited one by one) are
    out of this pin's scope."""
    import pathlib
    import re as _re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "d3d_etl_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if _re.search(r"\.partitionBy\(\s*\)", line):
                offenders.append(f"{py}:{i}: {line.strip()}")
    assert not offenders, "empty Window.partitionBy() found:\n" + "\n".join(offenders)


def test_localcheckpoint_only_in_barrier():
    """Source pin: `io.barrier` is the package's and the harness's only
    `.localCheckpoint()` call, so every barrier follows the one rule its
    docstring states, and every barrier job is named `localCheckpoint at
    ...` (perfbench/tracing.py counts them by that name)."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    files = [
        *sorted((repo / "d3d_etl_spark").rglob("*.py")),
        repo / "bench.py",
        repo / "stress_sf1.py",
    ]
    sites = []
    for py in files:
        tree = ast.parse(py.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)  # outermost def wins
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                sites.append(
                    (str(py.relative_to(repo)), owner.get(node), node.lineno)
                )
    assert [s[:2] for s in sites] == [("d3d_etl_spark/io.py", "barrier")], (
        "localCheckpoint outside io.barrier:\n"
        + "\n".join(f"{f}:{ln} ({fn})" for f, fn, ln in sites)
    )


def test_state_layout_only_in_io():
    """Source pin: io.StateFamily is the only code that knows the layout of
    persisted per-scale state: the `.done` marker, the flock, the atomic
    `os.replace`, and every path under the state root. Everything else
    reaches its state through a family's `ensure`, `path` and `glob`. The
    one exception is queries/domain.py re-exporting the root as
    `_CACHE_DIR` (perfbench reads it)."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parents[1]
    files = [
        *sorted((repo / "d3d_etl_spark").rglob("*.py")),
        repo / "bench.py",
        repo / "stress_sf1.py",
    ]
    reexport = ("d3d_etl_spark/queries/domain.py", "STATE_ROOT", "_CACHE_DIR")
    offenders = []
    for py in files:
        rel = str(py.relative_to(repo))
        if rel == "d3d_etl_spark/io.py":
            continue
        text = py.read_text()
        offenders += [
            f"{rel}: {tok!r}"
            for tok in (".done", "fcntl", "os.replace", ".domain_cache")
            if tok in text
        ]
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names if (rel, a.name, a.asname) != reexport]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [f".{node.attr}"]  # a family's .root
            else:
                continue
            offenders += [
                f"{rel}:{node.lineno}: {n}"
                for n in names
                if n in ("STATE_ROOT", "_CACHE_DIR", ".root")
            ]
    assert not offenders, "state layout outside io.StateFamily:\n" + "\n".join(
        offenders
    )


def test_no_unreferenced_top_level_names_in_package():
    """Package-wide source pin: every top-level name defined in
    d3d_etl_spark/ is referenced somewhere besides its own definition — in
    the package, the harness (bench.py, stress_sf1.py, __spark_entry__.py,
    perfbench/) or tests/. A whole-word match anywhere counts (strings and
    getattr uses included), and an @register'd query is reached through the
    registry. schemas.py and functions/saber.py are exempt: they mirror the
    reference's declared schemas and formula catalog as public surfaces."""
    import ast
    import collections
    import pathlib
    import re as _re

    repo = pathlib.Path(__file__).resolve().parents[1]
    pkg = repo / "d3d_etl_spark"
    corpus = [
        *pkg.rglob("*.py"),
        *(repo / n for n in ("bench.py", "stress_sf1.py", "__spark_entry__.py")),
        *(repo / "perfbench").rglob("*.py"),
        *(repo / "tests").rglob("*.py"),
    ]
    words = collections.Counter()
    for py in corpus:
        words.update(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", py.read_text()))

    def registered(node) -> bool:
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in getattr(node, "decorator_list", ())
        )

    exempt = {pkg / "schemas.py", pkg / "functions" / "saber.py"}
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        if py in exempt:
            continue
        for node in ast.parse(py.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [] if registered(node) else [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            offenders += [
                f"{py.relative_to(repo)}:{node.lineno}: {n}"
                for n in names
                if not n.startswith("__") and words[n] <= 1
            ]
    assert not offenders, "unreferenced top-level names:\n" + "\n".join(offenders)


def test_task_mem_comparator_scale_guard():
    """The task-maxima comparator only compares runs at the SAME
    (sf, cpus, heap) as the committed BENCH.json — a bench run at a
    different scale or core count must skip the diff (return []) with a
    stated reason instead of writing spurious regressions or masking real
    ones."""
    import json
    import pathlib
    import sys as _sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    p = repo / "BENCH.json"
    if not p.exists():
        import pytest

        pytest.skip("no BENCH.json at HEAD")
    _sys.path.insert(0, str(repo))
    from bench import _GUARD_KEYS, _task_mem_regressions, _task_mem_skip

    committed = json.loads(p.read_text())
    run = {k: committed.get(k) for k in _GUARD_KEYS}
    assert _task_mem_skip(run, committed) is None, (
        "the committed BENCH.json must carry sf, cpus and heap"
    )
    hit = next(
        (
            (n, s)
            for n, s in committed["samples"].items()
            if (s.get("max_task") or {}).get("peak_exec_mem_mb", 0) > 32
        ),
        None,
    )
    if hit is None:
        import pytest

        pytest.skip("no committed sample above the 32 MB comparator floor")
    name, sample = hit
    inflated = {
        name: {
            "max_task": {
                "peak_exec_mem_mb": sample["max_task"]["peak_exec_mem_mb"] * 100
            }
        }
    }
    # _TASK_MEM_ACK entries carry a CEILING — with no (in-ceiling) entry,
    # a 100x jump must flag as a FATAL regression, never as acknowledged
    regs, acked = _task_mem_regressions(inflated, run, committed)
    assert regs and not acked, (
        "a 100x un-acknowledged task-memory jump at the committed scale "
        "must flag fatally"
    )
    other_sf = {**run, "sf": run["sf"] * 10}
    assert _task_mem_regressions(inflated, other_sf, committed) == ([], []), (
        "a run at a different scale must skip the comparison"
    )
    other_cpus = {**run, "cpus": run["cpus"] * 2}
    assert _task_mem_regressions(inflated, other_cpus, committed) == ([], []), (
        "a run at a different core count must skip the comparison"
    )
    assert "cpus" in _task_mem_skip(other_cpus, committed)
    # ceiling mechanics: an adjudicated entry diverts the flag to
    # acknowledged ONLY while the measured peak stays under its ceiling —
    # past the ceiling the old adjudication cannot mask the new jump
    import bench as _bench

    cur_mb = inflated[name]["max_task"]["peak_exec_mem_mb"]
    old_ack = _bench._TASK_MEM_ACK
    try:
        _bench._TASK_MEM_ACK = {name: (cur_mb + 1.0, "test: within ceiling")}
        regs, acked = _task_mem_regressions(inflated, run, committed)
        assert acked and not regs, "an in-ceiling ack entry must divert the flag"
        _bench._TASK_MEM_ACK = {name: (cur_mb / 2.0, "test: ceiling exceeded")}
        regs, acked = _task_mem_regressions(inflated, run, committed)
        assert regs and not acked, (
            "a jump past its ack ceiling must flag fatally again"
        )
    finally:
        _bench._TASK_MEM_ACK = old_ack
