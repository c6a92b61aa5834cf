"""Operator-level tests: the grouped FSM against a pure-python reference,
sessionization edge cases, multimodal plumbing, dedup primitives."""

from __future__ import annotations

from pyspark.sql import functions as F

from d3d_etl_spark.io import load_table
from d3d_etl_spark.operators.fsm import (
    FUNNEL_SCHEMA,
    funnel_fsm,
    funnel_reference,
    run_grouped_fsm,
)
from d3d_etl_spark.operators.sessionize import session_stats, sessionize


def test_funnel_fsm_matches_python_reference(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    got = {
        r["user_id"]: (r["n_funnels"], r["n_abandoned"], r["final_state"])
        for r in run_grouped_fsm(
            ev, ["user_id"], ["ts", "event_id"], funnel_fsm, FUNNEL_SCHEMA
        ).collect()
    }
    ordered = (
        ev.orderBy("user_id", "ts", "event_id")
        .select("user_id", "event_type")
        .collect()
    )
    want = funnel_reference([(r["user_id"], r["event_type"]) for r in ordered])
    assert got == want
    assert len(got) > 0


def test_funnel_fsm_unit(spark):
    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),   # completed
        (1, 4, "view"), (1, 5, "view"),                         # abandoned + restart
        (1, 6, "click"), (1, 7, "error"), (1, 8, "purchase"),   # completed (error ignored)
        (2, 1, "purchase"), (2, 2, "click"),                    # nothing
    ]
    df = spark.createDataFrame(
        [(u, float(t), t, et) for u, t, et in [(r[0], r[1], r[2]) for r in rows]],
        "user_id long, ts double, event_id long, event_type string",
    )
    got = {
        r["user_id"]: (r["n_funnels"], r["n_abandoned"], r["final_state"])
        for r in run_grouped_fsm(df, ["user_id"], ["ts", "event_id"], funnel_fsm, FUNNEL_SCHEMA).collect()
    }
    assert got[1] == (2, 1, 0)
    assert got[2] == (0, 0, 0)


def test_sessionize_boundaries(spark):
    base = 1_700_000_000_000_000  # µs
    gap = 30 * 60 * 1_000_000
    rows = [
        (1, base, 10),
        (1, base + gap, 11),          # exactly the gap: same session (strict >)
        (1, base + 2 * gap + 1, 12),  # over the gap: new session
        (2, base, 20),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, event_id long").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts"), "event_id"
    )
    out = sessionize(df, "user_id", "ts", "event_id", gap_micros=gap)
    seqs = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert seqs == {10: 1, 11: 1, 12: 2, 20: 1}
    stats = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in session_stats(out, "user_id", "ts").collect()
    }
    assert stats == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_multimodal_plumbing(spark):
    from d3d_etl_spark.operators.multimodal import extract_media_features

    df = spark.createDataFrame([(1, b"hello"), (2, b"")], "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in extract_media_features(df).collect()}
    assert rows[1]["n_bytes"] == 5
    assert rows[1]["content_hash"] == "5d41402abc4b2a76b9719d911017c592"  # md5('hello')
    assert rows[1]["width"] == 6 and rows[1]["height"] == 6 and rows[1]["n_frames"] == 6
    assert rows[2]["n_bytes"] == 0 and rows[2]["width"] == 1


def test_exact_dedup_groups(spark):
    from d3d_etl_spark.operators.dedup import exact_dedup_groups

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "x")], "id long, c1 string, c2 string"
    )
    out = {r["canonical_id"]: r["n_copies"] for r in
           exact_dedup_groups(df, [F.col("c1"), F.col("c2")], "id").collect()}
    assert out == {1: 2, 3: 1}


def test_variation_tier(spark):
    from d3d_etl_spark.operators.fuzzy_join import variation_tier

    cands = spark.createDataFrame(
        [("b1", 1, "John Smith"), ("b1", 2, "Ann Taylor"), ("b2", 3, "John Smith")],
        "block string, cid long, name string",
    )
    probes = spark.createDataFrame(
        [("b1", 10, "J. Smith"), ("b1", 11, "taylor, ann"), ("b1", 12, "Nobody"),
         ("b2", 13, "smith")],
        "block string, pid long, pname string",
    )
    got = {
        r["pid"]: r["matched_id"]
        for r in variation_tier(
            probes, cands, ["block"], "pid", "pname", "cid", "name"
        ).collect()
    }
    # "J. Smith" -> "j smith" normalized matches the initialed variant
    assert got[10] == 1
    # "taylor, ann" -> "taylor ann" matches the flipped variant of Ann Taylor
    assert got[11] == 2
    assert 12 not in got              # no variant of anything matches "nobody"
    assert got[13] == 3               # bare last name matches within block b2


def test_variation_tier_wide_forms(spark):
    """Reference helpers.py:56-111 variant families: double initials,
    concatenated initials, first+last-initial, 3-char prefixes, jersey
    numbers."""
    from d3d_etl_spark.operators.fuzzy_join import name_variations
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Jonathan Smithson", "12")], "name string, number string"
    )
    variants = set(
        df.select(
            F.explode(name_variations(F.col("name"), F.col("number"))).alias("v")
        ).toPandas()["v"]
    )
    assert {
        "jonathan smithson", "smithson jonathan", "j smithson",
        "jonathan s", "j s", "js", "smithson", "jon smi",
        "12 smithson", "12",
    } <= variants


def test_normalized_string_join(spark):
    """J14 (reference sos_utils.py:5-35): join on a normalization EXPRESSION
    — 'St. Mary's  &  Co' meets 'st marys and co' without materializing a
    cleaned column first."""
    from d3d_etl_spark.functions.strings import normalize_name

    rankings = spark.createDataFrame(
        [("St. Mary's & Co", -2.0), ("BIG STATE  UNIV", 3.5)],
        "massey_team_name string, sos_val double",
    )
    teams = spark.createDataFrame(
        [("t1", "st marys and co"), ("t2", "big state univ"), ("t3", "unknown u")],
        "team_id string, team_name string",
    )
    amp_fixed = F.regexp_replace(F.col("massey_team_name"), "&", "and")
    joined = teams.join(
        rankings,
        normalize_name(F.col("team_name")) == normalize_name(amp_fixed),
        "left",
    )
    got = {r["team_id"]: r["sos_val"] for r in joined.collect()}
    assert got == {"t1": -2.0, "t2": 3.5, "t3": None}


def test_blocked_near_pairs_block_invariance(spark, sf_dir):
    """The blocked-GEMM all-pairs operator must give identical pairs and
    (rounded) sims for any block count — including counts that don't divide
    the corpus evenly and B=1 (single dense block, the brute-force shape)."""
    from d3d_etl_spark.operators.similarity import blocked_near_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    ref = sorted(
        blocked_near_pairs(emb, 0.35, n_blocks=8).collect(),
        key=lambda r: (r.vec_a, r.vec_b),
    )
    assert len(ref) > 0
    assert all(r.vec_a < r.vec_b for r in ref)
    for nb in (1, 3):
        got = sorted(
            blocked_near_pairs(emb, 0.35, n_blocks=nb).collect(),
            key=lambda r: (r.vec_a, r.vec_b),
        )
        assert got == ref


def test_salted_join_matches_plain(spark, sf_dir):
    """salted_join must be row-identical to the plain join under skew
    (orders is heavily concentrated on a few custkeys at small SF)."""
    from d3d_etl_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_mktsegment"
    )
    salted = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"), cust, ["c_custkey"], salt=4
    ).select("o_orderkey", "c_mktsegment")
    assert sorted(salted.collect()) == sorted(plain.collect())
    # left join keeps unmatched large-side rows exactly once
    lonely = orders.withColumnRenamed("o_custkey", "c_custkey").withColumn(
        "c_custkey", F.col("c_custkey") + 10_000_000
    )
    left = salted_join(lonely, cust, ["c_custkey"], how="left", salt=4)
    assert left.count() == orders.count()
    assert left.where(F.col("c_mktsegment").isNotNull()).count() == 0


def test_asof_join_edges(spark):
    """No prior right row -> nulls; right at equal ts matches (<=); equal-ts
    right rows resolve to the max tie value."""
    from d3d_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 5, "b"), (2, 7, "c")], "k long, t long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 5, 101), (1, 8, 102), (3, 1, 103)],
        "k long, rt long, rid long",
    )
    got = {
        r["tag"]: (r["rid"], r["rt"])
        for r in asof_join(
            left, right, key="k", left_ts="t", right_ts="rt",
            right_cols=["rid", "rt"], tie_col="rid",
        ).collect()
    }
    assert got["a"] == (102, 8)        # latest at-or-before t=10
    assert got["b"] == (101, 5)        # equal ts included; tie -> max rid
    assert got["c"] == (None, None)    # key 2 has no right rows


def test_connected_components(spark):
    from d3d_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3, pair 10-11, chain 20-21-22-23 (via separate links)
        [(1, 2), (2, 3), (10, 11), (21, 20), (22, 21), (23, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_ivf_search_full_probe_is_bruteforce(spark, sf_dir):
    """IVF search with nprobe = (all lists) must equal the exact quantized
    brute-force top-k — the pruning is the ONLY approximation."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.io import load_table
    from d3d_etl_spark.operators.similarity import ivf_search_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists = emb.select("label").distinct().count()
    full = ivf_search_quantized(emb, 0, "label", n_lists, 10).collect()

    q8 = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: F.round(x.cast("double") * 127).cast("long")).alias("q"),
    )
    qv = q8.where("vec_id = 0").select(F.col("q").alias("qv"))
    qdot = F.aggregate(
        F.zip_with(F.col("q"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    bf = (
        q8.where("vec_id != 0").crossJoin(qv)
        .select("vec_id", qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_id")).limit(10).collect()
    )
    assert [(r["vec_id"], r["qdot"]) for r in full] == [(r["vec_id"], r["qdot"]) for r in bf]


def test_ivf_probe_returns_nprobe_lists(spark, sf_dir):
    from pyspark.sql import functions as F

    from d3d_etl_spark.io import load_table
    from d3d_etl_spark.operators.similarity import ivf_probe_labels, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb, "label")
    query = emb.where("vec_id = 0").select(F.col("embedding").alias("q_vec"))
    labels = [r["label"] for r in ivf_probe_labels(cents, query, "label", 3).collect()]
    assert len(labels) == len(set(labels)) == 3


def test_batch_infer_invariant_to_batch_size(spark, sf_dir):
    """Micro-batch size is an execution knob, never a semantics knob: the
    same predictions must come out at any batch_size and partitioning."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.io import load_table
    from d3d_etl_spark.operators.multimodal import batch_infer

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    a = {r["doc_id"]: (r["pred_class"], r["confidence"]) for r in batch_infer(docs, 32).collect()}
    b = {
        r["doc_id"]: (r["pred_class"], r["confidence"])
        for r in batch_infer(docs.repartition(7), 5).collect()
    }
    assert a == b and len(a) == docs.count()


def test_connected_components_distributed_parity(spark):
    """The distributed (alternating-star) branch must produce the identical
    (node, component) map as the driver union-find branch."""
    from d3d_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20), (22, 21), (23, 22), (3, 40), (40, 41)],
        "doc_a long, doc_b long",
    )
    want = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()  # driver path
    }
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got == want


def test_band_keys_array_equals_grouped(spark):
    """band_keys_from_shingle_array (map-only) must produce EXACTLY the
    (doc, band_idx, band_key) rows of the grouped lsh_band_keys pass for
    the same shingle sets — including empty-set docs (no rows) and
    single-shingle docs."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.operators.dedup import (
        band_keys_from_shingle_array,
        lsh_band_keys,
    )

    docs = spark.createDataFrame(
        [
            (1, ["a b c", "b c d", "c d e"]),
            (2, ["b c d", "a b c"]),      # permuted subset of 1
            (3, []),                       # shingle-less: must emit nothing
            (4, ["zzz yyy xxx"]),          # single shingle
            (5, ["a b c", "b c d", "c d e"]),  # exact dup of 1: same keys
        ],
        "doc_id long, sh array<string>",
    )
    arr = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(band_keys_from_shingle_array(F.col("sh"), 16, 4)).alias("b"),
        )
        .select("doc", "b.band_idx", "b.band_key")
    )
    grouped = lsh_band_keys(
        shingle_df=docs.select(
            F.col("doc_id").alias("doc"), F.explode("sh").alias("shingle")
        ),
        n_hashes=16,
        rows_per_band=4,
    )
    a = {(r["doc"], r["band_idx"]): r["band_key"] for r in arr.collect()}
    g = {(r["doc"], r["band_idx"]): r["band_key"] for r in grouped.collect()}
    assert a == g
    assert not any(k[0] == 3 for k in a), "empty doc leaked band rows"
    for i in range(4):
        assert a[(1, i)] == a[(5, i)], "identical shingle sets must share keys"


def _py_bpe(word_counts, n_merges):
    """Pure-python BPE reference (classic Sennrich algorithm): pair counts
    over (word -> freq), greedy merge with count-desc / pair-asc tiebreak,
    left-to-right merge application."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pc = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (p1, p2), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((p1, p2, cnt))
        new_vocab = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == p1 and sym[i + 1] == p2:
                    out.append(p1 + p2)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def test_bpe_trainer_matches_python_reference(spark):
    """10 merge rounds on a word-count table with overlap traps ("aaaa"),
    ties, and multi-merge words — the Spark fold must learn the identical
    ordered merge list."""
    from d3d_etl_spark.operators.bpe import apply_merge, train_bpe
    from pyspark.sql import functions as F

    wcounts = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3,
        "aaaa": 4, "banana": 2, "aa": 7,
    }
    words = spark.createDataFrame(list(wcounts.items()), "w string, c long")
    got = train_bpe(words, 10)
    want = _py_bpe(wcounts, 10)
    assert got == want

    # the overlap trap directly: "aaaa" under (a, a) -> [aa, aa]; "aaa" -> [aa, a]
    df = spark.createDataFrame([(["a"] * 4,), (["a"] * 3,)], "symbols array<string>")
    rows = df.select(apply_merge(F.col("symbols"), "a", "a").alias("m")).collect()
    assert rows[0]["m"] == ["aa", "aa"]
    assert rows[1]["m"] == ["aa", "a"]


def test_within_cluster_near_pairs_semantics(spark):
    """SemDeDup pair stage: cluster-locality, threshold, canonical
    orientation, and an exactly-known cosine. Vectors: a==b (cos 1.0) in
    cluster 0; c orthogonal to both, same cluster; d identical to a but in
    cluster 1 -> must NOT pair across clusters."""
    from d3d_etl_spark.operators.similarity import within_cluster_near_pairs

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.0, 0.0]),
        (3, 0, [0.0, 1.0, 0.0]),
        (4, 1, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, cluster long, embedding array<float>")
    got = {
        (r.id_a, r.id_b): r.pair_sim
        for r in within_cluster_near_pairs(df, 0.5).collect()
    }
    assert got == {(1, 2): 1.0}, got
    # lower threshold admits nothing new (orthogonals are 0.0), negative
    # threshold admits the orthogonal pairs too
    got_all = {
        (r.id_a, r.id_b): r.pair_sim
        for r in within_cluster_near_pairs(df, -1.0).collect()
    }
    assert set(got_all) == {(1, 2), (1, 3), (2, 3)}
    assert got_all[(1, 3)] == 0.0 and got_all[(2, 3)] == 0.0


def test_resplit_oversized_clusters(spark):
    """Runaway-cluster guard: a single oversized cluster of separable
    vectors is split below the bound; rows are preserved; planted identical
    vectors always share a final sub-cluster (content-based assignment), so
    pair recall survives the split."""
    import random

    from d3d_etl_spark.operators.similarity import (
        resplit_oversized_clusters,
        within_cluster_near_pairs,
    )

    rng = random.Random(3)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(500)]
    rows = [(i, 0, v) for i, v in enumerate(base)]
    rows += [(1000 + i, 0, base[i]) for i in range(10)]  # planted exact dups
    df = spark.createDataFrame(
        rows, "vec_id long, cluster long, embedding array<float>"
    )
    out = resplit_oversized_clusters(df, max_size=150, sub_k=4, max_levels=4)
    assert out.count() == len(rows)
    assert {r.vec_id for r in out.select("vec_id").collect()} == {
        r[0] for r in rows
    }
    sizes = [r.c for r in out.groupBy("cluster").agg(F.count("*").alias("c")).collect()]
    assert max(sizes) <= 150, sizes
    lbl = {r.vec_id: r.cluster for r in out.collect()}
    for i in range(10):
        assert lbl[i] == lbl[1000 + i], i
    got = {
        (r.id_a, r.id_b)
        for r in within_cluster_near_pairs(out, 0.999999).collect()
    }
    assert {(i, 1000 + i) for i in range(10)} <= got


def test_within_cluster_pairs_salt_invariant(spark, sf_dir):
    """The salted pair join is a physical-distribution knob only: pair sets
    and sims are identical for salt=1 and salt=5 on real data."""
    from d3d_etl_spark.operators.similarity import within_cluster_near_pairs
    from d3d_etl_spark.queries.simsearch import _SEMDEDUP_TAU, _semdedup_parts

    clustered, _ = _semdedup_parts(spark, sf_dir)
    base = {
        (r.id_a, r.id_b): r.pair_sim
        for r in within_cluster_near_pairs(clustered, _SEMDEDUP_TAU, salt=1).collect()
    }
    salted = {
        (r.id_a, r.id_b): (r.pair_sim)
        for r in within_cluster_near_pairs(clustered, _SEMDEDUP_TAU, salt=5).collect()
    }
    assert base == salted
    assert base, "no pairs found at tau"


def test_within_cluster_pairs_gemm_equals_hof(spark, sf_dir):
    """The GEMM engine must produce exactly the HOF engine's pairs: same
    (id_a, id_b) set, same rounded sims, same carried csims (including the
    swap-with-id orientation)."""
    from d3d_etl_spark.operators.similarity import (
        within_cluster_near_pairs,
        within_cluster_near_pairs_gemm,
    )
    from d3d_etl_spark.queries.simsearch import _SEMDEDUP_TAU, _semdedup_parts

    clustered, _ = _semdedup_parts(spark, sf_dir)
    hof = {
        (r.id_a, r.id_b): (r.pair_sim, r.csim_a, r.csim_b)
        for r in within_cluster_near_pairs(
            clustered, _SEMDEDUP_TAU, carry=("csim",)
        ).collect()
    }
    gemm = {
        (r.id_a, r.id_b): (r.pair_sim, r.csim_a, r.csim_b)
        for r in within_cluster_near_pairs_gemm(
            clustered, _SEMDEDUP_TAU, carry=("csim",)
        ).collect()
    }
    assert hof == gemm
    assert hof, "no pairs at tau"


def test_within_cluster_pairs_gemm_keeps_null_carry(spark):
    """A NULL carry stays NULL through the GEMM kernel, as in the HOF
    engine, and a NaN carry stays NaN. csim is NULL for a vector whose
    centroid has zero norm (assign_nearest_centroid's try_divide)."""
    import math

    from d3d_etl_spark.operators.similarity import (
        within_cluster_near_pairs,
        within_cluster_near_pairs_gemm,
    )

    clustered = spark.createDataFrame(
        [
            (7, 0, [1.0, 0.0, 0.0], None),
            (3, 0, [1.0, 0.01, 0.0], float("nan")),
        ],
        "vec_id long, cluster int, embedding array<double>, csim double",
    )
    for engine in (within_cluster_near_pairs, within_cluster_near_pairs_gemm):
        (r,) = engine(clustered, 0.9, carry=("csim",)).collect()
        assert (r.id_a, r.id_b) == (3, 7), engine.__name__
        assert math.isnan(r.csim_a), engine.__name__
        assert r.csim_b is None, engine.__name__
