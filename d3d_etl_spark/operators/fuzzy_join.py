"""Blocked fuzzy join — the engine's entity-resolution operator.

Re-expresses the reference's fuzzy name-matching cascades (SURVEY.md §2.3
J10-J13: map_ncaa_to_cube.py:125-175, names/names.py:131-179,
reconcile_players.py:413-469) as one generic, scale-safe operator:

    1. BLOCK: equi-join probes to candidates on a block key (team+year in
       the reference; never a cross join — the block bounds the quadratic).
    2. TIERS: a cascade of match rules; each tier only sees probes unmatched
       by earlier tiers (reference: jersey -> exact name -> unique last name
       -> fuzzy score).
    3. TOP-1: within a tier, best candidate by (score desc, candidate id asc)
       — the deterministic version of rapidfuzz extractOne's list-order tie
       break (SURVEY.md §7.3).

Similarity here is normalized Levenshtein (JVM built-in, codegen-friendly,
and mirrored exactly by the SQL oracle), over token-sorted names where the
reference uses rapidfuzz token_sort_ratio. Blocking and top-1 selection
are where the scale behavior lives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from d3d_etl_spark.io import barrier

# candidate-side sub-block cap for the non-broadcast fallback: the largest
# candidate set one scoring task may hold (same role as LSH_MAX_BUCKET in
# operators/dedup.py — bounds the worst O(|block|^2) task losslessly)
FUZZY_MAX_BLOCK = 4096
# block-grain rows the sub-block map may hold driver-side (it is collected
# once so the main job doesn't re-aggregate candidates in each join branch);
# past this, keep the distributed map — correctness is identical either way
_NSUB_DRIVER_CAP = 100_000


def levenshtein_sim(a: Column, b: Column) -> Column:
    """1 - lev/max(len): 1.0 identical, 0.0 disjoint. Exact-integer inputs
    to one double division -> deterministic across engines."""
    return 1.0 - F.levenshtein(a, b).cast("double") / F.greatest(F.length(a), F.length(b))


def fits_broadcast(df: DataFrame, cap_bytes: int = 16 << 20) -> bool:
    """Whether a file-backed DataFrame is safely broadcast-sized.

    Sums the on-disk size of the scan's input files (driver-side metadata
    only — no job). Parquet on-disk is compressed and the hash relation
    carries per-row overhead: MEASURED expansion on the part table at the
    sf1 stress tier is ~30x (1.9 MB disk -> ~60 MB relation), so the
    16 MiB default cap bounds the worst-case relation near 512 MB under a
    typical executor budget. Falls back to False (the safe, shuffle/AQE
    path) when the plan has no file scan to measure.
    """
    import os

    files = df.inputFiles()
    if not files:
        return False
    total = 0
    for f in files:
        path = f[len("file:") :] if f.startswith("file:") else f
        while path.startswith("//"):
            path = path[1:]
        try:
            total += os.path.getsize(path)
        except OSError:
            return False
    return total <= cap_bytes


def subblocked_pairs(
    probes: DataFrame,
    candidates: DataFrame,
    block_keys: list[str],
    cand_id: str,
) -> DataFrame:
    """LOSSLESS hot-block bound for scaled-sides fuzzy scoring — the
    lsh_candidates sub-block pattern applied to the block join: candidates
    in a block larger than FUZZY_MAX_BLOCK split into ceil(n/FUZZY_MAX_BLOCK)
    id-hash sub-blocks, probes replicate to every sub-block, the join adds
    the sub-block id to its key. Each (probe, candidate) pair still meets
    exactly once (the candidate's sub-block), so the pair set — and any
    top-1 window after it — is provably unchanged (pinned split==unsplit in
    tests/test_skew.py); the worst scoring task shrinks from |P_b|*|C_b| to
    |P_b|*FUZZY_MAX_BLOCK. Probe-side skew needs no replication, so AQE's
    skew-split handles it independently. Clean corpora (every block under
    the cap) get _nsub=1: the single-key join plan is unchanged.

    Block sizes via groupBy+join, not a count window: map-side partial
    aggregation, and no WindowExec buffering a whole mega-block in one task
    on the candidate branch.

    The explicit repartition(N, block+salt) on BOTH sides is LOAD-BEARING:
    the fan sides' shuffled bytes are small name strings while the blow-up
    is the join's OUTPUT, so AQE would coalesce a planner-made exchange and
    re-concentrate several sub-blocks into one task — a user-specified
    repartition is exempt, and sharing (N, keys) means the join adds no
    further exchange. N = the total sub-slice count (a 1-row driver scalar
    off the nsub map), so one task ~ one sub-block.
    """
    from d3d_etl_spark.functions.strings import md5_int

    nsub_map = candidates.groupBy(*block_keys).agg(
        F.ceil(F.count("*") / FUZZY_MAX_BLOCK).cast("int").alias("_nsub")
    )
    # One candidates scan, not three: collect the block-grain map once,
    # derive the slice count driver-side, and rejoin it as a broadcast
    # literal — the main job never re-aggregates candidates under each join
    # branch. Fuzzy blocks are domain-bounded (brand / (team, year) / team)
    # so the map is a driver scalar. The CAP GATES THE COLLECT ITSELF: a
    # limit(cap+1) probe decides first, so a pathological block-key
    # cardinality never materializes the full map on the driver — the
    # over-cap branch keeps the distributed map (re-aggregated per join
    # branch) and takes the slice total as a 1-row scalar aggregate.
    nsub_rows = nsub_map.limit(_NSUB_DRIVER_CAP + 1).collect()
    if nsub_rows and len(nsub_rows) <= _NSUB_DRIVER_CAP:
        n_slices = sum(r["_nsub"] for r in nsub_rows)
        nsub_map = F.broadcast(
            probes.sparkSession.createDataFrame(nsub_rows, nsub_map.schema)
        )
    else:
        n_slices = (
            nsub_map.agg(F.sum("_nsub").alias("s")).collect()[0]["s"] or 0
            if nsub_rows
            else 0
        )
    parts = max(probes.sparkSession.sparkContext.defaultParallelism, n_slices)
    cands_s = (
        candidates.join(nsub_map, list(block_keys))
        .withColumn(
            "_salt",
            F.pmod(md5_int(F.col(cand_id).cast("string")), F.col("_nsub")).cast("int"),
        )
        .drop("_nsub")
        .repartition(parts, *block_keys, "_salt")
    )
    probes_s = (
        probes.join(nsub_map, block_keys)
        .withColumn("_salt", F.explode(F.expr("sequence(0, _nsub - 1)")))
        .drop("_nsub")
        .repartition(parts, *block_keys, "_salt")
    )
    # build side = one candidate sub-block (<= FUZZY_MAX_BLOCK rows)
    return probes_s.join(cands_s.hint("shuffle_hash"), [*block_keys, "_salt"]).drop(
        "_salt"
    )


def length_prune(a: Column, b: Column, cutoff: float) -> Column:
    """Lossless pre-score gate for levenshtein_sim: lev >= |len_a - len_b|,
    so sim >= cutoff implies |len_a - len_b| <= (1-cutoff) * max(len) —
    pairs failing this can never reach the cutoff and are dropped BEFORE
    the O(len^2) levenshtein DP runs. Must be applied to the SAME strings
    the score reads (e.g. token-sorted keys, not raw names)."""
    return F.abs(F.length(a) - F.length(b)) <= (1.0 - cutoff) * F.greatest(
        F.length(a), F.length(b)
    )


def blocked_fuzzy_join(
    probes: DataFrame,
    candidates: DataFrame,
    block_keys: list[str],
    probe_id: str,
    probe_name: str,
    cand_id: str,
    cand_name: str,
    cutoff: float = 0.7,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Two-tier cascade: exact name match, then fuzzy top-1 >= cutoff.

    Returns (probe_id, matched_id, score, tier) with tier in
    {'exact', 'fuzzy'}; probes matching nothing are absent (left-join the
    result back if unmatched rows are needed).

    `broadcast_candidates` (default True) matches the operator's contract —
    candidates are a roster/master list, dim-sized — and must be True for
    the probe-side repartition below to help. Pass False when the candidate
    side is a scaled fact table: the planner then falls back to a
    shuffle/AQE plan instead of force-broadcasting something huge.
    """
    w_exact = Window.partitionBy(probe_id).orderBy(F.asc(cand_id))
    # With broadcast_candidates the hint is EXPLICIT — at sf0.1 the
    # planner's size estimate tips past the auto-broadcast threshold and
    # silently degrades the block join to a SortMergeJoin on the
    # (few-valued, skew-prone) block key, which also defeats the probe-side
    # repartition below. Measured: removes one full exchange + the SMJ sort.
    cands = F.broadcast(candidates) if broadcast_candidates else candidates
    if broadcast_candidates:
        exact_pairs = probes.join(cands, block_keys).where(
            F.col(probe_name) == F.col(cand_name)
        )
    else:
        # scaled-sides fallback: fold the name equality INTO the join key —
        # the hash join then never materializes the per-block cross
        # product, so a mega-block costs O(|block|) here, not O(|block|^2)
        exact_pairs = probes.withColumn("_name_jk", F.col(probe_name)).join(
            candidates.withColumn("_name_jk", F.col(cand_name)),
            [*block_keys, "_name_jk"],
        )
    exact = (
        exact_pairs.withColumn("rn", F.row_number().over(w_exact))
        .where("rn = 1")
        .select(
            F.col(probe_id),
            F.col(cand_id).alias("matched_id"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("tier"),
        )
    )
    # The exact tier feeds BOTH the anti-join (to find unmatched probes) and
    # the final union — without a barrier the block-join subtree runs three
    # times. Its output is tiny (<= one row per probe): materialize once.
    # Measured 2x on the full cascade at sf0.1.
    exact = barrier(exact)
    # The candidate side is broadcast, so the scoring stage inherits the
    # PROBE side's partitioning — a thin scan (one parquet row group) would
    # run the whole O(|block|^2) levenshtein stage on one core. Round-robin
    # repartition to the session's parallelism: probe placement is free under
    # a broadcast join (also immune to block-key skew). Measured 6x at sf0.1.
    n_parts = probes.sparkSession.sparkContext.defaultParallelism
    # the matched-id list is one slim long column bounded by |probes|;
    # broadcasting the anti-join avoids two probe_id exchanges + sorts.
    # Gated on the same flag as the block join: broadcast_candidates=False
    # signals "sides are scaled", and a table bounded by |probes| is then no
    # safer to force-broadcast than the candidates were — fall back to the
    # SMJ anti-join and let AQE pick the strategy.
    exact_ids = exact.select(probe_id)
    if broadcast_candidates:
        exact_ids = F.broadcast(exact_ids)
    unmatched = probes.join(exact_ids, probe_id, "left_anti")
    if broadcast_candidates:
        # only useful under a broadcast scoring join (probe partitioning is
        # the task grain there); the fallback's salted join re-shuffles on
        # (block, salt) anyway — an extra exchange would be pure waste
        unmatched = unmatched.repartition(n_parts)
    sim = levenshtein_sim(F.col(probe_name), F.col(cand_name))
    len_ok = length_prune(F.col(probe_name), F.col(cand_name), cutoff)
    w_fuzzy = Window.partitionBy(probe_id).orderBy(F.desc("score"), F.asc(cand_id))
    if broadcast_candidates:
        fuzzy_pairs = unmatched.join(cands, block_keys)
    else:
        fuzzy_pairs = subblocked_pairs(unmatched, candidates, block_keys, cand_id)
    fuzzy = (
        fuzzy_pairs.where(len_ok)
        .select(F.col(probe_id), F.col(cand_id), sim.alias("score"))
        .where(F.col("score") >= cutoff)
        .withColumn("rn", F.row_number().over(w_fuzzy))
        .where("rn = 1")
        .select(
            F.col(probe_id),
            F.col(cand_id).alias("matched_id"),
            F.col("score"),
            F.lit("fuzzy").alias("tier"),
        )
    )
    return exact.unionByName(fuzzy)


def leading_int(c: Column) -> Column:
    """Leading integer of a jersey-number string ('12A' -> 12), NULL when
    absent (reference map_ncaa_to_cube.py:28-44 jersey parsing)."""
    d = F.regexp_extract(c.cast("string"), r"^\s*(\d+)", 1)
    return F.when(d != "", d.cast("int"))


def token_sort_key(c: Column) -> Column:
    """Normalized name with tokens sorted — the deterministic half of
    token_sort_ratio (rapidfuzz sorts tokens before scoring)."""
    from d3d_etl_spark.functions.strings import normalize_name

    return F.array_join(F.array_sort(F.split(normalize_name(c), " ")), " ")


def roster_cascade(
    probes: DataFrame,
    candidates: DataFrame,
    block_keys: list[str],
    probe_id: str,
    probe_name: str,
    cand_id: str,
    cand_name: str,
    probe_number: str | None = None,
    cand_number: str | None = None,
    cutoff: float = 0.7,
) -> DataFrame:
    """The reference's five-tier roster reconciliation
    (map_ncaa_to_cube.py:125-175) as ONE cascade over blocked joins:

        1. jersey   — leading-int number equality within the block
        2. exact    — trimmed name equality
        3. last     — lowercase last name, only when UNIQUE in the block
        4. initlast — first initial + last name, only when unique
        5. fuzzy    — token-sorted similarity >= cutoff, top-1

    Each tier sees only probes unmatched by earlier tiers; every ambiguous
    pick is determinized by min candidate id (extractOne's list-order tie
    break made partition-stable). Returns (probe_id, matched_id, tier).
    Tier 5 scores JVM-side (token-sorted Levenshtein): codegen'd, and
    mirrored exactly by SQL oracles.
    """
    from d3d_etl_spark.functions.strings import normalize_name

    out_cols = lambda tier: [  # noqa: E731
        F.col(probe_id),
        F.col(cand_id).alias("matched_id"),
        F.lit(tier).alias("tier"),
    ]
    w_min = Window.partitionBy(probe_id).orderBy(F.asc(cand_id))
    tiers: list[DataFrame] = []
    remaining = probes

    def _advance(matched: DataFrame) -> None:
        nonlocal remaining
        matched = barrier(matched)  # feeds union AND anti-join
        tiers.append(matched)
        remaining = remaining.join(matched.select(probe_id), probe_id, "left_anti")

    # equality tiers: the matched value is IN the join key (as in the
    # variation tier), so the hash join never materializes the per-block cross product it would
    # otherwise equality-filter
    if probe_number is not None and cand_number is not None:
        cnum = candidates.select(
            *block_keys, F.col(cand_id), leading_int(F.col(cand_number)).alias("_num_jk")
        ).where(F.col("_num_jk").isNotNull())
        jersey = (
            remaining.withColumn("_num_jk", leading_int(F.col(probe_number)))
            .where(F.col("_num_jk").isNotNull())
            .join(cnum, [*block_keys, "_num_jk"])
            .withColumn("_rn", F.row_number().over(w_min))
            .where("_rn = 1")
            .select(*out_cols("jersey"))
        )
        _advance(jersey)

    exact = (
        remaining.withColumn("_nm_jk", F.trim(F.col(probe_name)))
        .join(
            candidates.withColumn("_nm_jk", F.trim(F.col(cand_name))),
            [*block_keys, "_nm_jk"],
        )
        .withColumn("_rn", F.row_number().over(w_min))
        .where("_rn = 1")
        .select(*out_cols("exact"))
    )
    _advance(exact)

    # block-level last-name / initial+last uniqueness over ALL candidates
    # (the reference indexes the full cube, not the unmatched subset)
    norm_c = normalize_name(F.col(cand_name))
    last_c = F.substring_index(norm_c, " ", -1)
    init_last_c = F.concat(F.substring(norm_c, 1, 1), F.lit(" "), last_c)
    # two-token guard: the reference builds by_initlast only for names with
    # >= 2 tokens and skips tier 4 for single-token probes
    # (map_ncaa_to_cube len(parts) >= 2) — a single-token 'smith' must fall
    # through to fuzzy, not match 's smith'
    two_tok_c = F.size(F.split(norm_c, " ")) >= 2
    two_tok_p = F.size(F.split(normalize_name(F.col(probe_name)), " ")) >= 2
    for tier_name, cand_key_expr, probe_key_expr, cand_guard, probe_guard in (
        (
            "last",
            last_c,
            F.substring_index(normalize_name(F.col(probe_name)), " ", -1),
            F.lit(True),
            F.lit(True),
        ),
        (
            "initlast",
            init_last_c,
            F.concat(
                F.substring(normalize_name(F.col(probe_name)), 1, 1),
                F.lit(" "),
                F.substring_index(normalize_name(F.col(probe_name)), " ", -1),
            ),
            two_tok_c,
            two_tok_p,
        ),
    ):
        keyed = candidates.where(cand_guard).select(
            *block_keys, F.col(cand_id), cand_key_expr.alias("_k")
        )
        unique = (
            keyed.groupBy(*block_keys, "_k")
            .agg(F.count("*").alias("_cnt"), F.min(cand_id).alias("matched_id"))
            .where("_cnt = 1")
        )
        m = (
            remaining.where(probe_guard)
            .withColumn("_k", probe_key_expr)
            .join(unique, [*block_keys, "_k"])
            .select(F.col(probe_id), F.col("matched_id"), F.lit(tier_name).alias("tier"))
        )
        _advance(m)

    # tier 5: fuzzy top-1 over token-sorted names, with the sibling
    # cascades' scoring discipline: per-SIDE precomputed token-sort keys,
    # the lossless length prune before the DP, and a broadcast-or-subblocked
    # block join. All three keep the pair set above the cutoff exact.
    n_parts = probes.sparkSession.sparkContext.defaultParallelism
    w_fuzzy = Window.partitionBy(probe_id).orderBy(F.desc("_score"), F.asc(cand_id))
    score = levenshtein_sim(F.col("_pk"), F.col("_ck"))
    len_ok = length_prune(F.col("_pk"), F.col("_ck"), cutoff)
    rem_k = remaining.withColumn("_pk", token_sort_key(F.col(probe_name)))
    cands_k = candidates.withColumn("_ck", token_sort_key(F.col(cand_name)))
    if fits_broadcast(candidates):
        pairs = rem_k.repartition(n_parts).join(F.broadcast(cands_k), block_keys)
    else:
        pairs = subblocked_pairs(rem_k, cands_k, block_keys, cand_id)
    fuzzy = (
        pairs.where(len_ok)
        .withColumn("_score", score)
        .where(F.col("_score") >= cutoff)
        .withColumn("_rn", F.row_number().over(w_fuzzy))
        .where("_rn = 1")
        .select(*out_cols("fuzzy"))
    )
    tiers.append(fuzzy)

    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out


def name_variations(col: Column, number: Column | None = None) -> Column:
    """T6: deterministic variant set for a "First Last"-shaped name
    (reference names/helpers.py:56-111 generates ~20 variants per name;
    the engine builds them as one array expression and explodes — an
    equi-join tier that resolves abbreviated/reordered forms without any
    fuzzy scoring).

    All variants live in normalized space (lowercase, punctuation stripped),
    which collapses the reference's case/punctuation duplicates: full,
    "last first" (flipped), "f last" (initialed), "first l", "f l" / "fl"
    (double initials), "last", "fir las" (3-char prefixes), and — when a
    jersey `number` column is given — "<n> last" and "<n>" forms.
    """
    from d3d_etl_spark.functions.strings import normalize_name

    norm = normalize_name(col)
    first = F.substring_index(norm, " ", 1)
    last = F.substring_index(norm, " ", -1)
    f_init = F.substring(first, 1, 1)
    l_init = F.substring(last, 1, 1)
    variants = [
        norm,
        F.concat_ws(" ", last, first),
        F.concat_ws(" ", f_init, last),
        F.concat_ws(" ", first, l_init),
        F.concat_ws(" ", f_init, l_init),
        F.concat(f_init, l_init),
        last,
        # 3-char prefixes only when both parts are long enough (reference
        # guards len >= 3); otherwise fall back to the full form (dedup'd)
        F.when(
            (F.length(first) >= 3) & (F.length(last) >= 3),
            F.concat_ws(" ", F.substring(first, 1, 3), F.substring(last, 1, 3)),
        ).otherwise(norm),
    ]
    if number is not None:
        num = normalize_name(number.cast("string"))
        variants += [
            F.when(num != "", F.concat_ws(" ", num, last)).otherwise(norm),
            F.when(num != "", num).otherwise(norm),
        ]
    return F.array_distinct(F.array(*variants))


def variation_tier(
    probes: DataFrame,
    candidates: DataFrame,
    block_keys: list[str],
    probe_id: str,
    probe_name: str,
    cand_id: str,
    cand_name: str,
) -> DataFrame:
    """Equi-join tier on exploded candidate name variants: probes whose
    (normalized) name equals ANY variant of a candidate match without fuzzy
    scoring. Returns (probe_id, matched_id, tier='variation'); ambiguity
    resolved by min candidate id (extractOne list-order determinized)."""
    from pyspark.sql import Window

    from d3d_etl_spark.functions.strings import normalize_name

    # The name equality is IN the join key (block + normalized name), not a
    # post-join filter: a block-key-only join materializes each block's
    # probe x variant cross product — O(|block|^2) work that grows with the
    # corpus — and the exploded variant side (|candidates| x ~6 rows) is
    # corpus-grain, so it shuffle-hashes rather than broadcast (Catalyst
    # auto-broadcast of it measured a 320 MB task relation at the 10x
    # stress pair).
    cand_exploded = candidates.select(
        *block_keys,
        F.col(cand_id),
        F.explode(name_variations(F.col(cand_name))).alias("_nm_jk"),
    )
    probe_norm = probes.select(
        *block_keys, F.col(probe_id), normalize_name(F.col(probe_name)).alias("_nm_jk")
    )
    w = Window.partitionBy(probe_id).orderBy(F.asc(cand_id))
    return (
        probe_norm.join(cand_exploded.hint("shuffle_hash"), [*block_keys, "_nm_jk"])
        .withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .select(
            F.col(probe_id),
            F.col(cand_id).alias("matched_id"),
            F.lit("variation").alias("tier"),
        )
    )


def headshot_cascade(
    probes: DataFrame,
    candidates: DataFrame,
    team_key: str,
    year_key: str,
    probe_id: str,
    probe_name: str,
    cand_id: str,
    cand_name: str,
    cutoff: float = 0.9,
) -> DataFrame:
    """The reference's headshot→player reconciliation
    (reconcile_players.py:413-469) as a BLOCK-RELAXATION cascade:

        1. direct         — (team, year) block, normalized-name equality
        2. fuzzy          — (team, year) block, similarity top-1 >= cutoff
        3. fuzzy_fallback — (team) block only, similarity top-1 >= cutoff

    The reference scores with rapidfuzz WRatio >= 90; the engine default is
    the deterministic token-sorted similarity at the same 0.9 cutoff
    (oracle-mirrorable; a WRatio pandas UDF can replace the scorer column
    without changing the cascade shape — functions/fuzzscore.py shows the
    pattern). Ambiguity determinized by (score desc, cand_id asc), the
    extractOne list-order tie break made partition-stable.

    Returns (probe_id, matched_id, tier).
    """
    from d3d_etl_spark.functions.strings import normalize_name

    w_min = Window.partitionBy(probe_id).orderBy(F.asc(cand_id))
    w_top = Window.partitionBy(probe_id).orderBy(F.desc("_score"), F.asc(cand_id))
    tiers: list[DataFrame] = []
    remaining = probes

    def _advance(matched: DataFrame) -> None:
        nonlocal remaining
        matched = barrier(matched)
        tiers.append(matched)
        remaining = remaining.join(matched.select(probe_id), probe_id, "left_anti")

    # name equality folded INTO the join key (as in the variation tier):
    # a block-key-only join materializes each
    # block's cross product just to equality-filter it — O(|block|^2) rows
    # for an equi-match the hash join can do in O(|block|)
    direct = (
        remaining.withColumn("_nm_jk", normalize_name(F.col(probe_name)))
        .join(
            candidates.withColumn("_nm_jk", normalize_name(F.col(cand_name))),
            [team_key, year_key, "_nm_jk"],
        )
        .withColumn("_rn", F.row_number().over(w_min))
        .where("_rn = 1")
        .select(
            F.col(probe_id),
            F.col(cand_id).alias("matched_id"),
            F.lit("direct").alias("tier"),
        )
    )
    _advance(direct)

    # Scoring tiers — without these three, every within-block pair runs
    # the full token-sort + levenshtein unpruned:
    #   - the token-sort key is PRECOMPUTED per side (one split/sort/join
    #     per ROW, not per pair — only the levenshtein DP remains per-pair);
    #   - the lossless length prune gates the DP on the same keyed strings;
    #   - dim-sized candidate lists broadcast with the probe side spread
    #     (the sibling operator's measured-6x recipe); scaled ones take the
    #     lossless FUZZY_MAX_BLOCK sub-block join.
    # All three preserve the pair set above the cutoff and the top-1 window,
    # so the oracle is unaffected (forced-path pin in tests/test_skew.py).
    sim = levenshtein_sim(F.col("_pk"), F.col("_ck"))
    len_ok = length_prune(F.col("_pk"), F.col("_ck"), cutoff)
    cands_k = candidates.withColumn("_ck", token_sort_key(F.col(cand_name)))
    bc_ok = fits_broadcast(candidates)
    n_parts = probes.sparkSession.sparkContext.defaultParallelism
    for tier_name, keys in (("fuzzy", [team_key, year_key]), ("fuzzy_fallback", [team_key])):
        rem_k = remaining.withColumn("_pk", token_sort_key(F.col(probe_name)))
        if bc_ok:
            pairs = rem_k.repartition(n_parts).join(F.broadcast(cands_k), keys)
        else:
            pairs = subblocked_pairs(rem_k, cands_k, keys, cand_id)
        m = (
            pairs.where(len_ok)
            .withColumn("_score", sim)
            .where(F.col("_score") >= cutoff)
            .withColumn("_rn", F.row_number().over(w_top))
            .where("_rn = 1")
            .select(
                F.col(probe_id),
                F.col(cand_id).alias("matched_id"),
                F.lit(tier_name).alias("tier"),
            )
        )
        _advance(m)

    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out
