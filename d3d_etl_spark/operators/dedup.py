"""Deduplication operator library (north-star training-pipeline ops):
exact content dedup, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each operator at 100 TB):

- Exact dedup: one hash-groupBy on a digest — Spark's shuffle handles any
  volume; the digest (md5) is computed map-side so only (digest, id) shuffles.
- Jaccard pairs: inverted-index self-join on shingles. Quadratic in the
  worst case; at scale you ALWAYS front it with LSH (below) so the verify
  join only sees candidate pairs.
- MinHash+LSH: signatures are computed with array expressions per document
  (no explode, no shuffle); only (band_hash, doc_id) rows shuffle — b rows
  per doc regardless of doc size. Bucket join finds candidates; exact
  Jaccard verifies. This is the sub-quadratic scale path.
- SimHash: 32-bit signature per doc from token-hash bit votes, again pure
  array expressions; near-dup candidates via banded bytes (hamming<=k needs
  a shared band by pigeonhole when k < bands), verified with bit_count(xor).

Hash family: first-32-bits-of-md5 (functions.strings.md5_int) — chosen over
xxhash/murmur because it is bit-reproducible in any engine, which makes every
sketch here oracle-checkable in plain SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from d3d_etl_spark.functions.strings import md5_int
from d3d_etl_spark.io import barrier


def content_digest(cols: list[Column]) -> Column:
    """Map-side content digest for exact dedup."""
    return F.md5(F.concat_ws("\x1f", *[c.cast("string") for c in cols]))


def exact_dedup_groups(df: DataFrame, content: list[Column], id_col: str) -> DataFrame:
    """Group identical content; emit canonical (min) id + multiplicity."""
    return (
        df.select(F.col(id_col), content_digest(content).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_rows(df: DataFrame, id_col: str, shingles: Column) -> DataFrame:
    """(id, shingle) distinct rows — the inverted-index input.

    Repartitions before the explode: shingle construction (tokenize + slide)
    is the CPU-heavy step and must not inherit a thin scan's partitioning
    (one parquet row group would serialize it on one core)."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts)
        .select(F.col(id_col).alias("doc"), F.explode(shingles).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    shingle_df: DataFrame, min_jaccard: float, candidates: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over distinct-shingle sets.

    `shingle_df`: (doc, shingle) distinct. With `candidates` (doc_a, doc_b)
    given, only verifies those pairs (the LSH path); otherwise builds all
    co-occurring pairs from the inverted index.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    Join strategy is EXPLICIT because Catalyst's size estimates here are
    structurally wrong at scale: shingle rows come from an explode (whose
    output size estimate tracks the pre-explode child) behind a
    localCheckpoint (whose LogicalRDD carries the original small stats), so
    the planner happily auto-broadcasts a CORPUS-sized side — measured at
    the sf1 stress tier as a 416 MiB hash relation charged to one task,
    growing linearly with the corpus. Only
    duplicate-rate-bounded sides (the candidate set) may broadcast;
    everything corpus-grain (shingle rows, per-doc sizes) takes a shuffled
    hash join with the pair-grain side as the build.
    """
    sizes = shingle_df.groupBy("doc").agg(F.count("*").alias("sz"))
    a = shingle_df.select(F.col("doc").alias("doc_a"), "shingle")
    b = shingle_df.select(F.col("doc").alias("doc_b"), "shingle")
    if candidates is not None:
        # Candidate-driven intersection: fan each candidate pair out to
        # doc_a's shingles, then equi-join doc_b's — cost is
        # O(|candidates| · |doc|), never the quadratic inverted-index blowup.
        # Candidates broadcast (duplicate-rate-bounded, same class as the
        # canonical-dedup drop set); the b-side is corpus-grain, so the
        # second join shuffle-hashes with the candidate fan-out as build.
        joined = (
            F.broadcast(candidates)
            .join(a, "doc_a")
            .hint("shuffle_hash")
            .join(b, ["doc_b", "shingle"])
        )
    else:
        # inverted-index self-join: both sides corpus-grain — never broadcast
        joined = (
            a.hint("shuffle_hash").join(b, "shingle").where(F.col("doc_a") < F.col("doc_b"))
        )
    inter = joined.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.hint("shuffle_hash")
        .join(sa, "doc_a")
        .hint("shuffle_hash")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def minhash_signatures(shingle_df: DataFrame, n_hashes: int = 16) -> DataFrame:
    """(doc, sig0..sig{n-1}) minhash signatures from (doc, shingle) rows.

    Each signature is the lexicographic min of a seeded md5 over the shingle
    set (min over a uniform hash == a random permutation's minimum; the
    string min is portable to any SQL engine). Computed as ONE pass over the
    exploded shingle rows with n partial-aggregating min()s — array-expression
    variants re-evaluate the (expensive) shingle construction once per hash
    because higher-order functions defeat Catalyst subexpression elimination
    (measured 16x slower at sf0.1).
    """
    sig_aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(str(j)), F.col("shingle")))).alias(f"sig{j}")
        for j in range(n_hashes)
    ]
    return shingle_df.groupBy("doc").agg(*sig_aggs)


def lsh_band_keys(df: DataFrame | None = None, id_col: str | None = None,
                  shingles: Column | None = None,
                  n_hashes: int = 16, rows_per_band: int = 4,
                  shingle_df: DataFrame | None = None) -> DataFrame:
    """(doc, band_idx, band_key) rows: signature -> bands -> bucket keys.

    Output is (n_hashes/rows_per_band) rows per doc regardless of doc size.
    Docs with no shingles produce no rows (they can never near-dup-match).
    Pass `shingle_df` (doc, shingle) to reuse an already-built (ideally
    materialized) shingle table — the LSH pipeline needs the same shingles
    again for exact-Jaccard verification, and shingle construction is the
    expensive pass.
    """
    n_bands = n_hashes // rows_per_band
    if shingle_df is None:
        shingle_df = shingle_rows(df, id_col, shingles)
    sigs = minhash_signatures(shingle_df, n_hashes)
    bands = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"sig{j}") for j in range(i * rows_per_band, (i + 1) * rows_per_band)]
            )
        )
        for i in range(n_bands)
    ]
    pairs = F.explode(
        F.arrays_zip(
            F.array(*[F.lit(i) for i in range(n_bands)]).alias("band_idx"),
            F.array(*bands).alias("band_key"),
        )
    )
    return sigs.select("doc", pairs.alias("z")).select(
        "doc", F.col("z.band_idx").alias("band_idx"), F.col("z.band_key").alias("band_key")
    )


def band_keys_from_shingle_array(
    sh_col: Column, n_hashes: int = 16, rows_per_band: int = 4
) -> Column:
    """array<struct<band_idx:int, band_key:string>> from a (distinct)
    shingle-array column — the MAP-ONLY form of :func:`lsh_band_keys`,
    bit-identical keys (same md5 family, same "j:shingle" seeding, same
    band concat; parity pinned by the z_corpus_incremental oracle). Empty
    array for shingle-less docs, matching the grouped operator's no-rows
    behavior.

    Use when the shingle array is ALREADY materialized per document (a
    checkpointed or stored column): the signature then needs no groupBy
    shuffle at all. CSE warning: pass a bound COLUMN, not the shingle
    expression itself — projected-in expressions get re-evaluated once per
    hash by the 16 transforms (the HOF trap minhash_signatures documents),
    a materialization barrier between shingle construction and this call
    prevents the collapse."""

    def _sig(j: int) -> Column:
        seed = str(j)
        return F.array_min(
            F.transform(sh_col, lambda s: F.md5(F.concat_ws(":", F.lit(seed), s)))
        )

    sigs = [_sig(j) for j in range(n_hashes)]
    n_bands = n_hashes // rows_per_band
    bands = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.md5(
                F.concat_ws("|", *sigs[i * rows_per_band : (i + 1) * rows_per_band])
            ).alias("band_key"),
        )
        for i in range(n_bands)
    ]
    return F.when(F.size(sh_col) > 0, F.array(*bands)).otherwise(
        F.array().cast("array<struct<band_idx:int,band_key:string>>")
    )


LSH_MAX_BUCKET = 4096  # hot-bucket guard: max docs per self-join block


def lsh_candidates(band_df: DataFrame, max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing at least one band bucket.

    HOT-BUCKET GUARD (always on — the text twin of ann_gated_near_pairs'
    guard): a boilerplate-heavy shard puts a corpus-scale fraction of docs
    into ONE (band_idx, band_key), and the self-join then computes that
    bucket's c^2 candidate rows in a single task. Buckets above
    `max_bucket` are split into ceil(c/max_bucket) id-hash sub-blocks and
    the join runs per block PAIR — a-side rows carry (blk, j >= blk),
    b-side rows (i <= blk, blk), so block pair (i, j) joins exactly
    block i x block j and every unordered doc pair meets exactly once per
    band (normalized by least/greatest before the distinct). The candidate
    SET is provably unchanged (pinned in tests/test_skew.py); only the
    worst task shrinks from c^2 to (c/n_sub)^2. The hot set itself is
    bounded by n_band_rows/max_bucket entries -> always broadcastable.
    Cost when no bucket is hot: one count aggregate over the band table
    (the probe), an empty broadcast, and degenerate (0,0) block keys.
    """
    from d3d_etl_spark.functions.strings import md5_int

    # Materialize before the self-join: the band table is tiny (n_bands rows
    # per doc) but its lineage is the full 16-min signature groupBy over the
    # shingle table — without a barrier Catalyst recomputes that pass on BOTH
    # join sides (same HOF/CSE trap dedup_simhash_pairs documents; measured
    # ~2x the pair-stage cost at sf0.1).
    band_df = barrier(band_df)
    hot = (
        band_df.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("_bsz"))
        .where(F.col("_bsz") > max_bucket)
        .select(
            "band_idx",
            "band_key",
            F.ceil(F.col("_bsz") / F.lit(max_bucket)).cast("int").alias("_nsub"),
        )
    )
    # driver probe on the bounded hot set (<= n_band_rows/max_bucket rows):
    # a clean corpus — the overwhelmingly common case — takes the original
    # single-key self-join with zero per-row guard overhead
    # Both self-join sides are corpus-grain (n_bands rows per doc), so the
    # join must SHUFFLE on the band key — the checkpointed LogicalRDD keeps
    # the original small size estimate and Catalyst otherwise auto-broadcasts
    # the whole band table (measured 40 MiB at sf1, linear in the corpus).
    if not hot.limit(1).count():
        a = band_df.select(F.col("doc").alias("doc_a"), "band_idx", "band_key")
        b = band_df.select(F.col("doc").alias("doc_b"), "band_idx", "band_key")
        return (
            a.hint("shuffle_hash")
            .join(b, ["band_idx", "band_key"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
    tagged = (
        band_df.join(F.broadcast(hot), ["band_idx", "band_key"], "left")
        .withColumn("_nsub", F.coalesce(F.col("_nsub"), F.lit(1)))
        .withColumn(
            "_blk", F.pmod(md5_int(F.col("doc").cast("string")), F.col("_nsub")).cast("int")
        )
    )
    a = tagged.select(
        F.col("doc").alias("doc_a"),
        "band_idx",
        "band_key",
        F.col("_blk").alias("_bi"),
        F.explode(F.expr("sequence(_blk, _nsub - 1)")).alias("_bj"),
    )
    b = tagged.select(
        F.col("doc").alias("doc_b"),
        "band_idx",
        "band_key",
        F.explode(F.expr("sequence(0, _blk)")).alias("_bi"),
        F.col("_blk").alias("_bj"),
    )
    # diagonal blocks hold both orientations of every within-block pair —
    # keep only doc_a < doc_b there (halves the dominant non-hot path's
    # pre-distinct rows); off-diagonal blocks have disjoint doc sets and
    # exactly ONE orientation per pair, so both orders must survive and
    # least/greatest normalizes them
    pairs = a.hint("shuffle_hash").join(b, ["band_idx", "band_key", "_bi", "_bj"]).where(
        (F.col("_bi") != F.col("_bj")) | (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )


def simhash(token_hashes: Column, bits: int = 32) -> Column:
    """SimHash from an array of token hash ints: per bit, majority vote of
    token bits (+1/-1), bit set iff strictly positive. Pure array expressions.
    """
    def bit_set(i: int):
        # single-arg lambda factory (a 2-arg lambda would make F.filter pass
        # the array index as the second argument)
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    n = F.size(token_hashes)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        cnt = F.size(F.filter(token_hashes, bit_set(i)))
        acc = acc + F.when(2 * cnt > n, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def simhash_signatures(df: DataFrame, id_col: str, tok: Column, bits: int = 32) -> DataFrame:
    """(doc, simhash) via explode + one grouped pass of per-bit vote counts.

    Same values as the array-expression `simhash`, but the token hashing runs
    ONCE: the array form repeats the hash transform per bit filter (the same
    Catalyst-CSE limitation as minhash signatures — see minhash_signatures).
    Docs with zero tokens get simhash 0.
    """
    hex_chars = (bits + 3) // 4
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    rows = (
        df.repartition(n_parts)  # tokenizing+hashing must not run on a thin scan
        .select(F.col(id_col).alias("doc"), F.explode(tok).alias("t"))
        .select("doc", md5_int(F.col("t"), hex_chars).alias("th"))
    )
    bit_counts = [
        F.sum(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1))).alias(f"c{i}")
        for i in range(bits)
    ]
    counts = rows.groupBy("doc").agg(F.count("*").alias("n"), *bit_counts)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(2 * F.col(f"c{i}") > F.col("n"), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    all_docs = df.select(F.col(id_col).alias("doc"))
    return all_docs.join(counts.select("doc", sim.alias("simhash")), "doc", "left").select(
        "doc", F.coalesce("simhash", F.lit(0)).alias("simhash")
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(df: DataFrame, id_col: str, sim_col: str,
                       max_hamming: int = 6, n_bands: int = 4, bits: int = 32) -> DataFrame:
    """Banded byte-bucket candidates + exact hamming verify.

    With n_bands > max_hamming/ (bits per band)... pigeonhole: any pair with
    hamming <= n_bands - 1 must share a full band; pairs up to max_hamming
    are found when their differing bits cluster. For exhaustive small-k
    search use more/narrower bands.
    """
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    bands = F.explode(
        F.arrays_zip(
            F.array(*[F.lit(i) for i in range(n_bands)]).alias("band_idx"),
            F.array(
                *[
                    F.shiftright(F.col(sim_col), i * band_width).bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            ).alias("band_val"),
        )
    )
    banded = df.select(F.col(id_col).alias("doc"), F.col(sim_col).alias("sh"), bands.alias("z")).select(
        "doc", "sh", F.col("z.band_idx").alias("band_idx"), F.col("z.band_val").alias("band_val")
    )
    a = banded.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"), "band_idx", "band_val")
    b = banded.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), "band_idx", "band_val")
    # corpus-grain self-join: shuffle on the band key, never broadcast
    return (
        a.hint("shuffle_hash")
        .join(b, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 50,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node in `edges`, component = min node id
    reachable — the cluster-assignment step after near-dup pair generation
    (pairs say WHO matches; canonical-document selection needs the
    transitive closure).

    Two physical strategies behind one contract:

    - **Small edge sets** (≤ `driver_threshold` edges — the common case:
      near-dup edges scale with the duplicate rate, not the corpus) collect
      to the driver for a union-find pass. The distributed loop costs a
      fixed ~2 joins + checkpoint per round regardless of size; on a graph
      with hundreds of edges that overhead dominates by 10x.
    - **Large edge sets** run alternating large-star / small-star rounds
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14): large-star hangs every bigger neighbor off each node's
      local minimum, small-star re-hangs the smaller ones, and the edge
      set contracts toward a star forest rooted at each component's min.
      Converges in O(log n) rounds even on path/chain graphs — where the
      plain min-label propagation this replaced needed DIAMETER rounds
      and silently truncated (wrong labels) past max_iter on deep
      boilerplate/template chains. Each round is two grouped mins + two
      joins, localCheckpoint barriers so the plan doesn't grow with
      iterations (lineage blowup is the classic iterative-DataFrame
      failure mode at scale). tests/test_properties.py pins the round
      count at ~log2(n) on a 10k-node chain.

    Both produce identical (node, component) assignments. The module
    global `last_cc_rounds` records the round count of the most recent
    distributed run (test instrumentation).
    """
    pair = barrier(edges.select(F.col(a).alias("src"), F.col(b).alias("dst")))
    if pair.count() <= driver_threshold:
        node_type = pair.schema["src"].dataType
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        collected = pair.collect()
        for r in collected:
            ra, rb = find(r.src), find(r.dst)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # union-by-min keeps each root the component minimum, so find(n)
        # IS the min-label assignment
        nodes = {x for r in collected for x in (r.src, r.dst)}
        rows = [(n, find(n)) for n in nodes]
        return edges.sparkSession.createDataFrame(
            rows,
            StructType(
                [StructField("node", node_type), StructField("component", node_type)]
            ),
        )

    global last_cc_rounds

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def _local_min(s: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u})
        return (
            s.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least("src", "_mn").alias("m"))
        )

    # canonical orientation src > dst; both star ops preserve it
    cur = barrier(
        pair.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
    )
    last_cc_rounds = 0
    converged = False
    for _ in range(max_iter):
        last_cc_rounds += 1
        # large-star: for each u, hang every BIGGER neighbor off m(u)
        s1 = _sym(cur)
        large = barrier(
            s1.join(_local_min(s1), "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star: for each u, hang u and every not-bigger neighbor
        # (except the min itself) off m(u)
        s2 = _sym(large)
        m2 = _local_min(s2)
        small_n = (
            s2.join(m2, "src")
            .where((F.col("dst") <= F.col("src")) & (F.col("dst") != F.col("m")))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        small_self = m2.where(F.col("src") != F.col("m")).select(
            "src", F.col("m").alias("dst")
        )
        nxt = barrier(small_n.unionByName(small_self).distinct())
        # converged when the (distinct, canonical) edge set is a fixpoint
        if nxt.count() == cur.count() and nxt.exceptAll(cur).count() == 0:
            cur = nxt
            converged = True
            break
        cur = nxt
    if not converged:
        # the extraction below is only valid on a CONVERGED star forest; a
        # multi-level forest would emit duplicate, conflicting labels and
        # downstream canonical-dedup would silently drop/keep the wrong
        # docs. Alternating star rounds converge in O(log n), so max_iter
        # exhaustion means the input is pathologically larger than the
        # operator was configured for — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "alternating star rounds; raise max_iter"
        )
    # fixpoint = star forest: src are leaves, dst are component roots
    leaves = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        cur.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return leaves.unionByName(roots)


#: round count of the most recent distributed connected_components run
#: (alternating star rounds) — instrumentation for the O(log n) pin in
#: tests/test_properties.py.
last_cc_rounds: int = 0
