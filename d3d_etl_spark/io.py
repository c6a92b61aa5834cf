"""IO layer: readers for the testdata star schema + partition-aware sinks.

Reference sink semantics re-expressed Spark-first (SURVEY.md §2.1):
- S1 CSV/parquet scan with projection  -> `spark.read` (Catalyst prunes)
- S4/S5 delete-slice-then-insert upsert -> dynamic partition overwrite
- S6 SQL dedup-on-load                  -> `dropDuplicates` before write
- S17 incremental anti-join             -> `left_anti` helper
- S19 skip a stage whose output exists  -> `StateFamily` (per-scale state)
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Per-(path, mtime) parquet SCHEMAS. Every `spark.read.parquet(path)`
# runs a 1-task schema-inference job (the "parquet at <unknown>" jobs in
# the UI) before the driver can even plan — a serialized ~0.1 s driver
# round-trip that every query invocation re-pays for every immutable
# table it touches (profiled: 8 such jobs, ~1.6 s, at the head of every
# z_sim_pq_rerank invocation; 1-6 per query across the bench). Supplying
# the schema skips exactly that job. ONLY the schema is memoized — the
# file listing is re-done per call and the data is re-read from parquet
# at execution, so this is orchestration de-duplication, not result
# caching. The mtime in the key invalidates on rebuild (the persisted
# state families' LRU sweep can replace a directory mid-process).
_PARQUET_SCHEMAS: dict = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet` with the schema-inference job memoized per
    (path, mtime) — see _PARQUET_SCHEMAS. For immutable tables (testdata,
    persisted per-scale state) the footer job runs once per process
    instead of once per query invocation."""
    try:
        key = (os.path.abspath(path), os.path.getmtime(path))
    except OSError:
        return spark.read.parquet(path)  # globs/missing: no memo
    schema = _PARQUET_SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _PARQUET_SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (parquet, schema embedded).

    `events.ts` has shipped as parquet TIMESTAMP(NANOS) (scanned as long
    nanoseconds under ``spark.sql.legacy.parquet.nanosAsLong``) and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (scanned as TIMESTAMP_NTZ).
    Both are normalized to a session-TZ (UTC) TIMESTAMP here so every
    downstream expression (`unix_micros`, windows, watermarks) sees one
    type; the values are µs-precision wall-clock either way, matching
    DuckDB's naive read exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # defensive: the session may not be ours (the verify driver builds its
        # own); the nanos knob is runtime-settable, so set it before the scan.
        # Pin the session TZ too — the NTZ->timestamp cast below reinterprets
        # wall-clock time in the SESSION zone, so a non-UTC driver session
        # would silently shift every instant and break oracle parity.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # session TZ is UTC -> NTZ wall time reinterpreted as UTC instant
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Per-(path, mtime) table row counts. Half a dozen serving queries
# re-derive the same scalar (serving params, corpus-scaled K, encode-task
# sizing) with a fresh count job per invocation — a pure
# driver-orchestration tax at any scale (scalars that are constant per
# scale live in a per-scale cache, not in a per-run job). Keyed like
# _PARQUET_SCHEMAS, so a table rebuilt under a live process gets a fresh
# count. This memoizes the COUNT only —
# never rows, never results.
_TABLE_COUNTS: dict[tuple[str, float], int] = {}


def table_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of one testdata table, memoized per (path, mtime)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (os.path.abspath(path), os.path.getmtime(path))
    except OSError:
        return load_table(spark, sf_dir, name).count()  # non-local/missing: no memo
    n = _TABLE_COUNTS.get(key)
    if n is None:
        n = load_table(spark, sf_dir, name).count()
        _TABLE_COUNTS[key] = n
    return n


def fan_out(df: DataFrame) -> DataFrame:
    """Rebalance a THIN scan to session parallelism ahead of a CPU-heavy
    map stage (regex/tokenize/shingle/decode/GEMM).

    Benchmark-scale parquet often plans a single input split, which would
    serialize the expensive projection on one core (measured: the whole
    corpus_doc_stats pass ran as one task, 2.2s -> 1.1s at sf0.1 once
    fanned). Production-scale inputs already span >= the session
    parallelism and pass through untouched — the guard keeps this from
    ever ADDING a shuffle where the scan provides parallelism, so the
    zero-data-dependent-shuffle doctrine still holds: the only exchange
    this can introduce is a round-robin rebalance of a single-split scan.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def barrier(df: DataFrame) -> DataFrame:
    """Materialize `df` now and return a frame that reads the result.

    The one rule for every barrier in the package. Barrier a frame only
    when at least one of these holds:

    - it has two or more consumers (without it, each consumer re-runs
      the whole lineage: ReusedExchange does not reliably cover
      multi-consumer subtrees);
    - it cuts an iterative lineage (loop round k+1 must not replay
      rounds 1..k, and the plan must not grow with the round count);
    - it keeps corpus-scale work out of a broadcast build (a broadcast
      side is built in one driver-side thread under broadcastTimeout).

    A single-consumer barrier serves none of these: it cannot be reused,
    only waited on. `localCheckpoint`, not `cache()`: cache matching is
    plan-based, so a column-pruned broadcast subtree downstream misses the
    cache and re-derives the lineage; the checkpointed RDD is shared
    structurally by every consumer. The consumer that reuses a frame
    places the barrier, never its producer — a producer cannot know how
    many consumers its frame has.
    """
    return df.localCheckpoint()


# --- Persisted per-scale state (S19) ----------------------------------------

STATE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".domain_cache"
)
# scales kept side by side per family before the LRU sweep evicts
_STATE_LRU_KEEP = 4
# every constructed family by name; oracle.resolve_cache_globs reads it
STATE_FAMILIES: dict[str, StateFamily] = {}


def sf_tag(sf_dir: str) -> str:
    """The default scale key: the sf token of the data dir, dots mangled
    for path safety (sf0.01 -> '0p01'). A dir without an sf token is its
    own scale: 'x' plus a short hash of its absolute path, so two such
    corpora never share state. The incremental text and embedding
    families share the key, so a scale switch moves them together."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    if m:
        return m.group(1).replace(".", "p")
    return "x" + hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:10]


class StateFamily:
    """One family of persisted per-scale state: `<root>/<name>_<key>`.

    The one rule for state the engine keeps between runs (the reference
    skips a stage whose output file exists, S19):

    - keyed by scale: `key(sf_dir)` names the directory, so scales coexist
      side by side and switching scale rebuilds nothing;
    - built once, atomically: `ensure` builds into a dot-prefixed temp dir
      (outside the family glob, so a crashed build is never read),
      `os.replace`s it into place, then writes the `.done` marker.
      Regenerators of one family serialize on a per-family flock —
      per-family because the parsed build nests the raw build;
    - bounded: after a build only the _STATE_LRU_KEEP most recently used
      scales (by marker mtime) survive;
    - one source: oracle SQL reads the same parquet through `.glob`
      (`<root>/<name>_*/*.parquet`), which resolve_cache_globs rewrites
      to the scale's directory. Constructing a family registers it.

    Deleting the root is always safe: every family rebuilds on demand.
    """

    def __init__(self, name: str, key=sf_tag):
        self.name = name
        self.key = key
        self.root = STATE_ROOT
        self.glob = os.path.join(self.root, f"{name}_*", "*.parquet")
        STATE_FAMILIES[name] = self

    def path(self, sf_dir: str) -> str:
        return os.path.join(self.root, f"{self.name}_{self.key(sf_dir)}")

    def ensure(self, sf_dir: str, build) -> str:
        """Return the scale's directory, first running `build(tmp)` (which
        writes the table under `tmp`) unless a completed build exists. The
        fast path takes no lock: two stats and a marker touch, so the LRU
        sweep sees the scale as live."""
        path = self.path(sf_dir)
        marker = path + ".done"
        if os.path.exists(marker) and os.path.isdir(path):
            os.utime(marker)
            return path
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, f".{self.name}_regen.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                if os.path.exists(marker) and os.path.isdir(path):
                    return path  # another process built it while we waited
                # crash leftovers of this family, this scale's included
                for stale in glob.glob(os.path.join(self.root, f".tmp_{self.name}_*")):
                    shutil.rmtree(stale, ignore_errors=True)
                tmp = os.path.join(self.root, ".tmp_" + os.path.basename(path))
                build(tmp)
                shutil.rmtree(path, ignore_errors=True)
                os.replace(tmp, path)
                with open(marker, "w") as f:
                    f.write(os.path.basename(path))
                live = sorted(
                    (
                        d
                        for d in glob.glob(os.path.join(self.root, f"{self.name}_*"))
                        if os.path.isdir(d) and os.path.exists(d + ".done")
                    ),
                    key=lambda d: os.path.getmtime(d + ".done"),
                    reverse=True,
                )
                for other in live[_STATE_LRU_KEEP:]:
                    if other != path:
                        self._evict(other)
            finally:
                fcntl.flock(lock, fcntl.LOCK_UN)
        return path

    @staticmethod
    def _evict(path: str) -> None:
        """Drop one built scale: its directory, then its marker."""
        shutil.rmtree(path, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(path + ".done")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Parquet sink partitioned by storage keys (reference: filename-embedded
    ``{division}_{year}`` partitioning, SURVEY.md §1.4). With the session's
    ``partitionOverwriteMode=dynamic``, mode="overwrite" replaces only the
    partitions present in `df` — exactly the reference's delete-slice/append
    upsert (leaderboards/main.py:169-194) with no custom code.

    `max_records_per_file` bounds file size from above (the writer rolls a
    new file past the cap); pair with `compact` to bound it from below."""
    w = df.write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact(df: DataFrame, n_files: int, sort_within: tuple[str, ...] = ()) -> DataFrame:
    """Small-files compaction: coalesce (no shuffle) down to `n_files`
    output tasks, optionally sorting within each so downstream scans get
    clustered row groups (min/max pruning). The 100 TB hygiene op — a daily
    incremental pipeline otherwise accretes thousands of tiny files per
    partition and scan planning time degrades linearly with file count."""
    out = df.coalesce(n_files)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    return out


def upsert_partition(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...],
    dedup_keys: tuple[str, ...] = (),
) -> None:
    """S5/S6 parity: dedup on keys then dynamically overwrite the touched
    partitions (reference upload_to_db.py:64-138 dedups with
    DELETE..GROUP BY after load; here it is a shuffle-free-if-bucketed
    `dropDuplicates` before the write)."""
    if dedup_keys:
        df = df.dropDuplicates(list(dedup_keys))
    write_partitioned(df, path, partition_by, mode="overwrite")


def incremental_todo(all_items: DataFrame, done_items: DataFrame, key: str) -> DataFrame:
    """S17 parity: `contest_ids - done_ids` (collect_game.py:197-198) as a
    left-anti join — the distributed version of the reference's set
    difference."""
    return all_items.join(done_items.select(key).distinct(), on=key, how="left_anti")


def export_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    dedup_keys: tuple[str, ...] = (),
    replace_where: tuple[str, str, object] | None = None,
) -> int:
    """S6 parity: publish a (small, final) table to SQLite the way the
    reference's upload_to_db.py:64-138 does — optional slice delete
    (`replace_where`, a validated ``(column, op, value)`` tuple, e.g.
    ``("year", "=", 2024)``), append, dedup on keys.

    This is a driver-side egress for published leaderboard-sized tables
    (the reference's SQLite is the serving layer, not the compute layer);
    big data stays in parquet. Returns rows written. Dedup happens in Spark
    BEFORE egress — the reference dedups after load with DELETE..GROUP BY.

    `table` and the slice column are validated as SQL identifiers, the op
    against an allowlist, and the value is bound as a parameter — caller
    input never reaches the DELETE statement verbatim.
    """
    import re
    import sqlite3

    _ident = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
    if not _ident.match(table):
        raise ValueError(f"invalid table identifier: {table!r}")

    if dedup_keys:
        df = df.dropDuplicates(list(dedup_keys))
    pdf = df.toPandas()
    con = sqlite3.connect(db_path)
    try:
        exists = con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' AND name=?", (table,)
        ).fetchone()
        if exists and replace_where:
            col, op, value = replace_where
            if not _ident.match(col):
                raise ValueError(f"invalid column identifier: {col!r}")
            if op not in ("=", "<", "<=", ">", ">=", "!="):
                raise ValueError(f"invalid operator: {op!r}")
            con.execute(f"DELETE FROM {table} WHERE {col} {op} ?", (value,))  # noqa: S608
        pdf.to_sql(table, con, if_exists="append" if exists else "replace", index=False)
        con.commit()
    finally:
        con.close()
    return len(pdf)


# --- CSV compat path (S1) ---------------------------------------------------
# The reference's storage IS csv (every stage boundary, SURVEY.md §1.1); the
# engine's native storage is parquet, but a migrating user's first run reads
# their existing CSVs. Schema-on-read inference is the reference's chief
# fragility (SURVEY.md §1.2) — here CSV reads take a REQUIRED explicit
# StructType, so a CSV scan has the same declared schema as the parquet scan.

CSV_OPTIONS = {
    "header": "true",
    "nullValue": "",
    "escape": '"',  # RFC-4180 doubled quotes, matches Spark's writer
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS[XXX]",
    # exact value fidelity: the writer trims trailing whitespace by default
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink in the compat dialect (header, RFC-4180 quoting, µs
    timestamps). Exists for parity/export; parquet is the native sink."""
    df.write.mode("overwrite").options(**CSV_OPTIONS).csv(path)


def load_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV scan with a declared schema (no inference — the engine treats
    schemas as first-class, SURVEY.md §7.1). Projection/filter pushdown
    works as with parquet minus column statistics; at scale prefer a
    one-time CSV->parquet conversion with `write_partitioned`."""
    return spark.read.schema(schema).options(**CSV_OPTIONS).csv(path)
