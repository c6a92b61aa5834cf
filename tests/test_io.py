"""IO/sink semantics: dynamic partition overwrite upsert (S4/S5), dedup on
load (S6), incremental anti-join (S17), resume-by-watermark (S18)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from d3d_etl_spark.io import incremental_todo, upsert_partition, write_partitioned


def test_partition_overwrite_upsert(spark, tmp_path):
    path = os.path.join(str(tmp_path), "tbl")
    v1 = spark.createDataFrame(
        [(2023, "d1", 1, "old"), (2023, "d2", 2, "old"), (2024, "d1", 3, "old")],
        "year int, division string, k long, v string",
    )
    write_partitioned(v1, path, ("year", "division"))

    # overwrite ONLY the (2023, d1) slice — duplicate rows dedup on load
    v2 = spark.createDataFrame(
        [(2023, "d1", 1, "new"), (2023, "d1", 1, "new"), (2023, "d1", 9, "new")],
        "year int, division string, k long, v string",
    )
    upsert_partition(v2, path, ("year", "division"), dedup_keys=("year", "division", "k"))

    def read():
        return sorted(
            (r["year"], r["division"], r["k"], r["v"])
            for r in spark.read.parquet(path).collect()
        )

    first = read()
    assert first == [
        (2023, "d1", 1, "new"),
        (2023, "d1", 9, "new"),
        (2023, "d2", 2, "old"),   # untouched partition survives
        (2024, "d1", 3, "old"),   # untouched partition survives
    ]
    # replaying the same upsert is idempotent: at-least-once delivery of a
    # slice gives exactly-once table contents, duplicates included
    upsert_partition(v2, path, ("year", "division"), dedup_keys=("year", "division", "k"))
    assert read() == first


def test_incremental_anti_join(spark):
    todo_all = spark.createDataFrame([(1,), (2,), (3,)], "contest_id long")
    done = spark.createDataFrame([(2,)], "contest_id long")
    got = sorted(r["contest_id"] for r in incremental_todo(todo_all, done, "contest_id").collect())
    assert got == [1, 3]


def test_resume_watermark(spark):
    existing = spark.createDataFrame(
        [("2024-03-01",), ("2024-03-05",)], "date string"
    ).select(F.to_date("date").alias("date"))
    resume = existing.agg(F.date_add(F.max("date"), 1).alias("resume")).first()["resume"]
    assert str(resume) == "2024-03-06"


def test_export_sqlite_slice_replace(spark, tmp_path):
    import os
    import sqlite3

    from d3d_etl_spark.io import export_sqlite

    db = os.path.join(str(tmp_path), "pub.db")
    v1 = spark.createDataFrame(
        [(2023, "a", 1.0), (2024, "b", 2.0)], "year int, k string, v double"
    )
    assert export_sqlite(v1, db, "board") == 2

    # re-publish 2024 slice with a dup: slice replaced, dedup applied, 2023 kept
    v2 = spark.createDataFrame(
        [(2024, "b", 9.0), (2024, "b", 9.0), (2024, "c", 3.0)],
        "year int, k string, v double",
    )
    export_sqlite(v2, db, "board", dedup_keys=("year", "k"), replace_where=("year", "=", 2024))
    con = sqlite3.connect(db)
    rows = sorted(con.execute("SELECT year, k, v FROM board").fetchall())
    con.close()
    assert rows == [(2023, "a", 1.0), (2024, "b", 9.0), (2024, "c", 3.0)]


def test_csv_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    """S1 compat: CSV dialect round-trips every value bit-exactly, so a
    migrating user's CSV scan equals the native parquet scan."""
    from d3d_etl_spark.io import load_csv, load_table, write_csv

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_csv")
    write_csv(orders, path)
    back = load_csv(spark, path, orders.schema)
    assert back.schema == orders.schema
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0


def test_csv_roundtrip_hostile_strings(spark, tmp_path):
    """RFC-4180 quoting: commas, doubled quotes, embedded newlines, empty
    vs NULL all survive the dialect (multiLine scan for embedded \\n)."""
    from d3d_etl_spark.io import CSV_OPTIONS, load_csv, write_csv

    rows = [
        (1, 'comma, inside'),
        (2, 'quote " inside'),
        (3, 'newline\ninside'),
        (4, None),
        (5, 'trailing space '),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    path = str(tmp_path / "hostile_csv")
    write_csv(df, path)
    back = (
        df.sparkSession.read.schema(df.schema)
        .options(**CSV_OPTIONS)
        .option("multiLine", "true")
        .csv(path)
    )
    got = {r["id"]: r["text"] for r in back.collect()}
    want = dict(rows)
    assert got == want
    # without multiLine the embedded-newline record splits: line-splittable
    # CSV (the fast parallel path) requires newline-free values — use the
    # multiLine option (whole-file parse) when values may contain newlines
    assert load_csv(df.sparkSession, path, df.schema).count() == 6


def test_write_sizing_and_compaction(spark, sf_dir, tmp_path):
    """maxRecordsPerFile bounds file size above; compact() bounds file count
    below (and clusters rows for min/max pruning)."""
    import glob

    from d3d_etl_spark.io import compact, load_table, write_partitioned

    orders = load_table(spark, sf_dir, "orders")  # sf0.001: 1500 rows
    n = orders.count()

    capped = str(tmp_path / "capped")
    write_partitioned(orders.repartition(2), capped, max_records_per_file=100)
    files = glob.glob(capped + "/*.parquet")
    assert len(files) >= n // 100  # writer rolled new files at the cap
    assert spark.read.parquet(capped).count() == n

    compacted = str(tmp_path / "compacted")
    write_partitioned(compact(orders.repartition(8), 2, ("o_orderkey",)), compacted)
    files = glob.glob(compacted + "/*.parquet")
    assert len(files) == 2
    back = spark.read.parquet(compacted)
    assert back.count() == n


def test_table_count_sees_rebuilt_table(spark, tmp_path):
    """table_count memoizes per (path, mtime), as read_parquet does: a
    table rebuilt under a live process is counted afresh, not served the
    count of the table it replaced."""
    import time

    from d3d_etl_spark.io import table_count

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "nation.parquet")
    spark.range(10).write.parquet(path)
    assert table_count(spark, sf_dir, "nation") == 10
    assert table_count(spark, sf_dir, "nation") == 10  # memo hit

    time.sleep(0.05)  # a distinct mtime even on coarse filesystems
    spark.range(7).write.mode("overwrite").parquet(path)
    os.utime(path)
    assert table_count(spark, sf_dir, "nation") == 7
