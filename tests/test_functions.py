"""Column-function library tests (math codec, strings, text builders)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from d3d_etl_spark.functions.math import clip, ip_to_innings, ip_to_thirds, safe_div, thirds_to_ip
from d3d_etl_spark.functions.strings import flip_last_first, hash_id, md5_int, normalize_name
from d3d_etl_spark.functions.text import tokens, word_shingles


def test_ip_codec_roundtrip(spark):
    df = spark.createDataFrame([("6.2",), ("0.1",), ("9",), ("12.0",)], "ip string")
    rows = df.select(
        ip_to_thirds(F.col("ip")).alias("t"),
        thirds_to_ip(ip_to_thirds(F.col("ip"))).alias("rt"),
        ip_to_innings(F.col("ip")).alias("f"),
    ).collect()
    assert [r["t"] for r in rows] == [20, 1, 27, 36]
    assert [r["rt"] for r in rows] == ["6.2", "0.1", "9.0", "12.0"]
    assert abs(rows[0]["f"] - 20 / 3) < 1e-12


def test_safe_div_and_clip(spark):
    df = spark.createDataFrame([(10.0, 2.0), (1.0, 0.0)], "n double, d double")
    rows = df.select(
        safe_div(F.col("n"), F.col("d"), -1.0).alias("q"),
        clip(F.col("n"), 0.0, 5.0).alias("c"),
    ).collect()
    assert rows[0]["q"] == 5.0 and rows[1]["q"] == -1.0
    assert rows[0]["c"] == 5.0 and rows[1]["c"] == 1.0


def test_string_helpers(spark):
    df = spark.createDataFrame([("  Smith, John Q. ",), ("nocomma",)], "s string")
    rows = df.select(
        flip_last_first(F.trim(F.col("s"))).alias("flip"),
        normalize_name(F.col("s")).alias("norm"),
    ).collect()
    assert rows[0]["flip"] == "John Q. Smith"
    assert rows[0]["norm"] == "smith john q"
    assert rows[1]["flip"] == "nocomma"


def test_hash_id_deterministic(spark):
    df = spark.createDataFrame([(42,)], "id long")
    v = df.select(hash_id(F.col("id")).alias("h"), md5_int(F.col("id").cast("string")).alias("m")).first()
    import hashlib

    assert v["h"] == hashlib.sha256(b"d3d:42").hexdigest()[:16]
    assert v["m"] == int(hashlib.md5(b"42").hexdigest()[:8], 16)


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    rows = df.select(word_shingles(tokens(F.col("t")), 3).alias("sh")).collect()
    assert rows[0]["sh"] == ["a b c", "b c d"]
    assert rows[1]["sh"] == []


def test_nfkc_titlecase(spark):
    from d3d_etl_spark.functions.strings import nfkc_titlecase
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("ＪＯＳＥ  ｎｕñez",), ("ﬁelder mcgee",), ("SMITH, A.",), (None,)],
        "name string",
    )
    got = [r["out"] for r in df.select(nfkc_titlecase(F.col("name")).alias("out")).collect()]
    # fullwidth compatibility chars fold to ASCII, ligature fi expands,
    # words title-case, whitespace collapses, None passes through
    assert got == ["Jose Nuñez", "Fielder Mcgee", "Smith, A.", None]


def test_hash_split_total_and_stable(spark):
    """Every key gets exactly one split; proportions track the weights; the
    assignment is a pure function of the key (repartition-invariant)."""
    from d3d_etl_spark.functions.sampling import hash_split

    n = 20_000
    df = spark.range(n).withColumn(
        "split", hash_split(F.col("id"), [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    )
    counts = {r["split"]: r["n"] for r in df.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == n  # no null assignments
    assert abs(counts["train"] / n - 0.8) < 0.02
    assert abs(counts["val"] / n - 0.1) < 0.01

    again = (
        spark.range(n)
        .repartition(13)
        .withColumn(
            "split", hash_split(F.col("id"), [("train", 0.8), ("val", 0.1), ("test", 0.1)])
        )
    )
    assert df.select("id", "split").exceptAll(again.select("id", "split")).count() == 0


def test_hash_sample_fraction_and_salt_independence(spark):
    from d3d_etl_spark.functions.sampling import hash_bucket, hash_sample_pred

    n = 20_000
    df = spark.range(n)
    kept = df.where(hash_sample_pred(F.col("id"), 0.25)).count()
    assert abs(kept / n - 0.25) < 0.02

    # different salts are independent hash functions: the overlap of two 25%
    # samples should be ~6.25%, not ~25%
    a = df.where(hash_sample_pred(F.col("id"), 0.25, salt="a")).select("id")
    b = df.where(hash_sample_pred(F.col("id"), 0.25, salt="b")).select("id")
    overlap = a.join(b, "id").count()
    assert abs(overlap / n - 0.0625) < 0.02

    # bucket range sanity
    mm = df.select(
        F.min(hash_bucket(F.col("id"))).alias("lo"), F.max(hash_bucket(F.col("id"))).alias("hi")
    ).collect()[0]
    assert mm["lo"] >= 0 and mm["hi"] < (1 << 32)


def test_grouped_agg_pandas_udaf(spark):
    """§2.10 UDAF surface: an Arrow-batched grouped-agg pandas UDF (exact
    interquartile range — not natively expressible as one aggregate) agrees
    with the two-sided native percentile computation. The UDAF slot is for
    genuinely custom statistics; everything standard stays JVM-native."""
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints make this a grouped-agg UDF; pandas is imported
    # at module level so the string hints (PEP 563) resolve
    @pandas_udf("double")
    def iqr(v: pd.Series) -> float:
        return float(v.quantile(0.75) - v.quantile(0.25))

    df = spark.range(1000).selectExpr("id % 4 AS g", "CAST(id AS DOUBLE) AS x")
    got = {r["g"]: r["iqr"] for r in df.groupBy("g").agg(iqr("x").alias("iqr")).collect()}
    want = {
        r["g"]: r["hi"] - r["lo"]
        for r in df.groupBy("g")
        .agg(
            F.percentile("x", 0.75).alias("hi"),
            F.percentile("x", 0.25).alias("lo"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for g in got:
        assert abs(got[g] - want[g]) < 1e-9


def test_clean_positions_reference_examples(spark):
    """Reference examples (scripts/clean_cube_positions.py): count-suffix
    strip, mixed delimiters, allowlist filter, first-occurrence dedup."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.functions.strings import clean_positions

    cases = [
        ("2B-3B.SS (29)", "2B, 3B, SS"),
        ("p - of. of", "P, OF"),
        ("util", None),         # not in the allowlist
        ("", None),
        ("OF (12)", "OF"),
        ("x - junk - C", "C"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "raw string")
    got = [r["cleaned"] for r in df.select(clean_positions(F.col("raw")).alias("cleaned")).collect()]
    assert got == [want for _, want in cases]


def test_normalize_division_idempotent(spark):
    """Reference scripts/update_division_format.py: 1/2/3 (int or float
    string) -> ncaa_N; migrated + unknown values pass through; applying
    twice is a no-op."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.functions.strings import normalize_division

    cases = [
        ("1", "ncaa_1"), ("2.0", "ncaa_2"), ("3", "ncaa_3"),
        ("ncaa_2", "ncaa_2"), ("weird", "weird"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "raw string")
    once = df.select(normalize_division(F.col("raw")).alias("d"))
    assert [r["d"] for r in once.collect()] == [w for _, w in cases]
    twice = once.select(normalize_division(F.col("d")).alias("d"))
    assert [r["d"] for r in twice.collect()] == [w for _, w in cases]


def test_word_shingles_fast_path_parity(spark):
    """The n=2/n=3 zip_with fast paths must be bit-identical to the general
    transform+slice form on real and hostile token arrays (empty docs,
    single tokens, repeated whitespace, unicode, exact-n docs)."""
    from pyspark.sql import functions as F

    from d3d_etl_spark.functions.text import tokens, word_shingles

    rows = [
        (1, ""), (2, "one"), (3, "a  b"), (4, "x y z"), (5, " lead trail "),
        (6, "héllo wörld ünïcode test"), (7, "a b c d e f g"), (8, "a b"),
        (9, "a b c"), (10, "\ttab\nsplit  mix\t "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3):
        tok = tokens(F.col("text"))
        idx = F.sequence(F.lit(0), F.greatest(F.size(tok) - n, F.lit(-1)))
        general = F.when(
            F.size(tok) >= n,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i + 1, n))),
        ).otherwise(F.array().cast("array<string>"))
        bad = (
            docs.select(word_shingles(tok, n).alias("a"), general.alias("b"))
            .where(F.col("a") != F.col("b"))
            .count()
        )
        assert bad == 0


def test_per_gateway_keys_on_arguments_and_gateway(monkeypatch):
    """per_gateway builds once per (arguments, live gateway): the same
    arguments reuse the first build, a different shaping argument builds
    again, and a new gateway (a new JVM) drops every entry."""
    from pyspark import SparkContext

    from d3d_etl_spark.functions.trees import per_gateway

    built = []

    @per_gateway
    def build(min_pa, has_re24):
        built.append((min_pa, has_re24))
        return object()

    monkeypatch.setattr(SparkContext, "_gateway", object())
    first = build(1, True)
    assert build(1, True) is first and built == [(1, True)]
    assert build(1, False) is not first and len(built) == 2
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build(1, True) is not first and len(built) == 3
