"""Seeded inputs for the benchmark.

Two kinds of input, both written under the benchmark's own work directory:

- the star schema the registry queries read (``region`` .. ``embeddings``,
  one parquet file each, the same column names and types as the engine's
  test tables; the DuckDB oracle harness opens every one of them). It is
  generated from a FIXED seed, so that the expected per-query digests in
  ``expected_digests.json`` hold for every run;
- the play-by-play narration of the ``pbp_season`` workload, one parquet
  file per (division, year) slice, generated from the run's ``--seed`` with
  the engine's own narration grammar (``pbp.synth.generate_game``).

Neither uses Spark: generation happens before the session starts and is not
part of any timed figure.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

STAR_SEED = 20240601

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big customer query group "
    "filter stream vector"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_WORDS = ("small", "large", "red", "blue", "green", "steel", "brass", "tin")
_PART_NOUNS = ("ring", "widget", "bolt", "nut", "gear", "pipe", "valve", "spring")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_DIM = 64
_N_LABELS = 10

DIVISIONS = ("ncaa_1", "ncaa_2", "ncaa_3")
YEARS = tuple(range(2021, 2027))
RAW_COLUMNS = [
    "year", "division", "contest_id", "inning", "away_text", "home_text", "source_seq",
]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def star_tables(sf: float) -> dict[str, pd.DataFrame]:
    """The star schema at scale factor `sf` (TPC-H row ratios, plus the
    events stream, a text corpus with planted near-duplicates and a
    clustered embedding table)."""
    rng = np.random.default_rng(STAR_SEED)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(150, int(1_500_000 * sf))
    n_items = max(600, int(6_000_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_WORDS[a]} {_PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_orders),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    qty = rng.integers(1, 51, n_items).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_items).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_items).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_items),
        "l_linestatus": rng.choice(("F", "O"), n_items),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_items),
    })
    step_us = (30 * 86_400_000_000) // n_events
    ts = np.datetime64("2024-01-01", "us") + (
        np.arange(n_events, dtype=np.int64) * step_us + rng.integers(0, step_us, n_events)
    ).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (_N_LABELS, _DIM))
    labels = rng.integers(0, _N_LABELS, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def ensure_star(sf_dir: str, sf: float) -> None:
    """Write the star schema into `sf_dir` unless a complete copy exists.
    Files are written under a temporary name and renamed, so a crashed
    run never leaves a table that a later run would trust."""
    done = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(done):
        return
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in star_tables(sf).items():
        tmp = os.path.join(sf_dir, f".{name}.parquet.tmp")
        df.to_parquet(tmp, index=False)
        os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"sf={sf} seed={STAR_SEED}\n")


def season_slices(seed: int, n_slices: int) -> list[tuple[str, int]]:
    """The first `n_slices` (division, year) slices, in a seeded order."""
    slices = [(d, y) for d in DIVISIONS for y in YEARS]
    random.Random(seed).shuffle(slices)
    return slices[:n_slices]


def write_season(out_dir: str, seed: int, slices: list[tuple[str, int]],
                 games_per_slice: int) -> dict[tuple[str, int], str]:
    """Narration for each slice -> one parquet file per slice. Contest ids
    are unique across slices. Returns {slice: path}."""
    from d3d_etl_spark.pbp.synth import generate_game

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    paths = {}
    contest_id = 0
    for division, year in sorted(slices):
        rows = []
        for _ in range(games_per_slice):
            rows += generate_game(rng, contest_id, year=year, division=division)
            contest_id += 1
        pdf = pd.DataFrame(rows, columns=RAW_COLUMNS).astype(
            {"year": "int32", "inning": "int32", "contest_id": "int64", "source_seq": "int64"}
        )
        path = os.path.join(out_dir, f"{division}_{year}.parquet")
        pdf.to_parquet(path, index=False)
        paths[(division, year)] = path
    return paths
