"""Persisted per-scale state (io.StateFamily) keeps scales side by side.

A scale switch prunes nothing, so verify (sf0.01) and bench (sf0.1) can
alternate with zero cold rebuilds. Oracle SQL stays unambiguous because
run_oracle / oracle_sql() rewrite each family's '<family>_*' glob to the
scale-keyed directory via resolve_cache_globs.
"""

from __future__ import annotations

import glob
import os

from d3d_etl_spark.oracle import resolve_cache_globs


def test_resolve_cache_globs_rewrites_every_family():
    import d3d_etl_spark.queries as qmod

    qmod.load_all()  # families are constructed at query-module import
    sql = (
        "FROM read_parquet('/x/.domain_cache/parsed_pbp_*/*.parquet') a "
        "JOIN read_parquet('/x/.domain_cache/lsh_bands_*/*.parquet') b "
        "JOIN read_parquet('/x/.domain_cache/ivf_cents_s_*/*.parquet') c "
        "JOIN read_parquet('/x/.domain_cache/pq_codes_r_*/*.parquet') d "
        "JOIN read_parquet('/x/.domain_cache/bucketed_spine_*/*.parquet') e "
        "JOIN read_parquet('/x/.domain_cache/longdocs_*/*.parquet') f "
        "JOIN read_parquet('/x/.domain_cache/zordered_events_*/*.parquet') g"
    )
    out = resolve_cache_globs(sql, "/root/testdata/sf0.01")
    assert "parsed_pbp_30/" in out  # max(10, 0.01*3000)
    assert "bucketed_spine_30/" in out
    assert "lsh_bands_0p01/" in out
    assert "ivf_cents_s_0p01/" in out
    assert "pq_codes_r_0p01/" in out
    assert "longdocs_0p01/" in out
    assert "zordered_events_0p01/" in out
    assert "_*/" not in out  # nothing left ambiguous
    # a different scale resolves differently (side-by-side is meaningful)
    assert "parsed_pbp_300/" in resolve_cache_globs(sql, "/root/testdata/sf0.1")


def test_cache_scales_coexist(spark):
    """Building the same state family at two scales leaves BOTH directories
    live: a build never prunes another scale below the LRU cap."""
    from d3d_etl_spark.queries.dedup import LSH_BANDS, batch1_band_state

    batch1_band_state(spark, "/root/testdata/sf0.001")
    batch1_band_state(spark, "/root/testdata/sf0.01")
    for tag in ("0p001", "0p01"):
        path = LSH_BANDS.path(f"sf{tag.replace('p', '.')}")
        assert os.path.basename(path) == f"lsh_bands_{tag}"
        assert os.path.isdir(path), path
        assert os.path.exists(path + ".done"), path


def test_cache_lru_sweep_keeps_newest(tmp_path, monkeypatch):
    """Beyond _STATE_LRU_KEEP scales, the least-recently-used family
    members are evicted (bounded disk), newest-first survivors."""
    from d3d_etl_spark import io

    monkeypatch.setattr(io, "_STATE_LRU_KEEP", 2)
    monkeypatch.setattr(io, "STATE_ROOT", str(tmp_path))
    monkeypatch.setattr(io, "STATE_FAMILIES", {})
    fam = io.StateFamily("fam", key=str)
    fam_glob = str(tmp_path / "fam_*")

    def mk(tag: str, t: float) -> None:
        p = str(tmp_path / f"fam_{tag}")
        assert fam.ensure(tag, os.makedirs) == p
        os.utime(p + ".done", (t, t))

    mk("a", 1_000_000.0)
    mk("b", 2_000_000.0)
    # building c sweeps: keep newest 2 of {a, b, c}; c's marker is "now"
    mk("c", 3_000_000.0)
    live = sorted(
        os.path.basename(d) for d in glob.glob(fam_glob) if os.path.isdir(d)
    )
    assert live == ["fam_b", "fam_c"], live
    assert not os.path.exists(str(tmp_path / "fam_a.done"))
