"""Pin q_v3_multiblock / q_v3_match to the UNCAPPED oracle semantics.

The declared oracle SQL for both v3 queries is the plain 4-way block
union with no pair cap, but the library's ``max_pairs_per_block``
scale guard is default-ON — so a declared query built with the default
``ScaleConfig`` silently diverges from its oracle as soon as one block
family exceeds the cap (first seen at sf0.1: 20.4M kept vs 52.1M
declared; the driver's gate SFs are too small for the cap to bind, so
only a larger-sf sweep catches it). The entry queries therefore pass
``max_pairs_per_block=None``; this test makes that contract loud by
building a registry whose street block exceeds the default cap and
asserting the DECLARED query returns every pair while the
default-config library call truncates.
"""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from registry_address_matcher_spark.config import ScaleConfig

N = 1040  # N*N = 1,081,600 street-block pairs > the 1M default cap


@pytest.fixture(scope="module")
def hot_block_sf_dir(tmp_path_factory):
    """A minimal sf dir whose derived SPR/CAD registries share ONE street
    across all rows. partkey % 10 == 1 rows get a trailing '.' on the SPR
    side, which the normalizer strips — so STREET_NORM is identical on
    both sides and the street (and street3) block is a single N x N
    block. Houses (p_size) are distinct per row, keeping the house block
    families tiny."""
    d = tmp_path_factory.mktemp("hot_block_sf")
    part = pd.DataFrame(
        {
            "p_partkey": [10 * i + 1 for i in range(N)],
            "p_name": ["KIEVYAN ST"] * N,
            "p_size": list(range(1, N + 1)),
            "p_brand": ["Brand#1"] * N,
        }
    )
    part.to_parquet(d / "part.parquet", index=False)
    return str(d)


def test_v3_multiblock_declared_query_is_uncapped(spark, hot_block_sf_dir):
    got = entry_mod.queries()["v3_multiblock"](spark, hot_block_sf_dir)
    n_declared = got.count()
    # every SPR row co-blocks with every CAD row exactly once
    assert n_declared == N * N

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM "
        f"read_parquet('{hot_block_sf_dir}/part.parquet')"
    )
    n_oracle = con.execute(
        f"SELECT count(*) FROM ({entry_mod.oracle_sql()['v3_multiblock']})"
    ).fetchone()[0]
    assert n_oracle == n_declared

    # the default-config library path truncates here — proving the cap
    # binds at this size and the declared query's cap-off is load-bearing
    from registry_address_matcher_spark.operators.engine_v3 import (
        multi_block_candidates,
    )
    from registry_address_matcher_spark.operators.preprocess import (
        preprocess_registry,
    )

    spr = preprocess_registry(entry_mod._spr(spark, hot_block_sf_dir))
    cad = preprocess_registry(entry_mod._cad(spark, hot_block_sf_dir))
    n_capped = multi_block_candidates(spr, cad, ScaleConfig()).count()
    assert n_capped < n_declared


class _Captured(Exception):
    """Stops a declared query once its capped stage has been called."""


def _capture_scale(monkeypatch, module, name):
    """Replace ``module.name`` with a fake that records the ScaleConfig it
    is given and stops the query there; returns the record list."""
    seen = []

    def fake(*args, scale=None, **kwargs):
        seen.append(scale)
        raise _Captured

    monkeypatch.setattr(module, name, fake)
    return seen


def test_v3_match_declared_query_passes_uncapped_scale(spark, hot_block_sf_dir, monkeypatch):
    """match_v3's cand set must follow the same uncapped oracle contract;
    running the full N x N scored flow is too heavy for CI, so a fake
    match_v3 captures the ScaleConfig the declared query passes."""
    from registry_address_matcher_spark.operators import engine_v3

    seen = _capture_scale(monkeypatch, engine_v3, "match_v3")
    with pytest.raises(_Captured):
        entry_mod.queries()["v3_match"](spark, hot_block_sf_dir)
    assert len(seen) == 1
    assert isinstance(seen[0], ScaleConfig)
    assert seen[0].max_pairs_per_block is None


def test_repos_match_declared_query_passes_uncapped_scale(spark, tmp_path, monkeypatch):
    """Same latent class as v3: _repos_match_oracle's band_pairs CTE is
    the uncapped band-bucket join (its only encoded truncation is the
    phonetic_block_cap), so the declared query must disable the
    band-block pair cap; a >1M-pair band bucket (~1.4k identical docs)
    is too heavy to build in CI, so a fake candidate_block_pairs
    captures the ScaleConfig instead."""
    from registry_address_matcher_spark import repos_pipeline

    pd.DataFrame(
        {"doc_id": [1, 2], "source": ["a", "b"], "lang": ["en", "en"],
         "text": ["same text", "same text"]}
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    seen = _capture_scale(monkeypatch, repos_pipeline, "candidate_block_pairs")
    with pytest.raises(_Captured):
        entry_mod.queries()["repos_match"](spark, str(tmp_path))
    assert len(seen) == 1
    assert isinstance(seen[0], ScaleConfig)
    assert seen[0].max_pairs_per_block is None
