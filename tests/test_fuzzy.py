"""Fuzzy-phase semantics: blocking, counts, tie-breaks, thresholds."""

import pandas as pd

from registry_address_matcher_spark.config import MatchConfig, ScaleConfig
from registry_address_matcher_spark.operators.fuzzy import fuzzy_matches
from registry_address_matcher_spark.operators.preprocess import preprocess_registry


def _reg(spark, rows):
    return preprocess_registry(spark.createDataFrame(pd.DataFrame(rows).astype(object)))


def test_fuzzy_blocks_on_house_and_building(spark):
    spr = _reg(spark, [{"ADDRESS_ID": "S1", "STREET_NAME": "ԱԲՈՎՅԱՆԻ", "HOUSE": "5", "BUILDING": ""}])
    cad = _reg(
        spark,
        [
            # same street, WRONG house -> never a candidate (reference bails)
            {"ADDRESS_ID": "C1", "STREET_NAME": "ԱԲՈՎՅԱՆ", "HOUSE": "6", "BUILDING": ""},
            # right block, similar street -> match
            {"ADDRESS_ID": "C2", "STREET_NAME": "ԱԲՈՎՅԱՆ", "HOUSE": "5", "BUILDING": ""},
        ],
    )
    out = fuzzy_matches(spr, cad).toPandas()
    assert len(out) == 1
    assert out.iloc[0].ADDRESS_ID_CAD == "C2"
    assert out.iloc[0].MATCH_SCORE == 100.0  # genitive stripped -> identical


def test_candidates_count_includes_empty_street(spark):
    spr = _reg(spark, [{"ADDRESS_ID": "S1", "STREET_NAME": "ԱԲՈՎՅԱՆ ՄԵԾ", "HOUSE": "5", "BUILDING": ""}])
    cad = _reg(
        spark,
        [
            {"ADDRESS_ID": "C1", "STREET_NAME": "ԱԲՈՎՅԱՆ ՄԵԾՆ", "HOUSE": "5", "BUILDING": ""},
            {"ADDRESS_ID": "C2", "STREET_NAME": "", "HOUSE": "5", "BUILDING": ""},  # counted, not scored
        ],
    )
    out = fuzzy_matches(spr, cad).toPandas()
    assert len(out) == 1
    assert out.iloc[0].CANDIDATES_COUNT == 2
    assert out.iloc[0].ADDRESS_ID_CAD == "C1"


def test_threshold_rejects(spark):
    spr = _reg(spark, [{"ADDRESS_ID": "S1", "STREET_NAME": "ԱԱԱԱԱԱ", "HOUSE": "5", "BUILDING": ""}])
    cad = _reg(spark, [{"ADDRESS_ID": "C1", "STREET_NAME": "ԲԲԲԲԲԲ", "HOUSE": "5", "BUILDING": ""}])
    out = fuzzy_matches(spr, cad).toPandas()
    assert len(out) == 0


def test_tiebreak_prefers_earlier_strategy_and_smaller_cad_id(spark):
    # two CAD rows whose streets are both perfect token-reorders -> both
    # score 100 on token_sort; tie resolves to smaller ADDRESS_ID_CAD
    spr = _reg(spark, [{"ADDRESS_ID": "S1", "STREET_NAME": "ՄԱՇՏՈՑ ՊՈՂՈՏԱ", "HOUSE": "9", "BUILDING": ""}])
    cad = _reg(
        spark,
        [
            {"ADDRESS_ID": "C2", "STREET_NAME": "ՊՈՂՈՏԱ ՄԱՇՏՈՑ", "HOUSE": "9", "BUILDING": ""},
            {"ADDRESS_ID": "C1", "STREET_NAME": "ՊՈՂՈՏԱ ՄԱՇՏՈՑ", "HOUSE": "9", "BUILDING": ""},
        ],
    )
    out = fuzzy_matches(spr, cad).toPandas()
    assert len(out) == 1
    assert out.iloc[0].ADDRESS_ID_CAD == "C1"
    assert out.iloc[0].MATCH_TYPE == "FUZZY_STREET_TOKEN_SORT_RATIO"


def test_salting_preserves_join_semantics(spark):
    # force the hot-key path (threshold 1, every key is hot) and check the
    # result set is identical to the unsalted plan
    rows_spr = [
        {"ADDRESS_ID": f"S{i}", "STREET_NAME": f"ՓՈՂՈՑ{i} ՄԵԾ", "HOUSE": "1", "BUILDING": ""}
        for i in range(20)
    ]
    rows_cad = [
        {"ADDRESS_ID": f"C{i}", "STREET_NAME": f"ՓՈՂՈՑ{i} ՄԵԾՆ", "HOUSE": "1", "BUILDING": ""}
        for i in range(20)
    ]
    spr, cad = _reg(spark, rows_spr), _reg(spark, rows_cad)
    hot = fuzzy_matches(spr, cad, scale=ScaleConfig(hot_block_threshold=1, salt_buckets=4)).toPandas()
    cold = fuzzy_matches(spr, cad, scale=ScaleConfig(hot_block_threshold=10**9)).toPandas()
    key = ["ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "MATCH_SCORE", "MATCH_TYPE", "CANDIDATES_COUNT"]
    assert (
        hot[key].sort_values(key).reset_index(drop=True).equals(
            cold[key].sort_values(key).reset_index(drop=True)
        )
    )


def test_cpu_stage_partitions_policy():
    """Whole scheduling waves, constant partition size, clamped."""
    from registry_address_matcher_spark.partitioning import cpu_stage_partitions

    # 10.2M pairs at 320k target -> 32 partitions at 2 AND 8 cores
    assert cpu_stage_partitions(10_206_060, 320_000, 8) == 32
    assert cpu_stage_partitions(10_206_060, 320_000, 2) == 32
    # ragged counts round UP to a full wave (41 -> 48 at 8 cores)
    assert cpu_stage_partitions(41 * 250_000, 250_000, 8) == 48
    # tiny inputs still occupy every core once
    assert cpu_stage_partitions(10, 320_000, 8) == 8
    # cap
    assert cpu_stage_partitions(10**12, 100, 8, cap=65536) == 65536


def test_adaptive_estimate_failure_is_recorded(spark, monkeypatch):
    """VERDICT r3 #5: when the pair-count estimate throws, the fallback
    must leave an auditable event (metrics sidecar row), not degrade
    silently."""
    from registry_address_matcher_spark.operators import fuzzy as fz
    from registry_address_matcher_spark.plans.events import drain_events, drain_events_df

    drain_events()  # isolate
    def boom(*a, **k):
        raise RuntimeError("broken stats")
    monkeypatch.setattr(fz, "estimate_block_pairs", boom)
    spr = _reg(spark, [{"ADDRESS_ID": "S1", "STREET_NAME": "Ա", "HOUSE": "1", "BUILDING": ""}])
    cad = _reg(spark, [{"ADDRESS_ID": "C1", "STREET_NAME": "Ա", "HOUSE": "1", "BUILDING": ""}])
    n = fz._scoring_partitions(spr, cad)
    assert n == max(spr.sparkSession.sparkContext.defaultParallelism * 4, 8)
    rows = drain_events_df(spark, "run-t").collect()
    assert len(rows) == 1
    assert rows[0].stage == "scoring"
    assert rows[0].key.startswith("adaptive_partition_estimate_failed")
    assert drain_events_df(spark, "run-t") is None  # drained


def test_candidate_pairs_custom_columns_without_id(spark):
    """Round-5 review: a ``columns`` list omitting ADDRESS_ID (legal per
    the docstring) must not fail analysis — the probe salt falls back to
    whole-row hashing instead of referencing the absent id column."""
    from registry_address_matcher_spark.operators.fuzzy import candidate_pairs

    spr = _reg(spark, [{"ADDRESS_ID": "S1", "STREET_NAME": "ԱԲՈՎՅԱՆԻ", "HOUSE": "5", "BUILDING": ""}])
    cad = _reg(spark, [{"ADDRESS_ID": "C1", "STREET_NAME": "ԱԲՈՎՅԱՆ", "HOUSE": "5", "BUILDING": ""}])
    out = candidate_pairs(spr, cad, columns=["STREET_NORM"]).toPandas()
    assert len(out) == 1
    assert {"STREET_NORM_SPR", "STREET_NORM_CAD"} <= set(out.columns)


def _tier_registries(spark):
    """40 rows a side over a 4 x 4 street vocabulary: the driver tier by
    default (product 16)."""
    rows_spr, rows_cad = [], []
    streets = ["ԱԲՈՎՅԱՆԻ", "ԲԱՂՐԱՄՅԱՆ ՊՈՂՈՏԱ", "ՄԱՇՏՈՑԻ ՊՈՂ", "ՏԵՐՅԱՆ Փ"]
    cstreets = ["ԱԲՈՎՅԱՆ", "ԲԱՂՐԱՄՅԱՆ ՊՈՂ", "ՄԱՇՏՈՑԻ ՊՈՂՈՏԱ", "ՏԵՐՅԱՆ ՓՈՂՈՑ"]
    for i in range(40):
        rows_spr.append({"ADDRESS_ID": f"S{i}", "STREET_NAME": streets[i % 4],
                         "HOUSE": str(i % 3), "BUILDING": ""})
        rows_cad.append({"ADDRESS_ID": f"C{i}", "STREET_NAME": cstreets[i % 4],
                         "HOUSE": str(i % 3), "BUILDING": ""})
    return _reg(spark, rows_spr), _reg(spark, rows_cad)


def test_dedup_scoring_matches_direct_path(spark, monkeypatch):
    """When the street vocabulary is small, score_candidates scores each
    DISTINCT street pair once on the driver and broadcast-joins the
    scores back. That driver tier must be row-for-row identical to the
    direct Arrow-kernel tier (same scores, same counts, same top-1
    choices) for both scorers."""
    from registry_address_matcher_spark.operators import fuzzy as fz

    spr, cad = _tier_registries(spark)
    cols = ["ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "STREET_NORM_SPR", "STREET_NORM_CAD",
            "CANDIDATES_COUNT", "best_score", "best_strategy", "strategy_rank"]

    def run():
        return {
            scorer: sorted(map(tuple, fz.score_candidates(spr, cad, scorer=scorer)
                               .select(*cols).collect()))
            for scorer in ("blend4", "jw")
        }, sorted(map(tuple, fz.fuzzy_matches(spr, cad).drop("MATCH_TIMESTAMP").collect()))

    driver, m_driver = run()
    monkeypatch.setattr(fz, "_DRIVER_SCORE_MAX_PAIRS", 0)  # force the direct tier
    direct, m_direct = run()
    for scorer in ("blend4", "jw"):
        # every co-blocked pair is scored: house blocks of 14, 13 and 13 rows
        assert len(direct[scorer]) == 14 * 14 + 13 * 13 + 13 * 13
        assert driver[scorer] == direct[scorer], f"scorer={scorer}: tiers diverged"
    assert m_driver == m_direct


def test_scoring_guard_actions_per_tier(spark, monkeypatch):
    """Planning score_candidates launches exactly one guard action on the
    driver tier (the vocabulary collect) and two on the direct tier (the
    vocabulary collect plus the partition-count estimate)."""
    from registry_address_matcher_spark.operators import fuzzy as fz

    spr, cad = _tier_registries(spark)
    frame_type = type(spr)
    real_collect = frame_type.collect
    calls = []

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(frame_type, "collect", counting_collect)
    fz.score_candidates(spr, cad)
    assert len(calls) == 1
    calls.clear()
    monkeypatch.setattr(fz, "_DRIVER_SCORE_MAX_PAIRS", 0)
    fz.score_candidates(spr, cad)
    assert len(calls) == 2
