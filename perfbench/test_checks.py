"""Each output check passes on a consistent fixture and fails on a planted
fault. Pure pandas, no Spark:

    python3 -m pytest -p no:cacheprovider perfbench/test_checks.py
"""

import copy

import pandas as pd
import pytest

import checks

TSR = 200.0 * 8 / 18  # "PINE RAOD" vs "PINE ROAD": LCS 8 of 9 + 9 letters


def frame(rows, cols):
    return pd.DataFrame(rows, columns=cols)


def fixture():
    key = ["ADDRESS_ID", "STREET_NORM", "HOUSE_NORM", "BUILDING_NORM", "FULL_ADDRESS"]
    cad = frame([
        ("C1", "MAIN STREET", "1", "", "MAIN STREET 1"),
        ("C2", "MAIN STREET", "2", "", "MAIN STREET 2"),
        ("C3", "OAK AVENUE", "2", "", "OAK AVENUE 2"),
        ("C4", "PINE ROAD", "3", "1", "PINE ROAD 3 1"),
    ], key)
    spr = frame([
        ("S1", "MAIN STREET", "1", "", "MAIN STREET 1"),
        ("S2", "STREET MAIN", "2", "", "STREET MAIN 2"),
        ("S3", "PINE RAOD", "3", "1", "PINE RAOD 3 1"),
        ("S4", "ELM LANE", "9", "", "ELM LANE 9"),
    ], key)
    matches = frame([
        ("S1", "C1", 100.0, "EXACT_FULL"),
        ("S2", "C2", 100.0, "FUZZY_STREET_TOKEN_SORT_RATIO"),
        ("S3", "C4", TSR, "FUZZY_STREET_TOKEN_SORT_RATIO"),
    ], ["ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "MATCH_SCORE", "MATCH_TYPE"])
    unmatched = frame([("S4",)], ["ADDRESS_ID"])
    clusters = frame([
        ("S:S1", "C:C1"), ("C:C1", "C:C1"), ("S:S2", "C:C2"), ("C:C2", "C:C2"),
        ("S:S3", "C:C4"), ("C:C4", "C:C4"),
    ], ["node", "component"])
    return {"spr": spr, "cad": cad, "matches": matches, "unmatched": unmatched,
            "truth": {"S1": "C1"}, "clusters": clusters}


def run(f):
    return checks.batch(f["spr"], f["cad"], f["matches"], f["unmatched"], f["truth"],
                        clusters=f["clusters"], sample_seed=1, sample_size=10)


def test_consistent_fixture_passes():
    assert run(fixture()) == []


def test_scorers_match_definitions():
    assert checks.ratio("PINE RAOD", "PINE ROAD") == TSR
    assert checks.token_sort_ratio("STREET MAIN", "MAIN STREET") == 100.0
    assert checks.ratio("", "") == 100.0 and checks.ratio("A", "") == 0.0


def _matches(f, rows):
    f["matches"] = pd.concat([f["matches"], frame(rows, f["matches"].columns)],
                             ignore_index=True)


def plant_duplicated_probe(f):
    _matches(f, [("S2", "C3", 90.0, "FUZZY_STREET_RATIO")])


def plant_score_84(f):
    f["matches"].loc[2, "MATCH_SCORE"] = 84.0


def plant_other_block(f):
    f["matches"].loc[1, "ADDRESS_ID_CAD"] = "C4"


def plant_split_component(f):
    f["clusters"].loc[0, "component"] = "S:S1"


def plant_dropped_probe(f):
    f["unmatched"] = f["unmatched"].iloc[0:0]


def plant_exact_score(f):
    f["matches"].loc[0, "MATCH_SCORE"] = 99.0


def plant_wrong_verbatim_partner(f):
    f["matches"].loc[0, "ADDRESS_ID_CAD"] = "C2"


def plant_missed_fuzzy(f):
    f["matches"] = f["matches"].iloc[:2]
    f["unmatched"] = frame([("S3",), ("S4",)], ["ADDRESS_ID"])
    f["clusters"] = f["clusters"].iloc[:4]


def plant_understated_score(f):
    f["matches"].loc[1, "MATCH_SCORE"] = 90.0


@pytest.mark.parametrize("plant, check", [
    (plant_duplicated_probe, "fuzzy_unique_probe"),
    (plant_score_84, "fuzzy_score_range"),
    (plant_other_block, "fuzzy_same_block"),
    (plant_split_component, "components"),
    (plant_dropped_probe, "conservation"),
    (plant_exact_score, "exact_scores"),
    (plant_wrong_verbatim_partner, "verbatim"),
    (plant_missed_fuzzy, "remainder_sample"),
    (plant_understated_score, "fuzzy_score_agrees"),
])
def test_planted_fault_fails(plant, check):
    f = copy.deepcopy(fixture())
    plant(f)
    errors = run(f)
    assert any(e.startswith(check + ":") for e in errors), errors


def test_exact_full_count_fails_on_lost_exact_row():
    f = fixture()
    f["matches"].loc[0, "MATCH_TYPE"] = "EXACT_KEY"
    assert any(e.startswith("exact_full_count:") for e in run(f))
