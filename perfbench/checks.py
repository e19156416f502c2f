"""Output checks computed apart from the program.

Every function takes plain pandas frames read back from the program's
outputs plus the preprocessed key columns, and returns a list of failure
messages (empty when the check holds). The scorers here are a plain
dynamic-programming LCS, written independently of the program's
bit-parallel kernels; union-find stands in for the program's
connected-components loop.

Frames:

* ``spr``/``cad`` - preprocessed rows: ``ADDRESS_ID``, ``STREET_NORM``,
  ``HOUSE_NORM``, ``BUILDING_NORM``, ``FULL_ADDRESS``;
* ``matches`` - ``ADDRESS_ID_SPR``, ``ADDRESS_ID_CAD``, ``MATCH_SCORE``,
  ``MATCH_TYPE``;
* ``unmatched`` - ``ADDRESS_ID``;
* ``clusters`` - ``node``, ``component``.
"""

from __future__ import annotations

import random

import pandas as pd

THRESHOLD = 85.0
_EPS = 1e-9


def lcs(a: str, b: str) -> int:
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[-1]))
        prev = cur
    return prev[-1]


def ratio(a: str, b: str) -> float:
    """Indel similarity: 200 * LCS / (|a| + |b|)."""
    total = len(a) + len(b)
    return 100.0 if total == 0 else 200.0 * lcs(a, b) / total


def token_sort_ratio(a: str, b: str) -> float:
    return ratio(" ".join(sorted(a.split())), " ".join(sorted(b.split())))


def _fail(name: str, bad, total: int, show) -> list[str]:
    n = len(bad)
    return [f"{name}: {n} of {total} rows, e.g. {show}"] if n else []


def conservation(spr: pd.DataFrame, matches: pd.DataFrame, unmatched: pd.DataFrame) -> list[str]:
    """Matched and unmatched probe ids are disjoint and cover the probe."""
    ids = set(spr["ADDRESS_ID"])
    got = set(matches["ADDRESS_ID_SPR"])
    un = set(unmatched["ADDRESS_ID"])
    out = []
    if got & un:
        out.append(f"conservation: {len(got & un)} ids both matched and unmatched")
    if got | un != ids:
        missing = ids - got - un
        extra = (got | un) - ids
        out.append(f"conservation: {len(missing)} probe ids lost, {len(extra)} foreign ids")
    return out


def exact_full_count(spr: pd.DataFrame, cad: pd.DataFrame, matches: pd.DataFrame) -> list[str]:
    """EXACT_FULL rows = probe rows whose FULL_ADDRESS occurs in the cadastre."""
    want = int(spr["FULL_ADDRESS"].isin(set(cad["FULL_ADDRESS"])).sum())
    got = int((matches["MATCH_TYPE"] == "EXACT_FULL").sum())
    return [] if got == want else [f"exact_full_count: {got} EXACT_FULL rows, expected {want}"]


def exact_scores(matches: pd.DataFrame) -> list[str]:
    ex = matches[matches["MATCH_TYPE"].str.startswith("EXACT_")]
    bad = ex[ex["MATCH_SCORE"] != 100.0]
    return _fail("exact_scores", bad, len(ex), bad.head(3).to_dict("records"))


def verbatim(matches: pd.DataFrame, truth: dict[str, str]) -> list[str]:
    """Each verbatim probe copy is matched to its source with score 100."""
    hits = set(
        zip(matches["ADDRESS_ID_SPR"], matches["ADDRESS_ID_CAD"], matches["MATCH_SCORE"])
    )
    bad = [s for s, c in truth.items() if (s, c, 100.0) not in hits]
    return _fail("verbatim", bad, len(truth), bad[:3])


def _keyed(df: pd.DataFrame, side: str) -> pd.DataFrame:
    cols = ["ADDRESS_ID", "STREET_NORM", "HOUSE_NORM", "BUILDING_NORM"]
    return df[cols].rename(columns={c: f"{c}_{side}" for c in cols})


def fuzzy_rows(spr: pd.DataFrame, cad: pd.DataFrame, matches: pd.DataFrame) -> list[str]:
    """Fuzzy rows: one per probe id, none for an exactly matched id, same
    block on both sides, score in [85, 100], and the score agrees with
    the independent ``ratio``/``token_sort_ratio``: at least both, equal
    to the one ``MATCH_TYPE`` names."""
    is_fz = matches["MATCH_TYPE"].str.startswith("FUZZY_")
    fz = matches[is_fz]
    out = []
    dup = fz[fz["ADDRESS_ID_SPR"].duplicated()]
    out += _fail("fuzzy_unique_probe", dup, len(fz), dup["ADDRESS_ID_SPR"].head(3).tolist())
    both = set(fz["ADDRESS_ID_SPR"]) & set(matches.loc[~is_fz, "ADDRESS_ID_SPR"])
    out += _fail("fuzzy_not_exact", sorted(both), len(fz), sorted(both)[:3])
    j = fz.merge(_keyed(spr, "SPR"), on="ADDRESS_ID_SPR", how="left").merge(
        _keyed(cad, "CAD"), on="ADDRESS_ID_CAD", how="left"
    )
    block = (j["HOUSE_NORM_SPR"] == j["HOUSE_NORM_CAD"]) & (
        j["BUILDING_NORM_SPR"] == j["BUILDING_NORM_CAD"]
    )
    bad = j[~block]
    out += _fail("fuzzy_same_block", bad, len(j), bad["ADDRESS_ID_SPR"].head(3).tolist())
    rng = j[(j["MATCH_SCORE"] < THRESHOLD) | (j["MATCH_SCORE"] > 100.0)]
    out += _fail("fuzzy_score_range", rng, len(j), rng["MATCH_SCORE"].head(3).tolist())
    bad = []
    for a, b, score, kind in zip(
        j["STREET_NORM_SPR"], j["STREET_NORM_CAD"], j["MATCH_SCORE"], j["MATCH_TYPE"]
    ):
        if not isinstance(a, str) or not isinstance(b, str):
            continue  # reported by fuzzy_same_block
        r, ts = ratio(a, b), token_sort_ratio(a, b)
        named = {"FUZZY_STREET_RATIO": r, "FUZZY_STREET_TOKEN_SORT_RATIO": ts}.get(kind)
        if score < max(r, ts) - _EPS or (named is not None and abs(score - named) > _EPS):
            bad.append((a, b, score, kind, r, ts))
    out += _fail("fuzzy_score_agrees", bad, len(j), bad[:2])
    return out


def remainder_sample(spr: pd.DataFrame, cad: pd.DataFrame, matches: pd.DataFrame,
                     seed: int, size: int) -> list[str]:
    """On a seeded sample of probe rows without an exact match: where the
    independent best of ``ratio``/``token_sort_ratio`` over the row's
    block reaches the threshold, the row is fuzzy-matched with at least
    that score."""
    exact_ids = set(matches.loc[matches["MATCH_TYPE"].str.startswith("EXACT_"), "ADDRESS_ID_SPR"])
    fz = matches[matches["MATCH_TYPE"].str.startswith("FUZZY_")]
    fz_score = dict(zip(fz["ADDRESS_ID_SPR"], fz["MATCH_SCORE"]))
    rem = spr[~spr["ADDRESS_ID"].isin(exact_ids) & (spr["HOUSE_NORM"] != "")
              & (spr["STREET_NORM"] != "")]
    rows = list(zip(rem["ADDRESS_ID"], rem["STREET_NORM"], rem["HOUSE_NORM"], rem["BUILDING_NORM"]))
    rows = random.Random(seed).sample(rows, min(size, len(rows)))
    blocks: dict[tuple[str, str], list[str]] = {}
    c = cad[(cad["HOUSE_NORM"] != "") & (cad["STREET_NORM"] != "")]
    for st, h, b in zip(c["STREET_NORM"], c["HOUSE_NORM"], c["BUILDING_NORM"]):
        blocks.setdefault((h, b), []).append(st)
    bad = []
    for sid, st, h, b in rows:
        best = max(
            (max(ratio(st, x), token_sort_ratio(st, x)) for x in set(blocks.get((h, b), ()))),
            default=0.0,
        )
        if best >= THRESHOLD and fz_score.get(sid, -1.0) < best - _EPS:
            bad.append((sid, best, fz_score.get(sid)))
    return _fail("remainder_sample", bad, len(rows), bad[:3])


def components(matches: pd.DataFrame, clusters: pd.DataFrame) -> list[str]:
    """Union-find over the match edges gives the program's components,
    each labelled by its minimum node."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, c in zip(matches["ADDRESS_ID_SPR"], matches["ADDRESS_ID_CAD"]):
        a, b = find("S:" + s), find("C:" + c)
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = {x: find(x) for x in parent}
    got = dict(zip(clusters["node"], clusters["component"]))
    out = []
    if len(got) != len(clusters):
        out.append(f"components: {len(clusters) - len(got)} nodes listed twice")
    diff = [x for x in want.keys() | got.keys() if want.get(x) != got.get(x)]
    out += _fail("components", diff, len(want), [(x, want.get(x), got.get(x)) for x in diff[:3]])
    return out


def batch(spr, cad, matches, unmatched, truth, clusters=None, sample_seed=0,
          sample_size=0) -> list[str]:
    """Every check that applies to one matching call's output."""
    out = conservation(spr, matches, unmatched)
    out += exact_full_count(spr, cad, matches)
    out += exact_scores(matches)
    out += verbatim(matches, truth)
    out += fuzzy_rows(spr, cad, matches)
    if sample_size:
        out += remainder_sample(spr, cad, matches, sample_seed, sample_size)
    if clusters is not None:
        out += components(matches, clusters)
    return out
