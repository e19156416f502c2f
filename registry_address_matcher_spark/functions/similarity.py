"""Batched string-similarity kernels (rapidfuzz semantics, from scratch).

The reference scores street-name pairs with rapidfuzz's ``ratio``,
``partial_ratio``, ``token_sort_ratio`` and ``token_set_ratio``
(``/root/reference/src/matching/advanced_matcher.py:380-386``), invoked
per row. rapidfuzz is not available here, and per-row Python is banned by
the target contract — so the kernels are implemented from scratch:

* the indel-ratio family is built on an **Allison–Dix bit-parallel LCS**
  (arbitrary-length bitvectors via Python ints, O(ceil(m/64)) words per
  text char) with a plain DP fallback used only for property tests;
* ``jaro_winkler`` is the standard Winkler variant (prefix weight 0.1,
  max prefix 4, boost threshold 0.7 — same parameterization as DuckDB's
  ``jaro_winkler_similarity``, which the test suite uses as an oracle);
* everything is exposed to Spark as **one Arrow-batched pandas UDF**
  returning a struct of all four scores, so a candidate pair crosses the
  JVM<->Python boundary exactly once. Per-batch memoization caches bit
  masks and token sorts for repeated strings (block joins repeat the same
  build-side street across many probe rows).

Definitions:

``ratio(a, b)        = 200 * LCS(a, b) / (len(a) + len(b))``   (indel similarity)
``partial_ratio(a,b) = max over len(short)-windows w of long: ratio(short, w)``
``token_sort_ratio   = ratio(sort_tokens(a), sort_tokens(b))``
``token_set_ratio    = max(ratio(i, i+d1), ratio(i, i+d2), ratio(i+d1, i+d2))``
    where i = sorted token intersection, d1/d2 = sorted token differences.

Scores are 0..100 floats; two empty strings score 100 for ``ratio``-family
(matching rapidfuzz), 0 when exactly one side is empty.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# core: bit-parallel LCS (Allison–Dix), arbitrary length via Python ints
# ---------------------------------------------------------------------------


def _char_masks(s: str) -> dict[str, int]:
    masks: dict[str, int] = {}
    for i, ch in enumerate(s):
        masks[ch] = masks.get(ch, 0) | (1 << i)
    return masks


def lcs_length(a: str, b: str, _mask_cache: dict[str, dict[str, int]] | None = None) -> int:
    """Length of the longest common subsequence, bit-parallel."""
    m = len(a)
    if m == 0 or len(b) == 0:
        return 0
    if _mask_cache is not None:
        masks = _mask_cache.get(a)
        if masks is None:
            masks = _char_masks(a)
            _mask_cache[a] = masks
    else:
        masks = _char_masks(a)
    full = (1 << m) - 1
    row = full  # all ones; zeros will mark LCS contributions
    for ch in b:
        x = row & masks.get(ch, 0)
        if x:
            row = ((row + x) | (row - x)) & full
    # LCS = number of zero bits within the m-bit window
    return m - bin(row).count("1")


def lcs_length_dp(a: str, b: str) -> int:
    """Reference DP implementation — used only by tests as an oracle."""
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[j - 1]))
        prev = cur
    return prev[-1]


def indel_ratio(a: str, b: str, _mask_cache=None) -> float:
    """rapidfuzz ``fuzz.ratio`` semantics: normalized indel similarity."""
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    return 200.0 * lcs_length(a, b, _mask_cache) / total


def partial_ratio(a: str, b: str, _mask_cache=None) -> float:
    """Best sliding-window indel ratio of the shorter against the longer.

    Exhaustive over windows, but each window is first screened by a
    sliding character-MULTISET overlap (O(1) per shift): the overlap is
    an upper bound on LCS, so any window whose bound can't beat the best
    LCS so far is skipped without running the bit-parallel kernel —
    identical results, typically 2-5x fewer LCS computations."""
    if len(a) > len(b):
        a, b = b, a
    m, n = len(a), len(b)
    if m == 0:
        return 100.0 if n == 0 else 0.0
    if a in b:
        return 100.0
    if n - m < 8:
        # few windows (similar-length pair, the street-name hot case):
        # the screening bookkeeping costs more than it saves
        best = 0.0
        for i in range(n - m + 1):
            r = indel_ratio(a, b[i : i + m], _mask_cache)
            if r > best:
                best = r
                if best >= 100.0:
                    break
        return best
    cnt_a: dict[str, int] = {}
    for ch in a:
        cnt_a[ch] = cnt_a.get(ch, 0) + 1
    win: dict[str, int] = {}
    for ch in b[:m]:
        win[ch] = win.get(ch, 0) + 1
    ov = sum(min(c, win.get(ch, 0)) for ch, c in cnt_a.items())
    best_lcs = 0
    for i in range(n - m + 1):
        if i > 0:
            out_ch = b[i - 1]
            in_ch = b[i + m - 1]
            if out_ch != in_ch:
                if win[out_ch] <= cnt_a.get(out_ch, 0):
                    ov -= 1  # a matched occurrence leaves the window
                win[out_ch] -= 1
                win[in_ch] = win.get(in_ch, 0) + 1
                if win[in_ch] <= cnt_a.get(in_ch, 0):
                    ov += 1  # the new char pairs with an unmatched a-char
        if ov > best_lcs:
            l = lcs_length(a, b[i : i + m], _mask_cache)
            if l > best_lcs:
                best_lcs = l
                if l == m:
                    break
    return 100.0 * best_lcs / m


def _token_sort(s: str) -> str:
    return " ".join(sorted(s.split()))


def token_sort_ratio(a: str, b: str, _mask_cache=None) -> float:
    return indel_ratio(_token_sort(a), _token_sort(b), _mask_cache)


def token_set_ratio(a: str, b: str, _mask_cache=None) -> float:
    ta, tb = set(a.split()), set(b.split())
    if not ta and not tb:
        return 100.0
    inter = " ".join(sorted(ta & tb))
    d1 = " ".join(sorted(ta - tb))
    d2 = " ".join(sorted(tb - ta))
    s1 = (inter + " " + d1).strip()
    s2 = (inter + " " + d2).strip()
    best = indel_ratio(s1, s2, _mask_cache)
    if inter:
        # intersection vs either combined string — rapidfuzz's shortcut:
        # any shared-token core pushes the score toward 100
        best = max(
            best,
            indel_ratio(inter, s1, _mask_cache),
            indel_ratio(inter, s2, _mask_cache),
        )
    return best


def jaro_similarity(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    # empty-side convention follows DuckDB's jaro_winkler_similarity (0.0
    # even for two empties); empty strings never reach the scoring path —
    # blocking filters them — so this is only an oracle-compat choice
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ca:
                match_a[i] = True
                match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[j]:
                j += 1
            if a[i] != b[j]:
                transpositions += 1
            j += 1
    # integer halving, matching rapidfuzz/DuckDB (classic Jaro would keep
    # the fractional half; rapidfuzz floors it)
    t = transpositions // 2
    return (matches / la + matches / lb + (matches - t) / matches) / 3.0


def jaro_winkler_similarity(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Standard Winkler boost: threshold 0.7, prefix cap 4 (DuckDB-compatible)."""
    sim = jaro_similarity(a, b)
    if sim > 0.7:
        prefix = 0
        for ca, cb in zip(a[:4], b[:4]):
            if ca != cb:
                break
            prefix += 1
        sim += prefix * prefix_weight * (1.0 - sim)
    return sim


# strategy registry: name -> kernel. ORDER MATTERS — it is the reference's
# tie-break precedence (advanced_matcher.py:380-397: strict `>` comparison
# means an equal later score never displaces an earlier strategy).
STRATEGY_KERNELS = {
    "token_sort_ratio": token_sort_ratio,
    "token_set_ratio": token_set_ratio,
    "partial_ratio": partial_ratio,
    "ratio": indel_ratio,
}

# explicit StructType (a DDL string would need an active SparkSession to
# parse at import time)
FUZZY_STRUCT_SCHEMA = T.StructType(
    [
        T.StructField("token_sort_ratio", T.DoubleType()),
        T.StructField("token_set_ratio", T.DoubleType()),
        T.StructField("partial_ratio", T.DoubleType()),
        T.StructField("ratio", T.DoubleType()),
    ]
)


#: per-task memo bound — caches reset when a task has seen this many
#: distinct pairs, so an adversarial all-unique input is bounded at
#: ~hundreds of MB of worker memory instead of growing with partition size
_PAIR_CACHE_MAX = 2_000_000


def blend4_scores(a: str, b: str, mask_cache: dict | None = None) -> tuple[float, float, float, float]:
    """One (token_sort, token_set, partial, ratio) tuple for a single
    pair — the exact per-pair math of :func:`fuzzy_scores`, shared so the
    vectorized kernel and the driver-side vocabulary scorer
    (operators.fuzzy.score_candidates's driver tier) cannot drift."""
    if a == b:
        return (100.0, 100.0, 100.0, 100.0)
    if " " not in a and " " not in b:
        # single-token pair: token_sort == token_set == ratio by
        # definition (sorting one token is identity; the set intersection
        # is empty for a != b, so both token scores reduce to indel(a, b))
        r_ratio = indel_ratio(a, b, mask_cache)
        return (r_ratio, r_ratio, partial_ratio(a, b, mask_cache), r_ratio)
    r_sort = indel_ratio(_token_sort(a), _token_sort(b), mask_cache)
    ta, tb = set(a.split()), set(b.split())
    if not ta and not tb:
        r_set = 100.0
    else:
        inter = " ".join(sorted(ta & tb))
        s1 = (inter + " " + " ".join(sorted(ta - tb))).strip()
        s2 = (inter + " " + " ".join(sorted(tb - ta))).strip()
        r_set = indel_ratio(s1, s2, mask_cache)
        if inter:
            r_set = max(
                r_set,
                indel_ratio(inter, s1, mask_cache),
                indel_ratio(inter, s2, mask_cache),
            )
    return (r_sort, r_set, partial_ratio(a, b, mask_cache), indel_ratio(a, b, mask_cache))


@pandas_udf(FUZZY_STRUCT_SCHEMA)
def fuzzy_scores(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
    """All four scorers in one Arrow pass, iterator form (guide §4.5).

    One JVM<->Python crossing per candidate pair. The bit-mask,
    token-sort and per-pair score memos are TASK-scoped (constructed once
    before the batch loop), not batch-scoped: block joins repeat the same
    street pair across many probe rows and across Arrow batches — on
    part-derived registries a 320k-pair partition carries only a few
    thousand distinct pairs, so a per-batch cache recomputed every 10k
    rows paid the full kernel ~70x more often than needed. The memo is a
    per-task compute cache inside one query execution; nothing outlives
    the task.
    """
    mask_cache: dict[str, dict[str, int]] = {}
    pair_cache: dict[tuple[str, str], tuple[float, float, float, float]] = {}

    perfect = (100.0, 100.0, 100.0, 100.0)
    for left, right in batches:
        if len(pair_cache) > _PAIR_CACHE_MAX:
            pair_cache.clear()
            mask_cache.clear()
        n = len(left)
        out_sort = [0.0] * n
        out_set = [0.0] * n
        out_partial = [0.0] * n
        out_ratio = [0.0] * n
        lv = left.fillna("").tolist()
        rv = right.fillna("").tolist()
        for i in range(n):
            a, b = lv[i], rv[i]
            if a == b:
                # exact-equal fast path: all four scorers are 100 by definition
                out_sort[i], out_set[i], out_partial[i], out_ratio[i] = perfect
                continue
            key = (a, b)
            hit = pair_cache.get(key)
            if hit is None:
                hit = blend4_scores(a, b, mask_cache)
                pair_cache[key] = hit
            out_sort[i], out_set[i], out_partial[i], out_ratio[i] = hit
        yield pd.DataFrame(
            {
                "token_sort_ratio": out_sort,
                "token_set_ratio": out_set,
                "partial_ratio": out_partial,
                "ratio": out_ratio,
            }
        )


@pandas_udf(T.DoubleType())
def jaro_winkler_udf(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """Batched Jaro-Winkler similarity in [0,1] (north-rule scorer).
    Iterator form: the pair memo spans every Arrow batch of the task
    (see fuzzy_scores), bounded by _PAIR_CACHE_MAX."""
    cache: dict[tuple[str, str], float] = {}
    for left, right in batches:
        if len(cache) > _PAIR_CACHE_MAX:
            cache.clear()
        lv = left.fillna("").tolist()
        rv = right.fillna("").tolist()
        out = [0.0] * len(lv)
        for i, (a, b) in enumerate(zip(lv, rv)):
            key = (a, b)
            v = cache.get(key)
            if v is None:
                v = jaro_winkler_similarity(a, b)
                cache[key] = v
            out[i] = v
        yield pd.Series(out)


def best_of_strategies(struct_col_name: str = "scores"):
    """Native (JVM-side) selection of the best strategy with the reference's
    tie-break: strict ``>`` comparison in strategy-list order — the earliest
    strategy wins ties (advanced_matcher.py:388-397).

    Returns (best_score Column, best_strategy Column, strategy_rank Column).
    """
    names = list(STRATEGY_KERNELS)
    cols = [F.col(f"{struct_col_name}.{s}") for s in names]
    best_score = F.greatest(*cols)
    # first strategy (in precedence order) whose score equals the max
    strategy = F.when(cols[0] == best_score, F.lit(names[0]))
    rank = F.when(cols[0] == best_score, F.lit(0))
    for i in range(1, len(names)):
        strategy = strategy.when(cols[i] == best_score, F.lit(names[i]))
        rank = rank.when(cols[i] == best_score, F.lit(i))
    return best_score, strategy, rank
