"""Fuzzy matching phase (reference J4+J5) — block join, batched scoring,
deterministic top-1.

Reference semantics (``advanced_matcher.py:343-409``):

* candidates = CAD rows with EXACT ``HOUSE_NORM`` **and** ``BUILDING_NORM``
  equality (house index probe :347 + building filter :350-355); CAD rows
  with empty ``HOUSE_NORM`` are never indexed (:43-45), SPR rows with
  empty street bail (:377-378), empty-street candidates are dropped from
  scoring but still counted in CANDIDATES_COUNT (:365-372 vs :406);
* 4 scorers on the street pair; per strategy take the best candidate; the
  best strategy wins with strict ``>`` — earlier strategy wins ties
  (:388-397);
* accept iff best score >= threshold (default 85).

Spark realization: one equi-join on (HOUSE_NORM, BUILDING_NORM) — salted
when skewed — then ONE Arrow-batched pandas UDF computing all 4 scores per
pair, then a native window top-1 with the tie-break encoded as an explicit
ORDER BY (score desc, strategy precedence asc, cad id asc). Never relies
on row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import MatchConfig, ScaleConfig
from ..functions.similarity import (
    best_of_strategies,
    blend4_scores,
    fuzzy_scores,
    jaro_winkler_similarity,
    jaro_winkler_udf,
)
from .blocking import salted_join
from .exact import as_match_records

_PAIR_COLS = ["ADDRESS_ID", "STREET_NAME", "HOUSE", "BUILDING",
              "FULL_ADDRESS", "COMPLETENESS_SCORE", "STREET_NORM"]
#: what the scoring stage actually needs per side — everything else is
#: joined back AFTER top-1 (the match set is <= |probe|, tiny next to the
#: candidate-pair set, so the wide columns never ride the scoring shuffle)
_SLIM_COLS = ["ADDRESS_ID", "STREET_NORM"]
_ATTR_COLS = ["STREET_NAME", "HOUSE", "BUILDING", "FULL_ADDRESS", "COMPLETENESS_SCORE"]


def candidate_pairs(
    spr: DataFrame,
    cad: DataFrame,
    scale: ScaleConfig | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """J4 — block join on (HOUSE_NORM, BUILDING_NORM) with skew salting.

    Keeps empty-street CAD candidates at this stage: the reference counts
    them in CANDIDATES_COUNT even though it never scores them.
    ``columns`` selects which per-side columns ride the join (default:
    the full pair schema; the scoring path passes the slim id+street set).
    """
    scale = scale or ScaleConfig()
    cols = columns or _PAIR_COLS
    keys = ["HOUSE_NORM", "BUILDING_NORM"]
    probe = spr.filter(F.col("HOUSE_NORM") != "").select(*keys, *[
        F.col(c).alias(f"{c}_SPR") for c in cols
    ])
    build = cad.filter(F.col("HOUSE_NORM") != "").select(*keys, *[
        F.col(c).alias(f"{c}_CAD") for c in cols
    ])
    # salt on the probe id explicitly: within a hot block a payload-
    # duplicate-heavy probe would otherwise collapse onto one salt.
    # Custom column sets without the id fall back to whole-row salting
    # (salted_join's default) rather than failing analysis.
    salt_cols = ["ADDRESS_ID_SPR"] if "ADDRESS_ID" in cols else None
    return salted_join(probe, build, keys, scale, probe_salt_cols=salt_cols)


def _attach_side_attrs(matched: DataFrame, spr: DataFrame, cad: DataFrame) -> DataFrame:
    """Re-attach the non-scoring columns to an id-keyed match table.
    ADDRESS_ID is unique per registry — two no-fanout hash joins whose
    left side is the (small) match set, not the candidate-pair set."""
    spr_attrs = spr.select(
        F.col("ADDRESS_ID").alias("ADDRESS_ID_SPR"),
        *[F.col(c).alias(f"{c}_SPR") for c in _ATTR_COLS],
    )
    cad_attrs = cad.select(
        F.col("ADDRESS_ID").alias("ADDRESS_ID_CAD"),
        *[F.col(c).alias(f"{c}_CAD") for c in _ATTR_COLS],
    )
    return matched.join(spr_attrs, "ADDRESS_ID_SPR").join(cad_attrs, "ADDRESS_ID_CAD")


def estimate_block_pairs(spr: DataFrame, cad: DataFrame, keys: list[str]) -> int:
    """Expected candidate-pair count = sum over blocks of |probe| x |build|.
    Aggregates per-key COUNTS (tiny next to the data) and joins them — one
    small action, no pair materialization."""
    pa = (
        spr.filter(F.col("HOUSE_NORM") != "")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__np"))
    )
    pb = (
        cad.filter(F.col("HOUSE_NORM") != "")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    row = (
        pa.join(pb, keys)
        .agg(F.sum(F.col("__np") * F.col("__nb")).alias("pairs"))
        .collect()[0]
    )
    return int(row["pairs"] or 0)


#: target candidate pairs per direct-tier scoring partition: the measured
#: sweet spot for the 4-scorer kernel (10.2M-pair job, 8 cores: 32
#: partitions 33.1 s vs 48 partitions 35.2 s vs 41 partitions 45.3 s —
#: bigger batches amortize the Arrow crossing and pair-cache better)
_PAIRS_PER_PARTITION = 320_000


def _scoring_partitions(spr: DataFrame, cad: DataFrame) -> int:
    """Partition count for the CPU-bound Arrow scoring stage.

    ceil(pairs / _PAIRS_PER_PARTITION) rounded up to a whole number of
    scheduling waves, from a cheap block-key-count estimate (~1-2 s at
    600k probe rows, exact — it is the same sum-of-products the join
    performs). Keeping the PARTITION SIZE constant across cluster sizes
    is what makes throughput scale with cores — a cores-derived count
    changes the Arrow batch size under the measurement (round-2
    regression: 4 x cores gave 128 undersized partitions at 32 cores and
    3.14 s -> 4.61 s on the identical sf0.1 input); wave rounding avoids
    a ragged last wave (see partitioning.cpu_stage_partitions). Fallback
    when the estimate fails: 4 x cores.
    """
    from ..partitioning import cpu_stage_partitions

    cores = spr.sparkSession.sparkContext.defaultParallelism
    try:
        est = estimate_block_pairs(spr, cad, ["HOUSE_NORM", "BUILDING_NORM"])
        return cpu_stage_partitions(est, _PAIRS_PER_PARTITION, cores)
    except Exception as exc:  # estimate is an optimization, never a failure mode
        # ...but a silently non-adaptive run must be visible
        # (VERDICT r3 #5): record to the metrics sidecar + WARN log
        from ..plans.events import record_event

        record_event(
            "scoring", "adaptive_partition_estimate_failed",
            f"{type(exc).__name__}; fell back to 4 x cores",
        )
    return max(cores * 4, 8)


#: vocabulary-product ceiling for the DRIVER scoring tier: at or below it
#: the cross of the two street vocabularies is scored in-process (~11k
#: pairs take ~0.5 s on one core) and broadcast back as a LocalTableScan,
#: so the candidate-pair set never crosses into Python. Above it the
#: Arrow kernel scores every candidate pair (the direct tier).
_DRIVER_SCORE_MAX_PAIRS = 50_000
#: row cap of the guard's vocabulary collect — a few MB worst case
_VOCAB_ROW_CAP = 20_000


def _driver_vocab(spr: DataFrame, cad: DataFrame) -> tuple[list[str], list[str]] | None:
    """The scoring tier's one guard action: collect the distinct
    side-tagged street vocabulary, at most _VOCAB_ROW_CAP + 1 rows.

    Returns the sorted (probe, build) street lists when their product is
    at most _DRIVER_SCORE_MAX_PAIRS (driver tier), else None (direct
    tier). An overflowing collect means direct; so does a failed one,
    recorded as an event."""
    def streets(df: DataFrame, side: int) -> DataFrame:
        return df.filter(
            (F.col("HOUSE_NORM") != "") & (F.col("STREET_NORM") != "")
        ).select(F.lit(side).alias("__side"), "STREET_NORM")

    try:
        vocab = (
            streets(spr, 0).unionAll(streets(cad, 1))
            .distinct().limit(_VOCAB_ROW_CAP + 1).collect()
        )
    except Exception as exc:
        from ..plans.events import record_event

        record_event(
            "scoring", "dedup_estimate_failed",
            f"{type(exc).__name__}; scoring pairs directly",
        )
        return None
    if len(vocab) > _VOCAB_ROW_CAP:
        return None
    va = sorted(r["STREET_NORM"] for r in vocab if r["__side"] == 0)
    vb = sorted(r["STREET_NORM"] for r in vocab if r["__side"] == 1)
    return (va, vb) if len(va) * len(vb) <= _DRIVER_SCORE_MAX_PAIRS else None


def _jw_best(raw: str):
    """jw finish: scaled to 0-100 and rounded to 4 decimals in Spark, so
    an external engine with a native jaro_winkler reproduces every value."""
    return F.round(100.0 * F.col(raw), 4), F.lit("jw"), F.lit(0)


def _scorer(name: str):
    """Everything the two scorers differ in, chosen once:
    (Arrow UDF of the direct tier, per-pair kernel of the driver tier,
    SQL type of the raw score both tiers yield, finish mapping the raw
    column name to (best_score, best_strategy, strategy_rank)).
    Each UDF wraps its kernel, so both tiers give identical floats."""
    if name == "jw":
        return jaro_winkler_udf, jaro_winkler_similarity, "double", _jw_best
    mask_cache: dict = {}
    return (
        fuzzy_scores,
        lambda a, b: blend4_scores(a, b, mask_cache),
        "struct<token_sort_ratio:double,token_set_ratio:double,"
        "partial_ratio:double,ratio:double>",
        best_of_strategies,
    )


def _attach_pair_scores(to_score: DataFrame, uniq_scored: DataFrame) -> DataFrame:
    """Broadcast the per-distinct-pair score table back onto the pair
    set. Inner equi-join on the two street columns: every scoring row's
    street pair is present in the vocabulary cross by construction, and
    the cross is distinct, so the join neither drops nor duplicates
    rows."""
    return to_score.join(
        F.broadcast(uniq_scored),
        (F.col("STREET_NORM_SPR") == F.col("__street_spr"))
        & (F.col("STREET_NORM_CAD") == F.col("__street_cad")),
    ).drop("__street_spr", "__street_cad")


def _scoring_set(pairs: DataFrame) -> DataFrame:
    """CANDIDATES_COUNT, then the pairs that get scored.

    CANDIDATES_COUNT counts ALL house+building candidates per SPR row,
    including empty-street ones (advanced_matcher.py:406 uses
    len(exact_candidates) from :350-355, before the street filter); the
    scoring set drops empty streets on both sides (:365-372, :377-378)."""
    w_cnt = Window.partitionBy("ADDRESS_ID_SPR")
    return pairs.withColumn("CANDIDATES_COUNT", F.count(F.lit(1)).over(w_cnt)).filter(
        (F.col("STREET_NORM_SPR") != "") & (F.col("STREET_NORM_CAD") != "")
    )


def score_candidates(
    spr: DataFrame,
    cad: DataFrame,
    scale: ScaleConfig | None = None,
    scorer: str = "blend4",
) -> DataFrame:
    """J4 + the scoring half of J5: blocked candidate pairs with the
    per-pair best (score, strategy, rank) attached.

    scorer="blend4" (default, reference-faithful): ONE Arrow pass
    computing all four rapidfuzz-semantics scorers, best-of per pair.
    scorer="jw": single Jaro-Winkler kernel scaled to 0-100 and rounded
    to 4 decimals — same operator graph, but every value (and therefore
    the top-1 choice) is reproducible by an external SQL engine with a
    native jaro_winkler (the driver's DuckDB oracle); the blend4 kernels
    stay oracle-checked in pytest (DuckDB JW / DP-LCS property tests).

    Two tiers, picked by one bounded guard action (_driver_vocab): a
    small street vocabulary is scored once per distinct pair on the
    driver and joined back (guide §8: decide on the lightweight proxy,
    attach back to the heavy rows); otherwise the Arrow kernel scores
    every pair. Both yield the same raw score column.

    Output is SLIM — (ids, streets, count, best_*) only; fuzzy_matches /
    fuzzy_topk join the report columns back after top-1. At scale the
    candidate-pair set is orders of magnitude larger than the match set,
    so wide columns must not ride the scoring shuffle.

    Shared by fuzzy_matches / fuzzy_topk / the bench scaling job so the
    block join is planned exactly once per caller."""
    scale = scale or ScaleConfig()
    udf, kernel, raw_type, finish = _scorer(scorer)
    pairs = candidate_pairs(spr, cad, scale, columns=_SLIM_COLS)
    vocab = _driver_vocab(spr, cad)
    if vocab is None:
        # explicit repartition before the Arrow kernel: AQE sizes partitions
        # by COMPRESSED shuffle bytes, and candidate pairs compress extremely
        # well (repeated block strings) — left alone, the CPU-bound Python
        # stage collapses onto 1-2 partitions and runs serially. A
        # user-specified partition count is exempt from AQE coalescing.
        # Placed BEFORE the CANDIDATES_COUNT window: hash partitioning on
        # ADDRESS_ID_SPR at any partition count satisfies the window's
        # clustering requirement, so the window costs one local sort instead
        # of its own full exchange of the candidate-pair set (guide §2.4).
        # (equal-string pairs short-circuit INSIDE the kernel — a JVM-side
        # filter+union split would recompute the block join once per branch)
        pairs = pairs.repartition(_scoring_partitions(spr, cad), "ADDRESS_ID_SPR")
        scored = _scoring_set(pairs).withColumn(
            "__raw", udf(F.col("STREET_NORM_SPR"), F.col("STREET_NORM_CAD"))
        )
    else:
        # no kernel runs over the pairs, so no explicit exchange: a pure
        # aggregate over the scores (the bench's throughput stage)
        # shuffles no pairs at all
        va, vb = vocab
        table = spr.sparkSession.createDataFrame(
            [(a, b, kernel(a, b)) for a in va for b in vb],
            f"__street_spr string, __street_cad string, __raw {raw_type}",
        )
        scored = _attach_pair_scores(_scoring_set(pairs), table)

    best_score, best_strategy, strategy_rank = finish("__raw")
    return (
        scored.withColumn("best_score", best_score)
        .withColumn("best_strategy", best_strategy)
        .withColumn("strategy_rank", strategy_rank)
        .drop("__raw")
    )


def fuzzy_matches(
    spr: DataFrame,
    cad: DataFrame,
    cfg: MatchConfig | None = None,
    scale: ScaleConfig | None = None,
    scorer: str = "blend4",
) -> DataFrame:
    """J4+J5 end-to-end: candidates -> batched scores -> top-1 -> threshold."""
    cfg = cfg or MatchConfig()
    scored = score_candidates(spr, cad, scale, scorer=scorer)

    # deterministic top-1 per SPR row: the reference's strict-`>` strategy
    # precedence + first-candidate tie-break, encoded as an explicit order
    w_top = Window.partitionBy("ADDRESS_ID_SPR").orderBy(
        F.col("best_score").desc(),
        F.col("strategy_rank").asc(),
        F.col("ADDRESS_ID_CAD").asc(),
    )
    top1 = (
        scored.withColumn("__rn", F.row_number().over(w_top))
        .filter(F.col("__rn") == 1)
        .filter(F.col("best_score") >= F.lit(cfg.fuzzy_threshold))
    )
    top1 = _attach_side_attrs(top1, spr, cad)

    rec = as_match_records(
        top1,
        F.col("best_score"),
        F.concat(F.lit("FUZZY_STREET_"), F.upper(F.col("best_strategy"))),
        F.col("CANDIDATES_COUNT"),
    )
    return rec


def fuzzy_topk(
    spr: DataFrame,
    cad: DataFrame,
    k: int = 100,
    cfg: MatchConfig | None = None,
    scale: ScaleConfig | None = None,
    scorer: str = "blend4",
) -> DataFrame:
    """T3 variant (engine.py:204-206): per-probe top-k candidates above
    threshold, deterministic order."""
    cfg = cfg or MatchConfig()
    scored = score_candidates(spr, cad, scale, scorer=scorer).filter(
        F.col("best_score") >= F.lit(cfg.fuzzy_threshold)
    )
    w_top = Window.partitionBy("ADDRESS_ID_SPR").orderBy(
        F.col("best_score").desc(),
        F.col("strategy_rank").asc(),
        F.col("ADDRESS_ID_CAD").asc(),
    )
    topk = (
        scored.withColumn("__rn", F.row_number().over(w_top))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    topk = _attach_side_attrs(topk, spr, cad)
    return as_match_records(
        topk,
        F.col("best_score"),
        F.concat(F.lit("FUZZY_STREET_"), F.upper(F.col("best_strategy"))),
        F.col("CANDIDATES_COUNT"),
    )
