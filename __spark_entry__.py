"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2, each runnable on the driver's TPC-H-ish parquet tables;
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL. The ER queries
derive a deterministic SPR/CAD registry pair from ``part`` (seeded
mutations expressible in both dialects) and run the REAL package
operators on it; the oracle reproduces the same semantics in SQL —
including the full normalization chain, rendered by the same code that
builds the Spark expressions (single source of truth, no drift).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from registry_address_matcher_spark.functions.normalize import (
    completeness_sql,
    full_address_sql,
    normalize_col,
    normalize_sql,
    search_key_sql,
)
from registry_address_matcher_spark.operators.preprocess import preprocess_registry

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Deterministic SPR/CAD derivation from `part` — one definition per dialect,
# kept textually adjacent so parity is auditable. Mutations by p_partkey%10:
#   0 -> first token dropped (exact phases miss; fuzzy/lev recovers partially)
#   1 -> trailing punctuation (normalizer strips -> exact)
#   2 -> padded whitespace     (normalizer strips -> exact)
# BUILDING is NULLed for p_brand='Brand#13' to exercise completeness<1.
# ---------------------------------------------------------------------------

_CAD_SQL = """
SELECT concat('C', p_partkey)  AS ADDRESS_ID,
       p_name                  AS STREET_NAME,
       CAST(p_size AS STRING) AS HOUSE,
       nullif(p_brand, 'Brand#13') AS BUILDING
FROM part
"""

_SPR_SQL = """
SELECT concat('S', p_partkey) AS ADDRESS_ID,
       CASE p_partkey % 10
         WHEN 0 THEN substr(p_name, instr(p_name, ' ') + 1)
         WHEN 1 THEN p_name || '.'
         WHEN 2 THEN '  ' || p_name || ' '
         ELSE p_name END      AS STREET_NAME,
       CASE WHEN p_partkey % 7 = 0 THEN ' ' || CAST(p_size AS STRING)
            ELSE CAST(p_size AS STRING) END AS HOUSE,
       nullif(p_brand, 'Brand#13') AS BUILDING
FROM part
"""


def _cad(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "part").createOrReplaceTempView("part")
    # the testdata parquet is ONE row group (unsplittable single scan
    # task); the round-robin spread means every downstream consumer —
    # including the bench's persisted preprocess cache and each join's
    # map side — works at cluster width instead of serializing through
    # one partition (guide §2.5 input skew: repartition after the read)
    return spark.sql(_CAD_SQL).repartition(spark.sparkContext.defaultParallelism)


def _spr(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_SPR_SQL).repartition(spark.sparkContext.defaultParallelism)


def _norm_registry_sql(base_sql: str) -> str:
    """Oracle rendering of preprocess_registry over a derived registry."""
    sn = normalize_sql("STREET_NAME")
    hn = normalize_sql("HOUSE")
    bn = normalize_sql("BUILDING")
    return f"""
SELECT ADDRESS_ID, STREET_NAME, HOUSE, BUILDING,
       {sn} AS STREET_NORM,
       {hn} AS HOUSE_NORM,
       {bn} AS BUILDING_NORM,
       {full_address_sql(sn, hn, bn)} AS FULL_ADDRESS,
       {search_key_sql(sn, hn)} AS SEARCH_KEY,
       {completeness_sql('STREET_NAME', 'HOUSE', 'BUILDING')} AS COMPLETENESS_SCORE
FROM ({base_sql})
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster width. The driver testdata
    parquet files are single row groups — an unsplittable one-task scan —
    so compute-heavy queries over them (interpreted higher-order folds,
    per-shingle hashing, big explodes) would otherwise run serially no
    matter the core count (guide §2.5: input skew -> repartition after
    the read). The shuffle moved is the small source table, never the
    derived pair/gram sets."""
    return df.repartition(spark.sparkContext.defaultParallelism)

def q_normalize_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — the full normalizer as native expressions (SURVEY §2.2)."""
    part = _spread(spark, _load(spark, sf_dir, "part"))
    return part.select(
        F.col("p_partkey").alias("id"),
        normalize_col(F.col("p_name")).alias("name_norm"),
    )


def q_preprocess_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6 — derived columns over the CAD derivation (SURVEY §2.2)."""
    out = preprocess_registry(_cad(spark, sf_dir))
    return out.select(
        "ADDRESS_ID", "STREET_NORM", "HOUSE_NORM", "BUILDING_NORM",
        "FULL_ADDRESS", "SEARCH_KEY",
        F.round("COMPLETENESS_SCORE", 6).alias("COMPLETENESS_SCORE"),
    )


def q_exact_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — EXACT_FULL with last-wins dedup (SURVEY §2.3)."""
    from registry_address_matcher_spark.operators.exact import exact_full_matches

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    m = exact_full_matches(spr, cad)
    return m.select("ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "MATCH_SCORE", "MATCH_TYPE")


def q_exact_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — EXACT_KEY join minus phase-1 pairs (SURVEY §2.3)."""
    from registry_address_matcher_spark.operators.exact import (
        exact_full_matches,
        exact_key_matches,
    )

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    m1 = exact_full_matches(spr, cad)
    m2 = exact_key_matches(spr, cad, exclude_pairs=m1.select("ADDRESS_ID_SPR", "ADDRESS_ID_CAD"))
    return m2.select("ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "MATCH_SCORE", "MATCH_TYPE")


def q_unmatched_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J7 — anti-join of matched SPR ids (SURVEY §2.3/§2.6)."""
    from registry_address_matcher_spark.operators.exact import (
        exact_full_matches,
        exclude_matched,
    )

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    m1 = exact_full_matches(spr, cad)
    return exclude_matched(spr, m1).select("ADDRESS_ID")


def q_block_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking stats: per-block build-side rows (SURVEY §2.4 A-family)."""
    from registry_address_matcher_spark.operators.blocking import block_sizes

    cad = preprocess_registry(_cad(spark, sf_dir))
    return block_sizes(
        cad.filter(F.col("HOUSE_NORM") != ""), ["HOUSE_NORM", "BUILDING_NORM"]
    )


def q_candidate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — fuzzy-block candidate count per probe row (SURVEY §2.3)."""
    spr = preprocess_registry(_spr(spark, sf_dir)).filter(F.col("HOUSE_NORM") != "")
    cad = preprocess_registry(_cad(spark, sf_dir)).filter(F.col("HOUSE_NORM") != "")
    pairs = spr.select(
        F.col("ADDRESS_ID").alias("spr_id"), "HOUSE_NORM", "BUILDING_NORM"
    ).join(cad.select("HOUSE_NORM", "BUILDING_NORM"), ["HOUSE_NORM", "BUILDING_NORM"])
    return pairs.groupBy("spr_id").agg(F.count(F.lit(1)).alias("candidates"))


def q_lev_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — per-group top-1 with deterministic tie-break, native scorer
    (levenshtein similarity so the oracle can reproduce it exactly)."""
    spr = preprocess_registry(_spr(spark, sf_dir)).filter(
        (F.col("HOUSE_NORM") != "") & (F.col("STREET_NORM") != "")
    )
    cad = preprocess_registry(_cad(spark, sf_dir)).filter(
        (F.col("HOUSE_NORM") != "") & (F.col("STREET_NORM") != "")
    )
    pairs = spr.select(
        F.col("ADDRESS_ID").alias("spr_id"),
        F.col("STREET_NORM").alias("s1"),
        "HOUSE_NORM", "BUILDING_NORM",
    ).join(
        cad.select(
            F.col("ADDRESS_ID").alias("cad_id"),
            F.col("STREET_NORM").alias("s2"),
            "HOUSE_NORM", "BUILDING_NORM",
        ),
        ["HOUSE_NORM", "BUILDING_NORM"],
    )
    score = F.round(
        100.0 * (1.0 - F.levenshtein("s1", "s2") / F.greatest(F.length("s1"), F.length("s2"), F.lit(1))),
        6,
    )
    pairs = pairs.withColumn("score", score)
    w = Window.partitionBy("spr_id").orderBy(F.col("score").desc(), F.col("cad_id").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("score") >= 85.0))
        .select("spr_id", "cad_id", "score")
    )


def q_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched Jaro-Winkler pandas UDF vs DuckDB's native
    jaro_winkler_similarity — oracle-checks the Arrow kernel itself."""
    from registry_address_matcher_spark.functions.similarity import jaro_winkler_udf

    spr = _spr(spark, sf_dir).select(
        F.col("ADDRESS_ID").alias("id"), F.col("STREET_NAME").alias("s1")
    )
    cad = _cad(spark, sf_dir).select(
        F.expr("concat('S', substr(ADDRESS_ID, 2))").alias("id"),
        F.col("STREET_NAME").alias("s2"),
    )
    joined = spr.join(cad, "id")
    return joined.select(
        "id", F.round(jaro_winkler_udf(F.col("s1"), F.col("s2")), 6).alias("jw")
    )


def q_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — 5-point score buckets (SURVEY §2.4)."""
    lev = q_lev_top1(spark, sf_dir)
    return (
        lev.withColumn("bucket", F.floor(F.col("score") / 5).cast("long"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_match_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A13 + U1 — union of exact phases, value_counts on MATCH_TYPE."""
    m1 = q_exact_full(spark, sf_dir)
    m2 = q_exact_key(spark, sf_dir)
    return m1.unionByName(m2).groupBy("MATCH_TYPE").agg(F.count(F.lit(1)).alias("n"))


def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — score -> quality bucket case-when (SURVEY §2.2)."""
    lev = q_lev_top1(spark, sf_dir)
    bucket = (
        F.when(F.col("score") >= 90, "Excellent")
        .when(F.col("score") >= 75, "Good")
        .when(F.col("score") >= 50, "Poor")
        .otherwise("No Match")
    )
    return lev.withColumn("quality", bucket).groupBy("quality").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — global top-k with deterministic total order (SURVEY §2.5)."""
    lev = q_lev_top1(spark, sf_dir)
    return lev.orderBy(F.col("score").desc(), F.col("spr_id").asc()).limit(10)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A6 — count/avg/distinct/dup/median aggregates (SURVEY §2.4)."""
    docs = _load(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("dup_docs"),
        F.round(F.median("n_chars"), 6).alias("median_chars"),
        F.round(F.avg(F.col("lang").isNotNull().cast("int")), 6).alias("lang_completeness"),
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/A10 — hour extraction + group-by-hour counts (SURVEY §2.4)."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").alias("hour")).agg(F.count(F.lit(1)).alias("n"))


def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — Pearson correlation per group (SURVEY §2.4)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price")
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup (exact): sha256 groups, representative = min doc_id."""
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.sha2(F.col("text"), 256))
        .groupBy("h")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace tokens + punctuation count per doc."""
    docs = _load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        F.regexp_count("text", F.lit(r"[^\w\s]")).alias("n_punct"),
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline — brute-force cosine top-10 per probe vector
    (``ann.topk_bruteforce``). The corpus is spread to cluster width
    (one parquet row group is one task otherwise) and the probes, every
    200th vector, are filtered from that same spread corpus."""
    from registry_address_matcher_spark.operators.ann import topk_bruteforce

    corpus = _spread(spark, _load(spark, sf_dir, "embeddings"))
    probes = corpus.filter(F.col("vec_id") % 200 == 0)
    top = topk_bruteforce(corpus, probes, "vec_id", "embedding", k=10)
    return top.withColumnRenamed("id", "vec_id")


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star CC on the supplier->nation bipartite graph,
    oracle = recursive min-label propagation in DuckDB."""
    from registry_address_matcher_spark.operators.cluster import connected_components

    sup = _load(spark, sf_dir, "supplier")
    edges = sup.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("dst"),
    )
    return connected_components(edges)


def q_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution QA — distribution of connected-component sizes
    (how many singletons / pairs / mega-clusters the linkage produced):
    two decomposable aggregates on top of CC, no window."""
    from registry_address_matcher_spark.operators.cluster import connected_components

    sup = _load(spark, sf_dir, "supplier")
    edges = sup.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("dst"),
    )
    comp = connected_components(edges)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def q_registry_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry reconciliation — full-outer join of the two registries'
    SEARCH_KEY spaces, classifying keys as both / spr_only / cad_only
    with per-side record counts (which addresses exist on one side
    only). Covers the full-outer join class; key-grouped counts join, so
    the shuffle carries distinct keys, not records."""
    spr = preprocess_registry(_spr(spark, sf_dir)).groupBy("SEARCH_KEY").agg(
        F.count(F.lit(1)).alias("n_spr")
    )
    cad = preprocess_registry(_cad(spark, sf_dir)).groupBy("SEARCH_KEY").agg(
        F.count(F.lit(1)).alias("n_cad")
    )
    j = spr.join(cad, "SEARCH_KEY", "full_outer")
    cls = (
        F.when(F.col("n_spr").isNotNull() & F.col("n_cad").isNotNull(), "both")
        .when(F.col("n_spr").isNotNull(), "spr_only")
        .otherwise("cad_only")
    )
    return j.groupBy(cls.alias("presence")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.coalesce("n_spr", F.lit(0))).alias("spr_records"),
        F.sum(F.coalesce("n_cad", F.lit(0))).alias("cad_records"),
    )


def q_registry_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A5 — registry quality aggregates (SURVEY §2.4)."""
    from registry_address_matcher_spark.plans.quality import registry_quality

    out = registry_quality(preprocess_registry(_spr(spark, sf_dir)))
    return out.select(
        "total_records",
        F.round("street_completeness", 6).alias("street_completeness"),
        F.round("house_completeness", 6).alias("house_completeness"),
        F.round("building_completeness", 6).alias("building_completeness"),
        "unique_streets",
        F.round("avg_completeness", 6).alias("avg_completeness"),
        "duplicates",
    )


def q_house_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — optional house-variant decode rule over zero-padded sizes."""
    from registry_address_matcher_spark.functions.normalize import house_decode_col

    part = _load(spark, sf_dir, "part")
    padded = F.lpad(F.col("p_size").cast("string"), 2, "0")
    return part.select(
        F.col("p_partkey").alias("id"),
        padded.alias("raw_house"),
        house_decode_col(padded).alias("house_decoded"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — exact char-3-gram Jaccard for (lang, n_chars)-blocked doc
    pairs (SURVEY training-data ops)."""
    from registry_address_matcher_spark.operators.dedup import jaccard_pairs

    docs = _spread(spark, _load(spark, sf_dir, "documents"))
    return jaccard_pairs(docs, "doc_id", "text", ["lang", "n_chars"], n=3, threshold=0.3)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — token counts + punctuation/digit ratios."""
    from registry_address_matcher_spark.functions.text import (
        bpe_ish_token_count_col,
        token_count_col,
    )

    docs = _load(spark, sf_dir, "documents")
    length = F.length("text")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count_col(F.col("text")).alias("n_pieces"),
        F.round(F.regexp_count("text", F.lit(r"[^\w\s]")).cast("double") / F.greatest(length, F.lit(1)), 6).alias("punct_ratio"),
        F.round(F.regexp_count("text", F.lit(r"[0-9]")).cast("double") / F.greatest(length, F.lit(1)), 6).alias("digit_ratio"),
    )


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — stopword-heuristic language ID distribution."""
    from registry_address_matcher_spark.functions.text import lang_id_col

    docs = _load(spark, sf_dir, "documents")
    return docs.groupBy(lang_id_col(F.col("text")).alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation audit: exact dedup + quality floor + lang
    gate, one deterministic verdict per doc (plans/curate.py)."""
    from registry_address_matcher_spark.plans.curate import curate_documents

    docs = _load(spark, sf_dir, "documents")
    return curate_documents(docs, "doc_id", "text", min_quality=0.5)


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep — deterministic md5-bucket train/val/test assignment
    (plans/corpus.py; retry-stable, engine-portable, unlike rand())."""
    from registry_address_matcher_spark.plans.corpus import assign_split

    docs = _load(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id").select("doc_id", "split")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion QA — per-column profile of lineitem's numeric columns
    (counts + order statistics only, so the profile replays bit-identically
    cross-engine; see plans/quality.table_profile)."""
    from registry_address_matcher_spark.plans.quality import table_profile

    li = _spread(spark, _load(spark, sf_dir, "lineitem"))
    return table_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep — deterministic per-language downsampling (training
    mix: all en, half fr, quarter zh, 10% of the rest)."""
    from registry_address_matcher_spark.plans.corpus import stratified_sample

    docs = _load(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 1.0, "fr": 0.5, "zh": 0.25}, default_rate=0.1
    ).select("doc_id", "lang")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep — 64-token windows per doc (sequence-packing prep),
    all-native split→sequence→slice→posexplode (plans/corpus.py)."""
    from registry_address_matcher_spark.plans.corpus import chunk_documents

    docs = _spread(spark, _load(spark, sf_dir, "documents"))
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64)


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped windowed agg run in batch: 1h tumbling windows
    per event_type (same plan the streaming path produces)."""
    ev = _load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(F.col("w.start").cast("string").alias("window_start"), "event_type", "n", "value_sum")
    )


def q_events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped session windows run in batch: per-user gap-merge
    sessions (native session_window; the streaming twin adds a watermark
    and is equivalence-tested in pytest). Oracle = gaps-and-islands SQL."""
    from registry_address_matcher_spark.streaming.events import (
        sessionized_event_stats,
    )

    ev = _load(spark, sf_dir, "events")
    return sessionized_event_stats(ev, gap="30 minutes")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join (union-trick plan, no range explosion): for
    each click, the user's most recent purchase at or before it. Oracle =
    DuckDB's NATIVE ASOF LEFT JOIN — an independent implementation of the
    same semantics."""
    from registry_address_matcher_spark.operators.asof import asof_join_backward

    ev = _load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join_backward(
        clicks, purchases, by=["user_id"], ts_col="ts",
        value_cols=["event_id", "value"], prefix="p_",
    )
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("click_ts"),
        "event_id",
        "p_event_id",
        F.round("p_value", 4).alias("p_value"),
    )


def q_session_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (bucket-bisected, no nested loop): error events falling
    inside each user's click/view sessions; counts per session."""
    from registry_address_matcher_spark.operators.range_join import (
        interval_point_join,
    )
    from registry_address_matcher_spark.streaming.events import (
        sessionized_event_stats,
    )

    ev = _load(spark, sf_dir, "events")
    sessions = sessionized_event_stats(
        ev.filter(F.col("event_type").isin("click", "view")), gap="30 minutes"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("err_ts")
    )
    joined = interval_point_join(
        sessions, errors, by=["user_id"],
        start_col="session_start", end_col="session_end", ts_col="err_ts",
        cell_width=30 * 60 * 1_000_000,
    )
    return joined.groupBy("user_id", "session_start").agg(
        F.count(F.lit(1)).alias("n_errors")
    )


def q_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: the DAY level produced by re-aggregating
    minute -> hour -> day; the oracle aggregates raw rows directly, so a
    pass proves the re-aggregation contract."""
    from registry_address_matcher_spark.plans.rollup import rollup_levels

    ev = _load(spark, sf_dir, "events")
    day = rollup_levels(ev, "ts", "value", ["event_type"])[-1]
    return day.select(
        F.unix_micros("bucket_start").alias("day_start"),
        "event_type", "n",
        F.round("value_sum", 4).alias("value_sum"),
    )


def q_value_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator, batch twin: per-user running-total
    threshold crossings (streaming twin = applyInPandasWithState,
    equivalence-tested in pytest)."""
    from registry_address_matcher_spark.streaming.stateful import (
        threshold_alerts_batch,
    )

    ev = _load(spark, sf_dir, "events")
    return threshold_alerts_batch(ev, threshold=500.0)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — exact cosine near-duplicate pairs (threshold 0.5)."""
    from registry_address_matcher_spark.operators.dedup import embedding_neardup_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.5, exact=True)


def q_substr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — case-insensitive substring filter OR'd across two columns."""
    part = _load(spark, sf_dir, "part")
    return part.filter(
        F.lower(F.col("p_name")).contains("red") | F.lower(F.col("p_type")).contains("brass")
    ).select("p_partkey", "p_name", "p_type")


def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — pagination: deterministic order + offset/limit."""
    part = _load(spark, sf_dir, "part")
    return (
        part.select("p_partkey", "p_name")
        .orderBy(F.col("p_partkey").asc())
        .offset(100)
        .limit(50)
    )


def q_fuzzy_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — the full fuzzy phase (blocking + salting + candidates-count
    window + Arrow scoring kernel + deterministic top-1 + threshold) in
    jw scorer mode, so every value is DuckDB-reproducible. The default
    blend4 kernels are oracle-checked in pytest (vs DuckDB JW / DP-LCS)
    and exercised end-to-end by bench.py."""
    from registry_address_matcher_spark.operators.fuzzy import fuzzy_matches

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    m = fuzzy_matches(spr, cad, scorer="jw")
    return m.select(
        "ADDRESS_ID_SPR", "ADDRESS_ID_CAD",
        F.col("MATCH_SCORE"), "MATCH_TYPE", "CANDIDATES_COUNT",
    )


def q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — per-probe top-k (k=5) above threshold, jw scorer mode."""
    from registry_address_matcher_spark.operators.fuzzy import fuzzy_topk

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    m = fuzzy_topk(spr, cad, k=5, scorer="jw")
    return m.select(
        "ADDRESS_ID_SPR", "ADDRESS_ID_CAD",
        F.col("MATCH_SCORE"), "MATCH_TYPE", "CANDIDATES_COUNT",
    )


def q_quality_radar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart series — data-quality radar axes (reference charts.py:53-93):
    long-form (registry, metric, pct) for both registries."""
    from registry_address_matcher_spark.plans.charts import quality_radar_series

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    return quality_radar_series(spr, cad)


def q_completeness_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart series — completeness-correlation density grid over the
    exact-match table (charts.py:33-37, aggregated for scale)."""
    from registry_address_matcher_spark.operators.exact import (
        exact_full_matches,
        exact_key_matches,
    )
    from registry_address_matcher_spark.plans.charts import completeness_scatter_series

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    m1 = exact_full_matches(spr, cad)
    m2 = exact_key_matches(spr, cad, exclude_pairs=m1.select("ADDRESS_ID_SPR", "ADDRESS_ID_CAD"))
    return completeness_scatter_series(m1.unionByName(m2))


def q_match_score_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chart series — fixed-width match-score histogram (charts.py:21-24)
    over the jw fuzzy top-1 table."""
    from registry_address_matcher_spark.plans.charts import score_hist_series

    return score_hist_series(q_fuzzy_top1(spark, sf_dir))


def q_v3_multiblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — the v3 engine's 4-way multi-blocking union, deduped pairs.

    Caps OFF to match the declared oracle SQL exactly: _V3_MULTIBLOCK_ORACLE
    is the plain uncapped union, and the library's default
    max_pairs_per_block (a scale guard) starts binding around sf0.1 —
    at the driver's gate SFs the cap never fires so results there are
    identical either way, but parity must hold at ANY sf. The capped
    path stays covered by test_blocking_cap.py."""
    from registry_address_matcher_spark.config import ScaleConfig
    from registry_address_matcher_spark.operators.engine_v3 import (
        multi_block_candidates,
    )

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    scale = ScaleConfig(max_pairs_per_block=None)
    return multi_block_candidates(spr, cad, scale).select("id_s", "id_c")


def q_v3_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 + T3 — full v3 flow: exact SEARCH_KEY phase, fuzzy over the
    multi-block union ONLY for probes the exact phase missed, per-probe
    top-k. jw scorer mode for oracle parity.

    Caps OFF for the same reason as q_v3_multiblock: _V3_MATCH_ORACLE's
    cand CTE is the uncapped union — identical results at gate SFs,
    parity preserved at every sf."""
    from registry_address_matcher_spark.config import ScaleConfig
    from registry_address_matcher_spark.operators.engine_v3 import match_v3

    spr = preprocess_registry(_spr(spark, sf_dir))
    cad = preprocess_registry(_cad(spark, sf_dir))
    return match_v3(spr, cad, scorer="jw", scale=ScaleConfig(max_pairs_per_block=None))


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — MinHash+LSH near-dup pairs on documents. md5 hash mode:
    the full signature -> band -> bucket-join -> Jaccard-verify chain is
    reproduced verbatim by the DuckDB oracle (permutation params are
    md5-derived and embedded in the SQL as literals)."""
    from registry_address_matcher_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = _spread(spark, _load(spark, sf_dir, "documents"))
    sigs = minhash_signatures(
        docs, "doc_id", "text", shingle_n=5, num_perm=64, hash_mode="md5"
    )
    return minhash_lsh_pairs(sigs, bands=16, threshold=0.5, hash_buckets=False)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup — SimHash near-dup pairs, md5 token hashes (cross-engine),
    band count derived from max_hamming (9 bands -> full recall at h<=8)."""
    from registry_address_matcher_spark.operators.dedup import (
        simhash_pairs,
        simhash_signatures,
    )

    docs = _spread(spark, _load(spark, sf_dir, "documents"))
    sigs = simhash_signatures(docs, "doc_id", "text", hash_mode="md5")
    return simhash_pairs(sigs, max_hamming=8)


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN — multi-table LSH top-k. Buckets are NATIVE sign-bit
    expressions over seed-deterministic gaussian hyperplanes; the same
    plane values are embedded as literals in the DuckDB oracle."""
    from registry_address_matcher_spark.operators.ann import topk_lsh

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    return topk_lsh(emb, probes, "vec_id", "embedding", k=10, n_bits=4, n_tables=8, dim=64)


def _ivf_centroids():
    """Seed-deterministic gaussian coarse quantizer for the ORACLE-CHECKED
    IVF query: data-independent centroids, so the identical doubles embed
    as literals in both engines (oracle_sql() has no access to the data,
    so Lloyd-trained centroids can't be reproduced there; the trained path
    stays recall-tested in pytest with train_centroids_lloyd)."""
    import numpy as np

    return np.random.RandomState(7).randn(16, 64)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN — IVF top-k: corpus rows assigned to their nearest centroid in
    ONE native projection, probes scan nprobe=4 lists, exact cosine
    rerank. Assignment argmin and the rerank are bit-reproducible
    cross-engine (same left-to-right dot-product folds, literal
    centroids)."""
    from registry_address_matcher_spark.operators.ann import topk_ivf

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    return topk_ivf(emb, probes, "vec_id", "embedding", _ivf_centroids(), k=10, nprobe=4)


_MEDIA_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".fixtures", "media.parquet"
)


def _ensure_media_fixture() -> str:
    """Deterministic synthetic media table written ONCE with pyarrow (no
    Spark session needed, so the oracle side can also trigger it). Same
    shape as operators.multimodal.MEDIA_SCHEMA; payload bytes are seeded.
    """
    if os.path.exists(_MEDIA_FIXTURE):
        return _MEDIA_FIXTURE
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(42)
    kinds, mimes = ["image", "audio", "video"], {
        "image": "image/png", "audio": "audio/wav", "video": "video/mp4"
    }
    n = 300
    rows = {
        "media_id": [f"m{i:05d}" for i in range(n)],
        "kind": [kinds[i % 3] for i in range(n)],
        "mime": [mimes[kinds[i % 3]] for i in range(n)],
        "payload": [
            bytes(rng.randint(0, 256, size=rng.randint(500, 5000), dtype=np.uint8))
            for _ in range(n)
        ],
        "width_px": [int(x) for x in rng.randint(64, 4096, size=n)],
        "duration_ms": [int(x) for x in rng.randint(0, 600_000, size=n)],
    }
    schema = pa.schema(
        [
            ("media_id", pa.string()),
            ("kind", pa.string()),
            ("mime", pa.string()),
            ("payload", pa.binary()),
            ("width_px", pa.int64()),
            ("duration_ms", pa.int64()),
        ]
    )
    os.makedirs(os.path.dirname(_MEDIA_FIXTURE), exist_ok=True)
    # pid-unique tmp name: the driver runs oracle_sql and the Spark query
    # in separate processes, so two first-runs can race — a SHARED tmp
    # path would let interleaved writes publish a corrupt parquet via
    # os.replace (ADVICE r3). os.replace itself is atomic, and the data
    # is deterministic, so last-writer-wins is safe.
    tmp = f"{_MEDIA_FIXTURE}.{os.getpid()}.tmp"
    pq.write_table(pa.table(rows, schema=schema), tmp)
    os.replace(tmp, _MEDIA_FIXTURE)
    return _MEDIA_FIXTURE


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata aggregate over the binary-payload media table.
    The payload column must never be read (column pruning is asserted in
    tests/test_plan_audit.py); the aggregate touches metadata only."""
    from registry_address_matcher_spark.operators.multimodal import (
        media_metadata_stats,
    )

    media = spark.read.parquet(_ensure_media_fixture())
    return media_metadata_stats(media, numeric_cols=("width_px", "duration_ms"))


def q_repos_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule pipeline end-to-end over a repos-shaped derivation of
    documents. Commits are SHARED across files (one commit touches many
    files — the realistic shape); file identity is the
    sha256(repo|path|commit) surrogate. md5 hash mode + skeleton phonetic
    blocking make every stage (signatures, bands, blocks, scores,
    components) reproducible by the DuckDB oracle; the metaphone/xxhash64
    production configuration is F1-gated in pytest."""
    from registry_address_matcher_spark.config import ScaleConfig
    from registry_address_matcher_spark.repos_pipeline import (
        ReposMatchConfig,
        accepted_pairs,
        candidate_block_pairs,
        cluster_pairs,
        exact_content_pairs,
        normalize_repos,
        score_pairs,
    )

    docs = _spread(spark, _load(spark, sf_dir, "documents"))
    repos = docs.select(
        F.concat(F.lit("org/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/d"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.sha2(F.concat(F.lit("c"), (F.col("doc_id") % 13).cast("string")), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
    cfg = ReposMatchConfig(threshold=0.6, hash_mode="md5", phonetic_kind="skeleton")
    norm = normalize_repos(repos)
    exact = exact_content_pairs(norm)
    # side reuse: in md5 mode the checkpoint-carried hashed shingle sets
    # are value-identical to shingle_side's (both cross_hash60 % p), so
    # the oracle still matches hash-for-hash
    side_out: list = []
    # band-block cap OFF to match the declared oracle exactly: the
    # oracle's band_pairs CTE is the uncapped band-bucket join (its only
    # encoded truncation is the phonetic_block_cap, which cfg carries).
    # The default max_pairs_per_block guard stays on for the production
    # pipeline (bench.py, match_job) — same contract as q_v3_multiblock.
    cand = candidate_block_pairs(
        norm, cfg, scale=ScaleConfig(max_pairs_per_block=None), side_out=side_out
    )
    scored = score_pairs(cand, norm, cfg, side=side_out[0])
    pairs = accepted_pairs(scored, cfg).unionByName(
        exact.select("id_l", "id_r", "score", "match_type")
    ).dropDuplicates(["id_l", "id_r"])
    return cluster_pairs(pairs, norm)


def q_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo) over the CAD
    registry: window-5 candidate pairs in (SEARCH_KEY, ADDRESS_ID) order.
    ER-literature complement to the reference's hash blocking — catches
    near-misses that share a key PREFIX, with O(n*w) candidates and no
    hot block by construction."""
    from registry_address_matcher_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    cad = preprocess_registry(_cad(spark, sf_dir))
    return sorted_neighborhood_pairs(cad, ["SEARCH_KEY"], "ADDRESS_ID", window=5)


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation (reduction ratio + pairs completeness
    vs the derivation's ground truth: S<k> matches C<k>) for the two
    registry blocking strategies, one row each."""
    from registry_address_matcher_spark.operators.blocking import blocking_quality

    spr = preprocess_registry(_spr(spark, sf_dir)).withColumnRenamed(
        "ADDRESS_ID", "spr_id"
    )
    cad = preprocess_registry(_cad(spark, sf_dir)).withColumnRenamed(
        "ADDRESS_ID", "cad_id"
    )
    truth = spark.sql(
        "SELECT concat('S', p_partkey) AS spr_id, concat('C', p_partkey) AS cad_id"
        " FROM part"
    )
    out = None
    for strategy, keys in (
        ("search_key", ["SEARCH_KEY"]),
        ("house_building", ["HOUSE_NORM", "BUILDING_NORM"]),
    ):
        one = blocking_quality(
            spr, cad, keys, true_pairs=truth, probe_id="spr_id", build_id="cad_id"
        ).withColumn("strategy", F.lit(strategy))
        out = one if out is None else out.unionByName(one)
    return out.select(
        "strategy",
        "n_blocks",
        "candidate_pairs",
        "largest_block_pairs",
        "reduction_ratio",
        "pairs_completeness",
    )


#: query terms for the TF-IDF relevance query — present in the synthetic
#: documents vocabulary, shared verbatim by the Spark query and the oracle
_TFIDF_TERMS = ("spark", "query", "window")


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text relevance — TF-IDF score of every document against a fixed
    query-term bag, top 20 (training-data slice selection / quality-
    weighted sampling). Token stream is filtered to the query terms
    before any shuffle; df/N ride as broadcasts."""
    from registry_address_matcher_spark.functions.text import tfidf_scores

    docs = _load(spark, sf_dir, "documents")
    scored = tfidf_scores(docs, list(_TFIDF_TERMS))
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(20)


def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets aggregation — GROUP BY ROLLUP(status, priority):
    per-(status, priority), per-status subtotals, and the grand total in
    ONE pass (partial-aggregated; Spark expands grouping sets map-side,
    never re-scans). NULL marks the rolled-up level in both engines."""
    orders = _load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — events per (user cohort, event_type) reshaped wide. The
    pivot values are EXPLICIT (the contract at scale: an unlisted-values
    pivot needs a driver-side distinct pass first), so the plan is one
    partial-aggregated shuffle, same as any groupBy."""
    ev = _load(spark, sf_dir, "events")
    cohort = (F.col("user_id") % 10).alias("cohort")
    return (
        ev.groupBy(cohort)
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "error"])
    )


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() window — inter-event gap stats per user (median/p95 seconds
    between consecutive events). The window partitions by user_id — a
    bounded hash-partitioned sort, never a single-task global window."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff is timezone-free on TIMESTAMP_NTZ (a double cast is
    # disallowed on NTZ, and a tz-dependent epoch would diverge from the
    # oracle's naive-UTC reading)
    gaps = (
        ev.select("user_id", "ts", F.lag("ts").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select(
            "user_id",
            F.expr("timestampdiff(MICROSECOND, prev, ts)").alias("gap"),
        )
    )
    # stats over INTEGER microseconds, chosen to be FP-exact across
    # engines: the median's interpolation midpoint is an exact half;
    # avg is one IEEE division of identical integer operands; max is
    # exact. (A p95 was tried and dropped: its 19/20 interpolation
    # fraction lands mathematically ON the .05 rounding boundary, where
    # the engines' accumulation orders split — seconds-as-double medians
    # hit the same wall at the 7th decimal.)
    return gaps.groupBy("user_id").agg(
        F.round(F.percentile("gap", 0.5), 1).alias("p50_gap_us"),
        F.round(F.avg("gap"), 1).alias("avg_gap_us"),
        F.max("gap").alias("max_gap_us"),
        F.count(F.lit(1)).alias("n_gaps"),
    )


def q_neardup_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed near-dup curation pass — the full training-data dedup
    pipeline as ONE plan: MinHash signatures -> banded LSH pair
    generation -> Jaccard verify -> connected components -> one canonical
    survivor per duplicate cluster -> per-doc verdict ledger. This is the
    operation a 100 TB corpus runs before tokenization; every stage is
    the scale-shaped operator it reuses (banded shuffle, skew-capped
    buckets, star-round CC), composed with no collect and no new shuffle
    beyond the stages' own. md5 hash mode so the DuckDB oracle reproduces
    the chain end-to-end (signatures AND clustering), hash-for-hash."""
    from registry_address_matcher_spark.plans.curate import neardup_ledger

    docs = _spread(spark, _load(spark, sf_dir, "documents"))
    # md5 mode: cross-engine hashes AND raw (uncompressed) bucket keys,
    # so the oracle reproduces the chain hash-for-hash; CC is
    # string-keyed (component = lexicographic min node id) and the
    # oracle casts identically, so rep choice agrees across engines
    return neardup_ledger(
        docs, "doc_id", "text",
        shingle_n=5, num_perm=64, bands=16, threshold=0.5, hash_mode="md5",
    )


def q_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-row compaction — newest event per user, spelled as
    max_by over a (ts, event_id) total order: ONE shuffle with map-side
    partial aggregation, strictly cheaper at scale than the
    row_number-window spelling (full per-partition sort, no partial agg)
    the oracle uses. Keys are non-null in this table; a null-able CDC
    key would need the eqNullSafe treatment merge_snapshot documents."""
    ev = _load(spark, sf_dir, "events")
    payload = F.struct("event_id", "ts", "event_type", "value")
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(payload, order).alias("p"))
        .select("user_id", "p.*")
    )


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistics aggregation — exact interpolated percentiles per
    group (Spark `percentile`, not the approx sketch: the oracle is
    DuckDB quantile_cont, both linear-interpolation on sorted values)."""
    li = _load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.95), 6).alias("p95"),
        F.round(F.percentile("l_quantity", 0.25), 6).alias("qty_p25"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — deterministic PII is injected into the synthetic
    text (which contains none) so every pattern actually fires, then the
    native redaction chain + per-kind audit counts run over it."""
    from registry_address_matcher_spark.functions.text import pii_counts, scrub_pii_col

    docs = _load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.concat(F.lit("user"), F.col("doc_id"), F.lit("@example.com")),
            F.when(F.col("doc_id") % 3 == 0, F.lit("http://example.org/x?id=1")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("10.0.0.1")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("+1 (415) 555-0100")).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    # bind the ~8-regex scrub chain ONCE via a projected column — the
    # two-reference spelling evaluated the whole chain per consumer
    # (plan showed the regexp_replace chain twice; round-5 verdict #5)
    scrubbed = seeded.select(
        "doc_id",
        *[c.alias(f"n_{k}") for k, c in counts.items()],
        scrub_pii_col(F.col("text")).alias("__scrubbed"),
    )
    return scrubbed.select(
        *[c for c in scrubbed.columns if c != "__scrubbed"],
        F.length("__scrubbed").alias("scrubbed_len"),
        F.substring("__scrubbed", 1, 40).alias("scrubbed_prefix"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition metrics (dup-token / dup-bigram / top-token
    ratios) — the Gopher-style repetition filters, one scan, no UDF."""
    from registry_address_matcher_spark.functions.text import repetition_features

    docs = _spread(spark, _load(spark, sf_dir, "documents"))
    feats = repetition_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in feats.items()])


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — training docs sharing a word 5-gram
    with the deterministic eval sample (doc_id % 97 == 0), eval side
    broadcast."""
    from registry_address_matcher_spark.operators.dedup import contamination_report

    docs = _load(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_report(_spread(spark, docs), eval_df, n=5, exclude_self=True)


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 CSV sink -> S3 CSV scan, end-to-end under the oracle gate: the
    nation table written with the package's CSV sink and re-read with its
    CSV source must reproduce the parquet contents exactly (CSV carries
    no types, so the read side restores them by explicit cast)."""
    import os as _os
    import tempfile as _tf

    from registry_address_matcher_spark.sources.io import read_registry, write_csv

    import uuid as _uuid

    # per-call uuid, not just pid (round-5 advice): two concurrent
    # constructions in one process raced overwrite-vs-read on one path
    tmp = _os.path.join(_tf.gettempdir(), f"spark_graft_csv_rt_{_os.getpid()}_{_uuid.uuid4().hex[:8]}")
    write_csv(_load(spark, sf_dir, "nation"), tmp)
    back = read_registry(spark, f"csv:{tmp}")
    return back.select(
        F.col("n_nationkey").cast("int"),
        F.col("n_name"),
        F.col("n_regionkey").cast("int"),
    )


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink -> JSONL scan round-trip on supplier (string + numeric
    columns; JSON preserves numerics so only int-width casts apply)."""
    import os as _os
    import tempfile as _tf

    from registry_address_matcher_spark.sources.io import read_registry, write_jsonl

    import uuid as _uuid

    tmp = _os.path.join(_tf.gettempdir(), f"spark_graft_jsonl_rt_{_os.getpid()}_{_uuid.uuid4().hex[:8]}")
    sup = _load(spark, sf_dir, "supplier")
    write_jsonl(sup, tmp)
    back = read_registry(spark, f"jsonl:{tmp}")
    # JSON infers long/double; select in the table's column order with
    # the parquet widths restored
    casts = {f.name: f.dataType.simpleString() for f in sup.schema.fields}
    return back.select(*[F.col(c).cast(t).alias(c) for c, t in casts.items()])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full exact+key match over the part-derived registries at
    sf0.001, match-type distribution."""
    return q_match_type_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "normalize_chain": q_normalize_chain,
        "preprocess_registry": q_preprocess_registry,
        "exact_full": q_exact_full,
        "exact_key": q_exact_key,
        "unmatched_anti": q_unmatched_anti,
        "block_sizes": q_block_sizes,
        "snm_pairs": q_snm_pairs,
        "blocking_quality": q_blocking_quality,
        "candidate_counts": q_candidate_counts,
        "lev_top1": q_lev_top1,
        "jaro_winkler": q_jaro_winkler,
        "score_histogram": q_score_histogram,
        "match_type_counts": q_match_type_counts,
        "quality_buckets": q_quality_buckets,
        "topk_global": q_topk_global,
        "doc_stats": q_doc_stats,
        "events_hourly": q_events_hourly,
        "corr": q_corr,
        "exact_dedup": q_exact_dedup,
        "token_count": q_token_count,
        "embedding_topk": q_embedding_topk,
        "embedding_neardup": q_embedding_neardup,
        "ann_topk_lsh": q_ann_topk_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "connected_components": q_connected_components,
        "registry_quality": q_registry_quality,
        "house_decode": q_house_decode,
        "ngram_jaccard": q_ngram_jaccard,
        "text_stats": q_text_stats,
        "lang_id_counts": q_lang_id_counts,
        "tfidf_topk": q_tfidf_topk,
        "group_quantiles": q_group_quantiles,
        "neardup_curation": q_neardup_curation,
        "latest_events": q_latest_events,
        "cluster_size_hist": q_cluster_size_hist,
        "registry_diff": q_registry_diff,
        "orders_rollup": q_orders_rollup,
        "event_type_pivot": q_event_type_pivot,
        "event_gaps": q_event_gaps,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "contamination": q_contamination,
        "csv_roundtrip": q_csv_roundtrip,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "curate_documents": q_curate_documents,
        "train_split": q_train_split,
        "stratified_sample": q_stratified_sample,
        "table_profile": q_table_profile,
        "chunk_documents": q_chunk_documents,
        "events_windowed": q_events_windowed,
        "events_sessionized": q_events_sessionized,
        "value_alerts": q_value_alerts,
        "asof_join": q_asof_join,
        "session_errors": q_session_errors,
        "rollup_daily": q_rollup_daily,
        "substr_filter": q_substr_filter,
        "pagination": q_pagination,
        "fuzzy_top1": q_fuzzy_top1,
        "fuzzy_topk": q_fuzzy_topk,
        "quality_radar": q_quality_radar,
        "completeness_scatter": q_completeness_scatter,
        "match_score_hist": q_match_score_hist,
        "v3_multiblock": q_v3_multiblock,
        "v3_match": q_v3_match,
        "minhash_dedup": q_minhash_dedup,
        "simhash_neardup": q_simhash_neardup,
        "media_stats": q_media_stats,
        "repos_match": q_repos_match,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM_CAD = _norm_registry_sql(_CAD_SQL)
_NORM_SPR = _norm_registry_sql(_SPR_SQL)

# Cross-engine hash: Spark conv(substr(md5(x),1,15),16,10) == this (60-bit).
_H60 = "('0x' || substr(md5({x}),1,15))::BIGINT"


def _minhash_sigs_cte(
    text_table: str, id_expr: str, text_expr: str,
    shingle_n: int, num_perm: int, seed: int, extra_cols: str = "",
) -> str:
    """CTE body computing (id, shingles, sig) exactly like
    minhash_signatures(hash_mode='md5') — permutation params embedded as
    literals so the SQL is self-contained.

    Signature math runs as unnest + (hash x perm) cross join + GROUP BY
    min — vectorized columnar execution. The obvious list-comprehension
    spelling (64 nested list_transform lambdas per row) is ~100x slower
    in DuckDB (136 s vs ~1 s on 500 docs)."""
    from registry_address_matcher_spark.operators.dedup import minhash_params_md5

    a, b = minhash_params_md5(num_perm, seed)
    a_lit = "[" + ",".join(map(str, a)) + "]"
    b_lit = "[" + ",".join(map(str, b)) + "]"
    empty_sig = "[" + ",".join(["2147483647"] * num_perm) + "]"
    h = _H60.format(x="s")
    return f"""
sh AS MATERIALIZED (
  SELECT {id_expr} AS id, {extra_cols}
         CASE WHEN len({text_expr}) >= {shingle_n}
              THEN list_distinct([substr({text_expr}, i, {shingle_n})
                                  for i in generate_series(1, len({text_expr}) - {shingle_n - 1})])
              ELSE [] END AS shingles
  FROM {text_table}
),
hx AS (
  SELECT *, list_transform(shingles, s -> {h} % 2147483647) AS h FROM sh
),
__mh_x AS (SELECT id, unnest(h) AS x FROM hx),
__mh_min AS (
  SELECT id, i, min(({a_lit}[i+1]*x + {b_lit}[i+1]) % 2147483647) AS s
  FROM __mh_x, (SELECT unnest(generate_series(0, {num_perm - 1})) AS i)
  GROUP BY id, i
),
__mh_sig AS (SELECT id, list(s ORDER BY i) AS sig FROM __mh_min GROUP BY id),
sigs AS (
  SELECT hx.* EXCLUDE (h), coalesce(m.sig, {empty_sig}) AS sig
  FROM hx LEFT JOIN __mh_sig m USING (id)
)"""


def _fuzzy_jw_oracle(top_k: int) -> str:
    """Twin of q_fuzzy_top1/q_fuzzy_topk (scorer='jw'): house+building
    block, CANDIDATES_COUNT over ALL block candidates (pre street filter,
    advanced_matcher.py:406), JW on street pairs scaled 0-100 round 4,
    threshold 85, deterministic per-probe rank."""
    return f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
pairs AS (
  SELECT spr.ADDRESS_ID AS sid, cad.ADDRESS_ID AS cid,
         spr.STREET_NORM AS s1, cad.STREET_NORM AS s2
  FROM spr JOIN cad
    ON spr.HOUSE_NORM = cad.HOUSE_NORM AND spr.BUILDING_NORM = cad.BUILDING_NORM
  WHERE spr.HOUSE_NORM <> '' AND cad.HOUSE_NORM <> ''
),
counted AS (SELECT *, count(*) OVER (PARTITION BY sid) AS cnt FROM pairs),
scored AS (
  SELECT sid, cid, cnt, round(100.0 * jaro_winkler_similarity(s1, s2), 4) AS score
  FROM counted WHERE s1 <> '' AND s2 <> ''
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY sid ORDER BY score DESC, cid ASC) AS rn
  FROM scored {"WHERE score >= 85.0" if top_k > 1 else ""}
)
SELECT sid AS ADDRESS_ID_SPR, cid AS ADDRESS_ID_CAD,
       CAST(score AS DOUBLE) AS MATCH_SCORE,
       'FUZZY_STREET_JW' AS MATCH_TYPE, CAST(cnt AS INT) AS CANDIDATES_COUNT
FROM ranked WHERE rn <= {top_k} {"AND score >= 85.0" if top_k == 1 else ""}
"""


def _v3_block_union(probe: str) -> str:
    """v3's 4-way multi-blocking union (engine.py:66-83,147-173) over a
    probe CTE name — deduped candidate id pairs."""
    return f"""SELECT DISTINCT id_s, id_c FROM (
  SELECT s.ADDRESS_ID AS id_s, c.ADDRESS_ID AS id_c FROM {probe} s JOIN cad c
    ON s.STREET_NORM = c.STREET_NORM AND s.STREET_NORM <> ''
  UNION ALL
  SELECT s.ADDRESS_ID, c.ADDRESS_ID FROM {probe} s JOIN cad c
    ON substr(s.HOUSE_NORM, 1, 2) = substr(c.HOUSE_NORM, 1, 2)
   AND s.HOUSE_NORM <> '' AND substr(c.HOUSE_NORM, 1, 2) <> ''
  UNION ALL
  SELECT s.ADDRESS_ID, c.ADDRESS_ID FROM {probe} s JOIN cad c
    ON s.HOUSE_NORM = c.HOUSE_NORM AND s.HOUSE_NORM <> ''
  UNION ALL
  SELECT s.ADDRESS_ID, c.ADDRESS_ID FROM {probe} s JOIN cad c
    ON substr(s.STREET_NORM, 1, 3) = substr(c.STREET_NORM, 1, 3)
   AND s.STREET_NORM <> '' AND substr(c.STREET_NORM, 1, 3) <> ''
)"""


_V3_MULTIBLOCK_ORACLE = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD})
{_v3_block_union('spr')}
"""


_V3_MATCH_ORACLE = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
exact AS (
  SELECT s.ADDRESS_ID AS id_s, c.ADDRESS_ID AS id_c,
         CAST(100.0 AS DOUBLE) AS score, 'exact' AS match_type, CAST(1 AS INT) AS rank
  FROM spr s JOIN cad c ON s.SEARCH_KEY = c.SEARCH_KEY
),
rem AS (SELECT * FROM spr WHERE ADDRESS_ID NOT IN (SELECT id_s FROM exact)),
cand AS ({_v3_block_union('rem')}),
fz AS (
  SELECT cd.id_s, cd.id_c,
         round(100.0 * jaro_winkler_similarity(s.SEARCH_KEY, c.SEARCH_KEY), 4) AS score
  FROM cand cd JOIN rem s ON s.ADDRESS_ID = cd.id_s JOIN cad c ON c.ADDRESS_ID = cd.id_c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id_s ORDER BY score DESC, id_c ASC) AS rn
  FROM fz WHERE score >= 85.0
)
SELECT id_s, id_c, CAST(score AS DOUBLE) AS score, 'fuzzy' AS match_type, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 100
UNION ALL SELECT * FROM exact
"""


def _repos_match_oracle() -> str:
    """Twin of q_repos_match: the ENTIRE north-rule pipeline in one SQL
    statement — normalize + surrogate file_id, exact star edges, md5
    MinHash banding blocks (lang-scoped), skeleton phonetic blocks with
    the 100-row cap, 0.8*jaccard+0.2*jw scoring at threshold 0.6, and a
    recursive-CTE connected-components closure with singleton fill."""
    from registry_address_matcher_spark.functions.phonetic import skeleton_key_sql
    from registry_address_matcher_spark.repos_pipeline import ReposMatchConfig

    cfg = ReposMatchConfig(threshold=0.6, hash_mode="md5", phonetic_kind="skeleton")
    r = cfg.num_perm // cfg.bands
    skel = skeleton_key_sql("path_stem")
    sigs_cte = _minhash_sigs_cte(
        "norm", "file_id", "content_norm", cfg.shingle_n, cfg.num_perm, cfg.seed,
        extra_cols="lang, path_stem,",
    )
    return rf"""
WITH RECURSIVE
repos AS (
  SELECT 'org/' || source AS repo,
         'docs/d' || CAST(doc_id AS STRING) || '.txt' AS path,
         sha256('c' || CAST(doc_id % 13 AS STRING)) AS commit,
         lang, text AS content
  FROM documents
),
norm AS MATERIALIZED (
  -- NULL components coalesce to chr(1) (repos_pipeline._NULL_SENTINEL):
  -- concat_ws drops nulls in both engines, so bare concat_ws would let
  -- NULL-bearing keys collide
  SELECT sha256(concat_ws('|', coalesce(repo, chr(1)), coalesce(path, chr(1)),
                          coalesce(commit, chr(1)))) AS file_id,
         repo, path, lang,
         sha256(content) AS content_sha,
         trim(regexp_replace(content, '\s+', ' ', 'g')) AS content_norm,
         regexp_replace(string_split(path, '/')[-1], '\.[^.]*$', '') AS path_stem
  FROM repos
),
exact_pairs AS (
  SELECT rep AS id_l, file_id AS id_r FROM (
    SELECT file_id, min(file_id) OVER (PARTITION BY sha256(content_norm)) AS rep FROM norm
  ) WHERE file_id <> rep
),
{sigs_cte.lstrip()},
banded AS (
  SELECT id, lang, b AS band,
         array_to_string(sig[b*{r}+1 : b*{r}+{r}], ',') AS bucket
  FROM sigs, (SELECT unnest(generate_series(0, {cfg.bands - 1})) AS b)
),
band_pairs AS (
  SELECT l.id AS id_l, r.id AS id_r
  FROM banded l JOIN banded r
    ON l.lang = r.lang AND l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
skel AS MATERIALIZED (
  SELECT file_id AS id, lang, {skel} AS pkey FROM norm
  WHERE {skel} <> ''
),
ok_blocks AS (
  SELECT lang, pkey FROM skel GROUP BY lang, pkey
  HAVING count(*) <= {cfg.phonetic_block_cap}
),
skel_pairs AS (
  SELECT l.id AS id_l, r.id AS id_r
  FROM (SELECT s.* FROM skel s JOIN ok_blocks USING (lang, pkey)) l
  JOIN (SELECT s.* FROM skel s JOIN ok_blocks USING (lang, pkey)) r
    ON l.lang = r.lang AND l.pkey = r.pkey AND l.id < r.id
),
cand AS (
  SELECT DISTINCT id_l, id_r FROM (
    SELECT * FROM band_pairs UNION ALL SELECT * FROM skel_pairs
  )
),
hsets AS (
  -- scoring runs over HASHED shingle sets (same 60-bit md5 mod p as the
  -- Spark side) — identical sets in both engines, so jaccard matches
  -- exactly even through hash collisions
  SELECT id, path_stem, list_distinct(h) AS hs FROM hx
),
scored AS (
  SELECT c.id_l, c.id_r,
         CASE WHEN len(list_distinct(a.hs || b.hs)) = 0 THEN 1.0
              ELSE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                   / len(list_distinct(a.hs || b.hs)) END AS jac,
         jaro_winkler_similarity(a.path_stem, b.path_stem) AS jw
  FROM cand c JOIN hsets a ON a.id = c.id_l JOIN hsets b ON b.id = c.id_r
),
accepted AS (
  SELECT id_l, id_r FROM scored
  WHERE round({cfg.w_content} * jac + {cfg.w_path} * jw, 6) >= {cfg.threshold}
),
edges AS MATERIALIZED (
  SELECT id_l, id_r FROM accepted UNION SELECT id_l, id_r FROM exact_pairs
),
sym AS MATERIALIZED (SELECT id_l AS src, id_r AS dst FROM edges UNION SELECT id_r, id_l FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.src, r.lab FROM sym s JOIN reach r ON r.node = s.dst
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
SELECT n.file_id, coalesce(c.component, n.file_id) AS component, n.content_sha
FROM norm n LEFT JOIN comp c ON c.node = n.file_id
"""


def _minhash_dedup_oracle() -> str:
    """Twin of q_minhash_dedup: 5-gram shingles, 64 perms, 16 bands of 4,
    bucket cap 1000, Jaccard verify >= 0.5."""
    r = 64 // 16
    return f"""
WITH {_minhash_sigs_cte('documents', 'doc_id', 'text', 5, 64, 42)},
banded AS (
  SELECT id, shingles, b AS band,
         array_to_string(sig[b*{r}+1 : b*{r}+{r}], ',') AS bucket
  FROM sigs, (SELECT unnest(generate_series(0, 15)) AS b)
),
capped AS (
  SELECT id, shingles, band, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bucket ORDER BY id) AS rn FROM banded
  ) WHERE rn <= 1000
),
cand AS (
  SELECT DISTINCT l.id AS id_l, r.id AS id_r
  FROM capped l JOIN capped r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
),
j AS (
  SELECT c.id_l, c.id_r,
         round(CASE WHEN len(list_distinct(a.shingles || b.shingles)) = 0 THEN 1.0
               ELSE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                    / len(list_distinct(a.shingles || b.shingles)) END, 6) AS jaccard
  FROM cand c JOIN sh a ON a.id = c.id_l JOIN sh b ON b.id = c.id_r
)
SELECT id_l, id_r, jaccard FROM j WHERE jaccard >= 0.5
"""


def _simhash_oracle(max_hamming: int = 8) -> str:
    """Twin of q_simhash_neardup: md5 token hashes, (h+1)-band layout."""
    from registry_address_matcher_spark.operators.dedup import simhash_band_layout

    h = _H60.format(x="t")
    bands = "\n  UNION ALL ".join(
        f"SELECT id, sim, {i} AS band, (sim >> {off}) & {(1 << w) - 1} AS key FROM sims"
        for i, (off, w) in enumerate(simhash_band_layout(max_hamming))
    )
    return rf"""
WITH toks AS (
  SELECT doc_id AS id,
         list_transform(string_split_regex(lower(trim(text)), '\s+'), t -> {h}) AS h
  FROM documents
),
sims AS (
  SELECT id,
         -- md5-mode token hashes are 60-bit: sim bits 60-63 are always 0,
         -- so the fold stops at 59 (1<<63 would overflow BIGINT anyway)
         CAST(list_sum([CASE WHEN list_sum(list_transform(h, x -> 2*((x >> b) & 1) - 1)) > 0
                             THEN (1::BIGINT << b) ELSE 0 END
                        for b in generate_series(0, 59)]) AS BIGINT) AS sim
  FROM toks
),
banded AS (
  {bands}
),
cand AS (
  SELECT DISTINCT l.id AS id_l, r.id AS id_r, l.sim AS h_l, r.sim AS h_r
  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key AND l.id < r.id
)
SELECT id_l, id_r, CAST(bit_count(xor(h_l, h_r)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(h_l, h_r)) <= {max_hamming}
"""


def _ann_lsh_oracle(k: int = 10, n_bits: int = 4, n_tables: int = 8, seed: int = 42) -> str:
    """Twin of q_ann_topk_lsh: the SAME gaussian hyperplanes (repr'd
    doubles round-trip exactly) as literal lists; bucket = sum of sign
    bits; candidates = bucket hits across tables; exact cos rerank."""
    from registry_address_matcher_spark.operators.ann import hyperplane_planes

    def bucket_expr(planes) -> str:
        terms = []
        for j, row in enumerate(planes):
            lit = "[" + ",".join(repr(float(x)) for x in row) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(terms)

    keyed = "\n  UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, ({bucket_expr(hyperplane_planes(64, n_bits, seed + t))}) AS bucket FROM e"
        for t in range(n_tables)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
keyed AS (
  {keyed}
),
pk AS (SELECT * FROM keyed WHERE vec_id % 200 = 0),
cand AS (
  SELECT DISTINCT p.vec_id AS q_id, c.vec_id AS id, p.v AS qv, c.v AS cv
  FROM keyed c JOIN pk p ON c.tbl = p.tbl AND c.bucket = p.bucket AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT q_id, id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id ASC) AS rank FROM scored
)
SELECT q_id, id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
"""

def _ann_ivf_oracle(k: int = 10, nprobe: int = 4) -> str:
    """Twin of q_ann_topk_ivf. The SAME literal centroids; per-centroid
    score ||c||^2 - 2 v.c (||v||^2 constant under argmin); corpus
    assignment = first-position argmin (Spark array_position(array_min) ==
    DuckDB list_position(list_min)); probes rank centroids by (dist, idx)
    and scan nprobe lists; exact cosine rerank. All dot products are
    identical left-to-right folds in both engines."""
    cents = _ivf_centroids()

    def dist_list(v: str) -> str:
        terms = []
        for c in cents:
            lit = "[" + ",".join(repr(float(x)) for x in c) + "]"
            cnorm = repr(float(c @ c))
            terms.append(f"({cnorm} - 2.0 * list_dot_product({v}, {lit}))")
        return "[" + ",\n   ".join(terms) + "]"

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (
  SELECT vec_id, v, list_position(d, list_min(d)) AS cid
  FROM (SELECT vec_id, v, {dist_list('v')} AS d FROM e)
),
pd AS (
  SELECT vec_id AS q_id, v AS qv, {dist_list('v')} AS d
  FROM e WHERE vec_id % 200 = 0
),
pl AS (
  SELECT q_id, qv, cidx, d[cidx] AS dist
  FROM pd, (SELECT unnest(generate_series(1, {len(cents)})) AS cidx)
),
pk AS (
  SELECT q_id, qv, cidx AS cid FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, cidx ASC) AS rn
    FROM pl) WHERE rn <= {nprobe}
),
pairs AS (
  SELECT p.q_id, c.vec_id AS id,
         round(list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
  FROM c JOIN pk p ON c.cid = p.cid AND c.vec_id <> p.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id ASC) AS rank FROM pairs
)
SELECT q_id, id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k}
"""


_ORACLE_EXACT_FULL = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
cad1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY FULL_ADDRESS ORDER BY ADDRESS_ID DESC) AS rn
    FROM cad) WHERE rn = 1
)
SELECT spr.ADDRESS_ID AS ADDRESS_ID_SPR, cad1.ADDRESS_ID AS ADDRESS_ID_CAD,
       CAST(100.0 AS DOUBLE) AS MATCH_SCORE, 'EXACT_FULL' AS MATCH_TYPE
FROM spr JOIN cad1 ON spr.FULL_ADDRESS = cad1.FULL_ADDRESS
"""

_ORACLE_EXACT_KEY = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
m1 AS ({_ORACLE_EXACT_FULL})
SELECT spr.ADDRESS_ID AS ADDRESS_ID_SPR, cad.ADDRESS_ID AS ADDRESS_ID_CAD,
       CAST(100.0 AS DOUBLE) AS MATCH_SCORE, 'EXACT_KEY' AS MATCH_TYPE
FROM spr JOIN cad
  ON spr.SEARCH_KEY = cad.SEARCH_KEY AND spr.BUILDING_NORM = cad.BUILDING_NORM
WHERE NOT EXISTS (
  SELECT 1 FROM m1
  WHERE m1.ADDRESS_ID_SPR = spr.ADDRESS_ID AND m1.ADDRESS_ID_CAD = cad.ADDRESS_ID)
"""

_ORACLE_LEV_TOP1 = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
pairs AS (
  SELECT spr.ADDRESS_ID AS spr_id, cad.ADDRESS_ID AS cad_id,
         round(CAST(100.0 AS DOUBLE) * (1.0 - levenshtein(spr.STREET_NORM, cad.STREET_NORM)
               / greatest(length(spr.STREET_NORM), length(cad.STREET_NORM), 1)), 6) AS score
  FROM spr JOIN cad
    ON spr.HOUSE_NORM = cad.HOUSE_NORM AND spr.BUILDING_NORM = cad.BUILDING_NORM
  WHERE spr.HOUSE_NORM <> '' AND spr.STREET_NORM <> '' AND cad.STREET_NORM <> ''
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY spr_id ORDER BY score DESC, cad_id ASC) AS rn
  FROM pairs
)
SELECT spr_id, cad_id, score FROM ranked WHERE rn = 1 AND score >= 85.0
"""


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}
    sqls["normalize_chain"] = (
        f"SELECT p_partkey AS id, {normalize_sql('p_name')} AS name_norm FROM part"
    )
    sqls["preprocess_registry"] = f"""
SELECT ADDRESS_ID, STREET_NORM, HOUSE_NORM, BUILDING_NORM, FULL_ADDRESS, SEARCH_KEY,
       round(COMPLETENESS_SCORE, 6) AS COMPLETENESS_SCORE
FROM ({_NORM_CAD})
"""
    sqls["exact_full"] = _ORACLE_EXACT_FULL
    sqls["exact_key"] = _ORACLE_EXACT_KEY
    sqls["unmatched_anti"] = f"""
WITH spr AS ({_NORM_SPR}), m1 AS ({_ORACLE_EXACT_FULL})
SELECT ADDRESS_ID FROM spr
WHERE ADDRESS_ID NOT IN (SELECT ADDRESS_ID_SPR FROM m1)
"""
    sqls["block_sizes"] = f"""
SELECT HOUSE_NORM, BUILDING_NORM, count(*) AS block_rows
FROM ({_NORM_CAD}) WHERE HOUSE_NORM <> ''
GROUP BY HOUSE_NORM, BUILDING_NORM
"""
    sqls["snm_pairs"] = f"""
WITH cad AS ({_NORM_CAD}),
ranked AS (
  SELECT ADDRESS_ID, row_number() OVER (ORDER BY SEARCH_KEY, ADDRESS_ID) AS r
  FROM cad
)
SELECT l.ADDRESS_ID AS id_l, h.ADDRESS_ID AS id_r, h.r - l.r AS rank_dist
FROM ranked l JOIN ranked h ON h.r - l.r BETWEEN 1 AND 4
"""
    _bq_one = lambda strategy, keys: f"""
SELECT '{strategy}' AS strategy,
       count(*) AS n_blocks,
       coalesce(sum(pairs), 0)::DOUBLE AS candidate_pairs,
       coalesce(max(pairs), 0)::DOUBLE AS largest_block_pairs,
       round(1.0 - coalesce(sum(pairs), 0) / ((SELECT count(*) FROM spr) * (SELECT count(*) FROM cad)), 6) AS reduction_ratio,
       (SELECT round(count(*) / (SELECT count(*) FROM truth), 6)
        FROM truth t
        JOIN spr p ON p.ADDRESS_ID = t.spr_id
        JOIN cad b ON b.ADDRESS_ID = t.cad_id
        WHERE {" AND ".join(f"p.{k} = b.{k}" for k in keys)}) AS pairs_completeness
FROM (
  SELECT pn::DOUBLE * bn AS pairs
  FROM (SELECT {", ".join(keys)}, count(*) AS pn FROM spr GROUP BY {", ".join(keys)}) pp
  JOIN (SELECT {", ".join(keys)}, count(*) AS bn FROM cad GROUP BY {", ".join(keys)}) bb
  USING ({", ".join(keys)})
)
"""
    sqls["blocking_quality"] = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
truth AS (SELECT concat('S', p_partkey) AS spr_id, concat('C', p_partkey) AS cad_id FROM part)
{_bq_one("search_key", ["SEARCH_KEY"])}
UNION ALL
{_bq_one("house_building", ["HOUSE_NORM", "BUILDING_NORM"])}
"""
    sqls["candidate_counts"] = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD})
SELECT spr.ADDRESS_ID AS spr_id, count(*) AS candidates
FROM spr JOIN cad
  ON spr.HOUSE_NORM = cad.HOUSE_NORM AND spr.BUILDING_NORM = cad.BUILDING_NORM
WHERE spr.HOUSE_NORM <> '' AND cad.HOUSE_NORM <> ''
GROUP BY spr.ADDRESS_ID
"""
    sqls["lev_top1"] = _ORACLE_LEV_TOP1
    sqls["jaro_winkler"] = f"""
WITH spr AS ({_SPR_SQL}), cad AS ({_CAD_SQL})
SELECT spr.ADDRESS_ID AS id,
       round(jaro_winkler_similarity(spr.STREET_NAME, cad.STREET_NAME), 6) AS jw
FROM spr JOIN cad ON substr(spr.ADDRESS_ID, 2) = substr(cad.ADDRESS_ID, 2)
"""
    sqls["score_histogram"] = f"""
SELECT CAST(floor(score / 5) AS BIGINT) AS bucket, count(*) AS n
FROM ({_ORACLE_LEV_TOP1}) GROUP BY 1
"""
    sqls["match_type_counts"] = f"""
SELECT MATCH_TYPE, count(*) AS n FROM (
  SELECT * FROM ({_ORACLE_EXACT_FULL}) UNION ALL SELECT * FROM ({_ORACLE_EXACT_KEY})
) GROUP BY MATCH_TYPE
"""
    sqls["quality_buckets"] = f"""
SELECT CASE WHEN score >= 90 THEN 'Excellent' WHEN score >= 75 THEN 'Good'
            WHEN score >= 50 THEN 'Poor' ELSE 'No Match' END AS quality,
       count(*) AS n
FROM ({_ORACLE_LEV_TOP1}) GROUP BY 1
"""
    sqls["topk_global"] = f"""
SELECT spr_id, cad_id, score FROM ({_ORACLE_LEV_TOP1})
ORDER BY score DESC, spr_id ASC LIMIT 10
"""
    sqls["doc_stats"] = """
SELECT count(*) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       count(DISTINCT lang) AS n_langs,
       count(*) - count(DISTINCT text) AS dup_docs,
       round(median(n_chars), 6) AS median_chars,
       round(avg(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END), 6) AS lang_completeness
FROM documents
"""
    sqls["events_hourly"] = (
        "SELECT hour(ts) AS hour, count(*) AS n FROM events GROUP BY 1"
    )
    sqls["corr"] = """
SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
FROM lineitem GROUP BY l_returnflag
"""
    sqls["exact_dedup"] = """
SELECT sha256(text) AS h, min(doc_id) AS rep_id, count(*) AS n
FROM documents GROUP BY 1 HAVING count(*) > 1
"""
    sqls["token_count"] = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
FROM documents
"""
    sqls["embedding_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
probes AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 200 = 0),
pairs AS (
  SELECT q_id, vec_id,
         round(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
  FROM probes CROSS JOIN e WHERE vec_id <> q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
"""
    from registry_address_matcher_spark.functions.normalize import HOUSE_VARIATIONS
    from registry_address_matcher_spark.functions.text import STOPWORDS

    sqls["registry_quality"] = f"""
SELECT CAST(count(*) AS DOUBLE) AS total_records,
       round(avg(CASE WHEN STREET_NAME IS NOT NULL THEN 1 ELSE 0 END), 6) AS street_completeness,
       round(avg(CASE WHEN HOUSE IS NOT NULL THEN 1 ELSE 0 END), 6) AS house_completeness,
       round(avg(CASE WHEN BUILDING IS NOT NULL THEN 1 ELSE 0 END), 6) AS building_completeness,
       CAST(count(DISTINCT STREET_NORM) AS DOUBLE) AS unique_streets,
       round(avg(COMPLETENESS_SCORE), 6) AS avg_completeness,
       CAST(count(*) - count(DISTINCT FULL_ADDRESS) AS DOUBLE) AS duplicates
FROM ({_NORM_SPR})
"""
    decode_whens = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in HOUSE_VARIATIONS.items()
    )
    sqls["house_decode"] = f"""
SELECT p_partkey AS id,
       lpad(CAST(p_size AS STRING), 2, '0') AS raw_house,
       (CASE lpad(CAST(p_size AS STRING), 2, '0') {decode_whens}
        ELSE lpad(CAST(p_size AS STRING), 2, '0') END) AS house_decoded
FROM part
"""
    sqls["ngram_jaccard"] = r"""
WITH sh AS (
  SELECT doc_id, lang, n_chars,
         list_distinct([substr(text, i, 3) for i in generate_series(1, greatest(len(text) - 2, 0))]) AS s
  FROM documents
)
SELECT a.doc_id AS id_l, b.doc_id AS id_r,
       round(CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 1.0
             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) END, 6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
WHERE (CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 1.0
       ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) END) >= 0.3
"""
    sqls["text_stats"] = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, '(\p{L}+|\p{N}+|[^\p{L}\p{N}\s])')) AS n_pieces,
       round(CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
       round(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1), 6) AS digit_ratio
FROM documents
"""
    hit_exprs = {}
    for lang, words in STOPWORDS.items():
        wl = ", ".join(f"'{w}'" for w in words)
        hit_exprs[lang] = (
            "len(list_intersect(list_distinct(list_transform("
            r"string_split_regex(lower(trim(text)), '\s+'), "
            r"x -> regexp_replace(x, '[^\p{L}]', '', 'g'))), " + f"[{wl}]))"
        )
    best = "greatest(" + ", ".join(hit_exprs.values()) + ")"
    argmax = f"CASE WHEN {best} <= 0 THEN 'und' " + " ".join(
        f"WHEN {expr} = {best} THEN '{lang}'" for lang, expr in hit_exprs.items()
    ) + " END"
    sqls["lang_id_counts"] = f"""
SELECT ({argmax}) AS lang_pred, count(*) AS n FROM documents GROUP BY 1
"""
    _terms_in = ", ".join(f"'{t}'" for t in _TFIDF_TERMS)
    sqls["tfidf_topk"] = f"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t IN ({_terms_in})
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents)
SELECT doc_id, round(sum(tf * ln(n::DOUBLE / df)), 6) AS score
FROM tf JOIN dfq USING (term) CROSS JOIN n
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
"""
    # round-trips: the oracle is the identity — the sink+scan pair must
    # reproduce the parquet contents bit-for-bit
    sqls["csv_roundtrip"] = "SELECT n_nationkey, n_name, n_regionkey FROM nation"
    sqls["jsonl_roundtrip"] = "SELECT * FROM supplier"
    sqls["orders_rollup"] = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""
    sqls["event_type_pivot"] = """
SELECT user_id % 10 AS cohort,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'view') AS view,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'error') AS error
FROM events GROUP BY 1
"""
    sqls["event_gaps"] = """
WITH g AS (
  SELECT user_id,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
)
SELECT user_id,
       round(quantile_cont(gap, 0.5), 1) AS p50_gap_us,
       round(avg(gap), 1) AS avg_gap_us,
       max(gap) AS max_gap_us,
       count(*) AS n_gaps
FROM g WHERE gap IS NOT NULL GROUP BY 1
"""
    sqls["cluster_size_hist"] = """
WITH RECURSIVE
edges AS (
  SELECT concat('S', s_suppkey) AS src, concat('N', s_nationkey) AS dst FROM supplier
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.src, r.lab FROM sym s JOIN reach r ON r.node = s.dst
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
SELECT sz, count(*) AS n_clusters
FROM (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
GROUP BY sz
"""
    sqls["registry_diff"] = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
s AS (SELECT SEARCH_KEY, count(*) AS n_spr FROM spr GROUP BY 1),
c AS (SELECT SEARCH_KEY, count(*) AS n_cad FROM cad GROUP BY 1)
SELECT CASE WHEN n_spr IS NOT NULL AND n_cad IS NOT NULL THEN 'both'
            WHEN n_spr IS NOT NULL THEN 'spr_only'
            ELSE 'cad_only' END AS presence,
       count(*) AS n_keys,
       sum(coalesce(n_spr, 0))::BIGINT AS spr_records,
       sum(coalesce(n_cad, 0))::BIGINT AS cad_records
FROM s FULL OUTER JOIN c USING (SEARCH_KEY)
GROUP BY 1
"""
    sqls["latest_events"] = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""
    sqls["group_quantiles"] = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
       round(quantile_cont(l_quantity, 0.25), 6) AS qty_p25
FROM lineitem GROUP BY 1
"""
    # PII scrub: same literal patterns (Java-regex / RE2 common subset,
    # functions/text.py::PII_PATTERNS), same injection, same chain order
    _pii_seed = r"""
SELECT doc_id,
       concat_ws(' ',
         'user' || doc_id || '@example.com',
         CASE WHEN doc_id % 3 = 0 THEN 'http://example.org/x?id=1' ELSE '' END,
         CASE WHEN doc_id % 5 = 0 THEN '10.0.0.1' ELSE '' END,
         CASE WHEN doc_id % 7 = 0 THEN '+1 (415) 555-0100' ELSE '' END,
         text) AS text
FROM documents
"""
    _pii_chain = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, "
        r"'https?://[^\s]+', '<URL>', 'g'), "
        r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
        r"'\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'), "
        r"'\+\d[\d().\- ]{6,}\d', '<PHONE>', 'g')"
    )
    sqls["pii_scrub"] = rf"""
WITH seeded AS ({_pii_seed})
SELECT doc_id,
       len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_email,
       len(regexp_extract_all(text, '\b\d{{1,3}}(\.\d{{1,3}}){{3}}\b')) AS n_ipv4,
       len(regexp_extract_all(text, '\+\d[\d().\- ]{{6,}}\d')) AS n_phone,
       length({_pii_chain}) AS scrubbed_len,
       substr({_pii_chain}, 1, 40) AS scrubbed_prefix
FROM seeded
"""
    # shared tokenization for the repetition/contamination oracles: the
    # exact alnum_tokens_col split (functions/text.py)
    _toks = r"list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    sqls["repetition_stats"] = f"""
WITH tk AS (SELECT doc_id, {_toks} AS toks FROM documents),
g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(generate_series(1, len(toks) - 1),
                                  i -> concat_ws(' ', toks[i], toks[i+1]))
              ELSE []::VARCHAR[] END AS grams
  FROM tk)
SELECT doc_id,
  round(CASE WHEN len(toks) > 0 THEN (len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks) ELSE 0.0 END, 6) AS dup_token_ratio,
  round(CASE WHEN len(grams) > 0 THEN (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams) ELSE 0.0 END, 6) AS dup_ngram_ratio,
  round(CASE WHEN len(toks) > 0
        THEN coalesce(list_max(list_transform(list_distinct(toks),
                                 t -> len(list_filter(toks, x -> x = t)))), 0)::DOUBLE / len(toks)
        ELSE 0.0 END, 6) AS top_token_ratio
FROM g
"""
    sqls["contamination"] = f"""
WITH tk AS (SELECT doc_id, {_toks} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(toks) >= 5
           THEN list_transform(generate_series(1, len(toks) - 4),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))
           ELSE []::VARCHAR[] END)) AS gram
  FROM tk),
e AS (SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0)
SELECT g.doc_id AS train_id,
       count(DISTINCT g.gram) AS n_grams_hit,
       count(DISTINCT e.eval_id) AS n_eval_docs
FROM g JOIN e USING (gram)
WHERE g.doc_id <> e.eval_id
GROUP BY 1
"""
    # curate_documents: quality_score_col reproduced term-by-term —
    # len_ok + punct_ok + digit_ok + word_ok over 4 (functions/text.py:71-80);
    # same ASCII \w/\s and \p{L} classes already cross-validated by
    # text_stats; dedup rep = min doc_id per sha256 group, verdict
    # precedence duplicate > low_quality > unknown_lang (plans/curate.py)
    _ratio = (
        "CASE WHEN length(text) > 0 THEN "
        r"CAST(len(regexp_extract_all(text, '{pat}')) AS DOUBLE) / length(text) "
        "ELSE 0.0 END"
    )
    _punct_ratio = _ratio.format(pat=r"[^\w\s]")
    _digit_ratio = _ratio.format(pat="[0-9]")
    sqls["curate_documents"] = f"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
),
w AS (
  SELECT *, list_filter(string_split_regex(trim(text), '\\s+'),
                        x -> regexp_matches(x, '^\\p{{L}}+$')) AS words
  FROM d
),
m AS (
  SELECT *, CASE WHEN len(words) > 0
                 THEN CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words)
                 ELSE 0.0 END AS wl
  FROM w
),
s AS (
  SELECT doc_id, length(text) AS n_chars, sha256(text) AS h, ({argmax}) AS lang_pred,
         round((least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
              + greatest(0.0, 1.0 - ({_punct_ratio}) * 4.0)
              + greatest(0.0, 1.0 - ({_digit_ratio}) * 4.0)
              + (CASE WHEN wl >= 2.5 AND wl <= 12.0 THEN 1.0 ELSE 0.5 END)
               ) / 4.0, 6) AS quality
  FROM m
),
r AS (SELECT h, min(doc_id) AS rep_id FROM s GROUP BY h)
SELECT doc_id, lang_pred, quality,
       CASE WHEN n_chars = 0 THEN 'empty'
            WHEN doc_id <> rep_id THEN 'duplicate'
            WHEN quality < 0.5 THEN 'low_quality'
            WHEN lang_pred = 'und' THEN 'unknown_lang'
            ELSE 'keep' END AS verdict
FROM s JOIN r USING (h)
"""
    # train_split: same 60-bit md5 bucket as Spark's cross_hash60
    # (operators/dedup.py:54 == _H60); buckets carved in splits order
    # train<98, val<99, else test (plans/corpus.py assign_split)
    _split_bucket = _H60.format(x="doc_id::VARCHAR || ':0'")
    sqls["table_profile"] = """
SELECT 'l_quantity' AS "column",
       count(l_quantity) AS n,
       sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls,
       count(DISTINCT l_quantity) AS n_distinct,
       min(l_quantity)::DOUBLE AS min_v,
       max(l_quantity)::DOUBLE AS max_v,
       quantile_cont(l_quantity, 0.5) AS p50
FROM lineitem
UNION ALL
SELECT 'l_extendedprice' AS "column",
       count(l_extendedprice) AS n,
       sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls,
       count(DISTINCT l_extendedprice) AS n_distinct,
       min(l_extendedprice)::DOUBLE AS min_v,
       max(l_extendedprice)::DOUBLE AS max_v,
       quantile_cont(l_extendedprice, 0.5) AS p50
FROM lineitem
UNION ALL
SELECT 'l_discount' AS "column",
       count(l_discount) AS n,
       sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls,
       count(DISTINCT l_discount) AS n_distinct,
       min(l_discount)::DOUBLE AS min_v,
       max(l_discount)::DOUBLE AS max_v,
       quantile_cont(l_discount, 0.5) AS p50
FROM lineitem
UNION ALL
SELECT 'l_tax' AS "column",
       count(l_tax) AS n,
       sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls,
       count(DISTINCT l_tax) AS n_distinct,
       min(l_tax)::DOUBLE AS min_v,
       max(l_tax)::DOUBLE AS max_v,
       quantile_cont(l_tax, 0.5) AS p50
FROM lineitem
"""
    sqls["stratified_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE ({_split_bucket}) % 1000000 <
      CASE WHEN lang = 'en' THEN 1000000
           WHEN lang = 'fr' THEN 500000
           WHEN lang = 'zh' THEN 250000
           ELSE 100000 END
"""
    sqls["train_split"] = f"""
SELECT doc_id,
       CASE WHEN b < 98 THEN 'train' WHEN b < 99 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, ({_split_bucket}) % 100 AS b FROM documents)
"""
    # chunk_documents: 64-token windows; DuckDB list_slice is 1-based
    # with an INCLUSIVE end, Spark slice(arr, start, length) — end =
    # start + 64 - 1 keeps the windows identical
    sqls["chunk_documents"] = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(range(CAST(ceil(len(toks) / 64.0) AS INT))) AS chunk_id
  FROM t
)
SELECT doc_id, chunk_id,
       array_to_string(list_slice(toks, chunk_id * 64 + 1, chunk_id * 64 + 64), ' ') AS chunk_text,
       len(list_slice(toks, chunk_id * 64 + 1, chunk_id * 64 + 64)) AS n_tokens
FROM c
"""
    sqls["events_windowed"] = """
SELECT CAST(date_trunc('hour', ts) AS STRING) AS window_start, event_type,
       count(*) AS n, round(sum(value), 4) AS value_sum
FROM events GROUP BY 1, 2
"""
    sqls["events_sessionized"] = """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
m AS (
  -- Spark session_window is half-open [start, last+gap): an event at
  -- EXACTLY prev + gap starts a NEW session, hence >=
  SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
  FROM o
),
g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM m
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start,
       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end,
       count(*) AS n,
       round(sum(value), 4) AS value_sum
FROM g GROUP BY user_id, grp
"""
    sqls["asof_join"] = """
WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase')
SELECT c.user_id, epoch_us(c.ts) AS click_ts, c.event_id,
       p.event_id AS p_event_id, round(p.value, 4) AS p_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""
    sqls["session_errors"] = """
WITH cv AS (SELECT user_id, ts FROM events WHERE event_type IN ('click', 'view')),
o AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM cv),
m AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk FROM o),
g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS grp FROM m),
s AS (SELECT user_id, epoch_us(min(ts)) AS session_start,
             epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end
      FROM g GROUP BY user_id, grp),
e AS (SELECT user_id, epoch_us(ts) AS err_ts FROM events WHERE event_type = 'error')
SELECT s.user_id, s.session_start, count(*) AS n_errors
FROM s JOIN e ON s.user_id = e.user_id
             AND s.session_start <= e.err_ts AND e.err_ts < s.session_end
GROUP BY 1, 2
"""
    sqls["rollup_daily"] = """
SELECT epoch_us(date_trunc('day', ts)) AS day_start, event_type,
       count(*) AS n, round(sum(value), 4) AS value_sum
FROM events GROUP BY 1, 2
"""
    sqls["value_alerts"] = """
WITH c AS (
  SELECT user_id, event_id, ts,
         sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM events
),
l AS (
  SELECT user_id, event_id, cum,
         coalesce(lag(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0) AS prev
  FROM c
)
SELECT user_id, event_id,
       CAST(floor(cum / 500.0) AS BIGINT) AS alert_level,
       round(cum, 4) AS cum_value
FROM l WHERE floor(cum / 500.0) > floor(prev / 500.0)
"""
    sqls["embedding_neardup"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_l, b.vec_id AS id_r,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.5
"""
    sqls["substr_filter"] = """
SELECT p_partkey, p_name, p_type FROM part
WHERE lower(p_name) LIKE '%red%' OR lower(p_type) LIKE '%brass%'
"""
    sqls["pagination"] = """
SELECT p_partkey, p_name FROM part ORDER BY p_partkey ASC LIMIT 50 OFFSET 100
"""
    sqls["fuzzy_top1"] = _fuzzy_jw_oracle(top_k=1)
    sqls["fuzzy_topk"] = _fuzzy_jw_oracle(top_k=5)
    radar_rows = []
    for side, cte in (("SPR", _NORM_SPR), ("CAD", _NORM_CAD)):
        for metric, expr in (
            ("street_completeness", "avg(CASE WHEN STREET_NAME IS NOT NULL THEN 1 ELSE 0 END)"),
            ("house_completeness", "avg(CASE WHEN HOUSE IS NOT NULL THEN 1 ELSE 0 END)"),
            ("building_completeness", "avg(CASE WHEN BUILDING IS NOT NULL THEN 1 ELSE 0 END)"),
            ("avg_completeness", "avg(COMPLETENESS_SCORE)"),
        ):
            radar_rows.append(
                f"SELECT '{side}' AS registry, '{metric}' AS metric, "
                f"round({expr} * 100.0, 6) AS pct FROM ({cte})"
            )
    sqls["quality_radar"] = "\nUNION ALL\n".join(radar_rows)
    sqls["completeness_scatter"] = f"""
WITH spr AS ({_NORM_SPR}), cad AS ({_NORM_CAD}),
m1 AS ({_ORACLE_EXACT_FULL}), m2 AS ({_ORACLE_EXACT_KEY}),
m AS (SELECT ADDRESS_ID_SPR, ADDRESS_ID_CAD FROM m1
      UNION ALL SELECT ADDRESS_ID_SPR, ADDRESS_ID_CAD FROM m2),
j AS (
  SELECT round(s.COMPLETENESS_SCORE, 2) AS c_spr, round(c.COMPLETENESS_SCORE, 2) AS c_cad
  FROM m JOIN spr s ON s.ADDRESS_ID = m.ADDRESS_ID_SPR
         JOIN cad c ON c.ADDRESS_ID = m.ADDRESS_ID_CAD
)
SELECT c_spr, c_cad, count(*) AS n FROM j GROUP BY 1, 2
"""
    sqls["match_score_hist"] = f"""
SELECT CAST(floor(MATCH_SCORE / 5) * 5 AS DOUBLE) AS bin_lo,
       CAST(floor(MATCH_SCORE / 5) * 5 + 5 AS DOUBLE) AS bin_hi,
       count(*) AS n
FROM ({_fuzzy_jw_oracle(top_k=1)}) GROUP BY 1, 2
"""
    sqls["v3_multiblock"] = _V3_MULTIBLOCK_ORACLE
    sqls["v3_match"] = _V3_MATCH_ORACLE
    sqls["minhash_dedup"] = _minhash_dedup_oracle()
    sqls["neardup_curation"] = f"""
WITH RECURSIVE
pairs AS ({_minhash_dedup_oracle()}),
edges AS (SELECT id_l::VARCHAR AS src, id_r::VARCHAR AS dst FROM pairs),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.src, r.lab FROM sym s JOIN reach r ON r.node = s.dst
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
rep AS (SELECT component, min(node) AS rep_id FROM comp GROUP BY component),
member AS (SELECT c.node, r.rep_id FROM comp c JOIN rep r ON r.component = c.component)
SELECT d.doc_id::VARCHAR AS doc_id,
       coalesce(m.rep_id, d.doc_id::VARCHAR) AS rep_id,
       CASE WHEN m.rep_id IS NOT NULL AND m.rep_id <> d.doc_id::VARCHAR
            THEN 'near_duplicate' ELSE 'keep' END AS verdict
FROM documents d LEFT JOIN member m ON m.node = d.doc_id::VARCHAR
"""
    sqls["simhash_neardup"] = _simhash_oracle()
    sqls["ann_topk_lsh"] = _ann_lsh_oracle()
    sqls["ann_topk_ivf"] = _ann_ivf_oracle()
    # oracle_sql() may run before the Spark query — materialize the
    # fixture here too (pyarrow write, no session needed)
    _ensure_media_fixture()
    sqls["media_stats"] = f"""
SELECT kind, count(*) AS n,
       round(avg(length(mime)), 6) AS avg_mime_len,
       round(avg(width_px), 6) AS avg_width_px,
       max(width_px) AS max_width_px,
       round(avg(duration_ms), 6) AS avg_duration_ms,
       max(duration_ms) AS max_duration_ms
FROM read_parquet('{_MEDIA_FIXTURE}')
GROUP BY kind
"""
    sqls["repos_match"] = _repos_match_oracle()
    sqls["connected_components"] = """
WITH RECURSIVE
edges AS (
  SELECT concat('S', s_suppkey) AS src, concat('N', s_nationkey) AS dst FROM supplier
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.src, r.lab FROM sym s JOIN reach r ON r.node = s.dst
)
SELECT node, min(lab) AS component FROM reach GROUP BY node
"""
    return sqls
