"""Approximate nearest neighbors over an embedding column.

Every method returns ``DataFrame[q_id, id, cos, rank]``. Vectors and
their norms come from :func:`~.dedup.double_vecs` (one norm per row,
projected before any join); the pairs are scored by
:func:`~.dedup.cosine_over` and ranked in one shared top-k window. The
probe side is always broadcast, so the join never shuffles the corpus.

* :func:`topk_bruteforce` — exact baseline: every probe against every
  corpus row.
* :func:`topk_lsh` — ``n_tables`` random-hyperplane tables, all keys
  computed in ONE native projection (array of per-table buckets +
  posexplode), joined on (table, bucket). Recall < 1 by construction;
  measured against brute force in tests.
* :func:`topk_ivf` — coarse quantizer lists, ``nprobe`` lists per probe.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    cosine_over,
    dot_fold,
    double_vecs,
    hyperplane_bucket_over,
    hyperplane_planes,
    hyperplane_tables_df,
)


def _probe_side(vecs: DataFrame) -> DataFrame:
    return vecs.select(F.col("id").alias("q_id"), F.col("v").alias("qv"), F.col("nv").alias("nq"))


def _topk(pairs: DataFrame, k: int) -> DataFrame:
    """Cosine + ``row_number`` top-k over ``(q_id, id, qv, v, nq, nv)``
    pairs; ties break on ``id``."""
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        pairs.withColumn("cos", cosine_over(F.col("qv"), F.col("v"), F.col("nq"), F.col("nv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "id", "cos", "rank")
    )


def topk_bruteforce(
    corpus: DataFrame, probes: DataFrame, id_col: str, vec_col: str, k: int = 10
) -> DataFrame:
    """Exact top-k: DataFrame[q_id, id, cos, rank]."""
    p = _probe_side(double_vecs(probes, id_col, vec_col))
    pairs = double_vecs(corpus, id_col, vec_col).join(
        F.broadcast(p), F.col("id") != F.col("q_id")
    )
    return _topk(pairs, k)


def _multi_table_keyed(vecs: DataFrame, planes_per_table: list, v_col: str) -> DataFrame:
    """``vecs`` plus every table's bucket of ``v_col``, exploded to
    (table, bucket) rows — a single pass over the input. The plane
    matrices ride as broadcast DATA (one-row cross join +
    higher-order-function folds): zero large literals in the plan, so
    analyzer cost is independent of dim x bits x tables (the round-2
    literal form cost ~10 s PER TRANSFORMATION at dim 1024); buckets are
    bit-identical to the literal form."""
    tables = hyperplane_tables_df(vecs.sparkSession, planes_per_table)
    # bucket array lands as a real column FIRST: referencing `v` both as
    # an alias target and inside the generator in one select trips
    # Spark's lateral-column-alias resolution (INTERNAL_ERROR)
    withb = vecs.crossJoin(F.broadcast(tables)).withColumn(
        "__bk", F.transform(F.col("__ts"), lambda tbl: hyperplane_bucket_over(F.col(v_col), tbl))
    )
    return withb.select(*vecs.columns, F.posexplode("__bk").alias("table", "bucket"))


def topk_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_bits: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Multi-table LSH top-k: candidates are the union of bucket hits
    across tables, scored exactly, windowed top-k.

    Recall/scan tradeoff is (p^k, L)-standard: per-bit agreement
    p = 1 - theta/pi, table hit = p^n_bits, recall = 1-(1-p^n_bits)^L.
    Pick (n_bits, n_tables) from the corpus's similarity profile: tight
    near-dup corpora (cos ~0.95) afford n_bits 12-16 at small L; diffuse
    corpora need smaller n_bits.

    ``dim`` is required: inferring it would run a driver-side ``first()``
    at plan-build time (round-1 defect). Physical plan: one corpus scan,
    native bucket math (no Python), broadcast probe side, equi-join.
    """
    if dim is None:
        raise ValueError("dim is required (no plan-build-time actions)")
    planes = [hyperplane_planes(dim, n_bits, seed + t) for t in range(n_tables)]
    c_keyed = _multi_table_keyed(double_vecs(corpus, id_col, vec_col), planes, "v")
    p_keyed = _multi_table_keyed(_probe_side(double_vecs(probes, id_col, vec_col)), planes, "qv")
    pairs = c_keyed.join(F.broadcast(p_keyed), ["table", "bucket"]).filter(
        F.col("id") != F.col("q_id")
    )
    return _topk(pairs.dropDuplicates(["q_id", "id"]), k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) variant — coarse quantizer + per-list exact rerank
# ---------------------------------------------------------------------------

def train_centroids_lloyd(
    sample: np.ndarray, k: int, iters: int = 5, seed: int = 42
) -> np.ndarray:
    """Deterministic coarse quantizer: seed-hashed init rows + ``iters``
    fixed Lloyd steps in numpy over a DRIVER-SIDE SAMPLE (at 100 TB you
    sample ~100k vectors — the quantizer is a build artifact, like an
    index; it never sees the full corpus). No MLlib: KMeans|| init order
    depends on partitioning, which would break run-to-run determinism —
    the whole point here is centroids you can embed as literals in an
    external verification query."""
    sample = np.asarray(sample, dtype=np.float64)
    n = len(sample)
    rng = np.random.RandomState(seed)
    cents = sample[rng.permutation(n)[:k]].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def centroids_df(spark, centroids: np.ndarray) -> DataFrame:
    """Broadcast carrier for the coarse quantizer: ONE row,
    ``__cs array<struct<cn:double, cv:array<double>>>`` (||c||^2, vector)
    in centroid order. Data, not literals — analyzer cost O(1) at any
    k x dim (the literal form re-paid ~10 s of analysis per DataFrame
    transformation at k=64 x dim=1024)."""
    data = [([(float(c @ c), [float(x) for x in c]) for c in centroids],)]
    return spark.createDataFrame(data, "__cs array<struct<cn:double,cv:array<double>>>")


def centroid_dists_col(vec: Column) -> Column:
    """Per-centroid score array, proportional to squared L2:
    ||c||^2 - 2 v.c (||v||^2 constant across centroids, argmin unchanged)
    — folds over the ``__cs`` data column; order matches an external
    engine evaluating the same literals (dot_fold is left-to-right)."""
    return F.transform(F.col("__cs"), lambda s: s["cn"] - 2.0 * dot_fold(vec, s["cv"]))


def ivf_assign_col(dists: Column) -> Column:
    """Nearest-centroid id (1-based; first occurrence wins ties — the
    same contract as DuckDB's list_position(d, list_min(d)))."""
    return F.array_position(dists, F.array_min(dists))


def topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k: corpus rows land in their nearest-centroid list (ONE
    native projection, corpus never reshuffles — the probe side is
    broadcast); each probe scans its ``nprobe`` nearest lists and exact-
    reranks by cosine. Recall loss is only cross-list neighbors; measured
    against brute force in tests.
    """
    cdf = centroids_df(corpus.sparkSession, centroids)
    c = (
        double_vecs(corpus, id_col, vec_col)
        .crossJoin(F.broadcast(cdf))
        .withColumn("cid", ivf_assign_col(centroid_dists_col(F.col("v"))))
        .drop("__cs")
    )
    p = _probe_side(double_vecs(probes, id_col, vec_col))
    # probe-side nprobe lists: explode all centroid distances, rank
    pk = p.crossJoin(F.broadcast(cdf)).select(
        "q_id", "qv", "nq",
        F.posexplode(centroid_dists_col(F.col("qv"))).alias("cidx", "dist"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("cidx").asc())
    pk = (
        pk.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select("q_id", "qv", "nq", (F.col("cidx") + 1).alias("cid"))  # 1-based like assign
    )
    pairs = c.join(F.broadcast(pk), "cid").filter(F.col("id") != F.col("q_id"))
    return _topk(pairs.dropDuplicates(["q_id", "id"]), k)
