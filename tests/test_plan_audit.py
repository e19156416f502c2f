"""Physical-plan audits: the properties that matter at 100 TB.

These assert on `.explain` output, not results: filters reach the parquet
scan, projections prune columns, normalization stays JVM-side, the only
Python in the fuzzy plan is the single Arrow kernel, and small build
sides broadcast.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" not in read_schema  # pruned
    assert "*(" in plan  # whole-stage codegen stage marker


def test_normalize_is_fully_native(spark):
    from registry_address_matcher_spark.operators.preprocess import preprocess_registry
    import __spark_entry__ as E

    out = preprocess_registry(E._cad(spark, SF))
    plan = _plan(out)
    # no Python evaluation nodes anywhere in the normalization chain
    assert "EvalPython" not in plan and "BatchEval" not in plan
    # _cad's width-spreading repartition makes the plan AQE-eligible, and
    # the ADAPTIVE plan prints codegen markers only once finalized — force
    # execution of THIS queryExecution (a write would plan a fresh one),
    # then assert on the final plan
    out.collect()
    plan = _plan(out)
    assert "*(" in plan  # whole-stage codegen stage marker


def test_fuzzy_plan_has_single_arrow_stage(spark):
    from registry_address_matcher_spark.operators.fuzzy import fuzzy_matches
    from registry_address_matcher_spark.operators.preprocess import preprocess_registry
    import __spark_entry__ as E

    spr = preprocess_registry(E._spr(spark, SF))
    cad = preprocess_registry(E._cad(spark, SF))
    plan = _plan(fuzzy_matches(spr, cad))
    # at most one Arrow python stage: the 4-scorer kernel of the direct
    # tier. The driver tier has ZERO (LocalTableScan score table); either
    # way there is never a second Python stage and never a row-at-a-time
    # BatchEvalPython.
    assert plan.count("ArrowEvalPython") <= 1
    assert "BatchEvalPython" not in plan
    # blocking is an equi-join, not a cartesian product
    assert "CartesianProduct" not in plan


def test_small_dim_broadcasts(spark):
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    q = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    assert "BroadcastHashJoin" in _plan(q)


def test_exact_join_is_hash_based_not_nested_loop(spark):
    from registry_address_matcher_spark.operators.exact import exact_full_matches
    from registry_address_matcher_spark.operators.preprocess import preprocess_registry
    import __spark_entry__ as E

    spr = preprocess_registry(E._spr(spark, SF))
    cad = preprocess_registry(E._cad(spark, SF))
    plan = _plan(exact_full_matches(spr, cad))
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ann_lsh_plan_native_single_scan(spark):
    """Round-1 defect fixed: topk_lsh must compute ALL table buckets in
    one native projection — zero Python nodes, corpus scanned once, probe
    side broadcast."""
    from registry_address_matcher_spark.operators.ann import topk_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    plan = _plan(topk_lsh(emb, probes, "vec_id", "embedding", k=10, n_bits=4, n_tables=8, dim=64))
    assert "EvalPython" not in plan  # buckets are native expressions
    assert plan.count("embeddings.parquet") == 2  # corpus scan + probe scan, not 8x
    assert "BroadcastHashJoin" in plan  # probe side broadcast
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("method", ["bruteforce", "lsh", "ivf"])
def test_ann_norms_projected_per_row_below_the_join(spark, method):
    """Vector norms are folded once per ROW, below the pair-forming join:
    no sqrt may appear on the join line or anywhere above it, where it
    would run once per candidate PAIR."""
    import numpy as np

    from registry_address_matcher_spark.operators import ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    df = {
        "bruteforce": lambda: ann.topk_bruteforce(emb, probes, "vec_id", "embedding"),
        "lsh": lambda: ann.topk_lsh(emb, probes, "vec_id", "embedding", dim=64),
        "ivf": lambda: ann.topk_ivf(
            emb, probes, "vec_id", "embedding", np.random.RandomState(7).randn(16, 64)
        ),
    }[method]()
    lines = _plan(df).splitlines()
    first_join = next(i for i, ln in enumerate(lines) if "Join" in ln)
    above = "\n".join(lines[: first_join + 1])
    assert "sqrt(" not in above.lower(), above


def test_embedding_neardup_lsh_plan_native(spark):
    from registry_address_matcher_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.9, n_bits=8, dim=64))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Writing the corpus partitioned by a filter column must let the
    scan prune directories: the partition filter appears as a
    PartitionFilters entry and pushed file listing, not a post-scan
    Filter over all rows."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(path)
    q = spark.read.parquet(path).filter(F.col("lang") == "en").select("doc_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1][:120]
    assert "lang" in seg  # the lang predicate prunes at listing time


def test_ann_literal_trees_bounded_at_production_dims(spark):
    """Round-2 scale landmine: element-wise literal arrays made the plan
    O(k x dim) / O(bits x tables x dim) Catalyst nodes — minutes of
    analysis and codegen fallback at production dims. With one array
    literal per plane/centroid the plan must BUILD in seconds at
    dim=1024 with k=64 centroids and 12-bit x 8-table LSH."""
    import time

    import numpy as np

    from registry_address_matcher_spark.operators.ann import topk_ivf, topk_lsh

    dim = 1024
    emb = spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.col("id") + i).cast("double") / dim,
        ).alias("embedding"),
    )
    probes = emb.limit(2)
    cents = np.random.RandomState(7).randn(64, dim)

    t0 = time.time()
    plan_ivf = _plan(topk_ivf(emb, probes, "vec_id", "embedding", cents, k=3, nprobe=2))
    plan_lsh = _plan(
        topk_lsh(emb, probes, "vec_id", "embedding", k=3, n_bits=12, n_tables=8, dim=dim)
    )
    dt = time.time() - t0
    assert dt < 30, f"plan build took {dt:.1f}s — literal tree re-grew"
    for plan in (plan_ivf, plan_lsh):
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
    # and the plans execute (codegen path, not just analysis)
    rows = topk_ivf(emb, probes, "vec_id", "embedding", cents, k=3, nprobe=2).collect()
    assert len(rows) > 0


def test_arrow_batches_byte_capped(spark):
    """The session must carry the Arrow byte cap (wide Arrow batches past
    the netty pooled-chunk size allocate unpooled — one mmap per batch,
    measured as a system-time storm on the repos scoring stage; see
    session.py). Record cap alone does NOT bound wide-row batches."""
    assert (
        int(spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch"))
        <= 8 * 1024 * 1024
    )
    assert int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) > 0


def test_score_pairs_broadcast_policy_pinned(spark):
    """Join 1's shape must follow score_pairs' EXPLICIT broadcast policy,
    not the planner's size estimate — the estimate sits near the
    auto-broadcast threshold right in the regime that matters and flipped
    to a spill-storming sort-merge at 1.27M pairs (see
    repos_pipeline._BROADCAST_PAIRS_MAX). With the session's
    auto-broadcast disabled, any BroadcastHashJoin in the plan can only
    come from the explicit hint; with broadcast_pairs_max=0 the same tiny
    job must take the co-partitioned path instead."""
    from registry_address_matcher_spark.repos_pipeline import (
        ReposMatchConfig,
        normalize_repos,
        score_pairs,
    )

    cfg = ReposMatchConfig()
    rows = [
        (f"r{i}", f"p{i}/f{i}.py", f"c{i}", "py", f"def f{i}(): return {i}")
        for i in range(6)
    ]
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    norm = normalize_repos(repos)
    ids = [r.file_id for r in norm.select("file_id").collect()]
    pairs = spark.createDataFrame(
        [("py", ids[0], ids[1]), ("py", ids[2], ids[3])],
        "lang string, id_l string, id_r string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fast = _plan(score_pairs(pairs, norm, cfg, n_pairs=2, checkpoint_side=False))
        assert "BroadcastHashJoin" in fast  # the hinted join-1 fast path
        wide = _plan(
            score_pairs(
                pairs, norm, cfg, n_pairs=2, checkpoint_side=False,
                broadcast_pairs_max=0,
            )
        )
        assert "BroadcastHashJoin" not in wide  # knob forces co-partition
        # the co-partition path shuffles join 1 on id_l by hash
        assert "hashpartitioning(id_l" in wide
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_text_hygiene_ops_native_and_broadcast(spark):
    """The round-5 hygiene family stays JVM-side and broadcast-shaped:
    tfidf (df/N ride as broadcasts, zero Python), contamination (eval
    side BroadcastHashJoin, no Window unless max_eval_df asks for one),
    latest_events (partial map-side aggregation, NO window sort)."""
    import __spark_entry__ as E

    tfidf = E.q_tfidf_topk(spark, SF)
    plan = _plan(tfidf)
    assert "EvalPython" not in plan and "BatchEval" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan

    cont = E.q_contamination(spark, SF)
    plan = _plan(cont)
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan  # no cap requested -> no window node

    latest = E.q_latest_events(spark, SF)
    plan = _plan(latest)
    # max_by aggregates partially before the shuffle — the window
    # spelling would show Window + Sort over the full table instead
    assert "Window" not in plan
    assert "partial_max_by" in plan or "partial_max" in plan


def test_neardup_curation_membership_plan_no_quadratic_paths(spark):
    """The composed near-dup curation query (MinHash -> LSH pairs -> CC ->
    survivor ledger): the membership/ledger plan around the CC loop must
    stay hash-join-shaped — no cartesian products, no nested-loop joins,
    and no single-partition global window anywhere in the composition."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["neardup_curation"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
