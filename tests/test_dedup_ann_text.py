"""Dedup ladder, ANN, and text-analysis operators on the driver testdata."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


def test_exact_dedup(spark, docs):
    from registry_address_matcher_spark.operators.dedup import exact_dedup

    groups = exact_dedup(docs, "text", "doc_id")
    total = groups.agg(F.sum("n")).collect()[0][0]
    assert total == docs.count()
    assert groups.filter("n < 1").count() == 0


def test_minhash_lsh_finds_near_duplicates(spark):
    from registry_address_matcher_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = []
    for i in range(30):
        rows.append({"id": f"a{i:02d}", "text": base + f" tail{i}" })  # near-dups of each other
    for i in range(30):
        rng = np.random.RandomState(i)
        junk = " ".join("tok%05d" % rng.randint(0, 10**5) for _ in range(40))
        rows.append({"id": f"b{i:02d}", "text": junk})
    df = spark.createDataFrame(pd.DataFrame(rows))
    sigs = minhash_signatures(df, "id", "text", shingle_n=5, num_perm=64)
    pairs = minhash_lsh_pairs(sigs, bands=16, threshold=0.7).toPandas()
    a_pairs = pairs[(pairs.id_l.str.startswith("a")) & (pairs.id_r.str.startswith("a"))]
    # all a-a pairs are true near-dups; LSH with 16 bands over 64 perms at
    # jaccard ~0.9 has recall ~1
    assert len(a_pairs) >= 30 * 29 / 2 * 0.95
    assert not ((pairs.id_l.str.startswith("b")) & (pairs.id_r.str.startswith("b"))).any()
    # verified jaccard values agree with the exact all-pairs operator
    exact = jaccard_pairs(
        df.withColumn("g", F.lit(1)), "id", "text", ["g"], n=5, threshold=0.7
    ).toPandas()
    exact_set = set(zip(exact.id_l, exact.id_r))
    assert set(zip(a_pairs.id_l, a_pairs.id_r)) <= exact_set


def test_simhash_pairs(spark):
    from registry_address_matcher_spark.operators.dedup import (
        simhash_pairs,
        simhash_signatures,
    )

    # simhash needs real token mass: 200 tokens, 2 substitutions apart
    base_tokens = [f"tok{i:03d}" for i in range(200)]
    mutated = list(base_tokens)
    mutated[10], mutated[150] = "changed1", "changed2"
    rng = np.random.RandomState(1)
    other = [f"other{rng.randint(0, 10**6):06d}" for _ in range(200)]
    rows = [
        {"id": "x1", "text": " ".join(base_tokens)},
        {"id": "x2", "text": " ".join(mutated)},
        {"id": "y1", "text": " ".join(other)},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    sigs = simhash_signatures(df, "id", "text")
    pairs = simhash_pairs(sigs, max_hamming=16).toPandas()
    found = set(zip(pairs.id_l, pairs.id_r))
    assert ("x1", "x2") in found
    assert ("x1", "y1") not in found and ("y1", "x1") not in found


def test_simhash_band_layout_guarantees_recall(spark):
    """hamming-8 pair whose flipped bits touch every 16-bit quarter: the
    round-1 fixed 4x16 banding missed it; the derived (h+1)-band layout
    must find it (pigeonhole: 8 flips cannot cover 9 bands)."""
    from registry_address_matcher_spark.operators.dedup import (
        simhash_band_layout,
        simhash_pairs,
    )

    layout = simhash_band_layout(8)
    assert len(layout) == 9 and sum(w for _, w in layout) == 64

    base = 0x0123456789ABCDEF
    flips = [0, 8, 22, 29, 36, 43, 50, 57]  # hits all four 16-bit quarters
    mutated = base
    for b in flips:
        mutated ^= 1 << b
    sigs = spark.createDataFrame(
        [("a", base), ("b", mutated)], "id string, simhash long"
    )
    pairs = simhash_pairs(sigs, max_hamming=8).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 8
    # and the old contract would have dropped it: every 16-bit chunk differs
    for off in (0, 16, 32, 48):
        assert (base >> off) & 0xFFFF != (mutated >> off) & 0xFFFF


def test_embedding_neardup_exact_vs_lsh(spark, emb):
    from registry_address_matcher_spark.operators.dedup import embedding_neardup_pairs

    exact = embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.9, exact=True)
    lsh = embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.9, n_bits=8, dim=64)
    e = set(map(tuple, exact.select("id_l", "id_r").toPandas().values))
    l = set(map(tuple, lsh.select("id_l", "id_r").toPandas().values))
    assert l <= e  # LSH never invents pairs
    if e:
        assert len(l) / len(e) >= 0.5  # and finds a solid share at 8 bits


def test_ann_lsh_recall(spark, emb):
    from registry_address_matcher_spark.operators.ann import topk_bruteforce, topk_lsh

    probes = emb.filter(F.col("vec_id") % 40 == 0)
    bf = topk_bruteforce(emb, probes, "vec_id", "embedding", k=5).toPandas()
    # this corpus is diffuse (top-5 cos ~0.3) — the hardest LSH regime;
    # 8 tables x 4 bits gives theoretical recall ~0.67 here
    ann = topk_lsh(emb, probes, "vec_id", "embedding", k=5, n_bits=4, n_tables=8, dim=64).toPandas()
    bf_set = set(zip(bf.q_id, bf.id))
    ann_set = set(zip(ann.q_id, ann.id))
    recall = len(bf_set & ann_set) / len(bf_set)
    assert recall >= 0.5, f"ANN recall {recall:.2f}"
    # approximate results never contain better-than-exact hits
    merged = ann.merge(bf, on=["q_id", "id"], suffixes=("_ann", "_bf"))
    assert (merged.cos_ann == merged.cos_bf).all()


def test_text_features(spark, docs):
    from registry_address_matcher_spark.functions.text import (
        bpe_ish_token_count_col,
        fingerprint_col,
        lang_id_col,
        quality_score_col,
        token_count_col,
    )

    out = docs.select(
        "doc_id", "text", "lang",
        token_count_col(F.col("text")).alias("n_tok"),
        bpe_ish_token_count_col(F.col("text")).alias("n_bpe"),
        quality_score_col(F.col("text")).alias("quality"),
        lang_id_col(F.col("text")).alias("lang_pred"),
        fingerprint_col(F.col("text")).alias("fp"),
    ).toPandas()
    assert (out.n_tok >= 1).all()
    assert (out.n_bpe >= out.n_tok).all()  # pieces never fewer than words
    assert out.quality.between(0, 1).all()
    # fingerprint: deterministic and shift-variant
    assert out.fp.nunique() > len(out) * 0.9

    # fingerprint stability against an independent recompute
    out2 = docs.select(fingerprint_col(F.col("text")).alias("fp")).toPandas()
    assert sorted(out.fp) == sorted(out2.fp)


def test_lang_id_on_clear_samples(spark):
    from registry_address_matcher_spark.functions.text import lang_id_col

    rows = [
        {"t": "the cat and the dog are in the house that is for sale"},
        {"t": "der Hund und die Katze ist nicht mit dem Mann von hier"},
        {"t": "le chat et les chiens est dans la maison pour une fois"},
        {"t": "xyzzy plugh qwop"},
    ]
    out = spark.createDataFrame(pd.DataFrame(rows)).select(
        "t", lang_id_col(F.col("t")).alias("lang")
    ).toPandas()
    assert list(out.lang) == ["en", "de", "fr", "und"]


def test_curate_documents_verdicts(spark):
    """Verdict precedence is duplicate > low_quality > unknown_lang >
    keep, and the duplicate representative is min id — a duplicate of a
    junk doc is still reported 'duplicate' (content identity is
    threshold-independent, plans/curate.py)."""
    from registry_address_matcher_spark.plans.curate import curate_documents

    good = (
        "the cat and the dog are in the house that is for sale today "
        "and the price is fair for the street with the garden view "
        "that the family wanted for years in the town they love most"
    )
    junk = "@@@ ### !!! %%% ^^^ &&& *** ((( ))) @@@ ### !!! %%%"
    no_lang = "xyzzy plugh qwop frotz blorb grue zork fnord wibble " * 4
    rows = [
        (1, good),
        (2, good),  # dup of 1
        (3, junk),
        (4, junk),  # dup of a LOW-QUALITY doc
        (5, no_lang),
        (6, ""),  # empty — never anyone's "duplicate"
        (7, ""),
        (8, None),  # NULL must stay in the ledger, not vanish on a NULL key
    ]
    out = curate_documents(
        spark.createDataFrame(rows, "doc_id bigint, text string"), "doc_id", "text"
    ).toPandas().set_index("doc_id")
    assert len(out) == len(rows)  # every doc ledgered, NULL included
    assert out.loc[1, "verdict"] == "keep"
    assert out.loc[2, "verdict"] == "duplicate"
    assert out.loc[3, "verdict"] == "low_quality"
    assert out.loc[4, "verdict"] == "duplicate"  # precedence over quality
    assert out.loc[5, "verdict"] == "unknown_lang"
    assert out.loc[5, "quality"] >= 0.5  # gated on lang, not quality
    assert list(out.loc[[6, 7, 8], "verdict"]) == ["empty"] * 3


def test_assign_split_deterministic_and_weighted(spark):
    """Split assignment is a pure function of (id, seed, splits): stable
    under repartition, proportions track the weights, and the seed
    reshuffles membership (plans/corpus.py)."""
    from registry_address_matcher_spark.plans.corpus import assign_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = assign_split(df, "doc_id").toPandas().set_index("doc_id")["split"]
    b = assign_split(df.repartition(7), "doc_id").toPandas().set_index("doc_id")["split"]
    assert a.sort_index().equals(b.sort_index())  # repartition-invariant

    frac = a.value_counts(normalize=True)
    assert abs(frac["train"] - 0.98) < 0.01
    assert 0.003 < frac["val"] < 0.02 and 0.003 < frac["test"] < 0.02

    seeded = assign_split(df, "doc_id", seed=1).toPandas().set_index("doc_id")["split"]
    assert (a.sort_index() != seeded.sort_index()).mean() > 0.01  # seed matters

    with pytest.raises(ValueError):
        assign_split(df, "doc_id", splits=(("train", -1), ("test", 2)))


def test_chunk_documents_windows(spark):
    """Chunks tile the token stream exactly: full 64-token windows, a
    short tail, order preserved, concatenation reconstructs the doc."""
    from registry_address_matcher_spark.plans.corpus import chunk_documents

    text = " ".join(f"w{i}" for i in range(150))  # 2 full + 22-token tail
    rows = [(1, text), (2, "solo"), (3, "")]
    out = (
        chunk_documents(spark.createDataFrame(rows, "doc_id bigint, text string"))
        .toPandas()
        .sort_values(["doc_id", "chunk_id"])
    )
    d1 = out[out.doc_id == 1]
    assert list(d1.n_tokens) == [64, 64, 22]
    assert " ".join(d1.chunk_text) == text  # lossless tiling
    assert list(out[out.doc_id == 2].chunk_text) == ["solo"]
    # empty doc: one empty chunk (split('') == ['']), never zero rows
    assert list(out[out.doc_id == 3].chunk_text) == [""]

    with pytest.raises(ValueError):
        chunk_documents(spark.createDataFrame(rows, "doc_id bigint, text string"), chunk_tokens=0)


def test_multimodal_plumbing(spark):
    from registry_address_matcher_spark.operators.multimodal import (
        decode_images,
        media_metadata_stats,
        sample_video_frames,
        synth_media,
    )

    media = synth_media(spark, n=30).persist()
    feats = decode_images(media.filter("kind = 'image'")).toPandas()
    assert len(feats) == 10
    assert all(len(f) == 32 for f in feats.feature)
    assert feats.width.between(64, 320).all()

    frames = sample_video_frames(media.filter("kind = 'video'"), every_n=2).toPandas()
    assert len(frames) > 0
    assert frames.frame_idx.min() == 0

    # column pruning applies at FILE scans: round-trip through parquet and
    # assert the metadata query never reads the payload bytes
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        media.write.mode("overwrite").parquet(f"{d}/media")
        on_disk = spark.read.parquet(f"{d}/media")
        stats = media_metadata_stats(on_disk)
        plan = stats._jdf.queryExecution().executedPlan().toString()
        scan_line = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scan_line and "payload" not in scan_line[0]
        assert stats.count() == 3


def test_ann_ivf_recall_and_determinism(spark, emb):
    """IVF coarse-quantizer path: recall vs brute force, deterministic
    centroids, single-scan native plan. (No SQL oracle BY DESIGN: k-means
    assignment boundaries are not robust to cross-engine float-summation
    differences compounding over Lloyd iterations — unlike the sign-hash
    LSH, which IS oracle-checked.)"""
    import numpy as np

    from registry_address_matcher_spark.operators.ann import (
        topk_bruteforce,
        topk_ivf,
        train_centroids_lloyd,
    )
    from pyspark.sql import functions as F

    sample = np.array(
        [
            r.v
            for r in emb.filter(F.col("vec_id") % 7 == 0)
            .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
            .orderBy("v")  # collect order must be deterministic
            .collect()
        ]
    )
    cents = train_centroids_lloyd(sample, k=16, iters=5, seed=42)
    assert cents.shape == (16, 64)
    assert np.allclose(cents, train_centroids_lloyd(sample, k=16, iters=5, seed=42))

    probes = emb.filter(F.col("vec_id") % 40 == 0)
    bf = topk_bruteforce(emb, probes, "vec_id", "embedding", k=5).toPandas()
    ivf = topk_ivf(emb, probes, "vec_id", "embedding", cents, k=5, nprobe=6).toPandas()
    bf_set = set(zip(bf.q_id, bf.id))
    ivf_set = set(zip(ivf.q_id, ivf.id))
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.5, f"IVF recall {recall:.2f}"
    # returned cos values are exact (rerank is exact within probed lists)
    merged = ivf.merge(bf, on=["q_id", "id"], suffixes=("_ivf", "_bf"))
    assert (merged.cos_ivf == merged.cos_bf).all()

    plan = topk_ivf(emb, probes, "vec_id", "embedding", cents, k=5, nprobe=6) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_minhash_fused_text_kernel_contract(spark):
    """Pin the fused text->(sig, sh) kernel's contract (xxhash64 mode,
    keep_shingles=False — the repos pipeline's scale path):

    * identical texts -> identical sig and sh (jaccard 1 by construction)
    * null / empty / shorter-than-n texts -> the empty-sig sentinel and
      an empty shingle set, matching the JVM path's guards
    * near-dup vs unrelated text separates in estimated band space
    * md5 mode NEVER routes through the fused kernel: its sh values stay
      the cross-engine (DuckDB oracle) cross_hash60 contract
    """
    from registry_address_matcher_spark.operators.dedup import (
        _MERSENNE,
        cross_hash60,
        minhash_signatures,
        ngram_shingles,
    )

    base = "def f(x):\n    return x * 41 + 7\n" * 8
    rows = [
        {"id": "dup1", "text": base},
        {"id": "dup2", "text": base},
        {"id": "near", "text": base + "# trailing comment"},
        {"id": "far", "text": "SELECT count(*) FROM t GROUP BY y HAVING z"},
        {"id": "short", "text": "ab"},
        {"id": "empty", "text": ""},
        {"id": "null", "text": None},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = minhash_signatures(
        df, "id", "text", shingle_n=5, num_perm=64,
        keep_hashed_shingles=True, keep_shingles=False,
    ).toPandas().set_index("id")
    assert list(out.columns) == ["sig", "sh"]

    assert list(out.loc["dup1", "sig"]) == list(out.loc["dup2", "sig"])
    assert sorted(out.loc["dup1", "sh"]) == sorted(out.loc["dup2", "sh"])
    sentinel = [int(_MERSENNE)] * 64
    for degenerate in ("short", "empty", "null"):
        assert list(out.loc[degenerate, "sig"]) == sentinel
        assert len(out.loc[degenerate, "sh"]) == 0

    def est_jac(a, b):
        sa, sb = out.loc[a, "sig"], out.loc[b, "sig"]
        return sum(x == y for x, y in zip(sa, sb)) / len(sa)

    assert est_jac("dup1", "near") > 0.5
    assert est_jac("dup1", "far") < 0.2
    # the true shingle-set jaccard orders the same way
    def jac(a, b):
        sa, sb = set(out.loc[a, "sh"]), set(out.loc[b, "sh"])
        return len(sa & sb) / len(sa | sb)

    # (the repeated base text has a small distinct-shingle set, so the
    # appended comment adds proportionally many shingles: true jac ~0.64)
    assert jac("dup1", "near") > 0.5 > jac("dup1", "far")

    md5_out = minhash_signatures(
        df.filter(F.col("id") == "dup1"), "id", "text", shingle_n=5,
        num_perm=64, hash_mode="md5", keep_hashed_shingles=True,
        keep_shingles=False,
    ).toPandas()
    oracle_sh = (
        df.filter(F.col("id") == "dup1")
        .select(
            F.array_distinct(
                F.transform(
                    ngram_shingles(F.col("text"), 5),
                    lambda s: cross_hash60(s) % F.lit(_MERSENNE),
                )
            ).alias("sh")
        )
        .toPandas()
    )
    assert sorted(md5_out.loc[0, "sh"]) == sorted(oracle_sh.loc[0, "sh"])


def test_zero_norm_embeddings_never_crash_or_rank(spark, tmp_path):
    """Spark 4 defaults to ANSI mode, where a plain division throws
    DIVIDE_BY_ZERO — so one all-zero embedding (padding row, failed
    encoder) would crash a cosine that divides with ``/``. Every cosine
    consumer (brute-force, LSH and IVF top-k, near-dup pairs and the
    ``embedding_topk`` query) goes through ``dedup.cosine_over``, which
    uses try_divide: zero-norm rows score NULL, which sorts below every
    real similarity in the top-k window and fails every >= threshold
    near-dup filter — they can appear in results only when real
    candidates run out, never above them, and never as near-dups."""
    import numpy as np

    import __spark_entry__ as E
    from registry_address_matcher_spark.operators.ann import (
        topk_bruteforce,
        topk_ivf,
        topk_lsh,
    )
    from registry_address_matcher_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    rows = [
        ("a", [1.0, 0.0, 0.0, 0.0]),
        ("b", [0.9, 0.1, 0.0, 0.0]),
        ("z1", [0.0, 0.0, 0.0, 0.0]),  # zero norm
        ("z2", [0.0, 0.0, 0.0, 0.0]),  # zero norm
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    zeros = {"z1", "z2"}

    def check_topk(out):
        # zero rows on either side score NULL, and within each probe every
        # real similarity ranks above every NULL
        zero_pair = out["id"].isin(zeros) | out["q_id"].isin(zeros)
        assert out[zero_pair]["cos"].isna().all()
        assert out[~zero_pair]["cos"].notna().all()
        for _, g in out.groupby("q_id"):
            real, null = g[g["cos"].notna()], g[g["cos"].isna()]
            if len(real) and len(null):
                assert real["rank"].max() < null["rank"].min()

    # top-k over the whole table, zero vectors among probes AND corpus:
    # must not raise; "a" still finds "b" first
    for topk in (
        lambda: topk_bruteforce(emb, emb, "vec_id", "embedding", k=3),
        lambda: topk_lsh(emb, emb, "vec_id", "embedding", k=3, n_bits=2, n_tables=4, dim=4),
        lambda: topk_ivf(emb, emb, "vec_id", "embedding",
                         np.random.RandomState(0).randn(2, 4), k=3, nprobe=2),
    ):
        out = topk().toPandas()
        check_topk(out)
        a = out[out["q_id"] == "a"].sort_values("rank")
        assert list(a["id"])[0] == "b"

    # near-dup: zero-norm rows never pass the threshold filter — not
    # even against each other (cosine of two zero vectors is undefined,
    # not 1.0)
    nd = embedding_neardup_pairs(emb, "vec_id", "embedding",
                                 threshold=0.5, exact=True).toPandas()
    ids = set(nd.id_l) | set(nd.id_r)
    assert not ids & zeros
    assert {"a", "b"} <= ids

    # the declared embedding_topk query over a table with one zero
    # vector, which is also a probe (vec_id % 200 == 0)
    vecs = np.random.RandomState(3).rand(401, 8)
    vecs[200] = 0.0
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    top = E.q_embedding_topk(spark, str(tmp_path)).toPandas()
    assert sorted(top["q_id"].unique()) == [0, 200, 400]
    assert len(top) == 30
    assert 200 not in set(top[top["q_id"] != 200]["vec_id"])
    assert top[top["q_id"] == 200]["cos"].isna().all()
    assert top[top["q_id"] != 200]["cos"].notna().all()


def test_stratified_sample_deterministic_and_null_safe(spark):
    from registry_address_matcher_spark.plans.corpus import stratified_sample

    rows = [(i, "en" if i % 3 == 0 else ("fr" if i % 3 == 1 else None)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = stratified_sample(df, "lang", {"en": 1.0, "fr": 0.5}, default_rate=0.0)
    got = {r["doc_id"] for r in kept.collect()}
    # all en kept; no NULL-stratum rows (default 0); fr subsampled
    en = {i for i, l in rows if l == "en"}
    fr = {i for i, l in rows if l == "fr"}
    assert en <= got
    assert not any(l is None and i in got for i, l in rows)
    assert 0 < len(got & fr) < len(fr)
    # repartitioning cannot change membership
    got2 = {r["doc_id"] for r in stratified_sample(
        df.repartition(7), "lang", {"en": 1.0, "fr": 0.5}, default_rate=0.0
    ).collect()}
    assert got == got2


def test_stratified_sample_validates_rates(spark):
    import pytest as _pytest

    from registry_address_matcher_spark.plans.corpus import stratified_sample

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with _pytest.raises(ValueError, match="rate"):
        stratified_sample(df, "lang", {"en": 1.5})
    with _pytest.raises(ValueError, match="default_rate"):
        stratified_sample(df, "lang", {"en": 1.0}, default_rate=-0.1)


def test_pii_scrub_patterns_and_order(spark):
    """Each PII kind redacts; the chain order resolves overlaps (the
    email inside a URL stays one <URL>, never a half-redacted mix)."""
    from registry_address_matcher_spark.functions.text import pii_counts, scrub_pii_col

    rows = [
        ("a", "mail me at jo.doe+x@example.co.uk today"),
        ("b", "see https://example.com/u/jo@corp.io?q=1 now"),
        ("c", "host 192.168.1.254 port 8080"),
        ("d", "call +44 (0) 20-7946 0958 please"),
        ("e", "clean text, no identifiers at all"),
        ("f", None),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            scrub_pii_col(F.col("text")).alias("s"),
            *[c.alias(k) for k, c in pii_counts(F.col("text")).items()],
        ).collect()
    }
    assert got["a"]["s"] == "mail me at <EMAIL> today"
    assert got["a"]["email"] == 1
    # URL wins over the embedded email: one <URL>, no <EMAIL> remnant
    assert got["b"]["s"] == "see <URL> now"
    assert "<EMAIL>" not in got["b"]["s"]
    assert got["c"]["s"] == "host <IP> port 8080"
    assert got["d"]["s"] == "call <PHONE> please"
    assert got["e"]["s"] == rows[4][1]
    assert got["f"]["s"] is None


def test_word_ngrams_short_doc_guard(spark):
    """Docs with fewer than n tokens yield EMPTY gram arrays — the
    descending-sequence(1,0) landmine must not fabricate grams."""
    from registry_address_matcher_spark.functions.text import word_ngrams_col

    df = spark.createDataFrame(
        [("one",), ("one two",), ("one two three",), ("",), (None,)],
        "text string",
    )
    got = df.select(word_ngrams_col(F.col("text"), 3).alias("g")).collect()
    assert [r["g"] for r in got[:3]] == [[], [], ["one two three"]]
    assert got[3]["g"] == []


def test_repetition_features_known_values(spark):
    from registry_address_matcher_spark.functions.text import repetition_features

    df = spark.createDataFrame(
        [
            ("u", "a b c d"),          # all distinct
            ("r", "x x x x"),          # one token repeated
            ("m", "a b a b a"),        # alternating
            ("s", "solo"),             # single token: no bigrams
        ],
        "id string, text string",
    )
    feats = repetition_features(F.col("text"))
    got = {
        r["id"]: r
        for r in df.select("id", *[c.alias(k) for k, c in feats.items()]).collect()
    }
    assert got["u"]["dup_token_ratio"] == 0.0
    assert got["u"]["top_token_ratio"] == 0.25
    assert got["r"]["dup_token_ratio"] == 0.75
    assert got["r"]["dup_ngram_ratio"] == pytest.approx(2 / 3)
    assert got["r"]["top_token_ratio"] == 1.0
    # "a b a b a": tokens 5, distinct 2 -> dup 0.6; bigrams
    # [a b, b a, a b, b a] -> distinct 2 of 4 -> 0.5; top token a=3/5
    assert got["m"]["dup_token_ratio"] == 0.6
    assert got["m"]["dup_ngram_ratio"] == 0.5
    assert got["m"]["top_token_ratio"] == 0.6
    assert got["s"]["dup_ngram_ratio"] == 0.0


def test_contamination_report_flags_exact_ngram_overlap(spark):
    from registry_address_matcher_spark.operators.dedup import contamination_report

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words here nothing shared at all"),
            (3, "a quick brown fox jumps over my fence yesterday"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "quick brown fox jumps over the moon")],
        "doc_id long, text string",
    )
    got = {
        r["train_id"]: r
        for r in contamination_report(train, eval_df, n=5).collect()
    }
    # doc 1 shares "quick brown fox jumps over"; doc 3 shares it too;
    # doc 2 shares nothing
    assert set(got) == {1, 3}
    assert got[1]["n_eval_docs"] == 1
    assert got[1]["n_grams_hit"] >= 1


def test_tfidf_scores_manual_oracle(spark):
    """Hand-computed tf*ln(N/df) on a 4-doc corpus."""
    import math

    from registry_address_matcher_spark.functions.text import tfidf_scores

    df = spark.createDataFrame(
        [
            (1, "spark spark is fast"),
            (2, "spark joins are wide"),
            (3, "ducks also fly south"),
            (4, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"] for r in tfidf_scores(df, ["spark"]).collect()}
    idf = math.log(4 / 2)
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(2 * idf, abs=1e-6)
    assert got[2] == pytest.approx(1 * idf, abs=1e-6)


def test_contamination_max_eval_df_drops_boilerplate_grams(spark):
    """A gram shared by many eval docs (boilerplate) is dropped before
    the join under max_eval_df — it carries no contamination signal and
    multiplies join fan-out by its eval-side df."""
    from registry_address_matcher_spark.operators.dedup import contamination_report

    boiler = "all rights reserved by the author"
    train = spark.createDataFrame(
        [(1, boiler + " plus unique body one"),
         (2, "totally different content with no overlap whatsoever")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, boiler + " eval answer alpha"),
         (101, boiler + " eval answer beta"),
         (102, boiler + " eval answer gamma")],
        "doc_id long, text string",
    )
    uncapped = contamination_report(train, eval_df, n=5)
    assert {r["train_id"]: r["n_eval_docs"] for r in uncapped.collect()} == {1: 3}
    capped = contamination_report(train, eval_df, n=5, max_eval_df=1)
    assert capped.count() == 0

    with pytest.raises(ValueError, match="max_eval_df"):
        contamination_report(train, eval_df, max_eval_df=0)


def test_pii_scrub_property_no_residual_matches(spark):
    """Property: after the scrub chain, NO pattern matches remain —
    regardless of how identifiers are embedded, abutted, or repeated.
    Inputs are adversarial compositions (identifier fragments glued to
    digits/@/dots) generated deterministically, evaluated in one Spark
    pass through the same native expressions production uses."""
    import itertools

    from registry_address_matcher_spark.functions.text import pii_counts, scrub_pii_col

    frags = [
        "a@b.co", "http://x.io/p?q=1", "10.0.0.1", "+12345678901",
        "999", ".", "@", " ", "word", "+", "https://", "1.2.3.4.5",
    ]
    rows = [
        ("".join(c),) for c in itertools.permutations(frags, 3)
    ][:800] + [(" ".join(c),) for c in itertools.combinations(frags, 4)][:400]
    df = spark.createDataFrame(rows, "text string")
    scrubbed = df.select(scrub_pii_col(F.col("text")).alias("text"))
    residual = scrubbed.select(
        *[c.alias(k) for k, c in pii_counts(F.col("text")).items()]
    ).agg(*[F.sum(k).alias(k) for k in ("url", "email", "ipv4", "phone")])
    got = residual.collect()[0].asDict()
    assert got == {"url": 0, "email": 0, "ipv4": 0, "phone": 0}, got


def test_neardup_ledger_production_config(spark):
    """neardup_ledger with the PRODUCTION config (xxhash signatures,
    int64-compressed buckets): the planted near-dup family collapses to
    ONE survivor, distinct docs all keep, the ledger is id-complete, and
    the survivor is the deterministic lexicographic-min id."""
    from registry_address_matcher_spark.plans.curate import neardup_ledger

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = [{"id": f"a{i:02d}", "text": base + f" tail{i}"} for i in range(12)]
    for i in range(12):
        rng = np.random.RandomState(1000 + i)
        junk = " ".join("tok%05d" % rng.randint(0, 10**5) for _ in range(40))
        rows.append({"id": f"b{i:02d}", "text": junk})
    df = spark.createDataFrame(pd.DataFrame(rows))

    ledger = neardup_ledger(df, "id", "text", threshold=0.7).toPandas()
    assert len(ledger) == 24 and set(ledger.id) == {r["id"] for r in rows}
    a = ledger[ledger.id.str.startswith("a")]
    b = ledger[ledger.id.str.startswith("b")]
    # one family, min-id survivor, everyone else a near_duplicate of it
    assert set(a.rep_id) == {"a00"}
    assert set(a[a.id != "a00"].verdict) == {"near_duplicate"}
    assert a[a.id == "a00"].verdict.iloc[0] == "keep"
    # distinct docs: self-rep, all keep
    assert (b.verdict == "keep").all() and (b.rep_id == b.id).all()
