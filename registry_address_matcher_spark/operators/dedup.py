"""Document deduplication operators — the training-data-pipeline family.

The reference's only dedup concept is ``duplicates = len - nunique``
(``/root/reference/src/quality/analyzer.py:10``); a 100 TB corpus needs
the full ladder:

* :func:`exact_dedup` — hash-groupBy on sha256(content), one shuffle.
* :func:`ngram_shingles` / :func:`jaccard_pairs` — exact n-gram Jaccard
  between candidate pairs, all-native array ops.
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: shingle->xxhash64 (JVM) -> per-row numpy signature (one Arrow
  pass) -> band explode -> bucket self-join -> exact-Jaccard verify.
  Shuffle volume is O(docs x bands), never O(docs^2); oversized buckets
  are capped deterministically and reported, never silently.
* :func:`simhash_signatures` / :func:`simhash_pairs` — 64-bit SimHash,
  banded on 4x16-bit chunks, hamming verify via native bit_count(xor).
* :func:`embedding_neardup_pairs` — cosine near-duplicates over an
  embedding column; exact variant blocks on nothing (quadratic guard:
  caller supplies blocking), LSH variant buckets by random-hyperplane
  sign bits.

All randomness is seed-derived at plan-build time — same seed, same
plan, same result on any cluster size.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Mersenne prime 2^31-1: with a, b, x all < p the products stay under
# 2^62, so the whole (a*x + b) % p signature matrix runs in native int64
# numpy — object-dtype bigint math is ~100x slower per doc
_MERSENNE = (1 << 31) - 1


# ---------------------------------------------------------------------------
# cross-engine hashing (md5 mode)
# ---------------------------------------------------------------------------
# xxhash64 is Spark-only; when results must be reproducible by an external
# SQL engine (the driver's DuckDB oracle), hash via the first 60 bits of
# md5 instead: Spark `conv(substr(md5(x),1,15),16,10)` is bit-identical to
# DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`. 60 bits < 2^63, always
# positive. md5 costs ~3x xxhash64 per call — the default stays xxhash64;
# md5 mode is for oracle-checked configurations.

def cross_hash60(col: Column) -> Column:
    """60-bit non-negative hash computable identically in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def cross_hash60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`cross_hash60` (single source of truth for
    oracle builders)."""
    return f"('0x' || substr(md5({expr}),1,15))::BIGINT"


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Representative row per identical content: groupBy sha256, keep min id.

    Returns DataFrame[hash, rep_id, n] (n = group size)."""
    return (
        df.withColumn("__h", F.sha2(F.col(text_col), 256))
        .groupBy(F.col("__h").alias("hash"))
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# n-gram shingles + exact jaccard (native)
# ---------------------------------------------------------------------------

def ngram_shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-gram array, fully native (no UDF).

    Guarded for short inputs: Spark's ``sequence(1, 0)`` yields a
    DESCENDING ``[1, 0]`` (not empty) — texts shorter than ``n`` must
    short-circuit to an empty array or they grow phantom shingles."""
    length = F.length(col)
    idx = F.sequence(F.lit(1), length - (n - 1))
    grams = F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(n))))
    return F.when(length >= n, grams).otherwise(F.array().cast("array<string>"))


def jaccard_col(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over two array columns (native)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard for all intra-block pairs (id_l < id_r).

    Quadratic within blocks by design — callers bound block size (the LSH
    path below replaces blocking with banding at scale)."""
    withsh = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols],
        ngram_shingles(F.col(text_col), n).alias("__sh"),
    )
    left = withsh.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_l"), F.col("__sh").alias("sh_l"),
    )
    right = withsh.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_r"), F.col("__sh").alias("sh_r"),
    )
    pairs = left.join(right, block_cols).filter(F.col("id_l") < F.col("id_r"))
    return (
        pairs.withColumn("jaccard", F.round(jaccard_col(F.col("sh_l"), F.col("sh_r")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return a, b


def minhash_params_md5(num_perm: int, seed: int) -> tuple[list[int], list[int]]:
    """Permutation params derived from md5 — reproducible OUTSIDE this
    process (oracle SQL embeds them as literals), unlike RandomState's
    C stream. a in [1, p-1], b in [0, p-1]."""
    a = [_py_hash60(f"mh-a:{seed}:{i}") % (_MERSENNE - 1) + 1 for i in range(num_perm)]
    b = [_py_hash60(f"mh-b:{seed}:{i}") % _MERSENNE for i in range(num_perm)]
    return a, b


def make_minhash_udf(num_perm: int = 64, seed: int = 42, params: tuple | None = None):
    """Arrow-batched signature kernel: array<long> shingle hashes ->
    array<long> MinHash signature. Inputs are folded below the Mersenne
    prime so the whole (a*x+b) mod p matrix stays inside native int64
    numpy (see _MERSENNE note above)."""
    a, b = params if params is not None else _minhash_params(num_perm, seed)
    a = np.asarray(a, dtype=np.int64)[:, None]
    b = np.asarray(b, dtype=np.int64)[:, None]

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash(hashes: pd.Series) -> pd.Series:
        out = []
        empty = [int(_MERSENNE)] * num_perm
        for h in hashes:
            if h is None or len(h) == 0:
                out.append(empty)
                continue
            # fold inputs below p first so every product fits in int64
            x = (np.asarray(h, dtype=np.int64) % _MERSENNE)[None, :]
            sig = ((a * x + b) % _MERSENNE).min(axis=1)
            out.append(sig.tolist())
        return pd.Series(out)

    return minhash


def make_minhash_text_udf(
    num_perm: int, seed: int, params: tuple, shingle_n: int, keep_sh: bool
):
    """Fused text -> (MinHash signature[, hashed shingle set]) kernel.

    One Arrow crossing does shingling, shingle hashing AND the signature:
    character ``shingle_n``-gram windows over the codepoint array (utf-32
    view, so semantics match the JVM path's character substr windows),
    hashed with a vectorized splitmix64-style mix, then the (a*x+b) mod p
    permutation matrix. Replaces the JVM spelling — ``ngram_shingles`` +
    interpreted higher-order ``transform(xxhash64)`` — whose per-element
    allocation made the pre-shuffle map stage the pipeline's top
    width-CPU inflater (round-5 stage audit: 81.9 cpu-s of the 108k-file
    checkpoint job, inflating ~30% from 2 to 8 concurrent tasks) and
    whose output (one hash per shingle occurrence) dominated the kernel
    input shuffle (248 MB vs ~60 MB of raw text for 108k files).

    The shingle-hash VALUES differ from the JVM path's abs(xxhash64) —
    callers must not mix the two spellings inside one Jaccard comparison
    (shingle-set Jaccard only needs both sides hashed identically; both
    pipeline paths are self-consistent). md5 mode never routes here: its
    values are the cross-engine oracle contract.
    """
    a, b = params
    a = np.asarray(a, dtype=np.int64)[:, None]
    b = np.asarray(b, dtype=np.int64)[:, None]
    n = shingle_n
    K = np.uint64(0x9E3779B97F4A7C15)
    M1 = np.uint64(0xBF58476D1CE4E5B9)
    M2 = np.uint64(0x94D049BB133111EB)
    fields = [T.StructField("sig", T.ArrayType(T.LongType()))]
    if keep_sh:
        fields.append(T.StructField("sh", T.ArrayType(T.LongType())))

    @pandas_udf(T.StructType(fields))
    def mh_text(texts: pd.Series) -> pd.DataFrame:
        empty_sig = [int(_MERSENNE)] * num_perm
        sigs: list = []
        shs: list = []
        for s in texts:
            cp = (
                np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
                if s
                else np.empty(0, dtype=np.uint32)
            )
            m = cp.size - (n - 1)
            if m <= 0:
                sigs.append(empty_sig)
                if keep_sh:
                    shs.append([])
                continue
            h = np.zeros(m, dtype=np.uint64)
            for j in range(n):  # n is tiny (5); windows stay vectorized
                h = h * K + cp[j : j + m]
            h ^= h >> np.uint64(30)
            h *= M1
            h ^= h >> np.uint64(27)
            h *= M2
            h ^= h >> np.uint64(31)
            sh = np.unique(h).view(np.int64)
            x = sh % _MERSENNE
            # Cache-blocked permutation math: the one-shot broadcast form
            # ((a * x + b) % M).min(1) materializes three (num_perm, |sh|)
            # int64 temporaries (~3.6 MB per ~2.4k-shingle doc) and
            # re-reads them from DRAM on every pass — measured as the
            # kernel's width-scaling limiter (8 workers contend for one
            # host's memory channels). Chunking 16 permutations at a time
            # keeps the working set ~300 KB (L2-resident) and the += / %=
            # passes in-place; values are bit-identical. Micro-bench:
            # 1.4x single-process, 2->8-process efficiency 0.78 -> 0.89.
            sig = np.empty(num_perm, dtype=np.int64)
            for c in range(0, num_perm, 16):
                t = a[c:c + 16] * x
                t += b[c:c + 16]
                t %= _MERSENNE
                sig[c:c + 16] = t.min(axis=1)
            sigs.append(sig.tolist())
            if keep_sh:
                shs.append(sh.tolist())
        data = {"sig": sigs}
        if keep_sh:
            data["sh"] = shs
        return pd.DataFrame(data)

    return mh_text


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_perm: int = 64,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    n_docs: int | None = None,
    docs_per_partition: int = 4_000,
    keep_hashed_shingles: bool = False,
    keep_shingles: bool = True,
) -> DataFrame:
    """DataFrame[id, shingles array<string>, sig array<long>].

    hash_mode="md5" makes the whole signature pipeline reproducible in
    external SQL engines (shingle hash = :func:`cross_hash60`, permutation
    params = :func:`minhash_params_md5`) at ~3x the hashing cost —
    xxhash64 stays the scale default.

    ``keep_hashed_shingles`` adds ``sh`` — the distinct hashed shingle
    SET the signature was computed over (``array<long>``) — so a
    downstream shingle-Jaccard scoring stage can reuse it instead of
    re-hashing the corpus (the repos pipeline folds it into its one
    checkpoint and saves an entire materialization stage). In md5 mode
    ``sh`` is value-identical to :func:`~..repos_pipeline.shingle_side`'s
    hashing (both ``cross_hash60 % p``); in xxhash64 mode it carries the
    kernel's ``abs(xxhash64)`` — a sign-fold whose extra collision odds
    are ~|sh|^2/2^63 per doc, immaterial for Jaccard.

    ``n_docs`` (a caller-known row count — never computed here, no
    plan-build action) sizes the kernel stage at a constant
    ``docs_per_partition`` docs per partition, so the Arrow batch shape is
    identical at every cluster size; unknown count falls back to
    4 x cores.

    ``keep_shingles=False`` drops the ``shingles`` string-array column
    from the output; in xxhash64 mode it ALSO routes the whole
    shingle+hash+signature computation through the fused Arrow kernel
    (:func:`make_minhash_text_udf`) — raw text crosses the repartition
    shuffle instead of per-shingle hash arrays, and the interpreted JVM
    higher-order shingle expressions disappear from the plan. md5 mode
    keeps the JVM spelling regardless: its shingle-hash values are the
    cross-engine (DuckDB oracle) contract."""
    sh = ngram_shingles(F.col(text_col), shingle_n)
    if hash_mode == "md5":
        hashed = F.transform(sh, lambda s: cross_hash60(s) % F.lit(_MERSENNE))
        a, b = minhash_params_md5(num_perm, seed)
    else:
        hashed = F.transform(sh, lambda s: F.abs(F.xxhash64(s)))
        a, b = _minhash_params(num_perm, seed)
    # spread the CPU-bound signature stage across cores explicitly: AQE
    # sizes by (compressed) bytes and would otherwise serialize it
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if n_docs is not None:
        from ..partitioning import cpu_stage_partitions

        n_part = cpu_stage_partitions(n_docs, docs_per_partition, cores)
    else:
        n_part = max(cores * 4, 8)
    # Why the Arrow kernel and not a native expression: Spark evaluates
    # higher-order functions INTERPRETED (no whole-stage codegen), so the
    # "native" spellings are far slower than one vectorized numpy pass —
    # measured on 36k docs x 64 perms at 8 cores: Arrow kernel 5.4 s wall
    # / 28 cpu-s; aggregate()-least fold 24 s / 181 cpu-s; transform()+
    # array_min 265 s / 2044 cpu-s (it also materializes one array per
    # permutation per doc). Same signatures in all three (verified).
    if hash_mode != "md5" and not keep_shingles:
        mh_text = make_minhash_text_udf(
            num_perm, seed, (a, b), shingle_n, keep_hashed_shingles
        )
        base = df.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("__t")
        ).repartition(n_part, "id")
        st = mh_text(F.col("__t"))
        cols = [F.col("id"), st["sig"].alias("sig")]
        if keep_hashed_shingles:
            # same PythonUDF expression twice -> Spark extracts and
            # evaluates it ONCE (ExtractPythonUDFs dedups by canonical
            # equality); one Arrow crossing total
            cols.append(st["sh"].alias("sh"))
        return base.select(*cols)
    mh = make_minhash_udf(num_perm, seed, params=(a, b))
    base = df.select(
        F.col(id_col).alias("id"), sh.alias("shingles"), hashed.alias("__h")
    ).repartition(n_part, "id")
    out = ["id", mh(F.col("__h")).alias("sig")]
    if keep_shingles:
        out.insert(1, "shingles")
    if keep_hashed_shingles:
        out.append(F.array_distinct("__h").alias("sh"))
    return base.select(*out)


def minhash_lsh_pairs(
    sigs: DataFrame,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    hash_buckets: bool = True,
) -> DataFrame:
    """Band the signatures, bucket-join, verify with exact shingle Jaccard.

    Returns DataFrame[id_l, id_r, jaccard] with jaccard >= threshold.
    Buckets larger than ``max_bucket`` are deterministically truncated
    (sorted by id) — bounded worst case, and the truncation is visible in
    the returned plan's lineage (cap recorded by caller via block report).

    ``hash_buckets=False`` keeps the raw comma-joined band slice as the
    bucket key (cross-engine reproducible); True compresses it to int64
    via xxhash64 — fewer shuffle bytes, the default at scale.
    """

    def band_key(b_i):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(
                    F.col("sig"),
                    b_i * (F.size("sig") / bands).cast("int") + 1,
                    (F.size("sig") / bands).cast("int"),
                ),
                lambda v: v.cast("string"),
            ),
        )
        return F.xxhash64(joined).cast("string") if hash_buckets else joined

    banded = sigs.select(
        "id", "shingles",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_key)
        ).alias("band", "bucket"),
    )
    # deterministic bucket cap
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket").orderBy("id")
    banded = banded.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= max_bucket
    )
    left = banded.select(
        "band", "bucket", F.col("id").alias("id_l"), F.col("shingles").alias("sh_l")
    )
    right = banded.select(
        "band", "bucket", F.col("id").alias("id_r"), F.col("shingles").alias("sh_r")
    )
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", "sh_l", "sh_r")
        .dropDuplicates(["id_l", "id_r"])
    )
    return (
        cand.withColumn("jaccard", F.round(jaccard_col(F.col("sh_l"), F.col("sh_r")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

@pandas_udf(T.LongType())
def simhash64(tokens: pd.Series) -> pd.Series:
    """64-bit SimHash over pre-hashed token arrays (array<long>).

    Per row: accumulate +1/-1 per bit across token hashes, sign -> bit.
    numpy bit unpacking, one Arrow pass.
    """
    out = np.zeros(len(tokens), dtype=np.int64)
    for i, h in enumerate(tokens):
        if h is None or len(h) == 0:
            out[i] = 0
            continue
        x = np.asarray(h, dtype=np.uint64)
        bits = ((x[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int32)
        acc = (2 * bits - 1).sum(axis=0)
        val = np.uint64(0)
        for b_i in np.nonzero(acc > 0)[0]:
            val |= np.uint64(1) << np.uint64(b_i)
        out[i] = np.int64(val.astype(np.int64))
    return pd.Series(out)


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash_mode: str = "xxhash64"
) -> DataFrame:
    """hash_mode="md5": token hashes via :func:`cross_hash60` (60-bit, so
    simhash bits 60-63 are structurally 0 — harmless: both producer and
    any SQL oracle see the same bit pattern)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if hash_mode == "md5":
        hashed = F.transform(toks, cross_hash60)
    else:
        hashed = F.transform(toks, lambda t: F.xxhash64(t))
    return df.select(F.col(id_col).alias("id"), simhash64(hashed).alias("simhash"))


def simhash_band_layout(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) chunks covering all 64 bits with ``max_hamming + 1``
    bands — the pigeonhole guarantee: two hashes within ``max_hamming``
    differing bits MUST agree on at least one band, so banding recall is 1
    for every pair the hamming verify would accept."""
    bands = max_hamming + 1
    if bands > 64:
        raise ValueError(f"max_hamming {max_hamming} needs {bands} bands > 64 bits")
    base, extra = divmod(64, bands)
    layout, off = [], 0
    for i in range(bands):
        w = base + (1 if i < extra else 0)
        layout.append((off, w))
        off += w
    return layout


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates via banded exact-match, verified with native
    bit_count(xor). Band count is DERIVED from ``max_hamming`` (h+1 bands
    => full recall at hamming <= h; the round-1 fixed 4x16 layout silently
    missed hamming-4..8 pairs whose flips spanned all 4 bands).
    Returns [id_l, id_r, hamming]."""
    layout = simhash_band_layout(max_hamming)
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), off)
        .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
        for off, width in layout
    ]
    banded = sigs.select(
        "id", "simhash",
        F.posexplode(F.array(*chunks)).alias("band", "key"),
    )
    left = banded.select("band", "key", F.col("id").alias("id_l"), F.col("simhash").alias("h_l"))
    right = banded.select("band", "key", F.col("id").alias("id_r"), F.col("simhash").alias("h_r"))
    cand = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_l") < F.col("id_r"))
        .dropDuplicates(["id_l", "id_r"])
    )
    hamming = F.bit_count(F.col("h_l").bitwiseXOR(F.col("h_r")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_l", "id_r", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def hyperplane_planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """Gaussian hyperplane matrix (n_bits x dim), seed-deterministic.
    Plan-build-time values — embeddable as literals in oracle SQL."""
    return np.random.RandomState(seed).randn(n_bits, dim)


def dot_fold(vec: Column, other: Column) -> Column:
    """Sequential left-to-right dot-product fold over two array columns —
    the ONE summation order used everywhere (matches DuckDB's
    list_dot_product, so every consumer stays oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(vec, other, lambda x, p: x * p), F.lit(0.0), lambda a, x: a + x
    )


def double_vecs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id, v, nv)``: the vector cast to ``array<double>`` and its L2
    norm, projected once per row — before any pair formation, so no
    norm fold ever runs per pair."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    return df.select(F.col(id_col).alias("id"), v.alias("v")).withColumn(
        "nv", F.sqrt(dot_fold(F.col("v"), F.col("v")))
    )


def cosine_over(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of two ``array<double>`` columns given their norms, rounded
    to 6 places; NULL when either norm is zero (cosine is undefined
    there). ``try_divide``, not ``/``: Spark 4 runs ANSI mode by default,
    where a plain division THROWS DIVIDE_BY_ZERO — one all-zero embedding
    (a padding row, a failed encoder) would crash every job that scans
    it. NULL is the right value downstream: it ranks below every real
    similarity in the top-k windows (descending sort puts NULLs last) and
    fails every ``cos >= threshold`` near-dup filter."""
    return F.round(F.try_divide(dot_fold(a, b), na * nb), 6)


def hyperplane_tables_df(spark, planes_per_table: list) -> DataFrame:
    """The scale-path carrier for hyperplane matrices: ONE row,
    ``__ts array<array<struct<w:bigint, pv:array<double>>>>`` (table ->
    plane -> (bit weight 2^j, plane vector)). Cross-joined (broadcast,
    1 row) onto the vector table; the bucket expression folds over the
    DATA, so the plan holds zero large literals and analysis cost is
    independent of dim, n_bits and n_tables — at dim 768-4096 with
    12-bit x 8-table LSH the literal form costs ~10 s of analyzer time
    PER TRANSFORMATION and the data form is instant. Values are the same
    doubles, so results are bit-identical to the literal form."""
    data = [
        (
            [
                [(1 << j, [float(x) for x in row]) for j, row in enumerate(tbl)]
                for tbl in planes_per_table
            ],
        )
    ]
    return spark.createDataFrame(
        data, "__ts array<array<struct<w:bigint,pv:array<double>>>>"
    )


def hyperplane_bucket_over(vec: Column, table: Column) -> Column:
    """Bucket of ``vec`` for one table of ``(w, pv)`` plane structs:
    sum of w over planes with positive dot. Integer accumulation — order
    exact; dot folds are :func:`dot_fold` (cross-engine order)."""
    zero = F.lit(0).cast("bigint")
    return F.aggregate(
        table,
        zero,
        lambda acc, s: acc
        + F.when(dot_fold(vec, s["pv"]) > 0, s["w"]).otherwise(zero),
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_bits: int = 12,
    seed: int = 42,
    exact: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Cosine >= threshold pairs. exact=True: all-pairs (test scale only);
    else bucket by hyperplane LSH key first (near-identical vectors share
    all sign bits with high probability). ``dim`` is required on the LSH
    path — inferring it would cost a driver-side action at plan-build
    time."""
    vecs = double_vecs(df, id_col, vec_col)

    def side(d: DataFrame, suffix: str, *keys: str) -> DataFrame:
        return d.select(*keys, *(F.col(c).alias(f"{c}_{suffix}") for c in ("id", "v", "nv")))

    if exact:
        # the streamed side is spread to cluster width first — a
        # single-row-group parquet scan otherwise runs the whole
        # quadratic pair loop in one task (the embedding_topk disease)
        spread = vecs.repartition(df.sparkSession.sparkContext.defaultParallelism)
        pairs = side(spread, "l").crossJoin(side(vecs, "r"))
    else:
        if dim is None:
            raise ValueError("dim is required for the LSH path (no plan-build actions)")
        planes = hyperplane_planes(dim, n_bits, seed)
        # planes ride as broadcast DATA (one-row cross join), not literals:
        # plan size and analyzer cost stay O(1) at production dims
        tables = hyperplane_tables_df(df.sparkSession, [planes])
        keyed = vecs.crossJoin(F.broadcast(tables)).withColumn(
            "k", hyperplane_bucket_over(F.col("v"), F.col("__ts")[0])
        )
        pairs = side(keyed, "l", "k").join(side(keyed, "r", "k"), "k")
    cos = cosine_over(F.col("v_l"), F.col("v_r"), F.col("nv_l"), F.col("nv_r"))
    return (
        pairs.filter(F.col("id_l") < F.col("id_r"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("id_l", "id_r", "cos")
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    exclude_self: bool = False,
    max_eval_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing at
    least one word ``n``-gram with any eval-set document — the standard
    pre-training hygiene pass (eval answers leaking into the corpus).

    Scale shape: the eval side is benchmark-sized (thousands of docs),
    so its distinct (gram, eval_id) set rides as a BROADCAST; the
    training corpus pays exactly one scan + explode and the join never
    shuffles the corpus. Grams join as strings so any SQL engine can
    replay the check verbatim; at 100 TB substitute ``xxhash64(gram)``
    on both sides to slim the broadcast (collision odds ~1e-9 per
    trillion grams — acceptable for a FLAG, noted here rather than
    defaulted because the oracle joins on text).

    ``exclude_self`` drops train_id == eval_id rows for the common smoke
    setup where the eval set is sampled from the training table itself.

    ``max_eval_df`` bounds the hot-gram fan-out: a boilerplate n-gram
    present in MANY eval docs ("all rights reserved ..." headers)
    multiplies every matching train row by its eval-side document
    frequency — at corpus scale one stop-gram can dominate the join
    output. Grams with eval-df above the bound are dropped BEFORE the
    join (they carry no contamination signal precisely because they are
    boilerplate); the filter runs on the eval side only, so it costs one
    benchmark-sized aggregate, never a corpus pass.

    Returns (train_id, n_grams_hit, n_eval_docs) for contaminated docs
    only. Reference has no decontamination — training-pipeline add.
    """
    from ..functions.text import word_ngrams_col

    eid = eval_id_col or id_col
    etx = eval_text_col or text_col
    t = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(F.array_distinct(word_ngrams_col(F.col(text_col), n))).alias("gram"),
    )
    e = eval_df.select(
        F.col(eid).alias("eval_id"),
        F.explode(F.array_distinct(word_ngrams_col(F.col(etx), n))).alias("gram"),
    ).distinct()
    if max_eval_df is not None:
        if max_eval_df < 1:
            raise ValueError(f"max_eval_df must be >= 1, got {max_eval_df}")
        from pyspark.sql import Window

        w = Window.partitionBy("gram")
        e = (
            e.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_eval_df)
            .drop("__df")
        )
    hits = t.join(F.broadcast(e), "gram")
    if exclude_self:
        hits = hits.filter(F.col("train_id") != F.col("eval_id"))
    return hits.groupBy("train_id").agg(
        F.count_distinct("gram").alias("n_grams_hit"),
        F.count_distinct("eval_id").alias("n_eval_docs"),
    )
