"""The benchmark's workloads: inputs, the timed operation, output checks
and the traced layer-by-layer sequence.

Each workload is a closed loop with one client: the next operation starts
when the previous one has finished. The program receives only the
generated parquet files.

* ``city_registry`` - one ``run_match_pipeline`` call per operation, from
  the raw registries to matches, unmatched rows and clusters written as
  parquet.
* ``probe_batches`` - one micro-batch of ``incremental_match`` per
  operation: the client drops one probe file into the stream's source
  directory and waits until the batch is committed.

Chunking invariance, which ``probe_batches`` checks: ``incremental_match``
runs the whole exact -> exact-key -> fuzzy cascade per micro-batch, and
every phase is local to one probe row (EXACT_FULL's last-wins dedup is on
the cadastre side only), so the union of the batches' matches equals one
``run_match_pipeline`` call over all of their rows.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
import procs
from registry_address_matcher_spark.operators.cluster import cluster_matches
from registry_address_matcher_spark.operators.exact import (
    exact_full_matches,
    exact_key_matches,
    exclude_matched,
)
from registry_address_matcher_spark.operators.fuzzy import (
    candidate_pairs,
    fuzzy_matches,
    score_candidates,
)
from registry_address_matcher_spark.operators.preprocess import preprocess_registry
from registry_address_matcher_spark.pipeline import run_match_pipeline
from registry_address_matcher_spark.streaming.incremental import incremental_match

#: input sizes: per-call cost is dominated by the pipeline's ~60 Spark
#: jobs, so rows are kept to what a run's time budget allows
CITY = {"n_streets": 150, "houses": (10, 60)}
CITY_WARM = {"n_streets": 20, "houses": (5, 15)}
PROBE_CAD = {"n_rows": 50_000, "n_streets": 1_500, "n_houses": 250}
PROBE_ROWS = 1_000
#: probe rows per run whose block is re-scored independently
SAMPLE = 120
KEY_COLS = ["ADDRESS_ID", "STREET_NORM", "HOUSE_NORM", "BUILDING_NORM", "FULL_ADDRESS"]
MATCH_COLS = ["ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "MATCH_SCORE", "MATCH_TYPE"]
_MB = 2**20


def read(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def keyed(df) -> pd.DataFrame:
    """The program's preprocessed key columns, as pandas."""
    return preprocess_registry(df).select(*KEY_COLS).toPandas()


class Meter:
    """Wall time, process-tree CPU and Spark's shuffle-write counter."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        #: cached MB still held after the last traced operation
        self.held_mb = 0.0

    def shuffle_mb(self) -> float:
        # the executor summary is flushed when its last active task ends;
        # draining the listener bus makes it current
        self._sc.listenerBus().waitUntilEmpty()
        execs = self._sc.statusStore().executorList(True)
        return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size())) / _MB

    def cached_mb(self) -> float:
        self._sc.listenerBus().waitUntilEmpty()
        infos = self._sc.getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / _MB

    def timed(self, seconds: float, workload, tracer, span: str | None = None,
              per_round: int = 1):
        """Whole rounds of ``per_round`` operations until ``seconds`` have
        passed, at least one round. Returns [(wall, cpu, shuffle_mb)] of
        the operations that did not fail, and the failed count."""
        samples, failed = [], 0
        deadline = time.monotonic() + seconds
        while True:
            for _ in range(per_round):
                workload.prepare()
                s0 = self.shuffle_mb()
                c0 = procs.cpu_s(procs.tree())
                t0 = time.perf_counter()
                try:
                    if span:
                        with tracer.span(span):
                            workload.run()
                    else:
                        workload.run()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                else:
                    wall = time.perf_counter() - t0
                    cpu = procs.cpu_s(procs.tree()) - c0
                    samples.append((wall, cpu, self.shuffle_mb() - s0))
                    if span:
                        self.held_mb = self.cached_mb()
                workload.after()
            if time.monotonic() >= deadline:
                return samples, failed


def layers(tracer, spr_raw, cad_raw, with_clusters: bool, python_cpu) -> dict[str, float]:
    """Each layer's public function in the pipeline's order, each output
    materialized before the next call."""
    from pyspark import StorageLevel

    out: dict[str, float] = {}
    held = []

    def keep(df):
        held.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    with tracer.span("preprocess"):
        spr = keep(preprocess_registry(spr_raw))
        cad = keep(preprocess_registry(cad_raw))
        out["preprocess.rows"] = spr.count() + cad.count()
    with tracer.span("exact"):
        m1 = exact_full_matches(spr, cad)
        m2 = exact_key_matches(spr, cad, exclude_pairs=m1.select("ADDRESS_ID_SPR", "ADDRESS_ID_CAD"))
        exact = keep(m1.unionByName(m2))
        out["exact.matches"] = exact.count()
    with tracer.span("remainder"):
        rem = keep(exclude_matched(spr, exact))
        rem.count()
    with tracer.span("blocking"):
        pairs = candidate_pairs(rem, cad).count()
    out["blocking.candidate_pairs"] = pairs
    py0 = python_cpu()
    with tracer.span("scoring"):
        with tracer.span("scoring.plan"):
            scored = score_candidates(rem, cad)
        scored.agg(F.count(F.lit(1)), F.sum("best_score")).collect()
    out["scoring.python_cpu_s"] = python_cpu() - py0
    with tracer.span("top1"):
        fuzzy = keep(fuzzy_matches(rem, cad))
        out["top1.matches"] = fuzzy.count()
    out["cluster.edges"] = out["cluster.components"] = 0
    if with_clusters:
        with tracer.span("cluster"):
            comp = cluster_matches(exact.unionByName(fuzzy))
            out["cluster.components"] = comp.select("component").distinct().count()
        out["cluster.edges"] = out["exact.matches"] + out["top1.matches"]
    # the per-side distinct-street product that picks the scoring tier
    r = rem.select("STREET_NORM", "HOUSE_NORM").toPandas()
    c = cad.select("STREET_NORM", "HOUSE_NORM").toPandas()

    def vocab(df):
        return df.loc[(df["HOUSE_NORM"] != "") & (df["STREET_NORM"] != ""), "STREET_NORM"].nunique()

    out["scoring.vocab_product"] = vocab(r) * vocab(c)
    out["blocking.match_yield"] = out["top1.matches"] / pairs if pairs else 0.0
    for df in held:
        df.unpersist(True)
    return out


class CityRegistry:
    """One city's cadastre against a second registry of the same city."""

    #: operations per round of the timed loop
    ROUND = 1

    def __init__(self, spark, tmp: str, seed: int):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.res = None

    def inputs(self):
        spr, cad = gen.city(self.seed, **CITY)
        self.truth = spr.verbatim
        wspr, wcad = gen.city(f"{self.seed}/warm", **CITY_WARM, id_prefix="W")
        for name, reg in (("spr", spr), ("cad", cad), ("wspr", wspr), ("wcad", wcad)):
            reg.write(f"{self.tmp}/{name}.parquet")
        read_ = self.spark.read.parquet
        self.spr, self.cad = read_(f"{self.tmp}/spr.parquet"), read_(f"{self.tmp}/cad.parquet")
        self.warm = (read_(f"{self.tmp}/wspr.parquet"), read_(f"{self.tmp}/wcad.parquet"))

    def warm_up(self):
        # two calls: the first is cold, the second still compiles
        for i in range(2):
            self._release(self._match(*self.warm, f"{self.tmp}/warm{i}"))

    def _match(self, spr, cad, out):
        res = run_match_pipeline(spr, cad)
        res.matches.write.parquet(f"{out}/matches")
        res.unmatched_spr.write.parquet(f"{out}/unmatched")
        res.clusters.write.parquet(f"{out}/clusters")
        return res

    @staticmethod
    def _release(res):
        for df in res.persisted:
            df.unpersist(True)

    def prepare(self):
        shutil.rmtree(f"{self.tmp}/out", ignore_errors=True)

    def run(self):
        self.res = self._match(self.spr, self.cad, f"{self.tmp}/out")

    def after(self):
        if self.res is not None:
            self._release(self.res)
            self.res = None

    def matched(self) -> int:
        return pq.read_table(f"{self.tmp}/out/matches", columns=["ADDRESS_ID_SPR"]).num_rows

    def check(self) -> list[str]:
        out = f"{self.tmp}/out"
        return checks.batch(
            keyed(self.spr), keyed(self.cad), read(f"{out}/matches", MATCH_COLS),
            read(f"{out}/unmatched", ["ADDRESS_ID"]), self.truth,
            clusters=read(f"{out}/clusters", ["node", "component"]),
            sample_seed=self.seed, sample_size=SAMPLE,
        )

    def layers(self, tracer, python_cpu):
        return layers(tracer, self.spr, self.cad, True, python_cpu)


class ProbeBatches:
    """Probe micro-batches through ``incremental_match`` against one
    persisted cadastre; every probe row carries its own noise."""

    #: two micro-batches per round: a run times at least two
    ROUND = 2

    def __init__(self, spark, tmp: str, seed: int):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.src, self.stage = f"{tmp}/probe_src", f"{tmp}/probe_stage"
        self.sunk: list[int] = []
        self.files: list[tuple[str, gen.Registry]] = []
        self.query = None

    def inputs(self):
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.cad_reg = gen.noisy_cadastre(self.seed, **PROBE_CAD)
        self.cad_reg.write(f"{self.tmp}/cad.parquet")
        self.order = list(range(len(self.cad_reg)))
        random.Random(self.seed).shuffle(self.order)
        self.cad = self.spark.read.parquet(f"{self.tmp}/cad.parquet")
        stream = (
            self.spark.readStream.schema(gen.SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.writer = incremental_match(stream, self.cad, self._sink)
        self.query = self.writer.option("checkpointLocation", f"{self.tmp}/ckpt").start()

    def _sink(self, matches, batch_id):
        matches.write.parquet(f"{self.tmp}/sink/batch={batch_id}")
        self.sunk.append(batch_id)

    def _drop(self, name: str, reg: gen.Registry):
        """Hand one probe file to the stream (atomic rename)."""
        reg.write(f"{self.stage}/{name}")
        os.replace(f"{self.stage}/{name}", f"{self.src}/{name}")
        self.files.append((name, reg))

    def warm_up(self):
        """Two warm-up micro-batches, then one ``run_match_pipeline`` call
        over both of their rows: the reference of the chunking check."""
        rng = random.Random(f"{self.seed}/warm")
        for name in ("warm0.parquet", "warm1.parquet"):
            rows = rng.sample(range(len(self.cad_reg)), PROBE_ROWS)
            self._drop(name, gen.noisy_probe(f"{self.seed}/{name}", self.cad_reg, rows, name[:5]))
            self.run()
        # the same plan as incremental_match's build side, so this reads
        # its cache entry; unpersisting it here would evict the stream's
        res = run_match_pipeline(self.spark.read.parquet(*self.paths()),
                                 preprocess_registry(self.cad),
                                 with_clusters=False, cad_preprocessed=True)
        res.matches.write.parquet(f"{self.tmp}/union")
        for df in res.persisted:
            df.unpersist(True)
        self.n_warm = len(self.files)

    def paths(self) -> list[str]:
        return [f"{self.src}/{name}" for name, _ in self.files]

    def prepare(self):
        k = len(self.files)
        lo = (k * PROBE_ROWS) % len(self.order)
        rows = self.order[lo:lo + PROBE_ROWS]
        self._drop(f"{k:05d}.parquet",
                   gen.noisy_probe(f"{self.seed}/probe/{k}", self.cad_reg, rows, f"P{k:03d}"))

    def run(self):
        before = len(self.sunk)
        self.query.processAllAvailable()
        if len(self.sunk) != before + 1:
            raise RuntimeError(f"expected one micro-batch, got {len(self.sunk) - before}")

    def after(self):
        pass

    def stop(self):
        if self.query is not None:
            self.query.stop()
            self.writer.release_build_side(True)
            self.query = None

    def matched(self) -> int:
        return pq.read_table(f"{self.tmp}/sink/batch={self.sunk[-1]}",
                             columns=["ADDRESS_ID_SPR"]).num_rows

    def check(self) -> list[str]:
        self.stop()
        cad = keyed(self.cad)
        spr_all = keyed(self.spark.read.parquet(*self.paths()))
        errs = []
        per_batch = max(1, SAMPLE // len(self.files))
        for batch_id, (name, reg) in zip(self.sunk, self.files):
            m = read(f"{self.tmp}/sink/batch={batch_id}", MATCH_COLS)
            ids = set(reg.ids)
            spr = spr_all[spr_all["ADDRESS_ID"].isin(ids)]
            un = pd.DataFrame({"ADDRESS_ID": sorted(ids - set(m["ADDRESS_ID_SPR"]))})
            errs += [f"batch {batch_id}: {e}" for e in checks.batch(
                spr, cad, m, un, reg.verbatim,
                sample_seed=self.seed + batch_id, sample_size=per_batch,
            )]
        # chunking invariance: the warm-up batches against one call over
        # their rows
        key = ["ADDRESS_ID_SPR", "ADDRESS_ID_CAD", "MATCH_TYPE", "MATCH_SCORE"]
        one = set(read(f"{self.tmp}/union", key).itertuples(index=False))
        parts = set()
        for batch_id in self.sunk[:self.n_warm]:
            parts |= set(read(f"{self.tmp}/sink/batch={batch_id}", key).itertuples(index=False))
        if one != parts:
            errs.append(f"chunking: {len(parts - one)} rows only in batches, "
                        f"{len(one - parts)} only in the single call")
        return errs

    def layers(self, tracer, python_cpu):
        # the stream's cached build side shares its plan with the layers'
        # preprocessed cadastre: stop the stream first, so preprocessing
        # is measured and no cache entry is evicted under a running query
        self.stop()
        # the first timed batch: the untraced one in a traced run
        name, _ = self.files[self.n_warm]
        return layers(tracer, self.spark.read.parquet(f"{self.src}/{name}"), self.cad,
                      False, python_cpu)

    def pipeline(self, tracer):
        """One traced ``run_match_pipeline`` call on a probe file against
        the preprocessed, persisted cadastre, as ``incremental_match``
        makes it."""
        cad = preprocess_registry(self.cad).persist()
        cad.count()
        name, _ = self.files[self.n_warm]
        with tracer.span("pipeline"):
            res = run_match_pipeline(self.spark.read.parquet(f"{self.src}/{name}"), cad,
                                     with_clusters=False, cad_preprocessed=True)
            res.matches.write.parquet(f"{self.tmp}/traced")
        for df in res.persisted:
            df.unpersist(True)
        cad.unpersist(True)


WORKLOADS = {"city_registry": CityRegistry, "probe_batches": ProbeBatches}


def summarize(samples) -> dict[str, float]:
    walls, cpus, shuffles = zip(*samples)
    return {
        "match_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "shuffle_mb": statistics.median(shuffles),
    }
