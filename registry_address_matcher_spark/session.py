"""SparkSession factory.

Local-mode defaults tuned for the sandbox (single JVM, N threads); on a real
cluster the same builder is driven by spark-submit conf instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "registry_address_matcher_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Arrow on (pandas-UDF boundary), AQE on (runtime coalesce + skew-join),
    shuffle partitions sized to the local core count rather than the 200
    default — on a real cluster this is set per-job via spark-submit.
    """
    # Under spark-submit the driver JVM is already running and carries the
    # job's conf (--master, --conf ...): PythonRunner exports
    # PYSPARK_GATEWAY_PORT to the driver script, so that env var is the
    # reliable marker. In that case an unspecified master DEFERS to the
    # submit conf instead of overriding it — a library that force-sets
    # .master() would silently turn `spark-submit --master yarn` into a
    # local[*] run — and the local-host-sized defaults (shuffle-partition
    # count, tmpfs local dir) are left to the submit conf as well.
    under_submit = (
        master is None
        and "SPARK_GRAFT_MASTER" not in os.environ
        and "PYSPARK_GATEWAY_PORT" in os.environ
    )
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and not under_submit:
        master = "local[*]"
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    cluster_shape = _local_cluster_shape(master) if master else None
    if shuffle_partitions is None and not under_submit:
        n = os.cpu_count() or 8
        if master.startswith("local["):
            inner = master[6:-1]
            if inner.isdigit():
                n = int(inner)
        elif cluster_shape:
            n = cluster_shape[0] * cluster_shape[1]
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Cap Arrow batches by BYTES as well as records (Spark 4.1+).
        # With wide rows (two ~4 KB shingle arrays per pair in the repos
        # scoring kernel) the 10k-record cap alone builds ~80 MB batches;
        # any single Arrow column buffer larger than the netty pooled-
        # allocator chunk (4 MB at netty 4.2 defaults) is allocated
        # UNPOOLED — a fresh mmap/munmap per batch. On this sandbox's
        # virtualized kernel that page-commit churn dominated the scoring
        # stage as SYSTEM time (measured at 354k pairs / 8 cores:
        # 68 s wall / 278 sys cpu-s at 80 MB batches vs 13 s / 12 sys
        # cpu-s at ~8 MB batches; 2->8 core efficiency 0.84 after the
        # cap). On real clusters the same unpooled path exists — byte-
        # capped batches keep every buffer inside the pool and bound
        # python-worker peak memory, so the cap is correct off-sandbox
        # too. Row-dominated stages (normalize, minhash over ~1 KB docs)
        # still hit the 10k-record cap first; nothing changes for them.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(4 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # 8g fixed, NOT host-sized: heap size correlates directly with
        # kernel-side storms on this sandbox's Firecracker kernel —
        # executor task threads burn ~100% SYSTEM time, consistent with
        # stage-2 page-table/commit churn on the large sparse
        # reservation. Measured on the identical 108k-file repos
        # profile at 8 cores: 8g heap 340 cpu-s / 53 s wall; 16g heap
        # 906 and 1810 cpu-s / 148 and 342 s wall (two runs, both
        # stormy); 48g (the round-3 default) up to 10x cpu inflation.
        # A host-RAM/4 default was tried and reverted for exactly this
        # reason — "more heap" is strictly worse here, and no local
        # workload needs more (sf0.1 inputs are ~100 MB; real clusters
        # size executor heaps via spark-submit). Consumers who DO need
        # a bigger driver (large collects/broadcasts) override with
        # SPARK_GRAFT_DRIVER_MEM (see README "Memory & local-dir
        # defaults").
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if not under_submit:
        # under spark-submit the driver JVM is already running, so this
        # setting would be silently ignored — defer to the submit conf
        # like the other local-host-sized defaults (round-5 advice)
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    if master:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if not under_submit and not os.environ.get("SPARK_LOCAL_DIRS") and _shm_usable():
        # shuffle/spill/checkpoint blocks on tmpfs: this sandbox's ext4
        # root sits on a virtio disk whose buffered-write path is slow
        # enough that concurrent shuffle writers burn whole cores in
        # SYSTEM time (kernel-stack-sampled: ext4_da_write_end under 8
        # writers). A real cluster points spark.local.dir at fast local
        # SSDs; tmpfs is this box's equivalent. Guarded: only chosen
        # when /dev/shm actually has headroom (Docker caps it at 64 MB
        # by default — spilling there would ENOSPC, and tmpfs pages
        # compete with the page cache for RAM), and both directions are
        # overridable (SPARK_GRAFT_SHM_LOCAL_DIR=1 forces it on, =0 off;
        # SPARK_LOCAL_DIRS, the standard env, always wins).
        shm_dir = "/dev/shm/spark-local"
        os.makedirs(shm_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", shm_dir)
    if not os.environ.get("RAM_SPARK_NO_UDS"):
        # Python-worker channels (Arrow batches, accumulators, barrier)
        # over UNIX domain sockets instead of TCP loopback (Spark 4.1+).
        # On this sandboxed kernel, loopback TCP is policed per-packet:
        # concurrent Arrow streams degrade into a SYSTEM-time storm that
        # grows superlinearly with worker count (measured on the repos
        # job at 8 workers: ~200 user cpu-s doing the work vs ~1600 sys
        # cpu-s in the socket path — a 2-core run burns 121 cpu-s total).
        # UDS bypasses the TCP stack entirely; on unpoliced kernels the
        # change is neutral-to-positive (fewer copies, no checksum), so
        # it is on by default and RAM_SPARK_NO_UDS opts out.
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true")
    if cluster_shape:
        # each executor JVM must size its internal thread pools (GC, JIT,
        # ForkJoin) to ITS core slice, not the host's CPU count — a 1-core
        # executor on a 32-CPU box otherwise spawns ~23 GC threads, and 8
        # such executors thrash each other. Real clusters get this from
        # the container's cpuset; local-cluster needs it explicit.
        builder = builder.config(
            "spark.executor.extraJavaOptions",
            f"-XX:ActiveProcessorCount={cluster_shape[1]}",
        )
        # local-cluster[n,cores,mem]'s mem is the WORKER's capacity only;
        # executors still launch with the spark.executor.memory default
        # (1g) unless told otherwise — at bench scale a 1g executor dies
        # in an OOM crash-loop (observed: >1000 relaunches before the
        # master gave up). Claim the whole worker allowance per executor
        # (one executor per worker in local-cluster mode).
        if cluster_shape[2] and not os.environ.get("SPARK_GRAFT_EXECUTOR_MEM"):
            builder = builder.config(
                "spark.executor.memory", f"{cluster_shape[2]}m"
            )
        elif os.environ.get("SPARK_GRAFT_EXECUTOR_MEM"):
            builder = builder.config(
                "spark.executor.memory", os.environ["SPARK_GRAFT_EXECUTOR_MEM"]
            )
    else:
        n_local = _local_n(master) if master else None
        xopts = os.environ.get("SPARK_GRAFT_DRIVER_XOPTS", "")
        if n_local and not os.environ.get("RAM_SPARK_NO_CPU_CAP"):
            # same container semantics for plain local[N]: the single JVM
            # is the "executor" — size its GC/JIT/ForkJoin pools to the N
            # task slots, not the 32-CPU host. Without this, GC work
            # scales with HOST cpus times allocation rate, so a local[8]
            # run burns measurably more cpu-seconds per row than local[2]
            # on identical data (observed 2.9x on the repos job) and the
            # 2-vs-8 scaling evidence understates a real cluster. Only
            # effective for the process's FIRST session (the JVM launches
            # once); bench workers run in fresh subprocesses for this
            # reason.
            xopts = f"-XX:ActiveProcessorCount={n_local} {xopts}".strip()
        if xopts:
            builder = builder.config("spark.driver.extraJavaOptions", xopts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


#: minimum free tmpfs space before /dev/shm is auto-chosen for
#: spark.local.dir — below this, shuffle spill would ENOSPC (Docker's
#: default /dev/shm is 64 MB) and the ext4 fallback is the safe choice
_SHM_MIN_FREE_BYTES = 8 << 30


def _shm_usable() -> bool:
    """True iff /dev/shm should host spark.local.dir: forced on/off via
    SPARK_GRAFT_SHM_LOCAL_DIR=1/0, else auto — present AND at least
    ``_SHM_MIN_FREE_BYTES`` free (capacity is checked at session build;
    a run that later outgrows tmpfs should set SPARK_LOCAL_DIRS)."""
    forced = os.environ.get("SPARK_GRAFT_SHM_LOCAL_DIR")
    if forced == "1":
        return os.path.isdir("/dev/shm")
    if forced == "0":
        return False
    if not os.path.isdir("/dev/shm"):
        return False
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES


def _local_n(master: str) -> int | None:
    """Parse ``local[N]`` -> N; None for ``local[*]``/cluster masters."""
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner.isdigit():
            return int(inner)
    return None


def _local_cluster_shape(master: str) -> tuple[int, int, int | None] | None:
    """Parse ``local-cluster[n, cores, mem]`` -> (n, cores, mem_mb);
    None otherwise (mem_mb None when unparseable).

    local-cluster mode launches REAL separate executor JVMs (forked by
    in-process Workers) — the closest in-sandbox stand-in for a
    multi-executor cluster, used by the scaling benchmarks."""
    if not master.startswith("local-cluster["):
        return None
    try:
        parts = master[len("local-cluster["):-1].split(",")
        mem = int(parts[2].strip()) if len(parts) > 2 else None
        return int(parts[0].strip()), int(parts[1].strip()), mem
    except (ValueError, IndexError):
        return None


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files``; return the path.

    The ship artifact the north rule names: ``spark-submit --py-files
    $(python -c 'from registry_address_matcher_spark.session import
    build_pyfiles_zip; print(build_pyfiles_zip())') jobs/match_job.py …``.
    Source-only (.py), deterministic layout, importable as a zip root.
    Raises if the package itself was imported from a zip (nothing on disk
    to re-zip — reuse the zip you shipped).
    """
    import tempfile
    import zipfile

    import registry_address_matcher_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    if not os.path.isdir(pkg_dir):
        raise RuntimeError(
            "registry_address_matcher_spark was imported from an archive "
            f"({pkg_dir}); ship that archive instead of rebuilding"
        )
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="ram_spark_")
    zpath = os.path.join(dest_dir, "registry_address_matcher_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "registry_address_matcher_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors' Python workers.

    pandas-UDF closures are pickled by reference, so workers must import
    ``registry_address_matcher_spark`` themselves. On a cluster the job
    ships it via ``spark-submit --py-files``; for programmatic use we zip
    the package once and ``addPyFile`` it — same mechanism, automatic.
    No-op when the package was itself imported from a ``--py-files`` zip:
    that zip is already on every executor's python path, and re-adding a
    same-named file would collide with the submitted one. The zip's
    directory is removed at interpreter exit: executors fetch the file
    from its path whenever they start, so it must outlive the session.
    """
    import atexit
    import shutil
    import tempfile

    import registry_address_matcher_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    if not os.path.isdir(pkg_dir):
        return
    # the mark lives on the live SparkContext object: getOrCreate hands
    # back the same context, a stopped-then-rebuilt session a new one
    # (a conf entry would not do — getConf() returns a copy)
    sc = spark.sparkContext
    if getattr(sc, "_ram_spark_pkg_shipped", False):
        return
    zip_dir = tempfile.mkdtemp(prefix="ram_spark_")
    atexit.register(shutil.rmtree, zip_dir, ignore_errors=True)
    sc.addPyFile(build_pyfiles_zip(zip_dir))
    sc._ram_spark_pkg_shipped = True
