"""Registry-matching benchmark: run one workload, print one JSON line.

    python3 perfbench/run.py --workload city_registry --seed 1 --seconds 8 --trace 0

Run from the root of a checkout; the program is imported from that
checkout. Everything the run writes (inputs, Spark's local and warehouse
directories, stream checkpoints, event log, the JVM's and Python's temp
files) goes under one fresh directory in the checkout's ignored
``.perfbench_tmp/``, which is removed at exit. The session is stopped and
the JVM and its Python workers have exited before the command returns.

``--trace 0`` prints the end-to-end metrics of a timed loop of whole
operations. ``--trace 1`` runs one untraced operation, traced ones, and
then each layer's public function in the pipeline's order under its own
Spark job group, and prints the per-layer metrics rolled up from Spark's
event log. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read()
    ticks = int(raw[raw.rindex(b")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def hermetic_env(tmp: str) -> int:
    """Point every temp and scratch location of this process, the JVM and
    the Python workers into ``tmp``; drop the program's environment
    overrides so the run depends on its arguments only. Returns the core
    count."""
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "RAM_SPARK_", "PYSPARK_GATEWAY_")):
            del os.environ[key]
    for sub in ("t", "local"):
        os.makedirs(f"{tmp}/{sub}")
    os.environ.update({
        "TMPDIR": f"{tmp}/t",
        "SPARK_LOCAL_DIRS": f"{tmp}/local",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}/t -XX:-UsePerfData",
    })
    tempfile.tempdir = f"{tmp}/t"
    sys.dont_write_bytecode = True
    return len(os.sched_getaffinity(0))


def start_session(tmp: str, cores: int, trace: bool):
    from registry_address_matcher_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{tmp}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{tmp}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every descendant to exit."""
    import procs
    from pyspark import SparkContext

    children = procs.tree()
    children.pop(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            jvm = gateway.proc
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except Exception:
                jvm.kill()
                jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        killed = procs.wait_gone(children, timeout=30)
        if killed:
            print(f"perfbench: killed {len(killed)} leftover processes", file=sys.stderr)


def bench(args, tmp: str, t_start: float) -> dict:
    cores = hermetic_env(tmp)
    sys.path[:0] = [ROOT, HERE]
    try:
        import registry_address_matcher_spark as program
    except ImportError as exc:
        raise SystemExit(f"perfbench: the program is not in this checkout ({exc})")
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: program imported from outside {ROOT}")
    import procs
    import spans as tr
    import workloads as wl

    tracer = tr.Tracer()
    with tracer.span("session"):
        t0 = time.time()
        spark = start_session(tmp, cores, args.trace)
        start_s = time.time() - t0
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid

        def python_cpu():
            workers = procs.tree(jvm_pid)
            workers.pop(jvm_pid, None)
            return procs.cpu_s(workers)

        if args.trace:
            tracer.sc = spark.sparkContext
        work = wl.WORKLOADS[args.workload](spark, tmp, args.seed)
        with tracer.span("session"):
            work.inputs()
            work.warm_up()
        setup_s = time.time() - t_start
        meter = wl.Meter(spark)
        if not args.trace:
            samples, failed = meter.timed(args.seconds, work, tracer, per_round=work.ROUND)
            errors = work.check() if samples else ["every operation failed"]
            metrics = {"setup_s": setup_s, **(wl.summarize(samples) if samples else {})}
            attempted = len(samples) + failed
        else:
            metrics, attempted, failed, errors = traced(args, work, tracer, meter, python_cpu)
    finally:
        stop_session(spark)
    if args.trace:
        metrics = per_layer(tmp, tracer, metrics, start_s)
        print(f"perfbench: spans {json.dumps(tracer.spans)}", file=sys.stderr)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": tr.unit(k)} for k, v in metrics.items()},
    }


def traced(args, work, tracer, meter, python_cpu):
    """Untraced and traced operations in the order untraced, traced,
    traced, untraced (a linear warm-up drift cancels out of the overhead),
    then the layers one by one."""
    span = "probe.batch" if args.workload == "probe_batches" else "pipeline"
    plain, failed = meter.timed(0, work, tracer)
    plain_matched = work.matched() if plain else -1
    runs, f1 = meter.timed(0, work, tracer, span)
    more, f2 = meter.timed(0, work, tracer, span)
    last, f3 = meter.timed(0, work, tracer)
    runs, plain, failed = runs + more, plain + last, failed + f1 + f2 + f3
    out = work.layers(tracer, python_cpu)
    if span == "probe.batch":
        work.pipeline(tracer)
    errors = work.check()
    if out["exact.matches"] + out["top1.matches"] != plain_matched:
        errors.append(f"traced exact {out['exact.matches']} + fuzzy {out['top1.matches']} "
                      f"!= untraced matches {plain_matched}")
    walls = [w for w, _, _ in runs]
    out["pipeline.persisted_mb"] = meter.held_mb
    out["trace.overhead_s"] = (
        statistics.mean(walls) - statistics.mean(w for w, _, _ in plain) if walls and plain else 0.0
    )
    out["probe.batch_walls"] = walls if span == "probe.batch" else []
    attempted = len(plain) + len(runs) + failed + 1
    return out, attempted, failed, errors


def per_layer(tmp, tracer, counts, start_s) -> dict:
    import spans as tr

    [log_name] = os.listdir(f"{tmp}/events")
    log = tr.read_event_log(f"{tmp}/events/{log_name}")
    out = tr.rollup(log, tracer)
    # city_registry traces two pipeline calls: report one call's worth
    calls = sum(1 for s in tracer.spans if s["name"] == "pipeline")
    for m in tr.ROLLUP[:-2] if calls > 1 else ():
        out[f"pipeline.{m}"] /= calls
    walls = counts.pop("probe.batch_walls")
    out.update(counts)
    out["session.start_s"] = start_s
    out["scoring.pre_jobs"] = sum(1 for j in log["jobs"].values() if j["group"] == "scoring.plan")
    py_rows = tr.python_rows(log, tracer, "scoring")
    out["scoring.python_rows"] = py_rows
    pairs = counts["blocking.candidate_pairs"]
    out["scoring.python_share"] = py_rows / pairs if pairs else 0.0
    batch_spans = [s for s in tracer.spans if s["name"] == "probe.batch"]
    out["probe.batch_p50_s"] = statistics.median(walls) if walls else 0.0
    out["probe.batch_max_s"] = max(walls, default=0.0)
    out["probe.jobs_per_batch"] = (
        statistics.mean(tr.jobs_in(log, s["start"], s["end"]) for s in batch_spans)
        if batch_spans else 0.0
    )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["city_registry", "probe_batches"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    t_start = process_start()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        result = bench(args, tmp, t_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
