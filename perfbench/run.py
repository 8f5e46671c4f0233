"""Run one benchmark workload in a fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It prints what it measured, one
metric a line, and as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans around the calls into each layer. It
exits 1 when an output check fails and 2 when the engine is missing.

Spark runs at ``local[<cores this process may use>]`` with a 4 GB Spark
driver. Everything it writes (warehouses, Spark local dirs, temporary
files, the engine's on-disk caches) goes under
``.perfbench_work/run-<pid>`` in the checkout and is removed at exit;
the traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "4g"

# end-to-end metrics: (name, unit). The run also prints op_s_p50,
# op_s_tail, peak_rss_mb and op_fail_ratio but does not gate them: the
# median leaf is a different leaf in each query order, and a tail of a
# dozen samples or a peak resident set is decided by one sample (see
# README.md).
END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("pass_s", "s"),
]
# per workload: the operation op_s_p50 and op_s_tail describe, and the
# item items_per_s counts (URLs per second of cycle time, or leaves
# per second of query time)
PRIMARY = {
    "drain_bulk": ("cycle", "URLs"),
    "crawl_steady": ("probe", "URLs"),
    "registry_sf0.1": ("query", "leaves"),
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(work: str) -> int:
    """Cores, memory and scratch space for the Spark session, set
    before its JVM starts."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # for the launcher JVM and the driver JVM: temporary files in the
    # work dir, and no /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return len(os.sched_getaffinity(0))


def _redirect_engine_caches(work: str) -> None:
    """Some registry leaves keep derived indexes under fixed /tmp
    roots; send them under the run's work dir so every run starts
    from the same cold state and writes only inside the checkout."""
    from omni_crawler_spark.analytics import (
        registry,
        registry_corpus,
        registry_scale,
        registry_sim,
    )

    original = registry.cache_root

    def cache_root(parent: str, sf_dir: str) -> str:
        return original(os.path.join(work, parent.lstrip("/")), sf_dir)

    for mod in (registry, registry_corpus, registry_scale, registry_sim):
        mod.cache_root = cache_root


def _start_session(cpus: int, work: str, warm: bool) -> tuple:
    from pyspark.sql.functions import pandas_udf

    from omni_crawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    t1 = time.perf_counter()
    if warm:  # spawn the Python workers before the first timed cycle

        @pandas_udf("long")
        def _warm(s: pd.Series) -> pd.Series:
            return s

        # an aggregate over the UDF's output, so the UDF is not pruned
        spark.range(0, 64, 1, cpus).select(_warm("id").alias("x")).agg(
            {"x": "max"}
        ).collect()
    return spark, {"start_s": t1 - t0, "warm_s": time.perf_counter() - t1}


def _versions(spark, cpus: int) -> dict:
    import pyarrow

    return {
        "nproc": cpus,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "arrow": pyarrow.__version__,
        "driver_memory": DRIVER_MEMORY,
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, t_process: float) -> dict:
    cpus = _pin_environment(work)
    from perfbench.stats import RssSampler

    rss = RssSampler().start()
    # the other workloads' set-up runs their code paths once anyway
    spark, session = _start_session(cpus, work, args.workload == "drain_bulk")
    try:
        return _measure(args, spark, session, rss, work, t_process, cpus)
    finally:
        _stop(spark)


def _measure(args, spark, session, rss, work, t_process, cpus) -> dict:
    from pyspark import SparkContext

    from perfbench import layers
    from perfbench.stats import child_cpu_s, median, pass_seconds, tail
    from perfbench.trace import Tracer
    from perfbench.workloads import REGISTRY_LEAVES, WORKLOADS, Ctx

    jvm = SparkContext._gateway.proc.pid
    if args.workload == "registry_sf0.1":
        _redirect_engine_caches(work)
    ready = time.time() - t_process
    env = _versions(spark, cpus)
    print("env " + json.dumps(env))

    tracer = Tracer(spark, bool(args.trace), cpu_probe=lambda: child_cpu_s(jvm))
    ctx = Ctx(spark, tracer, args.seed, args.seconds, work)
    WORKLOADS[args.workload](ctx, layers)

    kind, items = PRIMARY[args.workload]
    times = ctx.ops.times(kind)
    tail_v, tail_label = tail(times)
    session["peak_rss_mb"] = rss.stop()
    if items == "URLs":
        n_items = sum(c["stats"].get("n_scheduled", 0) for c in ctx.cycles)
        items_per_s = median([
            c["stats"].get("n_scheduled", 0) / c["op"].seconds for c in ctx.cycles
        ])
    else:
        n_items = len(ctx.queries)
        items_per_s = len(REGISTRY_LEAVES) / pass_seconds(ctx.ops.ops, ("query",))
    e2e = {
        "setup_s": ready + median(ctx.setup_samples or [0.0]),
        "items_per_s": items_per_s,
        "pass_s": pass_seconds(ctx.ops.ops, ("cycle", "probe", "query")),
    }
    print(f"workload {args.workload} seed {args.seed}: {ctx.units} measured "
          f"drain(s), cycle(s) or pass(es), {len(times)} {kind} ops, "
          f"{n_items} {items}")
    for name, unit in END_TO_END:
        print(f"{name} = {e2e[name]:.6g} {unit}")
    print(f"op_s_p50 = {median(times):.6g} s ({kind})")
    print(f"op_s_tail = {tail_v:.6g} s ({tail_label} of {len(times)})")
    print(f"peak_rss_mb = {session['peak_rss_mb']:.6g} MB")
    print(f"op_fail_ratio = {ctx.ops.fail_ratio():.6g} "
          f"({ctx.ops.failed} of {ctx.ops.attempted} operations)")
    print("ops: " + ", ".join(
        f"{o.kind}{'[' + o.label + ']' if o.label else ''}={o.seconds:.3f}"
        for o in ctx.ops.ops
    ))
    for p in ctx.problems:
        print(f"FAILED: {p}")

    if args.trace:
        lm = layers.layer_metrics(ctx, session)
        units = {n: u for n, u, _ in layers.PER_LAYER}
        metrics = {n: {"value": v, "unit": units[n]} for n, v in lm.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json")
        ctx.tracer.dump(path, {**env, "workload": args.workload, "seed": args.seed,
                               "end_to_end": e2e, "per_layer": lm})
        print(f"trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    return {
        "correct": not ctx.problems,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    from_start = time.time()
    sys.path.insert(0, ROOT)
    from perfbench.stats import process_age_s

    t_process = from_start - process_age_s()
    args = _args(argv)
    try:
        import omni_crawler_spark  # noqa: F401
        import tools.check_correctness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not in this checkout: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    try:
        result = run(args, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
