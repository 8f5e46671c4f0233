"""Compute the stored expected outputs the benchmark checks against.

    python3 perfbench/make_goldens.py drain      # goldens/drain_bulk.json
    python3 perfbench/make_goldens.py registry   # goldens/registry.json

``drain``: for every seed window, the crawl order and seen set that
``tests/reference_sim.simulate`` (the pure-Python reference) produces
for that window's seeds in one unlimited-budget cycle. The simulator
needs about a minute per 100k URLs, so it runs once here, not in a
benchmark run.

``registry``: the row count and the digest of the normalized rows of
each registry-workload leaf without a usable DuckDB oracle at sf0.1
(no oracle, or one in SLOW_ORACLES), computed twice in two orders and
kept only when both agree.

Run it from the root of a checkout.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402


def _simulate(args) -> tuple[int, dict]:
    window, seeds, hosts = args
    from tests import reference_sim as SIM

    sim = SIM.simulate(seeds, hosts, 10**9, 1)
    return window, W.drain_digest(sim.order, sim.seen)


def drain(spark, work: str) -> None:
    from omni_crawler_spark.frontier.synthetic import generate_hosts

    hosts = {
        r.host: {
            "crawl_delay_ms": r.crawl_delay_ms,
            "max_parallel": r.max_parallel,
            "robots_disallow": list(r.robots_disallow),
        }
        for r in generate_hosts(spark).collect()
    }
    jobs = []
    for w in range(W.DRAIN_WINDOWS):
        rows = W.seed_window(spark, W.drain_offset(w), W.DRAIN_URLS, 32).collect()
        seeds = [
            {"url": r.url, "priority": r.priority,
             "discovery_ts": r.discovery_ts, "source": r.source}
            for r in rows
        ]
        jobs.append((w, seeds, hosts))
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(3, os.cpu_count() or 1)) as pool:
        out = dict(pool.map(_simulate, jobs))
    doc = {
        "drain_urls": W.DRAIN_URLS,
        "windows": {str(w): out[w] for w in sorted(out)},
    }
    with open(os.path.join(W.GOLDENS, "drain_bulk.json"), "w") as fh:
        json.dump(doc, fh, indent=1)


# oracle-paired leaves whose DuckDB oracle does not finish within 20
# minutes at sf0.1 (the recursive-CTE cooldown replay): checked like a
# rows-only leaf, against its own stable Spark result
SLOW_ORACLES = ["alerts_cooldown_greedy"]


def registry(spark, work: str) -> None:
    from omni_crawler_spark.analytics import REGISTRY
    from perfbench.run import _redirect_engine_caches
    from tools.check_correctness import normalize

    def entry(pdf):
        rows = normalize(pdf)
        return {"rows": len(rows), "sha256": W.digest(map(repr, rows))}

    rows_only = [
        n for n in W.REGISTRY_LEAVES
        if REGISTRY[n].oracle is None or n in SLOW_ORACLES
    ]
    runs = []
    for seed in (0, 1):
        _redirect_engine_caches(tempfile.mkdtemp(dir=work))
        order = list(rows_only)
        random.Random(seed).shuffle(order)
        runs.append({
            n: entry(REGISTRY[n].build(spark, W.SF_DIR).toPandas())
            for n in order
        })
    unstable = [n for n in rows_only if runs[0][n] != runs[1][n]]
    if unstable:
        raise SystemExit(f"unstable rows-only leaves: {unstable}")
    doc = {"expected": {n: runs[0][n] for n in sorted(rows_only)}}
    with open(os.path.join(W.GOLDENS, "registry.json"), "w") as fh:
        json.dump(doc, fh, indent=1)


def main() -> None:
    what = sys.argv[1]
    work = os.path.join(ROOT, ".perfbench_work", f"goldens-{os.getpid()}")
    os.makedirs(work)
    os.environ["PYTHONPATH"] = ROOT
    from omni_crawler_spark.session import get_spark

    spark = get_spark("perfbench-goldens", cpus=len(os.sched_getaffinity(0)),
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        {"drain": drain, "registry": registry}[what](spark, work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
