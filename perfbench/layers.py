"""Per-layer instrumentation (traced runs only) and the per-layer
metrics computed from it.

Spans go around public calls into each layer, from the benchmark's
side: the engine's tables are wrapped per instance, so no engine code
changes. Bloom probing, robots and scheduling run inside the single
``plan`` commit, so their row counts and ratios come from extra
traced-only calls to ``bloom.probe_bloom`` and ``politeness`` on the
same cycle's inputs; their time is ``lakehouse.plan.commit_s``.

Per-cycle figures are means over the run's measured cycles; per-probe
figures are medians over probes; registry figures are per pass. A
``cpu_ms`` is Spark's executor CPU time (JVM task threads) plus the
CPU the Python workers used during the span, read from /proc; the
``py_cpu_ms`` figures are the Python share alone.
"""

from __future__ import annotations

import os
import time

from perfbench.stats import dir_mb, median, percentile

TABLES = ["plan", "fetched", "seen", "bloom", "frontier", "lineage", "articles", "index"]
COMMITS = ["append", "overwrite", "upsert", "rewrite", "compact"]
# analytics modules that hold the registry workload's leaves, by the
# suffix after ``registry_`` ("core" is analytics/registry.py itself)
MODULES = ["core", "extra", "search", "sim", "streaming", "multimodal",
           "corpus", "scale", "clean", "enrich", "crawl"]

# (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("crawl.cycle_s", "s", "lower"),
    ("crawl.plan_s", "s", "lower"),
    ("crawl.fetch_s", "s", "lower"),
    ("crawl.derived_s", "s", "lower"),
    ("crawl.add_seeds_s", "s", "lower"),
    ("crawl.recrawl_s", "s", "lower"),
    ("crawl.jobs", "count", "lower"),
    ("crawl.driver_s", "s", "lower"),
    ("bloom.probed_rows", "count", "lower"),
    ("bloom.clear_ratio", "ratio", "higher"),
    ("bloom.fp_ratio", "ratio", "lower"),
    ("bloom.merge_s", "s", "lower"),
    ("bloom.bytes", "bytes", "lower"),
    ("politeness.allowed_rows", "count", "higher"),
    ("politeness.scheduled_ratio", "ratio", "higher"),
    ("politeness.lanes", "count", "higher"),
    ("fetch.pages", "count", "higher"),
    ("fetch.valid_ratio", "ratio", "higher"),
    ("fetch.run_ms", "ms", "lower"),
    ("fetch.cpu_ms", "ms", "lower"),
    ("fetch.py_cpu_ms", "ms", "lower"),
    ("fetch.pages_per_cpu_s", "1/s", "higher"),
    ("fetch.task_ms_p50", "ms", "lower"),
    ("fetch.task_ms_max", "ms", "lower"),
]
for _t in TABLES:
    PER_LAYER += [
        (f"lakehouse.{_t}.commit_s", "s", "lower"),
        (f"lakehouse.{_t}.commits", "count", "lower"),
        (f"lakehouse.{_t}.rows_written", "count", "lower"),
        (f"lakehouse.{_t}.bytes_written", "bytes", "lower"),
        (f"lakehouse.{_t}.files_live", "count", "lower"),
    ]
PER_LAYER += [
    ("lakehouse.write_amp", "ratio", "lower"),
    ("lakehouse.warehouse_mb", "MB", "lower"),
    ("dv.reindex_s", "s", "lower"),
    ("dv.compact_s", "s", "lower"),
    ("dv.tombstones", "count", "lower"),
    ("search_index.live_ratio", "ratio", "higher"),
    ("search.probe_s", "s", "lower"),
    ("search.run_ms", "ms", "lower"),
    ("search.cpu_ms", "ms", "lower"),
    ("search.jobs", "count", "lower"),
]
for _m in MODULES:
    PER_LAYER += [
        (f"registry.{_m}.s", "s", "lower"),
        (f"registry.{_m}.jobs", "count", "lower"),
        (f"registry.{_m}.run_ms", "ms", "lower"),
        (f"registry.{_m}.cpu_ms", "ms", "lower"),
    ]
PER_LAYER += [
    ("spark.failed_tasks", "count", "lower"),
    ("spark.shuffle_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
]


def module_key(build) -> str:
    mod = build.__module__.rsplit(".", 1)[-1]
    return "core" if mod == "registry" else mod.removeprefix("registry_")


def instrument_engine(ctx, eng) -> None:
    """Wrap the engine's tables and deletion vectors in spans."""
    tr = ctx.tracer
    if not tr.enabled:
        return
    for t in TABLES:
        table = getattr(eng, t)

        def record(sp, version, table=table):
            if isinstance(version, int) and version > 0:
                sp.attrs["rows"] = table.delta_rows(version)
                sp.attrs["bytes"] = table.delta_bytes(version)

        for m in COMMITS:
            tr.wrap(table, m, f"lakehouse.{t}", after=record)
    tr.wrap(eng.index_dv, "reindex", "dv.reindex")
    tr.wrap(eng.index_dv, "compact", "dv.compact")


def probe_plan_inputs(ctx, eng) -> None:
    """Traced only: re-run the bloom probe and the politeness filter
    and schedule on the inputs the next ``run_cycle`` will plan from,
    and count their rows."""
    if not ctx.traced:
        return
    from pyspark.sql import functions as F

    from omni_crawler_spark.frontier import bloom as B
    from omni_crawler_spark.frontier import politeness as P

    spark = ctx.spark
    rec = {"probed": 0, "maybe": 0, "fp": 0}
    t0 = time.perf_counter()
    with ctx.tracer.span("probe.plan_inputs"):
        cand = eng.candidates(spark)
        seen = (
            spark.createDataFrame([], "url_hash long")
            if eng.seen.is_empty()
            else eng.seen.read(spark).select("url_hash")
        )
        bloom = None if eng.bloom.is_empty() else eng.bloom.read(spark)
        if bloom is not None:
            probed = B.probe_bloom(
                cand, bloom, num_buckets=eng.num_buckets
            ).select("url_hash", "maybe_seen").localCheckpoint()
            r = probed.agg(
                F.count("*").alias("n"),
                F.sum(F.col("maybe_seen").cast("long")).alias("m"),
            ).first()
            rec["probed"], rec["maybe"] = int(r.n), int(r.m or 0)
            rec["fp"] = (
                probed.filter("maybe_seen").join(seen, "url_hash", "left_anti").count()
            )
        hosts = eng.hosts.read(spark)
        new = B.seen_filter(cand, seen, bloom, num_buckets=eng.num_buckets)
        plan = P.schedule(P.robots_filter(new, hosts), hosts, eng.cycle_budget_ms)
        s = plan.agg(
            F.count("*").alias("allowed"),
            F.sum(F.col("scheduled").cast("long")).alias("scheduled"),
            F.countDistinct("host", "lane").alias("lanes"),
        ).first()
        rec.update(allowed=int(s.allowed), scheduled=int(s.scheduled or 0),
                   lanes=int(s.lanes))
    ctx.plan_probes.append(rec)
    ctx.untimed += time.perf_counter() - t0


def _snapshot_files(table) -> tuple[int, int]:
    """(parquet files, bytes) of a table's current snapshot."""
    if table.is_empty():
        return 0, 0
    n = size = 0
    for d in table.history()[-1]["data_dirs"]:
        for root, _, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(ctx, session: dict) -> dict[str, float]:
    """Every PER_LAYER metric for this run (0 where a layer is not
    exercised by the workload)."""
    tr = ctx.tracer
    tr.collect_spark()
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out["session.start_s"] = session["start_s"]
    out["session.warm_s"] = session["warm_s"]
    out["session.peak_rss_mb"] = session["peak_rss_mb"]

    def spans(name):
        return [s for s in tr.spans if s.name == name]

    def dur(ss):
        return [s.end - s.start for s in ss]

    n_cyc = len(ctx.cycles)
    if n_cyc:
        out["crawl.cycle_s"] = median([c["op"].seconds for c in ctx.cycles])
        for key, st in (("plan_s", "t_plan"), ("fetch_s", "t_fetch"),
                        ("derived_s", "t_derived_commits")):
            out[f"crawl.{key}"] = median([c["stats"].get(st, 0.0) for c in ctx.cycles])
        out["crawl.add_seeds_s"] = median(dur(spans("crawl.add_seeds")) or [0.0])
        out["crawl.recrawl_s"] = median(dur(spans("crawl.recrawl")) or [0.0])
        works = [tr.work(c["span"]) for c in ctx.cycles if c["span"] is not None]
        out["crawl.jobs"] = median([w["jobs"] for w in works] or [0])
        out["crawl.driver_s"] = median([w["driver_s"] for w in works] or [0.0])

        pp = ctx.plan_probes
        probed = sum(p["probed"] for p in pp)
        maybe = sum(p["maybe"] for p in pp)
        out["bloom.probed_rows"] = _mean(p["probed"] for p in pp)
        out["bloom.clear_ratio"] = _ratio(probed - maybe, probed)
        out["bloom.fp_ratio"] = _ratio(sum(p["fp"] for p in pp), maybe)
        out["bloom.merge_s"] = sum(
            tr.work(s)["cpu_ms"] for s in spans("lakehouse.bloom")
        ) / 1000.0 / n_cyc
        out["politeness.allowed_rows"] = _mean(p["allowed"] for p in pp)
        out["politeness.scheduled_ratio"] = _ratio(
            sum(p["scheduled"] for p in pp), sum(p["allowed"] for p in pp)
        )
        out["politeness.lanes"] = _mean(p["lanes"] for p in pp)

        pages = sum(c["stats"].get("n_scheduled", 0) for c in ctx.cycles)
        stored = sum(c["stats"].get("n_stored", 0) for c in ctx.cycles)
        fw = [tr.work(s) for s in spans("lakehouse.fetched")]
        out["fetch.pages"] = pages / n_cyc
        out["fetch.valid_ratio"] = _ratio(stored, pages)
        fetch_cpu = sum(w["cpu_ms"] + w["py_cpu_ms"] for w in fw)
        out["fetch.run_ms"] = sum(w["run_ms"] for w in fw) / n_cyc
        out["fetch.cpu_ms"] = fetch_cpu / n_cyc
        out["fetch.py_cpu_ms"] = sum(w["py_cpu_ms"] for w in fw) / n_cyc
        out["fetch.pages_per_cpu_s"] = _ratio(pages, fetch_cpu / 1000.0)
        task_sets = [w["task_run_ms"] for w in fw if w["task_run_ms"]]
        if task_sets:
            out["fetch.task_ms_p50"] = median([percentile(t, 50) for t in task_sets])
            out["fetch.task_ms_max"] = median([max(t) for t in task_sets])

        written = 0
        for t in TABLES:
            ss = spans(f"lakehouse.{t}")
            out[f"lakehouse.{t}.commit_s"] = sum(dur(ss)) / n_cyc
            out[f"lakehouse.{t}.commits"] = len(ss) / n_cyc
            out[f"lakehouse.{t}.rows_written"] = sum(s.attrs.get("rows", 0) for s in ss) / n_cyc
            b = sum(s.attrs.get("bytes", 0) for s in ss)
            out[f"lakehouse.{t}.bytes_written"] = b / n_cyc
            written += b
            out[f"lakehouse.{t}.files_live"] = _mean(
                _snapshot_files(getattr(e, t))[0] for e in ctx.engines
            )
        out["bloom.bytes"] = _mean(_snapshot_files(e.bloom)[1] for e in ctx.engines)
        wh_mb = [dir_mb(e.warehouse) for e in ctx.engines]
        out["lakehouse.warehouse_mb"] = _mean(wh_mb)
        out["lakehouse.write_amp"] = _ratio(written / 1e6, sum(wh_mb))

        out["dv.reindex_s"] = sum(dur(spans("dv.reindex"))) / n_cyc
        out["dv.compact_s"] = sum(dur(spans("dv.compact"))) / n_cyc
        indexed = [e for e in ctx.engines if e.maintain_index]
        if indexed:
            out["dv.tombstones"] = _mean(e.index_dv.tomb.footer_row_count() for e in indexed)
            out["search_index.live_ratio"] = _mean(
                _ratio(e.index_dv.live(ctx.spark).count(), e.index.read(ctx.spark).count())
                for e in indexed
            )

    if ctx.probes:
        out["search.probe_s"] = median([p["op"].seconds for p in ctx.probes])
    probes = [tr.work(p["span"]) for p in ctx.probes if p["span"] is not None]
    if probes:
        out["search.run_ms"] = median([w["run_ms"] for w in probes])
        out["search.cpu_ms"] = median([w["cpu_ms"] + w["py_cpu_ms"] for w in probes])
        out["search.jobs"] = median([w["jobs"] for w in probes])

    units = ctx.units or 1
    for q in ctx.queries:
        if q["span"] is None:
            continue
        w = tr.work(q["span"])
        m = q["module"]
        out[f"registry.{m}.s"] += (q["span"].end - q["span"].start) / units
        out[f"registry.{m}.jobs"] += w["jobs"] / units
        out[f"registry.{m}.run_ms"] += w["run_ms"] / units
        out[f"registry.{m}.cpu_ms"] += (w["cpu_ms"] + w["py_cpu_ms"]) / units

    # over every stage of the run's spans, per measured unit
    stages = tr.stages.values()
    out["spark.failed_tasks"] = float(sum(s.failed_tasks for s in stages))
    out["spark.shuffle_mb"] = sum(
        s.shuffle_read + s.shuffle_write for s in stages
    ) / 1e6 / units
    out["spark.spill_mb"] = sum(s.spill for s in stages) / 1e6 / units
    return out
