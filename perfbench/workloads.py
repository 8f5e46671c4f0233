"""The three workloads: seeded inputs, the measured closed loop, and
the output checks.

Load model: one client in one process. Each operation waits for the
previous one: a cycle, then its search probes, then the next cycle; a
query, then the next query. The engine receives only the generated
DataFrames; ``--seed`` picks the synthetic id window (crawl) or the
query order (registry).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench.stats import OpLog, closed_loop

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens")
SF_DIR = os.path.join(HERE, "data", "sf0.1")

# drain_bulk: one unlimited-budget cycle over this many seeded URLs
# (the ROADMAP's drain anchor size).
# Seeds map onto DRAIN_WINDOWS id windows; each window's expected
# crawl order and seen set are stored in goldens/drain_bulk.json.
DRAIN_URLS = 100_000
DRAIN_WINDOWS = 16
DRAIN_BASE = 10_000_000

# crawl_steady sizing
STEADY_BASE = 100_000_000
STEADY_WINDOW = 1_000_000
STEADY_SEEDS = 2_000
STEADY_ARRIVALS = 400
STEADY_RECRAWL = 60
STEADY_BUDGET_MS = 5_000
# cycles in one measured unit: the six concurrent derived commits
# finish in a different order every cycle, so one cycle's time spread
# 0.11-0.15 between seeds; the median of two halves that
STEADY_UNIT_CYCLES = 2
# every cycle compacts the frontier, seen set and index, so set-up's
# cycle 1 runs the same code paths the measured cycles run
STEADY_COMPACT_EVERY = 1
# every cycle probes the same queries, in a seeded order
PROBE_QUERIES = ["market economy", "health hospital", "startup"]
INDEX_FIELDS = {"title": 30, "content": 20, "caption": 15}

# registry_sf0.1: one leaf from each of the 11 analytics modules (of
# the 62 bench.py HEADLINE leaves), so that a run fits the time
# budget. Each leaf's output is checked against its DuckDB oracle, run
# live, except the leaves in goldens/registry.json, which have no
# oracle or one that does not finish at sf0.1: they must reproduce
# their stored, stable result.
REGISTRY_LEAVES = [
    "agg_domain_topn",  # analytics/registry.py
    "window_moving_avg",  # registry_extra
    "search_sorted_quality",  # registry_search
    "dedup_hamming_verify",  # registry_sim
    "alerts_cooldown_greedy",  # registry_streaming
    "multimodal_aspect_buckets",  # registry_multimodal
    "corpus_chunk_windows",  # registry_corpus
    "window_topk_salted",  # registry_scale
    "clean_pii_redact",  # registry_clean
    "enrich_doc_profile",  # registry_enrich
    "crawl_shard_assign",  # registry_crawl
]


# passes in one measured unit: one warm pass spread up to 0.12 between
# seeds when the host was busy for part of it
REGISTRY_UNIT_PASSES = 2


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    ops: OpLog = field(default_factory=OpLog)
    # per-operation facts the metrics are computed from
    cycles: list[dict] = field(default_factory=list)
    probes: list[dict] = field(default_factory=list)
    queries: list[dict] = field(default_factory=list)
    plan_probes: list[dict] = field(default_factory=list)
    engines: list = field(default_factory=list)
    # measured units of work: drains, steady cycles or registry passes
    units: int = 0
    setup_samples: list[float] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    # seconds spent in traced-only calls, kept out of operation times
    untimed: float = 0.0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fail(self, op, what: str) -> None:
        if op is not None:
            op.ok = False
            op.detail = what
        self.problems.append(what)

    def op(self, kind: str, fn, span: str | None, **attrs):
        """Run ``fn()`` as one timed operation inside a span (none
        when ``span`` is None: set-up work stays out of the trace). An
        exception marks the operation failed; the run goes on."""
        out = err = None
        scope = self.tracer.span(span, **attrs) if span else nullcontext()
        with scope as sp:
            t0, u0 = time.perf_counter(), self.untimed
            try:
                out = fn()
            except Exception as exc:
                traceback.print_exc(file=sys.stderr)
                err = exc
            seconds = time.perf_counter() - t0 - (self.untimed - u0)
        op = self.ops.add(kind, seconds)
        op.label = str(attrs.get("leaf") or attrs.get("query") or "")
        if err is not None:
            self.fail(op, f"{kind}: {err.__class__.__name__}: {err}")
        return op, out, sp


class _IdWindow:
    """Stands in for the session inside ``generate_seeds`` so that its
    id range starts at ``offset`` instead of 0."""

    def __init__(self, spark, offset: int):
        self._spark = spark
        self._offset = offset

    def range(self, start, end, step=1, numPartitions=None):
        return self._spark.range(
            self._offset + start, self._offset + end, step, numPartitions
        )


def seed_window(spark, offset: int, n: int, partitions: int):
    """``generate_seeds`` over ids [offset, offset + n)."""
    from omni_crawler_spark.frontier.synthetic import generate_seeds

    return generate_seeds(_IdWindow(spark, offset), n, partitions=partitions)


def drain_offset(seed: int) -> int:
    return DRAIN_BASE + (seed % DRAIN_WINDOWS) * DRAIN_URLS


def steady_offset(seed: int) -> int:
    return STEADY_BASE + (seed % 1000) * STEADY_WINDOW


def digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def drain_digest(order_rows, seen_urls) -> dict:
    """Digest of a drain's crawl order, rows of (cycle, start_ms, host,
    lane, crawl_seq, url) in that order, and of its seen URL set."""
    seen = sorted(seen_urls)
    return {
        "n_order": len(order_rows),
        "order_sha256": digest("\t".join(str(v) for v in r) for r in order_rows),
        "n_seen": len(seen),
        "seen_sha256": digest(seen),
    }


def _run_cycle(ctx: Ctx, layers, eng, cycle_id: int):
    """The traced-only plan probe, then ``run_cycle`` in its own span."""
    layers.probe_plan_inputs(ctx, eng)
    with ctx.tracer.span("crawl.run_cycle", cycle=cycle_id) as sp:
        stats = eng.run_cycle(ctx.spark, cycle_id, collect_stats=False)
    ctx.cycles[-1].update(stats=stats, span=sp)


# ---------------------------------------------------------------------------
# drain_bulk
# ---------------------------------------------------------------------------


def drain_bulk(ctx: Ctx, layers) -> None:
    from pyspark.sql import functions as F

    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import generate_hosts

    spark = ctx.spark
    window = str(ctx.seed % DRAIN_WINDOWS)
    with open(os.path.join(GOLDENS, "drain_bulk.json")) as fh:
        golden = json.load(fh)["windows"][window]
    seeds = seed_window(spark, drain_offset(ctx.seed), DRAIN_URLS, 32)
    hosts = generate_hosts(spark)

    def bootstrap():
        t0 = time.perf_counter()
        eng = CrawlEngine(
            tempfile.mkdtemp(prefix="drain-", dir=ctx.work),
            cycle_budget_ms=10**9,
        )
        eng.bootstrap(seeds, hosts)
        ctx.setup_samples.append(time.perf_counter() - t0)
        return eng

    ready = [bootstrap()]

    def one_drain():
        eng = ready.pop() if ready else bootstrap()
        layers.instrument_engine(ctx, eng)
        ctx.engines.append(eng)
        ctx.cycles.append({"eng": eng, "stats": {}, "span": None})
        ctx.cycles[-1]["op"], _, _ = ctx.op(
            "cycle", lambda: _run_cycle(ctx, layers, eng, 1), span="crawl.cycle"
        )

    ctx.units = closed_loop(ctx.seconds, one_drain)

    for c in ctx.cycles:
        if not c["op"].ok:
            continue
        eng = c["eng"]
        order = (
            eng.fetched.read(spark)
            .filter(F.col("valid"))
            .select("cycle_id", "start_ms", "host", "lane", "crawl_seq",
                    "url_canonical")
            .orderBy("cycle_id", "start_ms", "host", "lane", "crawl_seq")
            .collect()
        )
        seen = [r.url_canonical for r in eng.seen.read(spark).collect()]
        got = drain_digest(order, seen)
        if got != golden:
            ctx.fail(c["op"], f"drain_bulk window {window}: {got} != {golden}")


# ---------------------------------------------------------------------------
# crawl_steady
# ---------------------------------------------------------------------------


def crawl_steady(ctx: Ctx, layers) -> None:
    from pyspark.sql import functions as F

    from omni_crawler_spark.frontier.crawl import CrawlEngine
    from omni_crawler_spark.frontier.synthetic import generate_hosts

    spark = ctx.spark
    rng = random.Random(ctx.seed)
    off = steady_offset(ctx.seed)
    t0 = time.perf_counter()
    eng = CrawlEngine(
        tempfile.mkdtemp(prefix="steady-", dir=ctx.work),
        cycle_budget_ms=STEADY_BUDGET_MS,
        maintain_articles=True,
        maintain_index=True,
        frontier_compact_every=STEADY_COMPACT_EVERY,
    )
    seeds = seed_window(spark, off, STEADY_SEEDS, 8)
    eng.bootstrap(seeds, generate_hosts(spark))
    # cycle 1 has no bloom filter to probe yet: it is set-up, not steady
    eng.run_cycle(spark, 1, collect_stats=False)
    ctx.setup_samples.append(time.perf_counter() - t0)
    ctx.engines.append(eng)
    layers.instrument_engine(ctx, eng)
    requeued: dict[int, int] = {}  # url_hash -> cycle it was re-queued for

    def one_cycle(c: int):
        targets = (
            eng.fetched.read(spark)
            .filter(F.col("valid"))
            .select("url_canonical", "url_hash")
            .distinct()
            .orderBy(F.xxhash64("url_hash", F.lit(ctx.seed)))
            .limit(STEADY_RECRAWL)
            .collect()
        )
        arrivals = seed_window(
            spark, off + STEADY_SEEDS + (c - 2) * STEADY_ARRIVALS,
            STEADY_ARRIVALS, 4,
        )
        urls = spark.createDataFrame(
            [(r.url_canonical,) for r in targets], "url string"
        )

        def cycle():
            with ctx.tracer.span("crawl.add_seeds"):
                eng.add_seeds(arrivals, op_id=f"arrive-{c:05d}")
            with ctx.tracer.span("crawl.recrawl"):
                eng.recrawl(spark, urls, op_id=f"recrawl-{c:05d}")
            for r in targets:
                requeued[r.url_hash] = c
            _run_cycle(ctx, layers, eng, c)

        ctx.cycles.append({"stats": {}, "span": None})
        ctx.cycles[-1]["op"], _, _ = ctx.op("cycle", cycle, span="crawl.cycle")
        for query in rng.sample(PROBE_QUERIES, len(PROBE_QUERIES)):
            op, rows, sp = ctx.op(
                "probe", lambda: eng.search(spark, query, size=10).collect(),
                span="search.probe", query=query,
            )
            ctx.probes.append({"op": op, "rows": rows or [], "span": sp})

    def one_unit():
        for _ in range(STEADY_UNIT_CYCLES):
            one_cycle(len(ctx.cycles) + 2)

    ctx.units = closed_loop(ctx.seconds, one_unit) * STEADY_UNIT_CYCLES
    _check_steady(ctx, eng, requeued)


def _posting_digest(df) -> tuple[int, str]:
    from pyspark.sql import functions as F

    h = F.xxhash64("url_hash", "fld", "boost10", "tok").cast("decimal(38,0)")
    r = df.agg(F.count("*").alias("n"), F.sum(h).alias("s")).first()
    return int(r.n), str(r.s)


def _check_steady(ctx: Ctx, eng, requeued: dict[int, int]) -> None:
    """End-state invariants after the last cycle. A violation fails
    the last cycle; a bad search result fails its probe."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from omni_crawler_spark import search as SE

    spark = ctx.spark
    last = ctx.cycles[-1]["op"]
    fetched = eng.fetched.read(spark)
    last_fetch = {
        r.url_hash: r.c
        for r in fetched.groupBy("url_hash").agg(F.max("cycle_id").alias("c")).collect()
    }
    # seen = every scheduled (so fetched) hash, minus re-queued pages
    # whose refetch has not been scheduled yet
    want_seen = {h for h, c in last_fetch.items() if requeued.get(h, 0) <= c}
    got_seen = {r.url_hash for r in eng.seen.read(spark).select("url_hash").collect()}
    if got_seen != want_seen:
        ctx.fail(last, f"seen: {len(got_seen)} hashes, want {len(want_seen)}")

    valid = fetched.filter(F.col("valid"))
    n_valid = valid.select("url_hash").distinct().count()
    articles = eng.articles.read(spark)
    art = articles.agg(
        F.count("*").alias("n"), F.countDistinct("url_hash").alias("d")
    ).first()
    if not art.n == art.d == n_valid:
        ctx.fail(last, f"articles: {art.n} rows / {art.d} keys, want {n_valid}")

    newest = valid.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy("url_hash").orderBy(F.desc("cycle_id"))),
    ).filter("_rn = 1")
    want = SE.build_inverted_index(newest, fields=INDEX_FIELDS, id_col="url_hash")
    live = eng.index_dv.live(spark).select("url_hash", "fld", "boost10", "tok")
    if _posting_digest(live) != _posting_digest(want):
        ctx.fail(last, "index: live postings differ from a rebuild")

    live_ids = {r.url_hash for r in articles.select("url_hash").collect()}
    for p in ctx.probes:
        scores = [r.score for r in p["rows"]]
        ids = {r.url_hash for r in p["rows"]}
        if len(scores) > 10 or scores != sorted(scores, reverse=True) or not ids <= live_ids:
            ctx.fail(p["op"], "probe: results are not a ranked subset of live docs")


# ---------------------------------------------------------------------------
# registry_sf0.1
# ---------------------------------------------------------------------------


def registry(ctx: Ctx, layers) -> None:
    import duckdb

    from omni_crawler_spark.analytics import REGISTRY
    from omni_crawler_spark.analytics.tables import TABLE_NAMES as TABLES
    from tools.check_correctness import normalize

    with open(os.path.join(GOLDENS, "registry.json")) as fh:
        golden = json.load(fh)
    order = list(REGISTRY_LEAVES)
    random.Random(ctx.seed).shuffle(order)
    results: list[tuple[str, object, object]] = []

    def one_pass(measured: bool):
        for name in order:
            q = REGISTRY[name]
            module = layers.module_key(q.build)
            op, pdf, sp = ctx.op(
                "query" if measured else "warmup",
                lambda: q.build(ctx.spark, SF_DIR).toPandas(),
                span=f"registry.{module}" if measured else None, leaf=name,
            )
            if measured:
                ctx.queries.append({"op": op, "span": sp, "module": module})
            results.append((name, op, pdf))

    # set-up: one unmeasured pass builds the leaves' on-disk caches and
    # compiles their code paths, so the measured passes run warm
    t0 = time.perf_counter()
    one_pass(measured=False)
    ctx.setup_samples.append(time.perf_counter() - t0)
    def one_unit():
        for _ in range(REGISTRY_UNIT_PASSES):
            one_pass(measured=True)

    ctx.units = closed_loop(ctx.seconds, one_unit) * REGISTRY_UNIT_PASSES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        expected: dict[str, tuple] = {}
        for name, op, pdf in results:
            if pdf is None:
                continue
            got = normalize(pdf)
            if name not in expected:
                want = golden["expected"].get(name)
                if want is not None:
                    expected[name] = ("stored", [want["rows"], want["sha256"]])
                else:
                    odf = con.execute(REGISTRY[name].oracle).fetchdf()
                    cols = sorted(c.lower() for c in odf.columns)
                    expected[name] = ("oracle", (cols, normalize(odf)))
            how, want = expected[name]
            if how == "stored":
                if [len(got), digest(map(repr, got))] != want:
                    ctx.fail(op, f"{name}: differs from its stored result")
            elif (sorted(c.lower() for c in pdf.columns), got) != want:
                ctx.fail(op, f"{name}: differs from its DuckDB oracle")
    finally:
        con.close()


WORKLOADS = {
    "drain_bulk": drain_bulk,
    "crawl_steady": crawl_steady,
    "registry_sf0.1": registry,
}
