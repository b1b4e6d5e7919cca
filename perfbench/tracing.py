"""The traced run: spans around calls into the program's public
functions, Spark's own event log, and the per-layer metrics built from
both.

Spans (name, start, end, parent, run id) are kept in memory and written
out as JSON when the run ends. Every Spark job started inside a span
carries the span's id as the local property ``perfbench.span`` (and the
phase, ``timed`` or ``probe``, as ``perfbench.phase``); Spark writes job
properties into its event log, which is how stage, task, shuffle, spill
and GC figures are attributed to crawl rounds and layer calls after the
run. Nothing inside the program is instrumented.

The traced run has three parts:
1. untraced and traced crawls alternate until --seconds of crawl time
   are spent (at least one of each); their median walls give
   trace.overhead_frac. Traced crawls get one span per round, opened
   and closed by the CrawlConfig.progress callback.
2. the workload's crawl with a checkpoint, interrupted and resumed
   (catalog, resume and store-size figures);
3. layer probes: the fattest round of that checkpointed crawl is read
   back through RoundCatalog and each layer's public function is called
   on its real tables, one span per call.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
PHASE_PROP = "perfbench.phase"


class Tracer:
    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self.phase: str | None = None

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "run_id": self.run_id, "name": name,
                           "start": time.time(), "end": None, "parent": parent, **attrs})
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        self.sc.setLocalProperty(PHASE_PROP, self.phase)
        return sid

    def close(self, sid: int, **attrs) -> None:
        self.spans[sid]["end"] = time.time()
        self.spans[sid].update(attrs)
        parent = self.spans[sid]["parent"]
        self.sc.setLocalProperty(SPAN_PROP, None if parent is None else str(parent))
        if parent is None:
            self.sc.setLocalProperty(PHASE_PROP, None)

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = self.open(name, parent, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class RoundSpans:
    """CrawlConfig.progress callback that turns rounds into spans: a round
    span is open from the previous round's end (or the crawl call) until
    its callback, so every Spark job of the round carries its id."""

    def __init__(self, tracer: Tracer, parent: int):
        self.tracer = tracer
        self.parent = parent
        self.round_ids: list[int] = []
        self.current = tracer.open("crawl.round", parent)

    def __call__(self, m: dict) -> None:
        keep = {k: m.get(k, 0) for k in ("round", "frontier", "processed")}
        self.tracer.close(self.current, **keep)
        self.round_ids.append(self.current)
        self.current = self.tracer.open("crawl.round", self.parent)

    def finish(self) -> None:
        """Close the span left open after the last round (the crawl's
        tail: final table assembly)."""
        self.tracer.close(self.current, tail=True)


# --- event log ---------------------------------------------------------------

def read_eventlog(directory: str) -> tuple[dict, dict]:
    """(jobs, stages): jobs[id] = {span, phase, stages}; stages[id] =
    task totals of a stage that ran (skipped stages never appear)."""
    (name,) = os.listdir(directory)
    jobs: dict[int, dict] = {}
    owner: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
        "shuffle_read": 0, "spill": 0})
    with open(os.path.join(directory, name)) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get(SPAN_PROP)
                jobs[e["Job ID"]] = {"span": int(span) if span else None,
                                     "phase": props.get(PHASE_PROP),
                                     "stages": e["Stage IDs"]}
                for s in e["Stage IDs"]:
                    owner.setdefault(s, e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics") or {}
                st = stages[e["Stage ID"]]
                st["tasks"] += 1
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                st["spill"] += tm.get("Disk Bytes Spilled", 0)
    for job in jobs.values():
        job["ran"] = [s for s in job["stages"] if owner.get(s) is not None
                      and s in stages and jobs.get(owner[s]) is job]
    return jobs, dict(stages)


# --- the traced run ----------------------------------------------------------

def traced_run(spark, wl, state: dict, tracer: Tracer, measure,
               seconds: float) -> tuple[dict, dict]:
    """Returns (checked operations, raw per-layer figures)."""
    figures: dict = {"round_spans": [], "plain_walls": [], "traced_walls": [],
                     "traced_urls": 0, "peak_rss_mb": 0.0}
    ops = {"attempted": 0, "failures": []}

    def traced_job():
        with tracer.span("crawl.job", None) as sid:
            rounds = RoundSpans(tracer, sid)
            try:
                return wl.job(spark, state, progress=rounds)
            finally:
                rounds.finish()
                figures["round_spans"] += rounds.round_ids

    spent = 0.0
    while (spent < seconds or not figures["traced_walls"]) and not ops["failures"]:
        for phase, job, walls in ((None, None, "plain_walls"),
                                  ("timed", traced_job, "traced_walls")):
            tracer.phase = phase
            m = measure(spark, wl, state, 0, job=job)
            ops["attempted"] += m["attempted"]
            ops["failures"] += m["failures"]
            figures[walls] += m["jobs"]["wall_s"]
            figures["peak_rss_mb"] = max(figures["peak_rss_mb"], m["peak_rss_mb"])
            spent += sum(m["jobs"]["wall_s"])
            if job is not None:
                figures["traced_urls"] += sum(m["jobs"]["urls"])

    if not ops["failures"]:
        tracer.phase = "probe"
        with tracer.span("probe", None) as probe:
            ops["failures"] += probe_layers(spark, wl, state, tracer, probe, figures)
        tracer.phase = None
        ops["attempted"] += 1
    return ops, figures


def _du(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def probe_layers(spark, wl, state: dict, tracer: Tracer, parent: int,
                 figures: dict) -> list[str]:
    """Checkpointed probe crawl + one call per layer on its fattest round.
    Fills `figures`; returns output-check failures."""
    from pyspark.sql import functions as F

    from urlmap_spark.functions.textstats import (
        langid_expr,
        quality_score_expr,
        token_count_expr,
    )
    from urlmap_spark.functions.urlkernel import should_skip_expr
    from urlmap_spark.operators import diskseen, seen as seenop
    from urlmap_spark.operators.components import connected_components
    from urlmap_spark.operators.extract import (
        canonicalize_links,
        explode_hrefs,
        href_category_expr,
    )
    from urlmap_spark.operators.multimodal import payload_ok_udf
    from urlmap_spark.operators.order import first_wins_packed, with_global_order
    from urlmap_spark.operators.politeness import schedule_frontier
    from urlmap_spark.operators.robots import robots_gate
    from urlmap_spark.plans.neardup import neardup_pairs
    from urlmap_spark.sources.catalog import RoundCatalog
    from urlmap_spark.sources.corpus import corpus_row, host_page_index, page_url

    def timed(name, fn):
        with tracer.span(name, parent) as sid:
            out = fn()
        return out, tracer.duration(sid)

    # --- the checkpointed crawl, interrupted and resumed
    ckpt = wl.fresh_dir(state, "probe")
    with tracer.span("probe.crawl", parent) as sid:
        rounds = RoundSpans(tracer, sid)
        try:
            run, clock = wl.probe_crawl(spark, state, ckpt, progress=rounds)
        finally:
            rounds.finish()
    fails = wl.check(state, run)
    resume_interval, resume_round = clock.rounds[0]
    figures["catalog.resume_s"] = resume_interval - resume_round["wall_s"]
    size, files = _du(ckpt)
    cat = RoundCatalog(ckpt)
    committed = cat.committed_rounds()
    figures["catalog.store_bytes_per_url"] = size / len(state["expected_seen"])
    figures["catalog.bytes_per_round"] = size / len(committed)
    figures["catalog.files_per_round"] = files / len(committed)

    # --- the fattest round's tables, read back and materialized
    metrics = {r: cat.read_metrics(r) for r in committed}
    r = max(committed, key=lambda i: (metrics[i].get("processed", 0), -i))
    seeds = state["seeds"]
    seeds_df = spark.createDataFrame([(u, 0, i) for i, u in enumerate(seeds)],
                                     "url string, depth int, order long")
    frontier = (seeds_df if r == 0 else cat.read(spark, r - 1, "next_frontier"))
    frontier = frontier.select("url", "depth", "order").localCheckpoint(eager=True)
    n_frontier = frontier.count()
    results = (cat.read_union(spark, "results").where(F.col("round") == r)
               .localCheckpoint(eager=True))
    pages = (results.where("ok").select("url", "depth", "order")
             .join(state["corpus"].select("url", "caption"), "url")
             .localCheckpoint(eager=True))
    seen = seeds_df.select("url")
    for i in range(r):
        seen = seen.unionByName(cat.read(spark, i, "next_frontier").select("url"))
    seen = seen.distinct().localCheckpoint(eager=True)
    counter = metrics[r - 1]["order_counter"] if r else len(seeds)
    tracer.spans[parent].update(round=r, frontier=n_frontier, pages=pages.count(),
                                seen=seen.count())

    # --- operators.extract + functions.urlkernel
    def exploded():
        return (explode_hrefs(pages)
                .filter(F.col("href").isNotNull() & ~should_skip_expr(F.col("href")))
                .withColumn("_cat", href_category_expr("url")))

    def extract():
        return (canonicalize_links(exploded())
                .select(F.col("outlink").alias("url"), F.col("order").alias("parent_order"),
                        "pos", (F.col("depth") + 1).alias("depth"))
                .localCheckpoint(eager=True))

    cand, t = timed("extract", extract)
    row = exploded().agg(F.count(F.lit(1)).alias("n"),
                         F.sum((F.col("_cat") == 9).cast("int")).alias("slow")).first()
    figures["extract.s"] = t
    figures["extract.hrefs_per_s"] = row["n"] / t
    figures["extract.slow_branch_frac"] = (row["slow"] or 0) / max(1, row["n"])

    # --- operators.order: first-wins dedup
    deduped, t = timed("order.first_wins",
                       lambda: first_wins_packed(cand).localCheckpoint(eager=True))
    n_cand, n_unique = cand.count(), deduped.count()
    figures["order.first_wins_s"] = t
    figures["order.dedup_keep_frac"] = n_unique / max(1, n_cand)

    # --- operators.seen / diskseen: the exact anti-join, and the disk-
    # backed bucket probe behind a bloom prefilter (the durable path)
    cfg = wl.config(state)
    buckets = cfg.disk_seen_buckets if cfg.disk_seen else 8
    bloom = seenop.BloomConfig(buckets, cfg.bloom_bits if cfg.bloom_seen else 1 << 16)
    filters, t = timed("seen.filter_build",
                       lambda: seenop.build_filters(seen, bloom).localCheckpoint(eager=True))
    figures["seen.filter_build_s"] = t
    _, maybe = seenop.split_candidates(deduped, filters, bloom)
    figures["seen.prefilter_pass_frac"] = maybe.count() / max(1, n_unique)
    new, t = timed("seen.anti_join", lambda: seenop.seen_anti_join(
        deduped, seen, None).localCheckpoint(eager=True))
    figures["seen.anti_join_s"] = t
    figures["seen.new_frac"] = new.count() / max(1, n_unique)
    seen_dir = os.path.join(wl.fresh_dir(state, "seen"), "t")
    (diskseen.with_bucket(seen, buckets).write.mode("overwrite")
     .partitionBy("_ub").parquet(seen_dir))
    disk_new, t = timed("seen.disk_anti_join", lambda: diskseen.disk_seen_anti_join(
        deduped, [seen_dir], buckets, filters, bloom).localCheckpoint(eager=True))
    figures["seen.disk_anti_join_s"] = t
    if disk_new.count() != new.count():
        fails.append("disk-backed seen anti-join disagrees with the exact one")

    # --- operators.order: global ordering of the new URLs
    _, t = timed("order.global_order", lambda: with_global_order(
        new, ["parent_order", "pos"], order_col="order", start=counter))
    figures["order.global_order_s"] = t

    # --- operators.politeness
    quota = cfg.default_quota or wl.p["probe_quota"]

    def schedule():
        sched, deferred = schedule_frontier(frontier, default_quota=quota)
        return sched.count(), deferred.count()

    (n_sched, n_def), t = timed("politeness.schedule", schedule)
    figures["politeness.schedule_s"] = t
    figures["politeness.deferred_frac"] = n_def / max(1, n_sched + n_def)

    # --- operators.robots
    def gate():
        g = robots_gate(frontier, state["rules"])
        return g.agg(F.sum((~F.col("robots_allowed")).cast("int")).alias("b")).first()["b"]

    blocked, t = timed("robots.gate", gate)
    figures["robots.gate_s"] = t
    figures["robots.blocked_frac"] = (blocked or 0) / max(1, n_frontier)

    # --- operators.multimodal: the round's pages with their image
    # payloads, generated from the seed (the crawl corpus is bytes-free)
    p = wl.p
    where = {page_url(state["seed"], hi, pj): (hi, pj, n)
             for hi, pj, n in host_page_index(state["seed"], p["hosts"], p["pages"])}
    rows = []
    for u in pages.select("url").toPandas()["url"]:
        hi, pj, n = where[u]
        c = corpus_row(state["seed"], hi, pj, n, p["hosts"], True, tuple(p["fanout"]))
        rows.append((u, c["bytes"], c["fmt"], c["phash"]))
    payload = spark.createDataFrame(
        rows, "url string, bytes binary, fmt string, phash long").localCheckpoint(eager=True)
    n_ok, t = timed("multimodal.verify", lambda: payload.withColumn(
        "ok", payload_ok_udf("bytes", "fmt", "phash")).where("ok").count())
    if n_ok != len(rows):
        fails.append(f"payload_ok_udf verified {n_ok} of {len(rows)} generated payloads")
    figures["multimodal.verify_s"] = t
    figures["multimodal.pages_per_s"] = len(rows) / t

    # --- sources.catalog: commit and read back the round's tables
    tables = {"results": results, "next_frontier": frontier,
              "seen_delta": new.select("url")}
    probe_cat = RoundCatalog(wl.fresh_dir(state, "catalog"))
    _, t = timed("catalog.commit", lambda: probe_cat.commit_round(0, tables, metrics[r]))
    figures["catalog.commit_s"] = t
    _, t = timed("catalog.read", lambda: [probe_cat.read(spark, 0, n).count() for n in tables])
    figures["catalog.read_s"] = t

    # --- plans.curate layers over the round's fetched pages as documents
    docs = pages.select(F.col("order").alias("doc_id"),
                        F.col("caption").alias("text")).localCheckpoint(eager=True)
    text = F.col("text")
    _, t = timed("curate.textstats", lambda: docs.select(
        langid_expr(text), token_count_expr(text), quality_score_expr(text))
        .write.format("noop").mode("overwrite").save())
    figures["curate.textstats_s"] = t
    pairs, t = timed("dedup.pairs", lambda: neardup_pairs(docs, method="minhash")
                     .select("id_a", "id_b").localCheckpoint(eager=True))
    figures["dedup.pairs_s"] = t
    _, t = timed("components", lambda: connected_components(pairs).count())
    figures["components.s"] = t
    return fails


PER_LAYER_UNITS = {
    "crawl.round_s.p50": "s", "crawl.round_s.max": "s",
    "crawl.jobs_per_round": "count", "crawl.stages_per_round": "count",
    "crawl.tasks_per_round": "count", "crawl.idle_core_frac": "fraction",
    "extract.s": "s", "extract.hrefs_per_s": "href/s",
    "extract.slow_branch_frac": "fraction",
    "order.first_wins_s": "s", "order.global_order_s": "s",
    "order.dedup_keep_frac": "fraction",
    "seen.anti_join_s": "s", "seen.new_frac": "fraction",
    "seen.prefilter_pass_frac": "fraction", "seen.filter_build_s": "s",
    "seen.disk_anti_join_s": "s",
    "multimodal.verify_s": "s", "multimodal.pages_per_s": "page/s",
    "politeness.schedule_s": "s", "politeness.deferred_frac": "fraction",
    "robots.gate_s": "s", "robots.blocked_frac": "fraction",
    "catalog.commit_s": "s", "catalog.read_s": "s",
    "catalog.bytes_per_round": "B", "catalog.files_per_round": "count",
    "catalog.resume_s": "s", "catalog.store_bytes_per_url": "B/URL",
    "shuffle.write_bytes_per_url": "B/URL", "shuffle.read_bytes_per_url": "B/URL",
    "spill.bytes": "B", "gc.frac": "fraction", "peak_rss_mb": "MiB",
    "curate.textstats_s": "s", "dedup.pairs_s": "s", "components.s": "s",
    "session.start_s": "s", "corpus.load_s": "s",
    "trace.overhead_frac": "fraction",
}


def per_layer(figures: dict, tracer: Tracer, eventlog_dir: str, timings: dict,
              nproc: int) -> dict:
    """The per-layer metrics, with units, from the raw figures, the spans
    and the event log."""
    jobs, stages = read_eventlog(eventlog_dir)
    spans = tracer.spans
    live = [s for s in figures["round_spans"] if spans[s].get("processed", 0) > 0]
    walls = [tracer.duration(s) for s in live]
    per_round = [_totals(jobs, stages, lambda j, s=s: j["span"] == s) for s in live]
    busy_s = sum(t["run_ms"] for t in per_round) / 1000
    timed = _totals(jobs, stages, lambda j: j["phase"] == "timed")
    n_jobs = len(figures["traced_walls"])
    vals = dict(figures)
    vals.update({
        "crawl.round_s.p50": statistics.median(walls),
        "crawl.round_s.max": max(walls),
        "crawl.jobs_per_round": statistics.mean(t["jobs"] for t in per_round),
        "crawl.stages_per_round": statistics.mean(t["stages"] for t in per_round),
        "crawl.tasks_per_round": statistics.mean(t["tasks"] for t in per_round),
        "crawl.idle_core_frac": 1 - busy_s / (nproc * sum(walls)),
        "shuffle.write_bytes_per_url": timed["shuffle_write"] / figures["traced_urls"],
        "shuffle.read_bytes_per_url": timed["shuffle_read"] / figures["traced_urls"],
        "spill.bytes": timed["spill"] / n_jobs,
        "gc.frac": timed["gc_ms"] / max(1, timed["run_ms"]),
        "session.start_s": timings["session_start_s"],
        "corpus.load_s": timings["load_s"],
        "trace.overhead_frac": (statistics.median(figures["traced_walls"])
                                / statistics.median(figures["plain_walls"]) - 1),
    })
    return {k: {"value": float(vals[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def _totals(jobs: dict, stages: dict, pick) -> dict:
    """Job, stage and task totals over the jobs `pick` selects."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
           "shuffle_write": 0, "shuffle_read": 0, "spill": 0}
    for job in jobs.values():
        if not pick(job):
            continue
        out["jobs"] += 1
        for s in job["ran"]:
            out["stages"] += 1
            for k in ("tasks", "run_ms", "gc_ms", "shuffle_write", "shuffle_read", "spill"):
                out[k] += stages[s][k]
    return out


