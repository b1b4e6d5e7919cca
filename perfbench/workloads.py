"""The benchmark's workloads: inputs made from the seed, the timed job,
and the output checks.

Each workload class has the same surface:

    make_inputs(seed, out_dir)       corpus + expected outputs, pure Python
    load(spark, in_dir, work_dir)    read and cache the inputs (set-up)
    unload(state)                    drop the cached inputs
    warm_up(spark, state)            one short untimed crawl (set-up)
    job(spark, state, progress)      one timed operation -> JobResult
    check(state, run)                output checks -> list of failures
    release(result)                  remove what a finished job left on disk
    probe_crawl(spark, state, ...)   a checkpointed, interrupted-then-
                                     resumed crawl for the traced run

Both workloads drive ``urlmap_spark.plans.crawl.crawl`` over a Zipf-host
corpus from ``urlmap_spark.sources.corpus``. Expected outputs are made
once per seed, without Spark: ``plans.oracle.oracle_bfs`` for the open
crawl, and for the durable crawl a round-by-round model of the
politeness schedule that is itself checked against ``oracle_bfs``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from collections import defaultdict
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from urlmap_spark.functions import urlcore
from urlmap_spark.operators.extract import extract_outlinks_py
from urlmap_spark.plans.oracle import oracle_bfs
from urlmap_spark.sources.corpus import (
    CORPUS_COLUMNS,
    corpus_row,
    host_name,
    host_page_index,
    page_url,
)

INPUT_VERSION = 1  # bump when a generator below changes its output


@dataclass
class JobResult:
    wall_s: float
    urls: int                          # URLs processed (result rows)
    first_round_s: float
    steady_urls_per_s: float
    run: object                        # the CrawlRun
    extra: dict = field(default_factory=dict)


class RoundClock:
    """CrawlConfig.progress callback: timestamps each completed round
    (time since the previous callback, or since `start()` for the
    first) and forwards to an optional inner callback."""

    def __init__(self, inner=None):
        self.inner = inner
        self.rounds: list[tuple[float, dict]] = []   # (interval_s, metrics)
        self._last = time.perf_counter()

    def start(self) -> None:
        self._last = time.perf_counter()

    def __call__(self, m: dict) -> None:
        now = time.perf_counter()
        self.rounds.append((now - self._last, dict(m)))
        self._last = now
        if self.inner is not None:
            self.inner(m)

    def steady_urls_per_s(self) -> float:
        """URLs per second over every round after the first (round 0 also
        carries the crawl's start-up: seed upload and plan set-up)."""
        later = [(dt, m) for dt, m in self.rounds[1:] if m.get("processed", 0) > 0]
        return sum(m["processed"] for _, m in later) / sum(dt for dt, _ in later)


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# --- robots.txt generation and an independent reading of it ----------------

def robots_lines(seed: int, n_hosts: int, every: int) -> list[tuple[str, int, str]]:
    """(host, lineno, line) robots.txt lines for every `every`-th host:
    /d2/ is disallowed for all agents except paths under /d2/p1 (the
    longer Allow wins), plus a foreign agent's group that must not apply."""
    out = []
    for hi in range(1, n_hosts, every):
        lines = ["# generated", "User-agent: *", "Disallow: /d2/",
                 "Allow: /d2/p1", "", "User-agent: otherbot", "Disallow: /"]
        out += [(host_name(seed, hi), i, ln) for i, ln in enumerate(lines)]
    return out


class RobotsMatcher:
    """The URLs our agent may not fetch under the generated rules: the
    longest matching pattern wins, the first in file order on a tie,
    default allow. Usable as oracle_bfs's ``robots_disallowed`` set."""

    def __init__(self, lines: list[tuple[str, int, str]], agent: str = "urlmap/1.0"):
        self.rules: dict[str, list[tuple[int, int, bool, str]]] = {}
        group = None
        for host, lineno, line in sorted(lines):
            line = line.strip()
            if not line or line.startswith("#") or ":" not in line:
                continue
            key, val = (s.strip() for s in line.split(":", 1))
            if key.lower() == "user-agent":
                group = val
            elif key.lower() in ("allow", "disallow") and group and (
                    group == "*" or group.lower() in agent.lower()):
                self.rules.setdefault(host, []).append(
                    (len(val), -lineno, key.lower() == "allow", val))

    def __bool__(self) -> bool:
        return True

    def __contains__(self, url: str) -> bool:
        parts = urlsplit(url)
        best = None
        for length, neg_lineno, allow, pat in self.rules.get(parts.hostname or "", []):
            stem = pat[:-1] if pat.endswith("*") else pat
            if pat and (parts.path or "/").startswith(stem):
                best = max(best or (length, neg_lineno, allow), (length, neg_lineno, allow))
        return best is not None and not best[2]


def polite_rounds_model(corpus: pd.DataFrame, seeds: list[str], quota: int,
                        blocked) -> tuple[list[tuple[str, int, int]], set[str]]:
    """The crawl's round semantics under a per-host quota, in plain Python:
    each round the `quota` lowest-order frontier URLs of every host are
    scheduled and the rest deferred (keeping depth and order); scheduled
    URLs the robots rules block are dropped; fetched OK pages' outlinks
    not seen before are numbered in (parent order, position) order.
    Returns (results as (url, depth, order), URL-seen set)."""
    pages = {r.url: r for r in corpus.itertuples()}
    frontier = [(s, 0, i) for i, s in enumerate(seeds)]
    seen, counter = set(seeds), len(seeds)
    results: list[tuple[str, int, int]] = []
    while frontier:
        by_host: dict[str, list] = defaultdict(list)
        for row in frontier:
            by_host[urlsplit(row[0]).hostname].append(row)
        scheduled, deferred = [], []
        for rows in by_host.values():
            rows.sort(key=lambda r: r[2])
            scheduled += rows[:quota]
            deferred += rows[quota:]
        found = []
        for url, depth, order in sorted(scheduled, key=lambda r: r[2]):
            if url in blocked:
                continue
            results.append((url, depth, order))
            page = pages.get(url)
            if page is not None and 200 <= int(page.status) < 400:
                found += [(order, pos, link, depth + 1) for pos, link
                          in enumerate(extract_outlinks_py(url, page.caption))]
        new = []
        for _, _, link, depth in sorted(found):
            if link not in seen:
                seen.add(link)
                new.append((link, depth, counter))
                counter += 1
        frontier = new + deferred
    return results, seen


# --- workloads ---------------------------------------------------------------

class CrawlWorkload:
    """A Zipf-host corpus generated from the seed, a seed-URL list, a
    CrawlConfig, and the expected (url, depth, order) rows and URL-seen
    set of the crawl."""

    name = ""
    with_bytes = False
    sizes: dict[str, dict] = {}

    def __init__(self, size: str):
        self.size = size
        self.p = dict(self.sizes[size])

    # ---- inputs
    def cache_key(self, seed: int) -> str:
        """Names the inputs by everything that shapes them."""
        p = ",".join(f"{k}={v}" for k, v in sorted(self.p.items()))
        digest = hashlib.blake2b(p.encode(), digest_size=6).hexdigest()
        return f"{self.name}-v{INPUT_VERSION}-s{seed}-{self.size}-{digest}"

    def corpus_pandas(self, seed: int) -> pd.DataFrame:
        p = self.p
        rows = [corpus_row(seed, hi, pj, n, p["hosts"], self.with_bytes, tuple(p["fanout"]))
                for hi, pj, n in host_page_index(seed, p["hosts"], p["pages"])]
        return pd.DataFrame(rows, columns=CORPUS_COLUMNS)

    def seed_urls(self, seed: int) -> list[str]:
        """Every host root plus a deterministic stride of interior pages,
        normalized as the crawl normalizes them."""
        p = self.p
        idx = host_page_index(seed, p["hosts"], p["pages"])
        roots = [page_url(seed, hi, 0) for hi in range(p["hosts"])]
        stride = max(1, len(idx) // max(1, p["n_seeds"] - p["hosts"]))
        interior = [page_url(seed, hi, pj) for hi, pj, _ in idx[::stride] if pj]
        urls = [urlcore.normalize_url(u) for u in roots + interior]
        return list(dict.fromkeys(urls))[:p["n_seeds"]]

    def robots(self, seed: int) -> list[tuple[str, int, str]]:
        return robots_lines(seed, self.p["hosts"], self.p["robots_every"])

    def expected(self, corpus: pd.DataFrame, seeds: list[str], seed: int):
        """(rows as (url, depth, order), URL-seen set)."""
        raise NotImplementedError

    def make_inputs(self, seed: int, out_dir: str) -> None:
        corpus = self.corpus_pandas(seed)
        _write_parquet(corpus, os.path.join(out_dir, "corpus.parquet"))
        seeds = self.seed_urls(seed)
        rows, seen = self.expected(corpus, seeds, seed)
        _write_parquet(pd.DataFrame(rows, columns=["url", "depth", "order"]),
                       os.path.join(out_dir, "expected.parquet"))
        _write_parquet(pd.DataFrame({"url": sorted(seen)}),
                       os.path.join(out_dir, "expected_seen.parquet"))
        status = dict(zip(corpus["url"], corpus["status"]))
        n_ok = sum(200 <= status.get(u, 0) < 400 for u, _, _ in rows)
        with open(os.path.join(out_dir, "meta.json"), "w") as f:
            json.dump({"seed": seed, "seeds": seeds, "robots": self.robots(seed),
                       "n_ok": n_ok}, f)

    # ---- set-up
    def load(self, spark, in_dir: str, work_dir: str) -> dict:
        from pyspark.sql import functions as F

        from urlmap_spark.operators.robots import parse_robots

        # cached hash-partitioned and sorted on the join key, so each
        # round's fetch-join reads it without an exchange
        corpus = (spark.read.parquet(os.path.join(in_dir, "corpus.parquet"))
                  .select("url", "caption", "status",
                          *(["bytes", "fmt", "phash"] if self.with_bytes else []))
                  .repartition(2 * spark.sparkContext.defaultParallelism, F.col("url"))
                  .sortWithinPartitions("url")
                  .persist())
        corpus.count()
        with open(os.path.join(in_dir, "meta.json")) as f:
            meta = json.load(f)
        raw = spark.createDataFrame([tuple(x) for x in meta["robots"]],
                                    "host string, lineno int, line string")
        exp = pd.read_parquet(os.path.join(in_dir, "expected.parquet"))
        return {
            "corpus": corpus, "seed": meta["seed"], "seeds": meta["seeds"],
            "rules": parse_robots(raw)[0].localCheckpoint(eager=True),
            "n_ok": meta["n_ok"],
            "expected": set(zip(exp["url"], exp["depth"], exp["order"])),
            "expected_seen": set(pd.read_parquet(
                os.path.join(in_dir, "expected_seen.parquet"))["url"]),
            "work_dir": work_dir,
        }

    def unload(self, state: dict) -> None:
        state["corpus"].unpersist()

    def config(self, state: dict, **over):
        raise NotImplementedError

    def fresh_dir(self, state: dict, tag: str) -> str:
        d = os.path.join(state["work_dir"], f"{tag}-{uuid.uuid4().hex[:12]}")
        os.makedirs(d)
        return d

    # ---- the timed operation
    def job(self, spark, state: dict, progress=None) -> JobResult:
        raise NotImplementedError

    def warm_up(self, spark, state: dict) -> None:
        raise NotImplementedError

    # ---- output checks (outside the timed window)
    def check(self, state: dict, run) -> list[str]:
        """Compare a finished crawl with the expected rows and seen set."""
        res = run.results.select("url", "depth", "order").toPandas()
        seen = set(run.seen.select("url").toPandas()["url"])
        got = set(zip(res["url"], res["depth"].astype(int), res["order"].astype(int)))
        fails = []
        if len(got) != len(res) or res["url"].duplicated().any():
            fails.append("crawl results hold a URL twice")
        if got != state["expected"]:
            fails.append(f"(url, depth, order) differ from the expected crawl: "
                         f"{len(got - state['expected'])} extra, "
                         f"{len(state['expected'] - got)} missing")
        if seen != state["expected_seen"]:
            fails.append(f"URL-seen set differs from the expected one: "
                         f"{len(seen - state['expected_seen'])} extra, "
                         f"{len(state['expected_seen'] - seen)} missing")
        return fails

    def release(self, result: JobResult) -> None:
        if "ckpt" in result.extra:
            shutil.rmtree(result.extra["ckpt"], ignore_errors=True)

    # ---- traced run
    def probe_crawl(self, spark, state: dict, ckpt: str, progress=None):
        """The workload's crawl with a checkpoint, interrupted after
        `interrupt_rounds` rounds and resumed. Returns (run, clock of the
        resumed call)."""
        from urlmap_spark.plans.crawl import crawl

        k = self.p["interrupt_rounds"]
        crawl(spark, state["corpus"], state["seeds"],
              self.config(state, checkpoint_dir=ckpt, max_rounds=k, progress=progress))
        clock = RoundClock(progress)
        cfg = self.config(state, checkpoint_dir=ckpt, progress=clock)
        clock.start()
        run = crawl(spark, state["corpus"], state["seeds"], cfg, resume=True)
        return run, clock


def _result(t0: float, clock: RoundClock, run, **extra) -> JobResult:
    wall = time.perf_counter() - t0
    return JobResult(
        wall_s=wall,
        urls=sum(m.get("processed", 0) for m in run.metrics),
        first_round_s=clock.rounds[0][0],
        steady_urls_per_s=clock.steady_urls_per_s(),
        run=run, extra=extra)


class CrawlOpen(CrawlWorkload):
    """Bytes-free open crawl (no scope filter), in memory, depth 5: the
    paper's hot path — canonicalization, first-wins dedup, the broadcast
    seen anti-join and global ordering."""

    name = "crawl-open"
    sizes = {
        "full": {"hosts": 40, "pages": 3000, "fanout": (8, 16), "n_seeds": 300,
                 "depth": 5, "robots_every": 3, "interrupt_rounds": 2,
                 "probe_quota": 40},
        "tiny": {"hosts": 4, "pages": 120, "fanout": (3, 8), "n_seeds": 8,
                 "depth": 2, "robots_every": 2, "interrupt_rounds": 1,
                 "probe_quota": 4},
    }

    def expected(self, corpus, seeds, seed):
        results, _ = oracle_bfs(corpus, seeds, max_depth=self.p["depth"],
                                same_domain=False)
        seen = set(seeds)
        for r in results:
            seen.update(r.links)
        return [(r.url, r.depth, r.order) for r in results], seen

    def config(self, state: dict, **over):
        from urlmap_spark.plans.crawl import CrawlConfig

        return CrawlConfig(max_depth=self.p["depth"], same_domain=False, **over)

    def job(self, spark, state: dict, progress=None) -> JobResult:
        from urlmap_spark.plans.crawl import crawl

        clock = RoundClock(progress)
        cfg = self.config(state, progress=clock)
        t0 = time.perf_counter()
        clock.start()
        run = crawl(spark, state["corpus"], state["seeds"], cfg)
        return _result(t0, clock, run)

    def warm_up(self, spark, state: dict) -> None:
        """One whole crawl: a partial one leaves the first timed crawl
        measurably slower than the next (JIT still warming)."""
        self.job(spark, state)


class CrawlVerified(CrawlOpen):
    """Crawl over a corpus with image bytes, depth 2 from a fat seed set;
    every fetched page is decoded and its perceptual hash checked
    (verify_payload): Arrow transfer plus decode dominate the fetch."""

    name = "crawl-verified"
    with_bytes = True
    sizes = {
        "full": {"hosts": 40, "pages": 3000, "fanout": (8, 16), "seed_every": 3,
                 "depth": 2, "robots_every": 3, "interrupt_rounds": 1,
                 "probe_quota": 40},
        "tiny": {"hosts": 4, "pages": 90, "fanout": (3, 8), "seed_every": 3,
                 "depth": 1, "robots_every": 2, "interrupt_rounds": 1,
                 "probe_quota": 4},
    }

    def seed_urls(self, seed: int) -> list[str]:
        """Every `seed_every`-th page of the corpus."""
        p = self.p
        idx = host_page_index(seed, p["hosts"], p["pages"])
        return [urlcore.normalize_url(page_url(seed, hi, pj))
                for hi, pj, _ in idx[::p["seed_every"]]]

    def config(self, state: dict, **over):
        return super().config(state, verify_payload=True, **over)

    def check(self, state: dict, run) -> list[str]:
        fails = super().check(state, run)
        verified = sum(m.get("payload_ok", 0) for m in run.metrics)
        # every corpus row carries bytes, so every OK fetch must verify
        if verified != state["n_ok"]:
            fails.append(f"payload_ok={verified}, expected {state['n_ok']} "
                         "(fetched pages with bytes)")
        return fails


class CrawlDurable(CrawlWorkload):
    """Checkpointed crawl under a per-host politeness quota and robots
    rules, with the disk-backed seen set, a bloom prefilter, no broadcast
    seen path and periodic seen compaction. Each operation crawls
    `interrupt_rounds` rounds, stops, and resumes from the checkpoint."""

    name = "crawl-durable"
    sizes = {
        "full": {"hosts": 6, "pages": 250, "fanout": (8, 16), "n_seeds": 60,
                 "quota": 100, "robots_every": 3, "interrupt_rounds": 2,
                 "compact_every": 2, "buckets": 8, "warm_rounds": 1},
        "tiny": {"hosts": 3, "pages": 60, "fanout": (3, 8), "n_seeds": 20,
                 "quota": 30, "robots_every": 2, "interrupt_rounds": 1,
                 "compact_every": 2, "buckets": 4, "warm_rounds": 1},
    }

    def expected(self, corpus, seeds, seed):
        """The round model is the reference; oracle_bfs (no depth limit,
        so deferral cannot change which URLs are reached) vouches for its
        crawled and seen sets."""
        blocked = RobotsMatcher(self.robots(seed))
        rows, seen = polite_rounds_model(corpus, seeds, self.p["quota"], blocked)
        oracle, _ = oracle_bfs(corpus, seeds, max_depth=-1, same_domain=False,
                               robots_disallowed=blocked)
        oracle_seen = set(seeds)
        for r in oracle:
            oracle_seen.update(r.links)
        if {r.url for r in oracle} != {r[0] for r in rows} or oracle_seen != seen:
            raise RuntimeError("round model disagrees with oracle_bfs")
        return rows, seen

    def config(self, state: dict, **over):
        from urlmap_spark.plans.crawl import CrawlConfig

        p = self.p
        return CrawlConfig(
            max_depth=-1, same_domain=False, default_quota=p["quota"],
            robots_rules=state["rules"], disk_seen=True,
            disk_seen_buckets=p["buckets"], bloom_seen=True,
            bloom_buckets=p["buckets"], bloom_bits=1 << 16,
            broadcast_seen_max_urls=0, compact_seen_every=p["compact_every"],
            frontier_host_buckets=4, **over)

    def job(self, spark, state: dict, progress=None) -> JobResult:
        from urlmap_spark.plans.crawl import crawl

        ckpt = self.fresh_dir(state, "ckpt")
        clock = RoundClock(progress)
        k = self.p["interrupt_rounds"]
        t0 = time.perf_counter()
        clock.start()
        crawl(spark, state["corpus"], state["seeds"],
              self.config(state, checkpoint_dir=ckpt, max_rounds=k, progress=clock))
        run = crawl(spark, state["corpus"], state["seeds"],
                    self.config(state, checkpoint_dir=ckpt, progress=clock), resume=True)
        return _result(t0, clock, run, ckpt=ckpt)

    def warm_up(self, spark, state: dict) -> None:
        from urlmap_spark.plans.crawl import crawl

        ckpt = self.fresh_dir(state, "warm")
        w = self.p["warm_rounds"]
        crawl(spark, state["corpus"], state["seeds"],
              self.config(state, checkpoint_dir=ckpt, max_rounds=w))
        crawl(spark, state["corpus"], state["seeds"],
              self.config(state, checkpoint_dir=ckpt, max_rounds=2 * w), resume=True)
        shutil.rmtree(ckpt, ignore_errors=True)


WORKLOADS = {w.name: w for w in (CrawlOpen, CrawlVerified, CrawlDurable)}
