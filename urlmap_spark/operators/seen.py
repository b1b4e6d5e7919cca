"""The crawl's URL-seen set: its one owner (SeenSet), the partitioned
bloom prefilter, and the exact anti-join behind every prefilter.

north_rule: "tests membership against a partitioned bloom/cuckoo
URL-seen structure". Design (SURVEY.md §4.3.1):

- the EXACT seen set stays authoritative (an anti-join) — a bloom
  false positive may only cost an extra exact check, never a dropped
  URL, and a false negative cannot happen by construction;
- per host-hash bucket, a fixed-size bloom filter (numpy bitmap, k
  hashes derived from two 64-bit hashes) summarizes every seen URL;
  filters are built/merged per round with applyInPandas (one task per
  bucket) and persisted as (bucket, version, filter binary) rows;
- the probe COGROUPS candidates with the filter table on the bucket
  key (one shuffle on a 4-byte key, no driver hop): rows whose bucket
  filter definitely excludes them are DEFINITELY NEW and skip the
  exact anti-join entirely; only "maybe seen" rows take the join.

At 10^10 URLs the exact set is a bucketed Iceberg table and the maybe-
seen fraction ~= true-dup fraction + false-positive rate — the anti-
join's probe side shrinks by the share of genuinely-new URLs, which in
a growing crawl is most of them.

The bloom and the cuckoo filter (cuckoo.py) are two implementations of
one contract — a config object whose ``build``/``split``/``forget``
methods make, probe and prune the (bucket, filter) blobs. The module-
level ``build_filters``/``split_candidates``/``seen_anti_join`` dispatch
on the config's type; ``filter_config`` is the one place a kind NAME
("bloom" | "cuckoo") becomes a config.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .diskseen import disk_seen_anti_join, with_bucket

FILTER_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("filter", T.BinaryType()),
])

_HASH_COLS = ["_h1", "_h2", "_bk"]


def _with_hash_cols(df: DataFrame, cfg: "BloomConfig", url_col: str = "url") -> DataFrame:
    """All URL hashing stays JVM-side (whole-stage codegen): two
    independent xxhash64 families for double hashing plus the bucket
    key. Build and probe derive from the SAME columns, so they cannot
    disagree — the Python side only ever sees int64 arrays."""
    return (
        df.withColumn("_h1", F.xxhash64(F.col(url_col)))
        .withColumn("_h2", F.xxhash64(F.lit("urlmap-bloom-h2"), F.col(url_col)))
        .withColumn("_bk", F.pmod(F.xxhash64(F.lit("urlmap-bucket"), F.col(url_col)),
                                  F.lit(cfg.n_buckets)).cast("int"))
    )


def _positions_vec(h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n,) int64 hash arrays -> (n, k) bit positions, pure numpy.
    Arithmetic is pinned to np.uint64 on BOTH the build and probe paths:
    mixing a raw Python int >= 2**63 with a uint64 array lets numpy
    promote to float64 and the low bits of the position differ between
    build and probe — observed as rare bloom FALSE NEGATIVES (i.e.
    silently re-crawled URLs)."""
    h1u = h1.astype(np.uint64)  # two's-complement reinterpret, both sides
    step = h2.astype(np.uint64) % np.uint64(1 << 63)
    j = np.arange(k, dtype=np.uint64)
    return ((h1u[:, None] + j[None, :] * step[:, None])
            % np.uint64(m_bits)).astype(np.int64)


class BloomConfig:
    def __init__(self, n_buckets: int = 32, m_bits: int = 1 << 20, k: int = 5):
        self.n_buckets = n_buckets
        self.m_bits = m_bits  # bits per bucket filter (1 MiB/8 default)
        self.k = k

    def build(self, urls: DataFrame, existing: DataFrame | None = None) -> DataFrame:
        """urls(url) [+ existing (bucket, filter)] -> merged (bucket, filter).
        One applyInPandas task per bucket; merge = bitwise OR. The per-URL
        work is fully vectorized: hashes computed JVM-side, bit positions as
        one (n, k) numpy broadcast, bits set with a single bitwise_or.at."""
        m_bits, k = self.m_bits, self.k
        tagged = _with_hash_cols(urls, self).select("_h1", "_h2", "_bk")

        def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            pos = _positions_vec(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), m_bits, k)
            # bitwise_or.AT, not fancy-index |=: when two positions land in
            # the SAME byte, buffered fancy indexing applies only one of
            # them — a silently missing bit, i.e. a bloom false negative
            # (observed on real data)
            np.bitwise_or.at(bits, (pos // 8).ravel(),
                             (1 << (pos % 8)).astype(np.uint8).ravel())
            return pd.DataFrame({"bucket": [int(key[0])], "filter": [bits.tobytes()]})

        fresh = tagged.groupBy("_bk").applyInPandas(build, FILTER_SCHEMA)
        if existing is None:
            return fresh
        both = fresh.unionByName(existing)

        def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
            acc = np.zeros(m_bits // 8, dtype=np.uint8)
            for b in pdf["filter"]:
                acc |= np.frombuffer(bytes(b), dtype=np.uint8)
            return pd.DataFrame({"bucket": [int(key[0])], "filter": [acc.tobytes()]})

        return both.groupBy("bucket").applyInPandas(merge, FILTER_SCHEMA)

    def split(self, candidates: DataFrame, filters: DataFrame,
              url_col: str = "url") -> tuple[DataFrame, DataFrame]:
        """candidates -> (definitely_new, maybe_seen).

        FULLY DISTRIBUTED probe: candidates are cogrouped with the
        (bucket, filter) table on the bucket key and each bucket's task
        probes its own blob — the filter blobs NEVER visit the driver, so
        filter capacity is bounded by executor memory per bucket, not by
        what a collect+broadcast can carry (at the 10^10-URL design point
        the ~n*10-bit aggregate filter is ~12 GB — far past driver transit,
        but only m_bits/8 per TASK here). The cogroup shuffles candidates
        once on the 4-byte bucket key; on a cluster that shuffle replaces a
        per-round broadcast of the whole filter set to every executor.
        """
        m_bits, k = self.m_bits, self.k
        cand = _with_hash_cols(candidates, self, url_col)
        schema = T.StructType(cand.schema.fields + [T.StructField("_maybe", T.BooleanType())])
        out_cols = [f.name for f in schema.fields]

        def probe(key, cpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
            out = cpdf.copy()
            if len(cpdf) == 0 or len(fpdf) == 0:
                # no candidates in this bucket, or no filter yet -> all new
                out["_maybe"] = np.zeros(len(cpdf), dtype=bool)
                return out[out_cols]
            blob = np.frombuffer(bytes(fpdf["filter"].iloc[0]), dtype=np.uint8)
            for b in fpdf["filter"].iloc[1:]:  # unmerged deltas: fold by OR
                blob = blob | np.frombuffer(bytes(b), dtype=np.uint8)
            pos = _positions_vec(cpdf["_h1"].to_numpy(), cpdf["_h2"].to_numpy(), m_bits, k)
            got = (blob[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
            out["_maybe"] = got.all(axis=1)
            return out[out_cols]

        return _probe_split(cand, filters, probe, schema)

    def forget(self, filters: DataFrame, retired: DataFrame,
               survivors: DataFrame) -> DataFrame:
        """Blobs without `retired`: a bloom cannot unset bits, so it
        rebuilds from the surviving seen rows."""
        return self.build(survivors)


def _probe_split(cand: DataFrame, filters: DataFrame, probe,
                 schema: T.StructType) -> tuple[DataFrame, DataFrame]:
    """Bucket-cogroup `cand` (hash columns attached) with the blobs, run
    the kind's `probe`, and split on its ``_maybe`` flag."""
    probed = cand.groupBy("_bk").cogroup(
        filters.groupBy("bucket")).applyInPandas(probe, schema)
    return (probed.filter(~F.col("_maybe")).drop("_maybe", *_HASH_COLS),
            probed.filter(F.col("_maybe")).drop("_maybe", *_HASH_COLS))


def filter_config(kind: str, n_buckets: int, m_bits: int):
    """The one place a filter kind name — CrawlConfig.seen_filter, or
    the kind persisted in a round's ``seen_filter_cfg`` tag — becomes
    the config object whose type every other call dispatches on."""
    if kind == "bloom":
        return BloomConfig(n_buckets, m_bits)
    if kind == "cuckoo":
        from .cuckoo import CuckooConfig
        return CuckooConfig(n_buckets, m_bits)
    raise ValueError(f"unknown seen_filter: {kind!r}")


def build_filters(urls: DataFrame, cfg, existing: DataFrame | None = None) -> DataFrame:
    """urls(url) [+ existing (bucket, filter)] -> merged (bucket, filter),
    for cfg's filter kind (BloomConfig or cuckoo.CuckooConfig)."""
    return cfg.build(urls, existing)


def split_candidates(candidates: DataFrame, filters: DataFrame, cfg,
                     url_col: str = "url") -> tuple[DataFrame, DataFrame]:
    """candidates -> (definitely_new, maybe_seen) under cfg's filter kind."""
    return cfg.split(candidates, filters, url_col)


def seen_anti_join(candidates: DataFrame, seen: DataFrame,
                   filters: DataFrame | None, cfg=None,
                   url_col: str = "url") -> DataFrame:
    """Exact NOT-IN(seen) with optional prefilter: rows the filter
    proves unseen bypass the join; the rest take the authoritative
    left_anti. cfg is the filters' config (default BloomConfig()).
    Equality with the plain anti-join is pinned by tests."""
    if filters is None:
        return candidates.join(seen, url_col, "left_anti")
    definitely_new, maybe = split_candidates(candidates, filters,
                                             cfg or BloomConfig(), url_col)
    return definitely_new.unionByName(maybe.join(seen, url_col, "left_anti"))


class SeenSet:
    """The crawl's URL-seen set, owned in one place from open to the
    final frame. The crawl opens it, asks ``gate`` which candidates are
    new each round, hands those to ``add`` (and, with a catalog, calls
    ``committed`` once the round commit has landed), and takes
    ``frame()`` at the end.

    State: the set as a list of materialized parts (unioned on demand —
    no per-round checkpoint of the whole set; the union is folded into
    one checkpoint once it gets wide), the prefilter blobs when
    ``cfg.bloom_seen``, and for the disk probe the seeds it cannot find
    in any seen_delta dir. With a catalog, the committed seen set is
    every committed ``seen_delta`` ∪ the list seeds ∪ the catalog's
    ``seeds`` table — seeds never enter a delta.

    cfg is the crawl's CrawlConfig; ``size`` is the crawl's order
    counter, which equals |seen| (every enqueued URL took one order
    value) and so picks the gate exactly, driver-side."""

    def __init__(self, spark, cfg, catalog, seeds: list[str], size: int,
                 first: DataFrame | None = None, seed_table: bool = False):
        """Open the set of a crawl starting at round 0 — ``first`` is its
        round-0 frontier, whose URLs are the whole set — or, with
        first=None, of a crawl resuming after the catalog's last
        committed round. seed_table: persist ``first`` as the catalog's
        named ``seeds`` table before anything else (a fresh DataFrame-
        seeded crawl), so every later interrupt point is resumable."""
        self.spark, self.cfg, self.catalog = spark, cfg, catalog
        self.seeds, self.size = seeds, size
        self.filter_cfg = filter_config(cfg.seen_filter, cfg.bloom_buckets, cfg.bloom_bits)
        self.filters: DataFrame | None = None
        self.seed_dirs: list[str] = []
        self.seed_urls: DataFrame | None = None
        # metric tags for every round commit: resume and maintenance
        # validate the persisted blobs / bucket layout against them
        self.tags = {
            **({"seen_filter_cfg": [cfg.seen_filter, cfg.bloom_buckets,
                                    cfg.bloom_bits]} if cfg.bloom_seen else {}),
            **({"disk_seen_cfg": [cfg.disk_seen_buckets]} if cfg.disk_seen else {}),
        }
        last = None if first is not None else catalog.last_round()
        if seed_table:
            # bucketed by the disk-seen key when disk_seen is on, so the
            # bucket probe reads it like one more seen_delta dir — at the
            # 10^10-frontier design point the seed set is itself a table
            # and must never ride a broadcast
            tbl, pb, meta = first, None, {"order_counter": size}
            if cfg.disk_seen:
                tbl, pb = with_bucket(first, cfg.disk_seen_buckets), ["_ub"]
                meta["disk_seen_cfg"] = self.tags["disk_seen_cfg"]
            catalog.commit_table("seeds", tbl, partition_by=pb, meta=meta)
        base = first.select("url") if first is not None else self._committed()
        self.parts = [base.localCheckpoint(eager=True)]
        if cfg.disk_seen:
            # the only seen URLs that never reach the catalog's seen_delta
            # tables are the seeds themselves (each round's new URLs are
            # committed before the next anti-join runs): list seeds ride a
            # tiny broadcast, a seed TABLE is probed like a delta dir
            if seeds:
                self.seed_urls = self._seed_frame().localCheckpoint(eager=True)
            if catalog.has_table("seeds"):
                self._check_layout("seeds table", catalog.read_table_meta("seeds"))
                self.seed_dirs = [catalog.table_dir("seeds")]
            if last is not None:
                # a checkpoint written without disk_seen has FLAT
                # seen_delta dirs: the bucket probe would read nothing
                # from them and silently re-enqueue seen URLs
                self._check_layout("checkpoint", catalog.read_metrics(last))
        if cfg.bloom_seen:
            if last is not None:
                self.filters = self._load_filters(last)
            if self.filters is None:
                self.filters = build_filters(self.parts[0], self.filter_cfg) \
                    .localCheckpoint(eager=True)

    def _check_layout(self, what: str, meta: dict) -> None:
        got, want = meta.get("disk_seen_cfg"), self.tags["disk_seen_cfg"]
        if got != want:
            raise ValueError(
                f"disk_seen resume: {what} was written with disk_seen_cfg="
                f"{got!r}, this run wants {want!r} — bucket layouts are "
                "incompatible; re-crawl or match disk_seen_buckets")

    def _load_filters(self, last: int) -> DataFrame | None:
        """The blobs committed with round `last` when their config
        matches this run's — they cover exactly the committed seen set
        (folded pre-commit), so loading them replaces a rebuild that at
        the 10^10-URL design point is a full-table scan."""
        if self.catalog.read_metrics(last).get("seen_filter_cfg") != \
                self.tags["seen_filter_cfg"]:
            return None
        try:
            filters = self.catalog.read(self.spark, last, "seen_filters")
            if self.seeds:
                # resume seeds are in the set, so they must enter the
                # blobs too — a filter miss bypasses the exact anti-join
                filters = build_filters(self._seed_frame(), self.filter_cfg,
                                        existing=filters)
            return filters.localCheckpoint(eager=True)
        except Exception:  # noqa: BLE001 — older checkpoint layout
            return None

    def _seed_frame(self) -> DataFrame:
        return self.spark.createDataFrame([(s,) for s in self.seeds], "url string")

    def _committed(self) -> DataFrame:
        """Committed seen = every committed seen_delta ∪ the list seeds
        ∪ the catalog's seeds table (DataFrame-seeded crawls)."""
        cat = self.catalog
        parts = []
        if cat.last_round() is not None:
            parts.append(cat.read_union(self.spark, "seen_delta").select("url"))
        if self.seeds:
            parts.append(self._seed_frame())
        if cat.has_table("seeds"):
            parts.append(cat.read_table(self.spark, "seeds").select("url"))
        if not parts:
            return self.spark.createDataFrame([], "url string")
        return reduce(DataFrame.unionByName, parts)

    def _union(self) -> DataFrame:
        return reduce(DataFrame.unionByName, self.parts)

    def _bound_width(self) -> None:
        if len(self.parts) > 64:  # bound the union width on deep crawls
            self.parts = [self._union().localCheckpoint(eager=True)]

    def gate(self, cand: DataFrame, first_wins) -> DataFrame:
        """Candidates (url, parent_order, pos, depth) -> the first-wins-
        deduped rows whose url is not in the set. Every arm is exact; the
        choice only moves work."""
        cfg = self.cfg
        if 0 < self.size <= cfg.broadcast_seen_max_urls:
            # |seen| is known exactly, so this is a driver-side decision,
            # not an estimate. Broadcasting seen lets the anti-join run
            # map-side BEFORE the dedup shuffle: in a converging crawl
            # most candidate links point at seen URLs and never reach an
            # exchange. Catalyst can't make this call itself — seen is a
            # union of checkpointed RDDs with no size stats. Exact: an
            # anti-join filters whole url-groups, so it commutes with
            # the per-url min.
            return first_wins(cand.join(F.broadcast(self._union()), "url", "left_anti"))
        deduped = first_wins(cand)
        if cfg.disk_seen:
            # 10^10 exact path: seen stays in its persisted _ub bucket
            # layout and is read task-side — the only exchange ships the
            # candidates + a 4-byte bucket key (diskseen.py)
            return disk_seen_anti_join(
                deduped, self.seed_dirs + self.catalog.table_paths("seen_delta"),
                cfg.disk_seen_buckets, self.filters, self.filter_cfg,
                extra_seen=self.seed_urls)
        if self.filters is None:
            # shuffled-HASH anti, not sort-merge: both sides are
            # exchanged either way, but SHJ skips both sorts and builds
            # each partition's seen hash table in parallel (url keys are
            # unique, so build partitions are uniform — no skew risk;
            # r6 ABAB on the bench crawl: late-round walls 6.1-7.1s ->
            # 4.2-4.3s)
            return deduped.join(self._union().hint("shuffle_hash"), "url", "left_anti")
        return seen_anti_join(deduped, self._union(), self.filters, self.filter_cfg)

    def add(self, new: DataFrame, n_new: int) -> tuple[dict, dict]:
        """Fold one round's ``n_new`` new URLs in. Returns this set's
        share of the round commit: (tables, partition_by). In memory the
        part is appended here; with a catalog, ``committed`` appends it
        re-read from storage once the commit has landed."""
        self.size += n_new
        urls = new.select("url")
        if self.filters is not None:
            # fold BEFORE the commit so the persisted blobs cover exactly
            # the committed seen set (a stale pre-delta blob would false-
            # negative this round's URLs on a resume and re-enqueue them)
            self.filters = build_filters(urls, self.filter_cfg,
                                         existing=self.filters).localCheckpoint(eager=True)
        if self.catalog is None:
            self.parts.append(urls)
            self._bound_width()
            return {}, {}
        tables, pb = {"seen_delta": urls}, {}
        if self.cfg.disk_seen and n_new > 0:  # 0-row partitionBy writes no files
            tables["seen_delta"] = with_bucket(urls, self.cfg.disk_seen_buckets)
            pb["seen_delta"] = ["_ub"]
        if self.filters is not None:
            tables["seen_filters"] = self.filters
        return tables, pb

    def committed(self, round_idx: int) -> bool:
        """After round ``round_idx``'s commit: append its delta re-read
        from storage (the snapshot-isolated resume point) and, every
        ``compact_seen_every`` rounds, fold the seen_delta dirs into one
        snapshot, vacuum the covered deltas and rebuild from it — caps
        the files a disk probe task opens at B×N instead of B×rounds.
        Returns whether it compacted."""
        self.parts.append(self.catalog.read(self.spark, round_idx, "seen_delta").select("url"))
        every = self.cfg.compact_seen_every
        compacted = every > 0 and (round_idx + 1) % every == 0
        if compacted:
            self.catalog.compact(self.spark, "seen_delta", vacuum=True)
            # the old parts lazily reference the just-vacuumed delta dirs
            self.parts = [self._committed()]
        self._bound_width()
        return compacted

    def frame(self) -> DataFrame:
        """The final seen set: the committed rule with a catalog, else
        the union of this run's parts."""
        return self._committed() if self.catalog is not None else self._union()
