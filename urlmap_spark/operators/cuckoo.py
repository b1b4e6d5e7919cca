"""Partitioned cuckoo-filter URL-seen prefilter — the second structure
named by the north_rule ("partitioned bloom/cuckoo URL-seen").

Same contract and plumbing as the bloom in seen.py — CuckooConfig has
BloomConfig's build/split/forget methods, and seen.py's entry points
dispatch on the config: per host-hash bucket one fixed-size filter blob
persisted as (bucket, filter) rows, built/merged with one applyInPandas
task per bucket, probed by a bucket-cogroup (the blobs never visit the
driver), and ALWAYS backed by the exact anti-join — a false positive
costs an extra exact check, a false negative cannot happen by
construction:

- an inserted fingerprint lives in one of its two buckets or in the
  overflow stash (insertion never silently drops — eviction chains
  that exhaust max_kicks push the displaced fingerprint to the stash,
  and the probe checks the stash too);
- fingerprints are non-zero by construction (0 marks an empty slot).

vs the bloom: ~same space at far lower false-positive rates under
partial occupancy (16-bit fingerprints, 4-way buckets), and native
DELETION support (drop one copy of the fingerprint) — the bloom can
only grow, so retiring URLs (e.g. recrawl-after-TTL) needs a rebuild
there but is an O(1) slot clear here.

All per-URL hashing is JVM-side (the same _with_hash_cols columns the
bloom uses); fingerprint/index math is vectorized numpy. The placement
loop itself is per-fingerprint Python over the numpy table — cuckoo
insertion is inherently sequential (eviction chains) — which is fine
at per-bucket-per-round batch sizes; the PROBE (the per-candidate hot
path) is fully vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# build_filters / split_candidates / seen_anti_join are seen.py's
# entry points, which dispatch on the config's type — re-exported so
# cuckoo callers keep their import path
from .seen import (  # noqa: F401
    FILTER_SCHEMA,
    _probe_split,
    _with_hash_cols,
    build_filters,
    seen_anti_join,
    split_candidates,
)

_FP_MULT = np.uint64(0x5BD1E995)  # odd mixer for the partner-index hash


class CuckooConfig:
    """Drop-in for BloomConfig: (n_buckets, m_bits) sizes the table to
    the same per-bucket byte budget as a bloom of m_bits bits."""

    def __init__(self, n_buckets: int = 32, m_bits: int = 1 << 22,
                 bucket_slots: int = 4, fp_bits: int = 16,
                 max_kicks: int = 250):
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.bucket_slots = bucket_slots
        self.fp_bits = fp_bits
        self.max_kicks = max_kicks
        # bytes budget m_bits/8; entries are uint16 -> m_bits/16 slots
        total_slots = max(bucket_slots, m_bits // 16)
        rows = max(1, total_slots // bucket_slots)
        self.n_rows = 1 << (int(rows).bit_length() - 1)  # pow2 floor

    def build(self, urls: DataFrame, existing: DataFrame | None = None) -> DataFrame:
        """urls(url) [+ existing (bucket, filter)] -> merged (bucket, filter);
        the merge is _fold."""
        tagged = _with_hash_cols(urls, self).select("_h1", "_h2", "_bk")

        def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
            table = np.zeros((self.n_rows, self.bucket_slots), dtype=np.uint16)
            stash: list = []
            fp, r1, _ = _fp_rows(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), self)
            # vectorized bulk placement (valid because the table is EMPTY
            # here): each entry's rank within its target row claims a free
            # slot directly; only rank-overflow entries (a few % at design
            # occupancy) take the sequential eviction loop. Placement
            # differs from pure-sequential insertion but membership — the
            # only observable through the probe — is identical: every
            # fingerprint lands in one of its two legal rows or the stash.
            if len(fp):
                order = np.argsort(r1, kind="stable")
                rs, fs = r1[order], fp[order]
                boundaries = np.flatnonzero(np.diff(rs)) + 1
                run_start = np.concatenate(([0], boundaries))
                run_len = np.diff(np.concatenate((run_start, [len(rs)])))
                rank = np.arange(len(rs)) - np.repeat(run_start, run_len)
                direct = rank < self.bucket_slots
                table[rs[direct], rank[direct]] = fs[direct]
                spill_r, spill_f = rs[~direct], fs[~direct]
                for i in range(len(spill_f)):
                    _insert_one(table, stash, int(spill_r[i]), int(spill_f[i]),
                                self, i)
            return pd.DataFrame({"bucket": [int(key[0])],
                                 "filter": [_serialize(table, stash)]})

        fresh = tagged.groupBy("_bk").applyInPandas(build, FILTER_SCHEMA)
        if existing is None:
            return fresh
        both = fresh.unionByName(existing)

        def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
            table, stash = _fold(pdf["filter"], self)
            return pd.DataFrame({"bucket": [int(key[0])],
                                 "filter": [_serialize(table, stash)]})

        return both.groupBy("bucket").applyInPandas(merge, FILTER_SCHEMA)

    def split(self, candidates: DataFrame, filters: DataFrame,
              url_col: str = "url") -> tuple[DataFrame, DataFrame]:
        """candidates -> (definitely_new, maybe_seen); bucket-cogrouped like
        the bloom probe, fully vectorized per batch."""
        cand = _with_hash_cols(candidates, self, url_col)
        schema = T.StructType(cand.schema.fields +
                              [T.StructField("_maybe", T.BooleanType())])
        out_cols = [f.name for f in schema.fields]

        def probe(key, cpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
            out = cpdf.copy()
            if len(cpdf) == 0 or len(fpdf) == 0:
                out["_maybe"] = np.zeros(len(cpdf), dtype=bool)
                return out[out_cols]
            fp, r1, r2 = _fp_rows(cpdf["_h1"].to_numpy(), cpdf["_h2"].to_numpy(), self)
            maybe = np.zeros(len(cpdf), dtype=bool)
            for b in fpdf["filter"]:  # first blob + any unmerged deltas
                table, stash = _deserialize(bytes(b))
                maybe |= (table[r1] == fp[:, None]).any(axis=1) | \
                         (table[r2] == fp[:, None]).any(axis=1)
                if len(stash):
                    maybe |= np.isin(fp, stash)
            out["_maybe"] = maybe
            return out[out_cols]

        return _probe_split(cand, filters, probe, schema)

    def forget(self, filters: DataFrame, retired: DataFrame,
               survivors: DataFrame) -> DataFrame:
        """Blobs without `retired`: deletes their fingerprints in place
        (remove_urls), O(retired) — `survivors` is not read."""
        return remove_urls(filters, retired, self)


def _fp_rows(h1: np.ndarray, h2: np.ndarray, cfg: CuckooConfig):
    """(n,) int64 hash arrays -> (fp uint16 nonzero, row1, row2).
    Partner relation row2 = row1 XOR g(fp) is an involution, so either
    row recovers the other — which is what makes merge and deletion
    possible without the original key."""
    mask = np.uint64(cfg.n_rows - 1)
    fp = (h1.astype(np.uint64) % np.uint64((1 << cfg.fp_bits) - 1)) + np.uint64(1)
    r1 = h2.astype(np.uint64) & mask
    r2 = r1 ^ ((fp * _FP_MULT) & mask)
    return fp.astype(np.uint16), r1.astype(np.int64), r2.astype(np.int64)


def _partner(row: int, fp: int, cfg: CuckooConfig) -> int:
    mask = np.uint64(cfg.n_rows - 1)
    return int(np.int64(np.uint64(row) ^ ((np.uint64(fp) * _FP_MULT) & mask)))


def _insert_one(table: np.ndarray, stash: list, row: int, fp: int,
                cfg: CuckooConfig, kick_seed: int) -> None:
    """Place fp at row (or its partner), kicking residents on conflict;
    overflow goes to the stash — never dropped."""
    for r in (row, _partner(row, fp, cfg)):
        free = np.nonzero(table[r] == 0)[0]
        if len(free):
            table[r, free[0]] = fp
            return
    r = row
    for kick in range(cfg.max_kicks):
        victim = (kick_seed + kick) % cfg.bucket_slots
        fp, table[r, victim] = int(table[r, victim]), fp
        r = _partner(r, fp, cfg)
        free = np.nonzero(table[r] == 0)[0]
        if len(free):
            table[r, free[0]] = fp
            return
    stash.append(fp)


def _serialize(table: np.ndarray, stash: list) -> bytes:
    head = np.array([table.shape[0], table.shape[1], len(stash)],
                    dtype=np.int64)
    return head.tobytes() + table.tobytes() + \
        np.array(stash, dtype=np.uint16).tobytes()


def _deserialize(blob: bytes):
    head = np.frombuffer(blob[:24], dtype=np.int64)
    rows, slots, n_stash = int(head[0]), int(head[1]), int(head[2])
    t_end = 24 + rows * slots * 2
    table = np.frombuffer(blob[24:t_end], dtype=np.uint16) \
        .reshape(rows, slots).copy()
    stash = np.frombuffer(blob[t_end:t_end + n_stash * 2], dtype=np.uint16)
    return table, stash


def _fold(blobs: pd.Series, cfg: CuckooConfig) -> tuple[np.ndarray, list]:
    """One bucket's blobs -> (table, stash) of their union: every entry
    of the later blobs is reinserted into the first — possible (unlike a
    generic hash set) because an entry's current row IS one of its two
    legal rows and the partner relation is an involution."""
    table, st0 = _deserialize(bytes(blobs.iloc[0]))
    stash = list(st0)
    for b in blobs.iloc[1:]:
        t2, s2 = _deserialize(bytes(b))
        rows, cols = np.nonzero(t2)
        for r, c in zip(rows, cols):
            _insert_one(table, stash, int(r), int(t2[r, c]), cfg, int(r))
        stash.extend(int(x) for x in s2)
    return table, stash


def remove_urls(filters: DataFrame, urls: DataFrame,
                cfg: CuckooConfig) -> DataFrame:
    """Delete one stored copy of each URL's fingerprint — the operation
    a bloom cannot do (recrawl-after-TTL / seen-set retirement without
    a rebuild).

    Textbook cuckoo-filter constraint: ONLY delete URLs that were
    actually inserted. Deleting a never-inserted URL whose fingerprint
    collides with a resident entry removes someone else's copy and can
    create a false negative — callers must pair removals with the
    authoritative seen-table delete (the filter is a cache of that
    table, never the source of truth)."""
    # cogroup, NOT a union: unioning the int64 hash columns with the
    # filter rows' nulls coerces them to float64 in Arrow/pandas, which
    # silently loses low bits of the hashes (observed: removals that
    # never match). Each cogroup side keeps its own schema.
    tagged = _with_hash_cols(urls, cfg).select("_h1", "_h2", "_bk")

    def drop(key, fpdf: pd.DataFrame, updf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) == 0:  # removals for a bucket with no filter: no-op
            return pd.DataFrame({"bucket": [], "filter": []})
        # fold unmerged deltas first — deleting from only one blob
        # would leave the copy in the other blob findable
        table, stash = _fold(fpdf["filter"], cfg)
        if len(updf):
            fp, r1, r2 = _fp_rows(updf["_h1"].to_numpy(),
                                  updf["_h2"].to_numpy(), cfg)
            for i in range(len(fp)):
                f = int(fp[i])
                for r in (int(r1[i]), int(r2[i])):
                    hit = np.nonzero(table[r] == f)[0]
                    if len(hit):
                        table[r, hit[0]] = 0
                        break
                else:
                    if f in stash:
                        stash.remove(f)
        return pd.DataFrame({"bucket": [int(key[0])],
                             "filter": [_serialize(table, stash)]})

    return filters.groupBy("bucket").cogroup(
        tagged.groupBy("_bk")).applyInPandas(drop, FILTER_SCHEMA)
