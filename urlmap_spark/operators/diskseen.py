"""Disk-backed seen anti-join: the exact NOT-IN(seen) whose shuffle
volume is O(candidates), independent of |seen|.

The shuffled exact anti-join (seen.py fallback) exchanges BOTH sides —
at the 10^10-URL design point the seen side is ~500 GB of URL strings
re-shuffled EVERY round, which dwarfs the per-round candidate volume.
This operator removes the seen side from the shuffle entirely:

    candidates --repartition on _ub = pmod(xxhash64(url), B)-->
        one applyInPandas task per bucket reads ONLY that bucket's
        seen parquet files (written partitioned by _ub) straight from
        storage with pyarrow and anti-joins in pandas.

Seen bytes move disk -> task memory, never through an exchange; the
only shuffle ships the candidates plus a 4-byte bucket key. This is
the shim-level analog of an Iceberg storage-partitioned join (Spark
SPJ over a bucket-transform-partitioned table): the join aligns with
the table's persisted bucketing instead of re-hashing it. The same
layout/contract as the streaming ingest's bucketed seen store and the
bloom/cuckoo (bucket, filter) tables.

Memory per task = |seen|/B rows of one column: B is the scale knob
(10^10 URLs / 4096 buckets ~ 2.4M urls ~ 150 MB per task; tests use
small B). Many-rounds small-file accretion inside each bucket dir is
handled by the existing catalog compaction (which preserves the _ub
partitioning for seen_delta).

Exactness: the candidate->bucket key and the persisted row->bucket key
are the same JVM expression, so a candidate's matching seen row can
only live in the candidate's own bucket; within a bucket the match is
literal string equality (pandas hash join). No false positives or
negatives by construction — equality with the plain anti-join is
pinned by tests including full-crawl parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_expr(url_col: str, n_buckets: int):
    """The shared row->bucket key (JVM-side; identical for persisted
    seen rows and probe candidates)."""
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    return df.withColumn("_ub", bucket_expr(url_col, n_buckets))


def disk_anti_join(candidates: DataFrame, seen_table_dirs: list[str],
                   n_buckets: int, url_col: str = "url") -> DataFrame:
    """candidates NOT IN (url rows persisted under seen_table_dirs).

    seen_table_dirs: parquet table dirs, each written partitionBy("_ub")
    with the SAME n_buckets (e.g. the catalog's per-round seen_delta
    dirs plus its compaction snapshot). Dirs/buckets with no files are
    skipped — a bucket that receives no candidates is never read at all
    (the pruning is physical: the task list, not a filter).
    """
    dirs = list(seen_table_dirs)
    cand = with_bucket(candidates, n_buckets, url_col)
    out_schema = candidates.schema
    out_cols = list(candidates.columns)

    def anti(key, pdf):
        import pandas as pd
        import pyarrow.parquet as pq

        b = int(key[0])
        slices = []
        for d in dirs:
            p = os.path.join(d, f"_ub={b}")
            if os.path.isdir(p):
                slices.append(pq.read_table(p, columns=[url_col])
                              .column(url_col).to_pandas())
        if slices:
            seen_vals = pd.concat(slices, ignore_index=True)
            pdf = pdf[~pdf[url_col].isin(seen_vals)]
        return pdf[out_cols]

    return cand.groupBy("_ub").applyInPandas(anti, out_schema)


def disk_seen_anti_join(candidates: DataFrame, seen_table_dirs: list[str],
                        n_buckets: int,
                        filters: DataFrame | None = None,
                        filter_cfg=None,
                        extra_seen: DataFrame | None = None,
                        url_col: str = "url") -> DataFrame:
    """The full seen gate in disk mode: optional bloom/cuckoo prefilter
    (definitely-new candidates skip the disk probe), disk-backed exact
    anti-join for the maybe side, and a broadcast anti-join against
    `extra_seen` — the handful of seen URLs not yet committed to disk
    (the seed list on a fresh crawl; always small, so broadcasting is
    free and keeps the exactness invariant airtight)."""
    if filters is not None and filter_cfg is not None:
        definitely_new, maybe = filter_cfg.split(candidates, filters, url_col)
        probed = disk_anti_join(maybe, seen_table_dirs, n_buckets, url_col)
        out = definitely_new.unionByName(probed)
    else:
        out = disk_anti_join(candidates, seen_table_dirs, n_buckets, url_col)
    if extra_seen is not None:
        out = out.join(F.broadcast(extra_seen.select(F.col(url_col))),
                       url_col, "left_anti")
    return out
