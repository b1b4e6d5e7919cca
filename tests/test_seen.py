"""Partitioned bloom URL-seen structure (north_rule): the prefilter
must never change anti-join results — only route definitely-new rows
around the exact join."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from urlmap_spark.operators.cuckoo import CuckooConfig
from urlmap_spark.operators.seen import (
    BloomConfig,
    build_filters,
    seen_anti_join,
    split_candidates,
)

CFG = BloomConfig(n_buckets=8, m_bits=1 << 14, k=5)


def _urls(spark, names, col="url"):
    return spark.createDataFrame([(n,) for n in names], f"{col} string")


def test_no_false_negatives(spark):
    """Every seen URL must probe as 'maybe seen' — a bloom false
    negative would silently re-crawl (or worse, re-order) URLs."""
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(500)]
    filters = build_filters(_urls(spark, seen_urls), CFG)
    definitely_new, maybe = split_candidates(_urls(spark, seen_urls), filters, CFG)
    assert definitely_new.count() == 0
    assert maybe.count() == 500


@pytest.mark.parametrize("cfg", [CFG, CuckooConfig(n_buckets=8, m_bits=1 << 14)],
                         ids=["bloom", "cuckoo"])
def test_prefilter_equivalence_with_plain_anti_join(spark, cfg):
    """Both filter kinds through seen.py's one entry point: the config's
    type picks the build and the probe."""
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(300)]
    cands = [f"https://h{i % 7}.test/p{i}" for i in range(150, 600)]
    seen = _urls(spark, seen_urls)
    cand = _urls(spark, cands)
    filters = build_filters(seen, cfg)
    plain = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    got = {r["url"] for r in seen_anti_join(cand, seen, filters, cfg).collect()}
    assert got == plain
    dn, maybe = split_candidates(_urls(spark, seen_urls), filters, cfg)
    assert dn.count() == 0 and maybe.count() == len(seen_urls)


def test_incremental_merge(spark):
    """Per-round delta merge (bitwise OR) must behave like one build."""
    a = [f"https://a.test/{i}" for i in range(200)]
    b = [f"https://b.test/{i}" for i in range(200)]
    merged = build_filters(_urls(spark, b), CFG,
                           existing=build_filters(_urls(spark, a), CFG))
    dn, maybe = split_candidates(_urls(spark, a + b), merged, CFG)
    assert dn.count() == 0 and maybe.count() == 400


def test_false_positive_rate_bounded(spark):
    """With m=16Ki bits / 8 buckets and 500 entries, FPR should be tiny;
    assert a loose bound so the filter is actually doing work."""
    seen_urls = [f"https://h{i % 5}.test/p{i}" for i in range(500)]
    fresh = [f"https://new{i}.test/x{i}" for i in range(2000)]
    filters = build_filters(_urls(spark, seen_urls), CFG)
    dn, maybe = split_candidates(_urls(spark, fresh), filters, CFG)
    fpr = maybe.count() / 2000
    assert dn.count() + maybe.count() == 2000
    assert fpr < 0.05, f"false-positive rate too high: {fpr}"


def test_bloom_crawl_equals_plain_crawl(spark):
    """End-to-end: a bloom-prefiltered crawl yields the identical
    (url, depth, order) sequence as the plain exact-anti-join crawl."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.sources import corpus as C

    pdf = C.corpus_pandas(seed=7, n_hosts=3, total_pages=40, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-7.test/"
    # plain arm keeps the default broadcast-seen early anti-join; the
    # bloom arm disables it (broadcast_seen_max_urls=0) so the in-crawl
    # bloom-cogroup path is genuinely exercised — the equality therefore
    # ALSO pins broadcast-path == bloom-path
    plain = crawl(spark, cdf, seed_url, CrawlConfig(max_depth=3, same_path_prefix=False))
    bloom = crawl(spark, cdf, seed_url, CrawlConfig(
        max_depth=3, same_path_prefix=False, broadcast_seen_max_urls=0,
        bloom_seen=True, bloom_buckets=8, bloom_bits=1 << 16))
    a = [(r["url"], r["order"]) for r in plain.results.orderBy("order").collect()]
    b = [(r["url"], r["order"]) for r in bloom.results.orderBy("order").collect()]
    assert a == b


def test_broadcast_seen_equals_shuffled_seen_crawl(spark):
    """The broadcast-seen early anti-join (anti BEFORE first-wins dedup)
    must yield the identical (url, depth, order) sequence as the
    post-dedup shuffled anti-join — the anti-join filters whole
    url-groups, so it commutes with the per-url min."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.sources import corpus as C

    pdf = C.corpus_pandas(seed=11, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-11.test/"
    bc = crawl(spark, cdf, seed_url,
               CrawlConfig(max_depth=4, same_path_prefix=False))
    sh = crawl(spark, cdf, seed_url,
               CrawlConfig(max_depth=4, same_path_prefix=False,
                           broadcast_seen_max_urls=0))
    a = [(r["url"], r["depth"], r["order"]) for r in bc.results.orderBy("order").collect()]
    b = [(r["url"], r["depth"], r["order"]) for r in sh.results.orderBy("order").collect()]
    assert a == b and len(a) > 10


def test_probe_is_distributed_no_driver_collect(spark):
    """The probe must be a cogroup on the bucket key — filter blobs never
    transit the driver (at 10^10 URLs the aggregate filter is ~12 GB).
    256 buckets: construction stays lazy and the plan shows the cogroup."""
    cfg = BloomConfig(n_buckets=256, m_bits=1 << 12, k=5)
    seen_urls = [f"https://h{i % 11}.test/p{i}" for i in range(400)]
    cands = [f"https://h{i % 13}.test/p{i}" for i in range(200, 700)]
    seen = _urls(spark, seen_urls)
    filters = build_filters(seen, cfg)
    dn, maybe = split_candidates(_urls(spark, cands), filters, cfg)
    plan = dn._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # equivalence with the exact anti-join at this bucket count
    plain = {r["url"] for r in _urls(spark, cands).join(seen, "url", "left_anti").collect()}
    bloom = {r["url"] for r in seen_anti_join(_urls(spark, cands), seen, filters, cfg).collect()}
    assert bloom == plain


def test_broadcast_limit_crossing_mid_crawl(spark):
    """A crawl whose |seen| crosses broadcast_seen_max_urls MID-CRAWL
    must transition to the fallback (bloom-cogroup) path and still
    produce the identical sequence — the filters are maintained every
    round precisely so the transition is seamless."""
    from urlmap_spark.plans.crawl import CrawlConfig, crawl
    from urlmap_spark.sources import corpus as C

    pdf = C.corpus_pandas(seed=11, n_hosts=4, total_pages=60, with_bytes=False)
    cdf = spark.createDataFrame(pdf)
    seed_url = "https://h0.example-11.test/"
    base = crawl(spark, cdf, seed_url,
                 CrawlConfig(max_depth=4, same_path_prefix=False))
    n_total = base.results.count()
    assert n_total > 10
    # limit of 5: round 0 broadcasts (|seen|=1), later rounds exceed it
    # and take the bloom-cogroup arm
    trans = crawl(spark, cdf, seed_url,
                  CrawlConfig(max_depth=4, same_path_prefix=False,
                              broadcast_seen_max_urls=5,
                              bloom_seen=True, bloom_buckets=8))
    a = [(r["url"], r["order"]) for r in base.results.orderBy("order").collect()]
    b = [(r["url"], r["order"]) for r in trans.results.orderBy("order").collect()]
    assert a == b
