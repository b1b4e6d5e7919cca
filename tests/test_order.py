"""Global-ordering and dedup primitives (operators/order.py)."""

import random

import pytest
from pyspark.sql import functions as F

from urlmap_spark.operators.order import (first_wins, first_wins_packed,
                                          with_global_order)


def test_with_global_order_dense_and_correct(spark):
    rows = [(f"u{i}", i * 7 % 101, i % 13) for i in range(101)]
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(rows, "url string, a int, b int").repartition(16)
    out, nxt = with_global_order(df, ["a", "b"], order_col="order", start=1000)
    got = [(r["a"], r["b"], r["order"]) for r in out.collect()]
    got.sort(key=lambda t: t[2])
    assert nxt == 1000 + 101
    assert [g[2] for g in got] == list(range(1000, 1101))  # dense, offset
    assert [(g[0], g[1]) for g in got] == sorted((a, b) for _, a, b in
                                                 [(u, a, b) for u, a, b in rows])


def test_with_global_order_empty(spark):
    df = spark.createDataFrame([], "url string, a int, b int")
    out, nxt = with_global_order(df, ["a", "b"], start=5)
    assert nxt == 5 and out.count() == 0


def test_first_wins_keeps_min_tie_and_payload(spark):
    rows = [
        ("u1", 5, 2, 10), ("u1", 3, 9, 11), ("u1", 3, 1, 12),
        ("u2", 7, 0, 13),
    ]
    df = spark.createDataFrame(rows, "url string, parent_order long, pos int, depth int")
    out = {r["url"]: (r["parent_order"], r["pos"], r["depth"])
           for r in first_wins(df, "url", ["parent_order", "pos"]).collect()}
    assert out == {"u1": (3, 1, 12), "u2": (7, 0, 13)}


def test_first_wins_packed_schema_guard(spark):
    """The packed form serves exactly (url, parent_order, pos, depth):
    an extra column (which first_wins would carry) or another column
    order raises on the driver instead of being silently dropped."""
    rows = [("u1", 5, 2, 10), ("u1", 3, 9, 11), ("u2", 7, 0, 13)]
    df = spark.createDataFrame(rows, "url string, parent_order long, pos int, depth int")
    got = {tuple(r) for r in first_wins_packed(df).collect()}
    assert got == {("u1", 3, 9, 11), ("u2", 7, 0, 13)}
    for bad in (df.withColumn("extra", F.lit(1)),
                df.select("url", "pos", "parent_order", "depth")):
        with pytest.raises(ValueError, match="first_wins_packed needs columns"):
            first_wins_packed(bad)


def test_with_global_order_exact_rank_at_sampling_scale(spark):
    """Enough rows per partition that RangePartitioner's SAMPLED
    boundaries no longer see every row — the regime where the pre-r4
    two-execution pattern could mis-anchor offsets (observed at the
    10^7-URL operating point as cross-run rank shifts). Orders must be
    the exact global sort rank, identically across layouts."""
    import random

    from pyspark.sql import functions as F

    from urlmap_spark.operators.order import with_global_order

    rng = random.Random(11)
    rows = [(rng.randrange(1 << 40), rng.randrange(1 << 20)) for _ in range(60_000)]
    rows = list({(a, b) for a, b in rows})  # distinct keys per contract
    expect = {k: i + 7 for i, k in enumerate(sorted(rows))}

    df = spark.createDataFrame(rows, "parent_order long, pos long")
    for parts in (5, 32):
        out, counter = with_global_order(
            df.repartition(parts), ["parent_order", "pos"], start=7,
            num_partitions=16)
        got = {(r["parent_order"], r["pos"]): r["order"] for r in out.collect()}
        assert counter == 7 + len(rows)
        assert got == expect, "order is not the exact global rank"


def test_with_global_order_null_key_raises(spark):
    """A NULL sort key violates the operator contract; it must surface
    as a loud runtime error, not a silent NULL order (ADVICE r4)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "k int, v string")
    out, _ = with_global_order(df, ["k"], order_col="order")
    with pytest.raises(Exception, match="NULL sort key"):
        out.collect()
    # and the non-null path is untouched
    clean = spark.createDataFrame([(2, "a"), (1, "b")], "k int, v string")
    got, n = with_global_order(clean, ["k"], order_col="order")
    assert {(r["k"], r["order"]) for r in got.collect()} == {(1, 0), (2, 1)}
    assert n == 2
