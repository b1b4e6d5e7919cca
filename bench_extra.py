"""Round-6 measurement harness (bench.py is FROZEN — extra benchmarks
live here, guide §1.4).

Modes:
  --queries [names...]   noop-sink time (best/median of N) + explain
                         ("formatted") dump for headline queries at
                         $SPARK_GRAFT_SF_DIR (default sf1.0 — the
                         driver's measured scale), plans written to
                         plans/r06/<query>_<tag>.txt

Per-round and per-layer crawl attribution comes from the traced
benchmark run instead:
  python3 perfbench/run.py --workload crawl-open --seed 1 --trace 1

Usage:
  python bench_extra.py --queries --tag before
  python bench_extra.py --queries --tag after text-langid text-quality
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
os.environ.setdefault("URLMAP_SPARK_DRIVER_MEM", "48g")

PICKS = [
    "fetch-join", "stats-agg", "per-host-quota-topk", "seen-anti-join",
    "first-wins-dedup", "url-normalize", "extract-explode",
    "dedup-exact", "dedup-minhash-lsh", "dedup-ngram-capped",
    "embed-cosine-topk", "embed-ann-lsh", "text-langid", "text-quality",
    "token-count", "image-decode-meta", "image-phash-neardup",
    "stream-window-metrics", "caption-align-gate",
]


def run_queries(tag: str, names: list[str], repeats: int = 3) -> None:
    import __spark_entry__ as E
    from urlmap_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name=f"bench_extra_{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    os.makedirs("plans/r06", exist_ok=True)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        times = []
        for _ in range(repeats):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        # the plan dump is outside the timed window
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
            f.write(f"# {name} [{tag}] @ {SF_DIR}  times={times}\n\n{plan}")
        out[name] = {"min": min(times), "med": sorted(times)[len(times) // 2],
                     "all": times}
        print(f"{name:28s} min={min(times):7.3f} med={sorted(times)[len(times)//2]:7.3f} {times}")
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"tag": tag, "sf": SF_DIR, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    argv = sys.argv[1:]
    tag = "before"
    if "--tag" in argv:
        tag = argv[argv.index("--tag") + 1]
    names = [a for a in argv if not a.startswith("--") and a != tag]
    run_queries(tag, names or PICKS)
