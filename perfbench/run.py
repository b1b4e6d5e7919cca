#!/usr/bin/env python3
"""Crawl benchmark for urlmap_spark: one workload per invocation.

    python3 perfbench/run.py --workload crawl-open --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, in one driver process on
local[nproc]. It makes the workload's inputs from --seed (cached under
.perfbench_cache/ in the checkout), sets up (Spark session, input load
and cache, one warm-up job), then runs the workload's job back to back
(closed loop, one job at a time) until --seconds of job time have
passed, checking every job's output outside the timed window.

The last stdout line is one JSON object:
    {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics under --trace 0 and the per-layer metrics
under --trace 1 (see perfbench/README.md). The line before it carries
the host, the phase timings and the error rate.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
LOAD_REPEATS = 3  # set-up's input load+cache runs this many times (median)
QUIESCE_S = 0.5   # pause between jobs for Spark's cleaner (outside timing)


# --- host ------------------------------------------------------------------

def host_info() -> dict:
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_gib": round(mem_kib / 2**20, 2),
            "loadavg_before": list(os.getloadavg())}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to someone else —
    the load average inside the VM cannot show that."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def driver_heap(mem_total_gib: float) -> str:
    """A fifth of the host's RAM, between 1 and 8 GiB: the inputs are
    small, and the host is shared."""
    return f"{max(1, min(8, int(mem_total_gib / 5)))}g"


def descendants() -> list[int]:
    """Every live process below this one (the driver JVM, and the Python
    workers it forks), children before their own children."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _alive(pid: int) -> bool:
    """True while `pid` runs (a zombie has ended: only its exit status
    is left for its parent to collect)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def end_processes(pids: list[int], grace_s: float = 20.0) -> None:
    """Wait until every process in `pids` has ended; after `grace_s` send
    SIGTERM, and SIGKILL to what is still running 5 s later."""
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        while any(map(_alive, pids)) and time.monotonic() < deadline:
            time.sleep(0.05)
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return
        deadline = time.monotonic() + 5.0
    raise RuntimeError(f"processes {pids} did not end")


def stop_spark(spark) -> None:
    """Stop Spark and end the JVM PySpark launched, waiting for it and
    every process below it: SparkContext.stop() leaves the JVM running,
    to exit only when it sees its stdin close after this process has
    gone, so a run that merely returns leaves it behind for a while."""
    from pyspark import SparkContext

    pids = descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may be gone already
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()  # the JVM's PythonGatewayServer exits on EOF
            except OSError:
                pass
        end_processes(pids + descendants())
        if proc is not None:
            proc.wait()


class PeakRss:
    """Peak RSS of every process below this one (the driver JVM and its
    Python workers) over a window: each process's kernel high-water mark
    (VmHWM) is reset on entry (clear_refs 5) and summed on exit."""

    def __init__(self):
        self.mib = 0.0

    def __enter__(self):
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc):
        kib = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    kib += next(int(line.split()[1]) for line in f
                                if line.startswith("VmHWM:"))
            except (OSError, StopIteration, ValueError):
                pass
        self.mib = kib / 1024


# --- inputs ----------------------------------------------------------------

def ensure_inputs(wl, seed: int) -> str:
    """The workload's inputs for `seed`, generated once into the cache."""
    d = os.path.join(CACHE, "inputs", wl.cache_key(seed))
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    wl.make_inputs(seed, tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


# --- Spark -----------------------------------------------------------------

def start_spark(workload: str, host: dict, eventlog_dir: str | None):
    from urlmap_spark.session import get_spark

    conf = {
        "spark.driver.memory": driver_heap(host["mem_total_gib"]),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(CACHE, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    if eventlog_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + eventlog_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(master=f"local[{host['nproc']}]",
                      app_name=f"perfbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- measurement -----------------------------------------------------------

def measure(spark, wl, state: dict, seconds: float, job=None) -> dict:
    """Closed loop: one job at a time until `seconds` of job wall time are
    spent (at least one job). Outputs are checked between jobs, outside
    the timed window. `job` replaces wl.job (the traced run's wrapper)."""
    job = job or (lambda: wl.job(spark, state))
    per_job: dict[str, list[float]] = {k: [] for k in (
        "wall_s", "urls_per_s", "steady_urls_per_s", "first_round_s", "urls")}
    failures: list[str] = []
    attempted = 0
    spent = check_s = 0.0
    steal0, total0 = cpu_ticks()
    with PeakRss() as rss:
        while spent < seconds or attempted == 0:
            attempted += 1
            quiesce(spark)
            t0 = time.perf_counter()
            try:
                res = job()
            except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
                spent += time.perf_counter() - t0
                failures.append(traceback.format_exc(limit=4))
                if len(failures) >= 3:
                    break
                continue
            spent += res.wall_s
            t = time.perf_counter()
            try:
                fails = wl.check(state, res.run)
            except Exception:  # noqa: BLE001
                fails = [traceback.format_exc(limit=4)]
            finally:
                wl.release(res)
                check_s += time.perf_counter() - t
            if fails:
                failures.append("; ".join(fails))
                continue
            per_job["wall_s"].append(res.wall_s)
            per_job["urls_per_s"].append(res.urls / res.wall_s)
            per_job["steady_urls_per_s"].append(res.steady_urls_per_s)
            per_job["first_round_s"].append(res.first_round_s)
            per_job["urls"].append(res.urls)
    steal1, total1 = cpu_ticks()
    return {"attempted": attempted, "failures": failures, "jobs": per_job,
            "peak_rss_mb": rss.mib,
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "check_s": check_s}


def quiesce(spark) -> None:
    """Let the previous job's garbage go before the next one is timed:
    Python drops its references to Spark objects, a JVM collection then
    hands the dead RDDs and shuffles to Spark's cleaner thread, which
    gets a moment to delete their blocks and files."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(QUIESCE_S)


def set_up(spark_start, wl, in_dir: str, work_dir: str, timings: dict):
    """Session start, input load+cache (LOAD_REPEATS times, median) and
    one warm-up job; returns (spark, state)."""
    t = time.perf_counter()
    spark = spark_start()
    timings["session_start_s"] = time.perf_counter() - t
    loads = []
    for i in range(LOAD_REPEATS):
        t = time.perf_counter()
        state = wl.load(spark, in_dir, work_dir)
        loads.append(time.perf_counter() - t)
        if i < LOAD_REPEATS - 1:
            wl.unload(state)
    timings["load_s"] = statistics.median(loads)
    t = time.perf_counter()
    wl.warm_up(spark, state)
    timings["warm_up_s"] = time.perf_counter() - t
    timings["setup_s"] = (timings["session_start_s"] + timings["load_s"]
                          + timings["warm_up_s"])
    return spark, state


END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "urls_per_s": "URL/s",
                    "steady_urls_per_s": "URL/s", "first_round_s": "s"}


def end_to_end(m: dict, timings: dict) -> dict:
    vals = {"setup_s": timings["setup_s"],
            **{k: statistics.median(m["jobs"][k]) for k in (
                "wall_s", "urls_per_s", "steady_urls_per_s", "first_round_s")}}
    return {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the smoke-test configuration")
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "urlmap_spark", "plans", "crawl.py")):
        print(f"perfbench: no urlmap_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.size)
    host = host_info()

    for sub in ("spark-local", "tmp", "work"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(CACHE, "tmp")
    # every JVM (Spark's launcher too): temp files in the checkout, and no
    # hsperfdata file, which Java writes under /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}",
        os.environ.get("JAVA_TOOL_OPTIONS"))))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    work_dir = os.path.join(CACHE, "work", run_id)
    os.makedirs(work_dir)
    eventlog_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    if eventlog_dir:
        os.makedirs(eventlog_dir)

    timings: dict = {}
    t = time.perf_counter()
    in_dir = ensure_inputs(wl, args.seed)
    timings["inputs_s"] = time.perf_counter() - t

    spark = tracer = figures = None
    try:
        try:
            spark, state = set_up(lambda: start_spark(args.workload, host, eventlog_dir),
                                  wl, in_dir, work_dir, timings)
            if args.trace:
                import tracing

                tracer = tracing.Tracer(run_id, spark.sparkContext)
                m, figures = tracing.traced_run(spark, wl, state, tracer, measure,
                                                args.seconds)
            else:
                m = measure(spark, wl, state, args.seconds)
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            timings["stop_s"] = time.perf_counter() - t
        if tracer is not None:
            tracer.write(os.path.join(CACHE, "traces", run_id + ".json"))
            if not m["failures"]:
                metrics = tracing.per_layer(figures, tracer, eventlog_dir, timings,
                                            host["nproc"])
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    host["loadavg_after"] = list(os.getloadavg())
    failed = len(m["failures"])
    info = {"workload": args.workload, "seed": args.seed, "size": args.size,
            "host": host, "timings": {k: round(v, 4) for k, v in timings.items()},
            "attempted": m["attempted"], "error_rate": failed / m["attempted"],
            "job_walls_s": [round(w, 3) for w in m.get("jobs", {}).get("wall_s", [])],
            "steal_frac": round(m.get("steal_frac", 0.0), 4),
            "check_s": round(m.get("check_s", 0.0), 3),
            "failures": m["failures"][:3],
            "process_s": round(time.perf_counter() - T_PROCESS, 2)}
    print(json.dumps({"info": info}), flush=True)
    if failed:
        print("perfbench: output checks failed:\n" + "\n".join(m["failures"]),
              file=sys.stderr)
        return 1
    if not args.trace:
        metrics = end_to_end(m, timings)
    print(json.dumps({"correct": True, "attempted": m["attempted"],
                      "failed": 0, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
