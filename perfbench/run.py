#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's query mixes.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 5 --trace 0

Run from the repository root. One process runs one workload: a fixed mix
of registered queries (``__spark_entry__.queries()``) called by a single
client thread, one call at a time, on ``local[<cores>]``. Each call is
``QUERIES[name](spark, CORPUS_DIR)`` followed by ``.toPandas()``. A *lap*
is one pass over the mix in an order the seed permutes. Set-up is the
engine import, the session start, one fetch of a one-row frame and one
call of the mix's first query; together they absorb the first-action and
first-plan costs (on 4 cores, without them the first dashboard lap took
23 s, with them 10-11 s, against 9-10 s for later laps). Timed laps follow until
``--seconds`` have passed, finishing the lap in progress. No untimed
warm-up lap precedes them: at 20-50 s a cold lap costs more than a run
can spend, so every run measures the same thing, the first laps of a
fresh session, and memo fills (kmeans and PQ fits, plane counts) land in
the first timed lap.

Every call's result is compared with its DuckDB oracle, outside the timed
window. Between calls the persisted intermediates of the dedup and
clustering operators are released (``unpersist_all``), also outside the
timed window. Module memos that survive across laps, and so are warm in
every timed lap: ``sources.tables._TABLE_CACHE`` and ``_FANOUT_MEMO``,
``queries.warehouse._DIM_CACHE``, ``operators.clustering._FIT_CACHE`` and
``queries.vectors._N_PLANES_CACHE``. ``sources.tables._SPREAD_MEMO`` is
dropped by ``unpersist_all``, so each call that uses it persists its
spread tables again.

The corpus is the engine's seed-42 test corpus at sf0.01, committed
under ``perfbench/sf0.01/``. The JVM heap is fixed at 512 MB per core
(see ``size_to_box``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
same command with ``--trace 0`` in a child process for the untraced lap
time, then repeats the run with Spark's event log on and prints the
per-layer metrics, each summed over a lap, read from that log, and the
heap pools' peak use over the timed laps.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it is a JSON report: the workload and seed, each query's
call times, failed calls by query name, ``failed_frac``, ``call_p50_s``,
``call_tail_s`` with its percentile, the set-up parts, peak RSS per
process and, when traced, each query's share of wall time with a job
running.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402

# sf0.01 (60k lineitems, 1.9 MB). The laps are overhead-bound: at sf0.1
# they take 2-3x longer, more than a run can spend.
SF = 0.01
CORPUS_DIR = os.path.join(HERE, "sf0.01")

# Each mix is a fixed list of registered query names; see BENCHMARK.json
# for why each workload exists.
MIXES = {
    "dashboard": [
        "flagship_star_revenue", "kpi_summary", "daily_sales_trend", "segment_sales",
        "monthly_trend_growth", "category_share", "top_customers", "quarterly_yoy",
        "region_nation_rollup", "dashboard_extract", "mart_sales_performance",
        "mart_category_analysis",
    ],
    # One query per curation module (operators.pq, .dedup, .similarity
    # and .clustering, functions.text). The engine's ten-query curation
    # set takes 34-35 s a lap on 4 cores, more than a run can spend
    # beside the other two workloads.
    "curation": [
        "embedding_ann_pq", "doc_simhash", "doc_unicode_clean",
        "embedding_topk_bruteforce", "embedding_kmeans",
    ],
    # Cut down from the engine's seven stream replays to a memory-sink
    # windowed count and an applyInPandasWithState session fold whose
    # foreachBatch sink writes parquet.
    "streaming": ["stream_tumbling_counts", "stream_user_session_stats"],
}

# The per-call figures call_p50_s and call_tail_s are printed on the line
# before the result and reported by the traced run, but not gated. A run
# has time for one lap, and within a lap's first pass a call's time
# depends on how many calls ran before it (JIT, first table loads): over
# ten seeds on 4 cores the dashboard's call_p50_s spread 24% (quartile
# distance over median) while lap_s, a sum over the same calls, spread
# 14%. With 10-12 calls, the highest percentile with ten calls beyond it
# is the 0th-17th.
END_TO_END_UNITS = {
    "setup_s": "s",
    "lap_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile of ``values`` with at least 10 samples above
    it, as ``(value, percentile)``; the minimum when there are <= 10."""
    xs = sorted(values)
    k = max(0, len(xs) - 11)
    return xs[k], 100.0 * (k + 1) / len(xs)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """``VmHWM`` in MB of this process and of every live descendant (the
    Spark JVM and its Python workers), summed per command name."""
    out: dict[str, float] = {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = status["Name"].strip()
        out[name] = out.get(name, 0.0) + int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return out


def size_to_box(scratch: str) -> tuple[int, dict[str, str]]:
    """Point every place the engine writes at ``scratch`` and size it to
    this machine's cores. Must run before the engine is imported."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # A fixed, pre-touched JVM heap of 512 MB per core instead of the
    # session's 8 GB ceiling. Under the ceiling G1 grows and touches the
    # heap as its pause timing dictates, and peak RSS wandered between
    # identical runs on 4 cores: 1631-2284 MB for dashboard, 3230 and
    # 4655 MB for curation. With the heap fixed, peak RSS moves with
    # off-heap, metaspace and Python memory; the traced run reports the
    # heap's own peak use as jvm.heap_peak_mb.
    heap = f"{512 * cores}m"
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    dirs = {d: os.path.join(scratch, d) for d in ("tmp", "spark-local", "warehouse", "derby")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.chdir(scratch)  # relative paths (catalog tables, derby.log) land here
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -Dderby.system.home={dirs['derby']} -Djava.io.tmpdir={dirs['tmp']}"
        ),
    }
    return cores, conf


def stop_engine(spark) -> None:
    """Stop the session and its JVM, and wait until both have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def untraced_lap_s(args) -> float:
    """Run this benchmark untraced in a child process; its median lap."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]["lap_s"]["value"]


def expected_results(sqls: dict[str, str]) -> dict:
    """The oracles' expected results on the corpus.

    They are deterministic, so the first run in a checkout computes them
    under ``.perfbench-cache/`` and later runs reuse them, keyed by the
    corpus, the checking code, the oracle SQL and the DuckDB version.
    """
    import check
    import duckdb

    from tests import oracle as suite

    key = hashlib.sha256(duckdb.__version__.encode())
    files = [os.path.join(CORPUS_DIR, f) for f in sorted(os.listdir(CORPUS_DIR))]
    for path in [*files, check.__file__, suite.__file__]:
        with open(path, "rb") as f:
            key.update(f.read())
    cache = os.path.join(ROOT, ".perfbench-cache", key.hexdigest()[:16])
    os.makedirs(cache, exist_ok=True)
    expected = {}
    for name, sql in sqls.items():
        path = os.path.join(cache, hashlib.sha256(f"{name}\n{sql}".encode()).hexdigest()[:16] + ".pkl")
        if not os.path.exists(path):
            with tempfile.NamedTemporaryFile(dir=cache, delete=False) as f:
                pickle.dump(check.expected(CORPUS_DIR, {name: sql})[name], f)
            os.rename(f.name, path)
        with open(path, "rb") as f:  # written by this function only
            expected[name] = pickle.load(f)
    return expected


def run(args, scratch: str, untraced_lap: float | None) -> dict:
    """One run in ``scratch``; traced when ``untraced_lap`` (the median lap
    of an untraced run) is given."""
    t_start = time.perf_counter()
    cores, conf = size_to_box(scratch)
    traced = untraced_lap is not None
    log_dir = os.path.join(scratch, "eventlog")
    if traced:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })

    import check
    import __spark_entry__ as entry  # after sizing: the engine reads SPARK_GRAFT_CPUS at import
    from datafoundation_multi_source_retail_data_integration_hub_spark import session
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators import (
        clustering,
        dedup,
    )
    t_imported = time.perf_counter()

    mix = MIXES[args.workload]
    queries = entry.queries()
    sqls = entry.oracle_sql()
    missing = [n for n in mix if n not in queries or n not in sqls]
    if missing:
        raise SystemExit(f"mix names without a query or oracle: {missing}")
    expected = expected_results({n: sqls[n] for n in mix})

    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    rng = random.Random(args.seed)
    failures: dict[str, list[str]] = {}
    attempted = 0
    call_walls: list[float] = []
    per_query: dict[str, list[float]] = {}
    lap_walls: list[float] = []
    windows = []

    def cached_mb() -> float:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def lap() -> float:
        nonlocal attempted
        order = list(mix)
        rng.shuffle(order)
        lap_wall = 0.0
        for name in order:
            w0 = time.time()
            c0 = time.perf_counter()
            err = pdf = None
            try:
                df = queries[name](spark, CORPUS_DIR)
                c1 = time.perf_counter()
                pdf = df.toPandas()
            except Exception as exc:  # a failed call is counted, the loop goes on
                c1 = time.perf_counter()
                msg = str(exc).strip().splitlines()
                err = f"{type(exc).__name__}: {msg[0][:200] if msg else ''}"
            c2 = time.perf_counter()
            w1 = time.time()
            wall = c2 - c0
            lap_wall += wall
            # ---- outside the timed window ----
            attempted += 1
            call_walls.append(wall)
            per_query.setdefault(name, []).append(round(wall, 3))
            if err is None:
                err = check.mismatch(expected[name], pdf)
            if err is not None:
                failures.setdefault(name, []).append(err)
            if traced:
                rows = 0 if pdf is None else len(pdf)
                mb = 0.0 if pdf is None else float(pdf.memory_usage(index=True, deep=True).sum()) / 1e6
                windows.append(eventlog.CallWindow(
                    name, w0 * 1e3, w1 * 1e3, c1 - c0, c2 - c1, rows, mb, cached_mb()))
            for q in spark.streams.active:  # a failed stream call may leave one running
                q.stop()
            dedup.unpersist_all()
            clustering.unpersist_all()
        return lap_wall

    try:
        spark.range(1).toPandas()
        t1 = time.perf_counter()
        queries[mix[0]](spark, CORPUS_DIR).toPandas()
        dedup.unpersist_all()
        clustering.unpersist_all()
        t2 = time.perf_counter()
        # engine import, session start and warm-up; oracle results excluded
        setup_s = (t_imported - t_start) + (t2 - t0)
        heap = [p for p in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
                if p.getType().toString() == "Heap memory"]
        for p in heap:
            p.resetPeakUsage()
        window_start = time.perf_counter()
        while not lap_walls or time.perf_counter() - window_start < args.seconds:
            lap_walls.append(lap())
        rss = peak_rss_mb()
        # each heap pool's peak use over the timed laps, summed
        heap_peak = {p.getName(): p.getPeakUsage().getUsed() / 1e6 for p in heap}
    finally:
        stop_engine(spark)

    failed = sum(len(v) for v in failures.values())
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        "cores": cores,
        "timed_laps": len(lap_walls),
        "peak_rss_mb_by_process": {k: round(v, 1) for k, v in rss.items()},
        "setup_parts_s": {
            "import": round(t_imported - t_start, 3),
            "session": round(session_s, 3),
            "first_fetch": round(t1 - t0 - session_s, 3),
            "warmup_call": round(t2 - t1, 3),
        },
        "failed_frac": failed / attempted,
        "failed_calls": failures,
        "call_s_by_query": per_query,
    }
    tail, pct = tail_percentile(call_walls)
    per_call = {"call_p50_s": statistics.median(call_walls), "call_tail_s": tail}
    report.update(per_call, call_tail_percentile=pct)
    if not traced:
        metrics = {
            "setup_s": setup_s,
            "lap_s": statistics.median(lap_walls),
            "peak_rss_mb": sum(rss.values()),
        }
        units = END_TO_END_UNITS
    else:
        events = eventlog.read_events(log_dir)
        totals, coverage = eventlog.attribute(events, windows, cores)
        n = len(lap_walls)
        metrics = {k: (v if k == "spark.slot_busy_frac" else v / n) for k, v in totals.items()}
        metrics["session.start_s"] = session_s
        metrics["jvm.heap_peak_mb"] = sum(heap_peak.values())
        metrics["jvm.old_gen_peak_mb"] = sum(v for k, v in heap_peak.items() if "Old Gen" in k)
        metrics["trace.overhead_frac"] = statistics.median(lap_walls) / untraced_lap - 1.0
        metrics["failed_frac"] = report["failed_frac"]
        metrics.update(per_call)
        units = {**eventlog.LAYER_METRICS, "session.start_s": "s", "jvm.heap_peak_mb": "MB",
                 "jvm.old_gen_peak_mb": "MB", "trace.overhead_frac": "ratio",
                 "failed_frac": "ratio", "call_p50_s": "s", "call_tail_s": "s"}
        report["job_coverage"] = coverage
    return {
        "report": report,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no engine at {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    untraced_lap = untraced_lap_s(args) if args.trace else None
    scratch_root = os.path.join(ROOT, ".perfbench-run")
    os.makedirs(scratch_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch_root)
    cwd = os.getcwd()
    try:
        out = run(args, scratch, untraced_lap)
    finally:
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass
    print(json.dumps(out["report"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
