"""Benchmark runner for the engine, driven from outside as one closed-loop client.

    python3 perfbench/run.py --workload catalog_sql --seed 1 --seconds 30 --trace 0

Every workload replays one session of the system on ``local[N]`` (N from
``SPARK_GRAFT_CPUS``, at most the usable cores) with a 2 GB driver heap:

1. set-up, twice, each cold in a new JVM: session start plus the first
   touch of the input tables and workbooks; ``setup_s`` is the median (the
   mean of the two), and the second session runs the phases below;
2. the catalog phase: the workload's fixed entry list (``pools.json``) in
   its fixed order, one entry at a time, each result fetched to the client.
   The first entry also pays for starting the Python workers and loading
   classes, as the first query of a fresh session does; the order is fixed
   so that this cost, and what each entry leaves warm for the next, is the
   same in every run;
3. the ETL phase: the Transfer Report workbooks generated from the seed
   are scanned, ingested and written to the sink, a re-import batch is
   upserted three times (``merge_s`` is the median), and the views are
   created and queried. ``--seconds`` sets the number of passes (one per
   30 s, at least one); each ETL figure is the median over passes.

Every output is checked: the ETL against the generator's expected output,
each catalog entry against its DuckDB oracle. The last line of standard
output is one JSON object. With ``--trace 1`` it holds the per-layer
metrics of the same session replayed under tracing, the spans go to a
trace file, and the tracing overhead is measured on warm paired runs.
Scratch files and the run log (``runs.jsonl``, see ``report.py``) live
under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.1")
# cold set-ups per run: each launches a JVM (5-10 s on 4 vCPUs), so more do
# not fit the time budget of the runs
SETUPS = 2
DRIVER_MEMORY = "2g"
# ETL input per run: 4 workbooks (one scan task each), ~13k rows, ~2 MB:
# enough that executor work dominates the scan and the load (executor
# utilization about 0.65 on 4 vCPUs), few enough for the time budget
ETL_WORKBOOKS, ETL_FILES_PER_WORKBOOK, ETL_FOLDERS_PER_WORKBOOK = 4, 3000, 150
ETL_PASS_SECONDS = 30


def load_pools() -> dict[str, list[str]]:
    """Workload -> its fixed entry list, frozen in ``pools.json``."""
    with open(os.path.join(HERE, "pools.json")) as fh:
        return {w: pool["entries"] for w, pool in json.load(fh)["pools"].items()}


def cpu_count() -> int:
    n = os.cpu_count() or 1
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    want = os.environ.get("SPARK_GRAFT_CPUS", "")
    return max(1, min(int(want), n)) if want.isdigit() else n


def load_weather() -> dict:
    """1-minute load average and the /proc/stat steal and total jiffies."""
    out = {"load_1m": os.getloadavg()[0], "steal": None, "total": None}
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
        out["steal"], out["total"] = vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        pass
    return out


def steal_pct(start: dict, end: dict) -> float:
    if start["total"] is None or end["total"] is None or end["total"] <= start["total"]:
        return 0.0
    return 100.0 * (end["steal"] - start["steal"]) / (end["total"] - start["total"])


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python driver and of the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def _proc_stat(pid: int) -> tuple[int, int, str] | None:
    """(parent pid, start time, state) of a process; None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), int(fields[19]), fields[0]


def descendants() -> dict[int, int]:
    """pid -> start time of every process below this one (the JVM, the
    PySpark worker daemon and its workers, which sit in a process group of
    their own and outlive the JVM for a moment)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _proc_stat(int(entry))) is not None:
            stats[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = {}, [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), []):
            found[child] = stats[child][1]
            todo.append(child)
    return found


def wait_gone(procs: dict[int, int], timeout: float = 30.0) -> None:
    """Wait until each process of ``procs`` has ended; kill what is left
    after ``timeout`` seconds and wait for that too."""
    deadline = time.monotonic() + timeout
    while True:
        alive = []
        for pid, start in procs.items():
            st = _proc_stat(pid)
            if st is None or st[1] != start:
                continue
            if st[2] == "Z":  # ended; reap it if it is our own child
                if st[0] == os.getpid():
                    os.waitpid(pid, os.WNOHANG)
                continue
            alive.append(pid)
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def percentile(values: list[float], pct: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Session:
    """Set-up of the engine: session start plus first touch of the inputs.
    Every start is cold: it launches a new JVM, as a fresh client does."""

    def __init__(self, work: str, cpus: int):
        self.work = work
        self.cpus = cpus
        self.spark = None

    def start(self, reports_dir: str) -> tuple[float, float]:
        from shuttlestandalonedbcreator_spark.session import get_spark
        from shuttlestandalonedbcreator_spark.sources.excel import read_transfer_reports
        from shuttlestandalonedbcreator_spark.sources.registry import TABLES, load_table

        self.close()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the heap committed up front: resident size then follows
                # what the heap holds, not the collector's growth decisions
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -Xms{DRIVER_MEMORY}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for table in TABLES:
            load_table(self.spark, SF_DIR, table)
        read_transfer_reports(self.spark, reports_dir)
        return t1 - t0, time.perf_counter() - t1

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit, so that the next start
        launches a new one."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        procs = descendants()
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    pass  # killed below
        finally:
            if proc is not None and proc.poll() is None:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
            self.spark = None
            # the worker daemon and its workers end after the JVM does
            wait_gone(procs)


def etl_passes(spark, inputs, work: str, seconds: float, tracer, layers=None) -> list[dict]:
    """One ETL pass per ``ETL_PASS_SECONDS`` of ``seconds``, rounded (at least
    one): the count depends on the argument only, never on how fast the
    program is, so a faster program cannot change what a run measures."""
    from etl import run_etl

    passes = []
    for _ in range(max(1, round(seconds / ETL_PASS_SECONDS))):
        sink = os.path.join(work, "sink")
        for path in (sink, sink + "-layer"):
            shutil.rmtree(path, ignore_errors=True)
        passes.append(run_etl(spark, inputs, sink, tracer, layers))
    return passes


def tracing_overhead(spark, names, inputs, work, oracles, layers, etl_traced) -> dict:
    """Traced minus untraced time, both warm: each catalog entry once each
    way, in alternating order, plus one untraced ETL pass set against the
    traced one (which also ran the per-layer steps tracing adds)."""
    from catalog import run_catalog
    from spans import Tracer

    on, off = Tracer("overhead", enabled=True), Tracer("overhead", enabled=False)
    walls = {False: 0.0, True: 0.0}
    records = []
    for i, name in enumerate(names):
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            rec = run_catalog(spark, SF_DIR, [name], oracles, on if traced else off,
                              layers if traced else None)[0]
            walls[traced] += rec["wall_s"]
            records.append(rec)
    etl_off = etl_passes(spark, inputs, work, 0, off)[0]
    etl_untraced = sum(t for _, t in etl_off["ops"])
    etl_on = sum(t for _, t in etl_traced["ops"])
    return {
        "catalog_untraced_s": walls[False], "catalog_traced_s": walls[True],
        "etl_untraced_s": etl_untraced, "etl_traced_s": etl_on,
        "overhead_s": walls[True] - walls[False] + etl_on - etl_untraced,
        "records": records, "etl_pass": etl_off,
    }


def end_to_end(setups, passes, entries, inputs, rss_mb) -> dict[str, tuple[float, str]]:
    walls = [e["wall_s"] for e in entries]
    return {
        "setup_s": (statistics.median(a + b for a, b in setups), "s"),
        "query_wall_s": (sum(walls), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_p80_s": (percentile(walls, 80), "s"),
        "ingest_rows_per_s": (statistics.median(p["rows_landed"] / p["ingest_s"] for p in passes), "rows/s"),
        "merge_s": (statistics.median(p["merge_s"] for p in passes), "s"),
        "views_s": (statistics.median(p["views_s"] for p in passes), "s"),
        "sink_bytes_per_input_byte": (
            statistics.median(p["sink_bytes_after_merge"] for p in passes) / inputs.input_bytes, "ratio"),
        "peak_rss_mb": (sum(rss_mb), "MB"),
    }


def per_layer(setups, etl, entries, cpus, overhead_s, weather) -> dict[str, tuple[float, str]]:
    from spans import COUNTERS

    spark = dict.fromkeys(COUNTERS, 0.0)
    eager_jobs = build_s = plan_s = exec_s = leaked = 0.0
    for e in entries:
        for k in COUNTERS:
            spark[k] += e.get("spark", {}).get(k, 0.0)
        eager_jobs += e.get("eager", {}).get("jobs", 0.0)
        build_s += e.get("build_s", 0.0)
        plan_s += e.get("plan_s", 0.0)
        exec_s += e.get("exec_s", 0.0)
        leaked += max(0, e.get("persisted_rdds_left", 0))
    steps = etl["spark"]
    etl_run = sum(s["executor_run_s"] for s in steps.values())
    etl_wall = sum(t for _, t in etl["ops"])
    scan = steps["sources.scan"]
    return {
        "session.start_s": (statistics.median(a for a, _ in setups), "s"),
        "sources.load_tables_s": (statistics.median(b for _, b in setups), "s"),
        "sources.scan_s": (etl["scan_s"], "s"),
        "sources.scan_task_s": (scan["executor_run_s"], "s"),
        "queries.build_s": (build_s, "s"),
        "queries.eager_jobs": (eager_jobs, "count"),
        "spark.plan_s": (plan_s, "s"),
        "spark.exec_s": (exec_s, "s"),
        "spark.jobs": (spark["jobs"], "count"),
        "spark.stages": (spark["stages"], "count"),
        "spark.tasks": (spark["tasks"], "count"),
        "spark.executor_run_s": (spark["executor_run_s"], "s"),
        "spark.executor_cpu_s": (spark["executor_cpu_s"], "s"),
        "spark.executor_util": (spark["executor_run_s"] / (cpus * exec_s) if exec_s else 0.0, "ratio"),
        "spark.shuffle_read_bytes": (spark["shuffle_read_bytes"], "bytes"),
        "spark.shuffle_write_bytes": (spark["shuffle_write_bytes"], "bytes"),
        "spark.spill_bytes": (spark["spill_bytes"], "bytes"),
        "spark.gc_s": (spark["gc_s"], "s"),
        "spark.persisted_rdds_leaked": (leaked, "count"),
        "plans.ingest_s": (etl["ingest_only_s"], "s"),
        "plans.sink_s": (etl["sink_only_s"], "s"),
        "plans.sink_bytes": (etl["sink_bytes"], "bytes"),
        "plans.sink_files": (etl["sink_files"], "count"),
        "plans.merge_s": (etl["merge_s"], "s"),
        "plans.merge_bytes_rewritten": (etl["merge_bytes_rewritten"], "bytes"),
        "plans.views_create_s": (etl["views_create_s"], "s"),
        "plans.view_query_s": (etl["view_query_s"], "s"),
        "plans.executor_run_s": (etl_run, "s"),
        "plans.executor_util": (etl_run / (cpus * etl_wall), "ratio"),
        "plans.shuffle_read_bytes": (sum(s["shuffle_read_bytes"] for s in steps.values()), "bytes"),
        "plans.shuffle_write_bytes": (sum(s["shuffle_write_bytes"] for s in steps.values()), "bytes"),
        "trace.overhead_s": (overhead_s, "s"),
        "host.load_1m_start": (weather["load_1m_start"], "load"),
        "host.load_1m_end": (weather["load_1m_end"], "load"),
        "host.steal_pct": (weather["steal_pct"], "%"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    pools = load_pools()
    if args.workload not in pools:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(pools)}")

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a bounded heap keeps the memory of a shared host small
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path[:0] = [ROOT, HERE]

    # the program: an import error here ends the run before any result
    import shuttlestandalonedbcreator_spark.queries  # noqa: F401

    from catalog import Oracles, run_catalog
    from spans import SparkLayers, Tracer
    from workbooks import Spec, write_inputs

    run_id = f"{args.workload}-{args.seed}"
    weather_start = load_weather()
    t_run = time.perf_counter()
    cpus = cpu_count()
    inputs = write_inputs(args.seed, Spec(ETL_WORKBOOKS, ETL_FILES_PER_WORKBOOK, ETL_FOLDERS_PER_WORKBOOK), run_dir)
    names = pools[args.workload]

    session = Session(work, cpus)
    oracles = Oracles(SF_DIR, os.path.join(work, "oracle-cache"))
    oracles.prefetch(names)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    phases = {"generate": time.perf_counter() - t_run}
    try:
        t0 = time.perf_counter()
        setups = [session.start(inputs.base_dir) for _ in range(SETUPS)]
        spark = session.spark
        layers = SparkLayers(spark) if args.trace else None
        phases["setup"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("session"):
            entries = run_catalog(spark, SF_DIR, names, oracles, tracer, layers)
            phases["catalog"] = time.perf_counter() - t0
            passes = etl_passes(spark, inputs, run_dir, args.seconds, tracer, layers)
        phases["etl"] = time.perf_counter() - t0 - phases["catalog"]
        if args.trace:
            overhead = tracing_overhead(spark, names, inputs, run_dir, oracles, layers, passes[0])
        rss_mb = peak_rss_mb(spark)
    finally:
        session.close()
        wait_gone(descendants())
    weather_end = load_weather()
    weather = {
        "load_1m_start": weather_start["load_1m"],
        "load_1m_end": weather_end["load_1m"],
        "steal_pct": steal_pct(weather_start, weather_end),
    }

    checked_passes = passes + ([overhead["etl_pass"]] if args.trace else [])
    checked_entries = entries + (overhead["records"] if args.trace else [])
    failures = [f"etl: {p}" for ps in checked_passes for p in ps["problems"]]
    failures += [f"{e['name']}: {p}" for e in checked_entries for p in e.get("problems", [])]
    failed = sum(1 for e in checked_entries if e.get("problems"))
    failed += sum(1 for p in checked_passes if p["problems"])
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
              "entries": len(names), "etl_passes": len(passes), **weather,
              "run_s": time.perf_counter() - t_run, "phases": phases, "failures": failures,
              "setups": setups, "peak_rss_mb": {"python": rss_mb[0], "jvm": rss_mb[1]},
              "entry_walls": {e["name"]: e["wall_s"] for e in entries},
              "etl_steps": [[[n, t] for n, t in p["ops"]] for p in passes]}
    if args.trace:
        metrics = per_layer(setups, passes[0], entries, cpus, overhead["overhead_s"], weather)
        trace_path = os.path.join(work, f"trace-{run_id}.json")
        tracer.dump(trace_path, entries=entries, etl_steps=passes[0]["spark"],
                    overhead={k: v for k, v in overhead.items() if k not in ("records", "etl_pass")})
        print(f"trace: {trace_path}")
        print("self time by span (s): " + json.dumps({k: round(v, 3) for k, v in tracer.self_times().items()}))
        print("tracing overhead: {overhead_s:.3f} s (catalog traced {catalog_traced_s:.3f} s vs "
              "untraced {catalog_untraced_s:.3f} s; ETL traced {etl_traced_s:.3f} s vs "
              "untraced {etl_untraced_s:.3f} s)".format(**overhead))
    else:
        metrics = end_to_end(setups, passes, entries, inputs, rss_mb)
    with open(os.path.join(work, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    for line in failures:
        print(f"FAILED {line}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(checked_entries) + len(checked_passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
