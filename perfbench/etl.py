"""The Transfer Report ETL phase: scan, ingest, sink, re-import upsert, views.

Each step is one call into the program's public functions, timed by the
client that waits for it. The traced variant first times the scan, ingest
and sink layers one at a time, each over the previous layer's rows
materialized with ``localCheckpoint``, so the program itself stays
uninstrumented; then it runs the same steps as the untraced pass.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.plans.merge import merge_upsert
from shuttlestandalonedbcreator_spark.plans.sinks import read_transfer_table, write_transfer_table
from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import ingest
from shuttlestandalonedbcreator_spark.plans.views import create_views
from shuttlestandalonedbcreator_spark.sources.excel import read_transfer_reports

from spans import COUNTERS
from workbooks import CAST_COLUMNS, Inputs

KEYS = ["file_name", "target_file_id"]
MERGE_REPEATS = 3


def _data_files(path: str) -> dict[str, tuple[int, int]]:
    """Data file under ``path`` -> (bytes, modification time in ns)."""
    out = {}
    for root, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                st = os.stat(os.path.join(root, name))
                out[os.path.relpath(os.path.join(root, name), path)] = (st.st_size, st.st_mtime_ns)
    return out


def _bytes_written(before: dict, after: dict) -> int:
    """Bytes of the data files in ``after`` that are new or changed since ``before``."""
    return sum(size for name, (size, mtime) in after.items() if before.get(name) != (size, mtime))


def run_etl(spark, inputs: Inputs, sink: str, tracer, layers=None) -> dict:
    """One ETL pass. Returns step times, layer counters and the problems
    found by comparing the sink and the views with the expected output."""
    out: dict = {"ops": [], "spark": {}}

    def step(name: str, fn):
        """Run ``fn`` as one operation; under tracing, in its own job group."""
        with tracer.span(name), (layers.group(name) if layers else nullcontext()) as gid:
            t0 = time.perf_counter()
            result = fn()
            dt = time.perf_counter() - t0
        if layers is not None:
            total = out["spark"].setdefault(name, dict.fromkeys(COUNTERS, 0.0))
            for k, v in layers.counters(gid).items():
                total[k] += v
        out["ops"].append((name, dt))
        return result, dt

    if layers is not None:
        # each layer on its own, over the previous layer's materialized rows
        raw, out["scan_s"] = step(
            "sources.scan",
            lambda: read_transfer_reports(spark, inputs.base_dir).localCheckpoint(eager=True),
        )
        rows, out["ingest_only_s"] = step(
            "plans.ingest", lambda: ingest(raw).localCheckpoint(eager=True)
        )
        _, out["sink_only_s"] = step(
            "plans.sink", lambda: write_transfer_table(rows, sink + "-layer")
        )
        for df in (raw, rows):
            df.unpersist()

    def load():
        write_transfer_table(ingest(read_transfer_reports(spark, inputs.base_dir)), sink)

    _, out["ingest_s"] = step("plans.load", load)
    files = _data_files(sink)
    out["sink_bytes"], out["sink_files"] = sum(size for size, _ in files.values()), len(files)

    problems = []
    landed = read_transfer_table(spark, sink).count()
    if landed != inputs.expected["base_rows"]:
        problems.append(f"sink rows {landed} != expected {inputs.expected['base_rows']}")
    out["rows_landed"] = landed

    def upsert():
        updates = ingest(read_transfer_reports(spark, inputs.batch_dir))
        return merge_upsert(spark, sink, updates, KEYS, order_col="import_timestamp")

    # the same batch upserted again is a no-op on the rows (it wins again on
    # its newer import time), so repeats give a median without new inputs
    merge_times, rewritten = [], []
    for _ in range(MERGE_REPEATS):
        merged, dt = step("plans.merge", upsert)
        merge_times.append(dt)
        after = _data_files(sink)
        rewritten.append(_bytes_written(files, after))
        files = after
        if merged != inputs.expected["rows"]:
            problems.append(f"merged rows {merged} != expected {inputs.expected['rows']}")
    out["merge_s"] = statistics.median(merge_times)
    out["merge_bytes_rewritten"] = statistics.median(rewritten)
    out["sink_bytes_after_merge"] = sum(size for size, _ in files.values())

    t0 = time.perf_counter()
    views, out["views_create_s"] = step(
        "plans.views_create", lambda: create_views(spark, read_transfer_table(spark, sink))
    )
    counts = {}
    for name in sorted(views):
        counts[name], _ = step("plans.view_query", lambda n=name: spark.table(n).count())
    summary, _ = step("plans.view_query", lambda: spark.table("status_summary").collect())
    out["views_s"] = time.perf_counter() - t0
    out["view_query_s"] = out["views_s"] - out["views_create_s"]

    with tracer.span("check"):
        problems += check(spark, counts, summary, inputs.expected)
        for name in views:
            spark.catalog.dropTempView(name)
    out["problems"] = problems
    return out


def check(spark, counts: dict, summary, expected: dict) -> list[str]:
    """Compare the views and the merged table with the generator's model."""
    problems = []
    if counts != expected["view_rows"]:
        problems.append(f"view rows {counts} != expected {expected['view_rows']}")
    got = [[r["status_name"], r["record_count"], r["file_count"], r["folder_count"]] for r in summary]
    if got != expected["status_summary"]:
        problems.append(f"status_summary {got} != expected {expected['status_summary']}")
    row = spark.table("transfer_data").agg(
        *[F.count_if(F.col(c).isNull()).alias(c) for c in CAST_COLUMNS],
        F.count("parent_id").alias("parent_ids_resolved"),
    ).first()
    nulls = {c: row[c] for c in CAST_COLUMNS}
    if nulls != expected["nulls"]:
        problems.append(f"nulls {nulls} != expected {expected['nulls']}")
    if row["parent_ids_resolved"] != expected["parent_ids_resolved"]:
        problems.append(
            f"parent ids {row['parent_ids_resolved']} != expected {expected['parent_ids_resolved']}"
        )
    return problems
