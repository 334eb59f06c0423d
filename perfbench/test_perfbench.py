"""Tests of the benchmark itself: python3 -m pytest perfbench -q"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from spans import COUNTERS, Tracer, covered  # noqa: E402
from workbooks import Spec, expected_output, generate_rows, write_inputs  # noqa: E402

TINY = Spec(workbooks=2, files_per_workbook=300, folders_per_workbook=20)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_identical_workbooks(tmp_path):
    a = write_inputs(11, TINY, str(tmp_path / "a"))
    b = write_inputs(11, TINY, str(tmp_path / "b"))
    c = write_inputs(12, TINY, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert a.expected == b.expected
    assert set(_digest(str(tmp_path / "a")).values()).isdisjoint(_digest(str(tmp_path / "c")).values())


def test_generated_inputs_carry_every_edge_case():
    base, batch = generate_rows(5, TINY)
    expected = expected_output(base, batch)
    rows = [r for _, sheets in base for s in sheets for r in s]
    keys = [(r["file_name"], r["target_file_id"]) for r in rows]
    assert len(keys) > len(set(keys))  # duplicate keys
    assert all(r["file_name"].startswith("/Job") for r in rows)
    assert any(r["status"] == "Folder" for r in rows)
    assert 0 < expected["parent_ids_resolved"] < expected["rows"]
    assert all(0 < n < expected["rows"] for n in expected["nulls"].values())
    assert expected["rows"] > expected["base_rows"]  # the batch adds new files
    statuses = {s for s, *_ in expected["status_summary"]}
    assert {"", "Re-Try (auto)", "failed"} <= statuses


def test_self_time_subtracts_covered_child_time():
    assert covered([(1.0, 2.0), (1.5, 3.0), (5.0, 9.0)], 0.0, 6.0) == pytest.approx(3.0)
    t = Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    outer, a, b = t.spans
    assert a.parent == 0 and b.parent == 0 and outer.parent is None
    self_s = t.self_times()
    children = (a.end - a.start) + (b.end - b.start)
    assert self_s["outer"] == pytest.approx((outer.end - outer.start) - children)
    assert self_s["inner"] == pytest.approx(children)
    # hand-made spans: overlapping children count once
    t.spans = [
        type(outer)("p", 0.0, 10.0, None, "r"),
        type(outer)("c", 1.0, 4.0, 0, "r"),
        type(outer)("c", 3.0, 6.0, 0, "r"),
    ]
    assert t.self_times() == {"p": pytest.approx(5.0), "c": pytest.approx(6.0)}


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


def _fake_metrics():
    setups = [(1.0, 0.5), (0.8, 0.4)]
    step = dict.fromkeys(COUNTERS, 1.0)
    etl = {
        "ops": [("plans.load", 2.0)], "spark": {"sources.scan": step, "plans.load": step},
        "rows_landed": 100, "ingest_s": 2.0, "merge_s": 1.0, "views_s": 1.0,
        "sink_bytes_after_merge": 10, "merge_bytes_rewritten": 10,
        "scan_s": 0.5, "ingest_only_s": 0.5, "sink_only_s": 1.0, "sink_bytes": 9, "sink_files": 3,
        "views_create_s": 0.4, "view_query_s": 0.6, "problems": [],
    }
    entries = [{"name": f"e{i}", "wall_s": 0.1 * (i + 1), "build_s": 0.01, "plan_s": 0.01,
                "exec_s": 0.05, "spark": step, "eager": step, "persisted_rdds_left": 0} for i in range(10)]
    inputs = type("I", (), {"input_bytes": 20})()
    weather = {"load_1m_start": 0.5, "load_1m_end": 0.7, "steal_pct": 0.0}
    e2e = run.end_to_end(setups, [etl], entries, inputs, (100.0, 23.0))
    layer = run.per_layer(setups, etl, entries, 4, 0.2, weather)
    return e2e, layer


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e, layer = _fake_metrics()
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    assert [m["name"] for m in bench["per_layer"]] == list(layer)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    assert units == {k: u for k, (_, u) in {**e2e, **layer}.items()}
    for name in units:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert {w["name"] for w in bench["workloads"]} == set(run.load_pools())
    assert all(v > 0 for v, _ in e2e.values())


def test_pools_partition_the_frozen_catalog():
    from shuttlestandalonedbcreator_spark.queries import CATALOG

    with open(os.path.join(HERE, "pools.json")) as fh:
        pools = json.load(fh)["pools"]
    names = [n for p in pools.values() for fam in p["families"].values() for n in fam]
    assert len(names) == len(set(names))
    assert set(names) == set(CATALOG)  # the two pools are the whole catalog
    for workload, entries in run.load_pools().items():
        assert len(entries) == len(set(entries))
        assert set(entries) <= {n for fam in pools[workload]["families"].values() for n in fam}


def test_bytes_written_counts_new_and_changed_files_only():
    from etl import _bytes_written

    before = {"a": (10, 1), "b": (20, 1), "gone": (5, 1)}
    after = {"a": (10, 1), "b": (21, 2), "c": (7, 3)}
    assert _bytes_written(before, after) == 21 + 7


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from shuttlestandalonedbcreator_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", extra_conf={
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))})
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_etl_matches_expected_output_on_a_tiny_seed(spark, tmp_path):
    from etl import run_etl
    from spans import SparkLayers

    inputs = write_inputs(3, TINY, str(tmp_path / "in"))
    sink = str(tmp_path / "sink")
    out = run_etl(spark, inputs, sink, Tracer("t", enabled=False))
    assert out["problems"] == []
    assert out["rows_landed"] == inputs.expected["base_rows"]
    shutil.rmtree(sink)
    traced = run_etl(spark, inputs, sink, Tracer("t", enabled=True), SparkLayers(spark))
    assert traced["problems"] == []
    assert traced["spark"]["plans.load"]["jobs"] >= 1
    assert traced["spark"]["plans.merge"]["jobs"] >= 1
    assert traced["spark"]["sources.scan"]["tasks"] >= 1


def test_etl_check_catches_a_wrong_expectation(spark, tmp_path):
    from etl import run_etl

    inputs = write_inputs(4, TINY, str(tmp_path / "in"))
    inputs.expected["parent_ids_resolved"] += 1
    out = run_etl(spark, inputs, str(tmp_path / "sink"), Tracer("t", enabled=False))
    assert any("parent ids" in p for p in out["problems"])
