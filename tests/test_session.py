"""Session profile: the core-count parse shared by get_spark and bench.py."""

from __future__ import annotations

import os

import pytest

from shuttlestandalonedbcreator_spark.session import graft_cpus


@pytest.mark.parametrize("value", [None, "", "  ", "abc", "4.5", "0", "-2", "²"])
def test_graft_cpus_falls_back_to_cpu_count(monkeypatch, value):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert graft_cpus() == (os.cpu_count() or 4)


@pytest.mark.parametrize("value, cpus", [("1", 1), ("32", 32), (" 8\n", 8)])
def test_graft_cpus_reads_positive_integer(monkeypatch, value, cpus):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert graft_cpus() == cpus
