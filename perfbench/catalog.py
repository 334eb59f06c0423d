"""The catalog phase: one closed-loop client runs a pool of catalog entries.

Each entry is built (``CATALOG[name].spark``) and its result fetched to the
client, one at a time; the cache is cleared before every entry so no entry
times a cache hit left by an earlier one. After the timed call each result
is compared with the entry's DuckDB oracle using ``tools/check_parity``'s
comparison. Oracle results depend only on the fixed input tables and the
oracle SQL, so they are computed once per checkout, in a child process
before the session starts, and cached on disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pandas as pd

from shuttlestandalonedbcreator_spark.queries import CATALOG
from tools.check_parity import TABLES, compare


class Oracles:
    """DuckDB oracle results, cached as pickles this benchmark writes."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._stamp = "".join(
            f"{t}:{os.path.getsize(os.path.join(sf_dir, t + '.parquet'))};" for t in TABLES
        )

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256((self._stamp + sql).encode()).hexdigest()[:20]
        return os.path.join(self.cache_dir, f"{name}-{key}.pkl")

    def prefetch(self, names: list[str]) -> None:
        """Compute the missing results in a child process, so that DuckDB's
        time and memory stay out of the measured driver process."""
        todo = [
            (CATALOG[n].oracle, self._path(n, CATALOG[n].oracle))
            for n in names
            if CATALOG[n].oracle is not None and not os.path.exists(self._path(n, CATALOG[n].oracle))
        ]
        if todo:
            os.makedirs(self.cache_dir, exist_ok=True)
            # a plain child that is waited for: it leaves no helper process
            # behind, as a multiprocessing pool's resource tracker would
            root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            subprocess.run([sys.executable, os.path.abspath(__file__), self.sf_dir],
                           input=json.dumps(todo), text=True, check=True,
                           env={**os.environ, "PYTHONPATH": root})

    def result(self, name: str, sql: str) -> pd.DataFrame:
        return pd.read_pickle(self._path(name, sql))


def _compute_oracles(sf_dir: str, todo: list[tuple[str, str]]) -> None:
    """Child process: run each oracle query and pickle its result. A query
    that fails leaves no file, so its entry's check fails in the parent."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for sql, path in todo:
        try:
            df = con.execute(sql).df()
        except duckdb.Error as exc:
            print(f"oracle failed for {os.path.basename(path)}: {exc}", file=sys.stderr)
            continue
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    con.close()


def check_entry(name: str, result: pd.DataFrame, oracles: Oracles) -> list[str]:
    sql = CATALOG[name].oracle
    if sql is None:  # rows-only entry: running without error is the check
        return []
    return compare(name, result, oracles.result(name, sql))


def run_catalog(spark, sf_dir: str, names: list[str], oracles: Oracles, tracer, layers=None) -> list[dict]:
    """Run ``names`` in order; one record per entry."""
    records = []
    for name in names:
        spark.catalog.clearCache()
        rec: dict = {"name": name}
        if layers is not None:
            before = layers.persisted_rdds()
        result = None
        with tracer.span("queries.entry", entry=name):
            t0 = time.perf_counter()
            try:
                if layers is None:
                    df = CATALOG[name].spark(spark, sf_dir)
                    rec["build_s"] = time.perf_counter() - t0
                    result = df.toPandas()
                else:
                    result = _traced(spark, name, sf_dir, rec, tracer, layers)
            except Exception as exc:  # the loop must go on; the entry counts as failed
                rec["problems"] = [f"raised {type(exc).__name__}: {str(exc)[:300]}"]
            rec["wall_s"] = time.perf_counter() - t0
        if layers is not None:
            rec["persisted_rdds_left"] = layers.persisted_rdds() - before
        if result is not None:
            with tracer.span("check"):
                rec["rows"] = len(result)
                try:
                    rec["problems"] = check_entry(name, result, oracles)
                except Exception as exc:
                    rec["problems"] = [f"check raised {type(exc).__name__}: {str(exc)[:300]}"]
        records.append(rec)
    return records


def _traced(spark, name: str, sf_dir: str, rec: dict, tracer, layers) -> pd.DataFrame:
    """Build, plan and execute one entry, each under its own span and job group."""
    with tracer.span("queries.build"), layers.group(f"{name}:build") as gid:
        t0 = time.perf_counter()
        df = CATALOG[name].spark(spark, sf_dir)
        rec["build_s"] = time.perf_counter() - t0
    rec["eager"] = layers.counters(gid)
    with layers.group(f"{name}:exec") as gid:
        with tracer.span("spark.plan"):
            t0 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = time.perf_counter() - t0
        with tracer.span("spark.exec"):
            t0 = time.perf_counter()
            result = df.toPandas()
            rec["exec_s"] = time.perf_counter() - t0
    rec["spark"] = layers.counters(gid)
    return result


if __name__ == "__main__":
    _compute_oracles(sys.argv[1], json.load(sys.stdin))
