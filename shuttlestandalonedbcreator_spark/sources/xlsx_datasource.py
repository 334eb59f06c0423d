"""`spark.read.format("xlsx")` / `df.write.format("xlsx")` — the Excel
scan AND sink as a first-class Spark 4 Python DataSource
(pyspark.sql.datasource API).

Same parse core as `excel.read_workbook_rows` (S2/S3 scans, stdlib-only),
re-exposed through the catalog-level source interface so the reference's
ingest source composes like any built-in format:

    register_xlsx_source(spark)
    df = (spark.read.format("xlsx")
          .option("sheetPrefix", "Transfer Report")
          .load("/data/source"))
    df.write.format("xlsx").mode("overwrite").save("/data/out")

Read partitioning: one input partition PER WORKBOOK (the natural
parallel unit — sheet XML inside a file must stream sequentially, files
are independent). The driver lists files; executors each open and parse
only their own workbook, so memory is bounded by one sheet's row
regardless of corpus size. Discovery mirrors S1 (glob + `~*` temp-file
exclusion, SQLiteDirectImporter.java:226-248).

Write partitioning: the standard Spark sink shape — one
`part-<n>-<uuid>.xlsx` workbook per task into the target directory
(a single .xlsx cannot be appended distributed; the per-partition file
is what scales), every column rendered as its string form with a header
row, via `excel.write_workbook`. `mode("overwrite")` clears prior
part files on commit through a staged `_temporary` rename, so a failed
job never half-replaces the old data.

Scope: file listing uses the local/posix filesystem (the reference's
drop-folder contract is a local directory). For object stores, the
binaryFile-based `read_workbook_rows` path covers the same scan with
Hadoop FS discovery.
"""

from __future__ import annotations

import fnmatch
import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

# module-level binding, NOT an import inside read()/__init__: the reader
# class is instantiated ON THE EXECUTOR, where an import statement would
# re-enter the import machinery with no repo on sys.path (NOTES.md fact
# #4). As module-level globals of a by-value-registered module, these
# function objects travel inside the pickled class instead.
from shuttlestandalonedbcreator_spark.sources.excel import parse_workbook, write_workbook

RAW_SCHEMA = "_source_file string, _sheet string, _row_index int, _cells array<string>"


class _WorkbookPartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class XlsxReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx source requires a path: .load('<dir-or-file>')")
        self.sheet_prefix = options.get("sheetprefix")
        self.glob = options.get("glob", "*.xls*")

    def partitions(self):
        if os.path.isdir(self.path):
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if fnmatch.fnmatch(f, self.glob) and not f.startswith("~")
            )
        else:
            files = [self.path]
        return [_WorkbookPartition(p) for p in files]

    def read(self, partition: _WorkbookPartition):
        fname = os.path.basename(partition.path)
        for sheet, row_idx, cells in parse_workbook(partition.path, self.sheet_prefix):
            yield (fname, sheet, row_idx, cells)


class _PartMessage(WriterCommitMessage):
    def __init__(self, tmp_path: str | None, n_rows: int) -> None:
        self.tmp_path = tmp_path
        self.n_rows = n_rows


class XlsxWriter(DataSourceWriter):
    """One workbook per task (the per-partition file is the only xlsx
    shape that scales — the format cannot be appended distributed).
    Tasks write into `<dir>/_temporary/`; commit() renames every staged
    file to `part-<i>-<uuid>.xlsx` and only then (under overwrite)
    removes prior part files — a failed job never half-replaces data."""

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx sink requires a path: .save('<dir>')")
        self.sheet = options.get("sheetname", "Sheet1")
        self.header = [f.name for f in schema.fields]
        self.overwrite = overwrite
        self.tmp_dir = os.path.join(self.path, "_temporary")
        os.makedirs(self.tmp_dir, exist_ok=True)  # driver-side

    def write(self, iterator) -> _PartMessage:
        rows = [self.header]
        for row in iterator:
            rows.append(["" if v is None else str(v) for v in row])
        if len(rows) == 1:  # empty partition: no part file
            return _PartMessage(None, 0)
        tmp = os.path.join(self.tmp_dir, f"{uuid.uuid4().hex}.xlsx")
        write_workbook({self.sheet: rows}, tmp)
        return _PartMessage(tmp, len(rows) - 1)

    def commit(self, messages) -> None:
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-") and f.endswith(".xlsx"):
                    os.remove(os.path.join(self.path, f))
        staged = [m for m in messages if m is not None and m.tmp_path]
        for i, m in enumerate(staged):
            final = os.path.join(
                self.path, f"part-{i:05d}-{os.path.basename(m.tmp_path)}"
            )
            os.replace(m.tmp_path, final)
        shutil.rmtree(self.tmp_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.tmp_dir, ignore_errors=True)


class XlsxDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema) -> XlsxReader:
        return XlsxReader(self.options)

    def writer(self, schema, overwrite: bool) -> XlsxWriter:
        return XlsxWriter(self.options, schema, overwrite)


def register_xlsx_source(spark: SparkSession) -> None:
    """Register the format (idempotent). Ships the parse modules by value
    so executor pythons need no repo checkout (NOTES.md fact #4)."""
    import shuttlestandalonedbcreator_spark.sources.biff as _biff
    import shuttlestandalonedbcreator_spark.sources.excel as _excel
    import shuttlestandalonedbcreator_spark.sources.numfmt as _numfmt
    import shuttlestandalonedbcreator_spark.sources.xlsx_datasource as _self
    from pyspark.cloudpickle import register_pickle_by_value

    # numfmt too: excel.py references it at module level, so the pickled
    # class graph reaches it — by reference (ModuleNotFoundError on a
    # worker with no repo checkout) unless registered by value here
    for mod in (_biff, _excel, _numfmt, _self):
        register_pickle_by_value(mod)
    spark.dataSource.register(XlsxDataSource)
