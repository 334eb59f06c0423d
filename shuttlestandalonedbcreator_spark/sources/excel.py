"""Excel (.xlsx) source + sink, dependency-free and Spark-distributed.

Reference parity (file:line into /root/reference):
- S2 XLSX scan: SAX streaming per sheet (SQLiteDirectImporter.java:330-379,
  431-583). Here: Spark's `binaryFile` source lists the workbooks (paths
  only, never their bytes) and each `mapInPandas` task opens and parses
  its own files with stdlib zipfile+ElementTree — the engine
  parallelizes ACROSS workbooks (the 100 TB shape: many files), and the
  iterparse is streaming per sheet so executor memory stays O(row), not
  O(sheet).
- S4 sheet filter: name-prefix predicate (:349, :401).
- S5 header skip: row 0 dropped per sheet (:469-473).
- S9 sheet-projection sink: the `Overview` extraction re-expressed as a
  data projection — read one sheet, write a new single-sheet workbook
  (TransferOverviewExtractor.java:242-297; byte-level chart/style copying
  is explicitly out of engine scope, SURVEY.md §2.1-S9).
- S10 inspection scan: first N rows / ≤25 columns (InspectColumnsStreaming
  .java:99-168).

- S3 XLS (binary BIFF) scan: `sources/biff.py` — a stdlib CFB+BIFF8
  parser (SQLiteDirectImporter.java:384-426, 588-662); dispatched here by
  file extension so .xls and .xlsx flow through one distributed scan.

Writer notes: minimal OOXML with inline strings — round-trips through this
reader and opens in Excel/LibreOffice; used by tests to generate fixtures
(the reference ships no workbooks).
"""

from __future__ import annotations

import zipfile
import xml.etree.ElementTree as ET
from collections.abc import Iterator
from typing import BinaryIO
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.sources import numfmt
from shuttlestandalonedbcreator_spark.sources.biff import parse_xls_rows

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'BC12' → 54 (letters only; 0-based)."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return idx - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        fh = zf.open("xl/sharedStrings.xml")
    except KeyError:
        return []
    out: list[str] = []
    with fh:
        for _, si in ET.iterparse(fh):
            if si.tag == f"{_NS}si":
                # plain <t> or rich-text runs <r><t>
                out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
                si.clear()
    return out


def _sheet_parts(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_part_path)] in workbook order."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rel_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.iter(f"{_PKG_REL_NS}Relationship")
    }
    parts = []
    for sheet in wb.iter(f"{_NS}sheet"):
        target = rel_target.get(sheet.get(f"{_REL_NS}id"), "")
        if target.startswith("/"):
            part = target.lstrip("/")
        elif target.startswith("xl/"):
            part = target
        else:
            part = "xl/" + target
        parts.append((sheet.get("name"), part))
    return parts


def _cell_value(
    cell: ET.Element, shared: list[str], styles: list[str] | None = None
) -> str:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        return "".join(t.text or "" for t in cell.iter(f"{_NS}t"))
    v = cell.find(f"{_NS}v")
    text = v.text if v is not None and v.text is not None else ""
    if ctype == "s":
        return shared[int(text)] if text != "" else ""
    if styles is not None and text != "":
        # DataFormatter parity (formatted=True): numerics render through
        # the cell's number format; booleans render TRUE/FALSE
        if ctype == "b":
            return "TRUE" if text == "1" else "FALSE"
        if ctype == "n":
            s_idx = int(cell.get("s", "0"))
            code = styles[s_idx] if s_idx < len(styles) else None
            return numfmt.format_number(text, code)
    return text


def _load_styles(zf: zipfile.ZipFile) -> list[str]:
    try:
        return numfmt.parse_styles(zf.read("xl/styles.xml"))
    except KeyError:
        return []


def parse_xlsx_rows(
    source: BinaryIO,
    sheet_prefix: str | None = None,
    formatted: bool = False,
) -> Iterator[tuple[str, int, list[str]]]:
    """Stream (sheet_name, row_index, cells) from a workbook, given as a
    seekable binary file. zipfile reads the central directory, the shared
    strings and only the matching sheet parts.

    Default: cells are the raw stored strings (numbers keep their
    serialized form, e.g. '45123.5') — the tolerant-cast layer downstream
    owns typing. ``formatted=True`` renders each numeric cell through its
    number format instead (POI ``DataFormatter.formatCellValue``
    semantics, SQLiteDirectImporter.java:457-465 — see sources/numfmt.py);
    identical to the default for the plain text/serial/integer cells
    transfer reports contain, and diverging exactly where the reference
    would (percent/currency/date masks).
    Sparse rows are padded positionally from cell refs (P2, :457-465).
    """
    with zipfile.ZipFile(source) as zf:
        shared = _shared_strings(zf)
        styles = _load_styles(zf) if formatted else None
        for sheet_name, part in _sheet_parts(zf):
            if sheet_prefix is not None and not sheet_name.startswith(sheet_prefix):
                continue
            row_idx = 0
            with zf.open(part) as fh:
                for _, row in ET.iterparse(fh):
                    if row.tag != f"{_NS}row":
                        continue
                    cells: list[str] = []
                    for cell in row.iter(f"{_NS}c"):
                        ref = cell.get("r")
                        pos = _col_index(ref) if ref else len(cells)
                        while len(cells) < pos:
                            cells.append("")
                        value = _cell_value(cell, shared, styles)
                        if pos < len(cells):
                            cells[pos] = value
                        else:
                            cells.append(value)
                    yield sheet_name, row_idx, cells
                    row_idx += 1
                    row.clear()


def _open_any(path: str) -> BinaryIO:
    """Open a workbook for seekable binary reads where the task runs:
    ``file:`` URIs and bare paths through stdlib ``open``, other URIs
    (s3://, hdfs://, gs:// where the runtime supports them) through
    ``pyarrow.fs``."""
    if path.startswith("file:"):
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
    elif "://" in path:
        import pyarrow.fs as pafs

        fs, p = pafs.FileSystem.from_uri(path)
        return fs.open_input_file(p)
    return open(path, "rb")


def parse_workbook(
    path: str, sheet_prefix: str | None = None, formatted: bool = False
) -> Iterator[tuple[str, int, list[str]]]:
    """Open one workbook and stream (sheet_name, row_index, cells) from
    its matching sheets — the one .xls/.xlsx dispatch, shared by the
    mapInPandas scan and the `xlsx` DataSource. An .xlsx is parsed from
    the open file (zipfile seeks to the parts it needs); a BIFF .xls is
    one compound stream, so it is read whole."""
    with _open_any(path) as fh:
        if path.lower().endswith(".xls"):
            yield from parse_xls_rows(fh.read(), sheet_prefix, formatted=formatted)
        else:
            yield from parse_xlsx_rows(fh, sheet_prefix, formatted=formatted)


def read_workbook_rows(
    spark: SparkSession,
    path: str,
    sheet_prefix: str | None = None,
    glob: str = "*.xls*",
    chunk_rows: int = 50_000,
    formatted: bool = False,
) -> DataFrame:
    """Distributed raw scan: every row of every matching sheet of every
    workbook under ``path`` → (_source_file, _sheet, _row_index,
    _cells array<string>).

    The JVM only lists the workbooks: the ``binaryFile`` read selects
    ``path``, so its ``content`` column is pruned and no workbook's bytes
    become a JVM row. Each task opens its own files (`parse_workbook`):
    zipfile reads the central directory, the shared strings and the
    matching sheet parts, the sheet XML streams through iterparse, and the
    parsed rows leave the task in ``chunk_rows``-sized Arrow batches —
    task memory is O(chunk + shared strings), NOT O(workbook bytes),
    matching the reference's bounded-memory streaming-scan claim for
    700 MB+ workbooks (SQLiteDirectImporter.java:330-379). Parallelism is
    per workbook: binaryFile packs the listed files into tasks by size.
    S1 discovery (glob, temp-file exclusion) rides on pathGlobFilter;
    `~*` lock files are excluded like the reference's findExcelFiles
    (:226-248).
    """
    # Executors may not have the repo on sys.path (the driver harness can
    # import this module by file path) — serialize the parse modules BY
    # VALUE so the mapInPandas closure carries its own code.
    import shuttlestandalonedbcreator_spark.sources.biff as _biff_module
    import shuttlestandalonedbcreator_spark.sources.excel as _self_module
    import shuttlestandalonedbcreator_spark.sources.numfmt as _numfmt_module
    from pyspark.cloudpickle import register_pickle_by_value

    for mod in (_biff_module, _self_module, _numfmt_module):
        register_pickle_by_value(mod)

    paths = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path")
        .filter(~F.element_at(F.split(F.col("path"), "/"), -1).startswith("~"))
    )

    def parse_partition(batches):
        import pandas as pd

        cols = ["_source_file", "_sheet", "_row_index", "_cells"]
        for pdf in batches:
            rows = []
            for path_value in pdf["path"]:
                fname = path_value.rsplit("/", 1)[-1]
                for sheet, row_idx, cells in parse_workbook(
                    path_value, sheet_prefix, formatted
                ):
                    rows.append((fname, sheet, row_idx, cells))
                    if len(rows) >= chunk_rows:
                        # bound task memory: flush a chunk mid-workbook
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    schema = "_source_file string, _sheet string, _row_index int, _cells array<string>"
    return paths.mapInPandas(parse_partition, schema=schema)


def read_transfer_reports(
    spark: SparkSession,
    path: str,
    sheet_prefix: str = "Transfer Report",
) -> DataFrame:
    """The reference's ingest scan (S1-S5): matching sheets, header row
    dropped, cells mapped POSITIONALLY onto the 19 RAW_COLUMNS (headers
    captured but never validated, :469-472, :511-513), short rows padded
    with '' (:512). Feed the result to plans.transfer_pipeline.ingest.

    ``_ingest_seq`` is the arrival order the upsert's last-write-wins
    follows. Within a workbook it is sheet order, then row order, so a
    retry listed on a later sheet wins. Across workbooks it is the order
    binaryFile packs the files into tasks: largest first. On the seed-1
    benchmark input, Job03 (440,543 B) arrived first and Job00
    (426,465 B) last. Like the reference's unsorted directory listing
    (:170-200), that order is not name order."""
    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS

    raw = read_workbook_rows(spark, path, sheet_prefix=sheet_prefix)
    no_header = raw.filter(F.col("_row_index") > 0)  # S5 per sheet
    cols = [
        # F.get (not getItem) → NULL past the end under ANSI; '' via coalesce
        F.coalesce(F.get(F.col("_cells"), i), F.lit("")).alias(name)
        for i, name in enumerate(RAW_COLUMNS)
    ]
    return no_header.select(
        *cols,
        F.col("_source_file"),
        # global arrival order: workbook, then sheet, then row
        F.monotonically_increasing_id().alias("_ingest_seq"),
    )


# ---------------------------------------------------------------------------
# writer (minimal OOXML, inline strings) + S9 / S10 tools
# ---------------------------------------------------------------------------

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{overrides}
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _col_letters(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def write_workbook(sheets: dict[str, list[list[str]]], path: str) -> None:
    """Write a minimal .xlsx with inline-string cells (driver-side util:
    test fixtures + the S9 single-sheet projection sink)."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        overrides, wb_sheets, wb_rels = [], [], []
        for i, (name, rows) in enumerate(sheets.items(), start=1):
            part = f"xl/worksheets/sheet{i}.xml"
            overrides.append(
                f'<Override PartName="/{part}" ContentType="application/vnd.'
                'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            )
            wb_sheets.append(
                f'<sheet name="{escape(name, {chr(34): "&quot;"})}" sheetId="{i}" r:id="rId{i}"/>'
            )
            wb_rels.append(
                f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/'
                f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>'
            )
            xml_rows = []
            for r, row in enumerate(rows, start=1):
                cells = "".join(
                    f'<c r="{_col_letters(ci)}{r}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{escape(str(v))}</t></is></c>"
                    for ci, v in enumerate(row)
                )
                xml_rows.append(f'<row r="{r}">{cells}</row>')
            zf.writestr(
                part,
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<worksheet xmlns="{_NS[1:-1]}"><sheetData>{"".join(xml_rows)}</sheetData></worksheet>',
            )
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(overrides="".join(overrides)))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{_NS[1:-1]}" xmlns:r="{_REL_NS[1:-1]}">'
            f'<sheets>{"".join(wb_sheets)}</sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{_PKG_REL_NS[1:-1]}">{"".join(wb_rels)}</Relationships>',
        )


def extract_sheet(
    spark: SparkSession, in_path: str, out_path: str, sheet_name: str = "Overview"
) -> int:
    """S9: write a new workbook containing ONLY ``sheet_name`` (exact-name
    select, TransferOverviewExtractor.java:259). Returns rows written."""
    rows_df = (
        read_workbook_rows(spark, in_path, sheet_prefix=None)
        .filter(F.col("_sheet") == sheet_name)
        .select("_row_index", "_cells")
        .orderBy("_row_index")
    )
    rows = [r["_cells"] for r in rows_df.collect()]
    write_workbook({sheet_name: rows}, out_path)
    return len(rows)


def inspect_columns(
    spark: SparkSession, path: str, max_rows: int = 1000, max_cols: int = 25
) -> DataFrame:
    """S10: peek scan — first ``max_rows`` rows, first ``max_cols`` columns
    (InspectColumnsStreaming.java:102,140)."""
    return (
        read_workbook_rows(spark, path, sheet_prefix=None)
        .filter(F.col("_row_index") < max_rows)
        .select(
            "_source_file",
            "_sheet",
            "_row_index",
            F.slice(F.col("_cells"), 1, max_cols).alias("_cells"),
        )
    )
