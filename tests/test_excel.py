"""Excel source/sink tests: round-trip through the stdlib OOXML
writer/reader, distributed scan semantics (sheet filter, header skip,
positional mapping, short-row padding), the full Excel→pipeline flow, and
the S9/S10 tools."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS, ingest
from shuttlestandalonedbcreator_spark.sources.excel import (
    extract_sheet,
    inspect_columns,
    read_transfer_reports,
    read_workbook_rows,
    write_workbook,
)


def _report_rows(rows):
    header = [c.replace("_", " ").title() for c in RAW_COLUMNS]
    return [header, *rows]


@pytest.fixture(scope="module")
def workbook_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("workbooks")
    r1 = ["/A", "", "", "10"] + [""] * 15
    r2 = ["/A/f1.pdf", "100", "90", "11"] + [""] * 11 + ["failed", "", "", ""]
    short = ["/A/short.pdf", "5", "", "12"]  # trailing cells absent
    # the same key listed again on the later sheet: this retry must win
    retry = r2[:15] + ["success", "", "", ""]
    write_workbook(
        {
            "Transfer Report 1": _report_rows([r1, r2]),
            "Transfer Report 2": _report_rows([short, retry]),
            "Overview": [["summary", "ignored"], ["x", "y"]],
        },
        str(d / "JobA.xlsx"),
    )
    write_workbook(
        {"Transfer Report": _report_rows([["/B/f9.pdf", "7", "", "20"] + [""] * 15])},
        str(d / "JobB.xlsx"),
    )
    # temp lock file must be skipped (S1, reference :226-248)
    write_workbook({"Transfer Report": _report_rows([["/X", "1", "", "9"]])}, str(d / "~lock.xlsx"))
    return str(d)


def test_raw_scan_sheets_and_rows(spark, workbook_dir):
    df = read_workbook_rows(spark, workbook_dir, sheet_prefix="Transfer Report")
    got = df.groupBy("_source_file", "_sheet").count().collect()
    by_key = {(r["_source_file"], r["_sheet"]): r["count"] for r in got}
    # Overview filtered out; ~lock.xlsx skipped; header rows still counted here
    assert by_key == {
        ("JobA.xlsx", "Transfer Report 1"): 3,
        ("JobA.xlsx", "Transfer Report 2"): 3,
        ("JobB.xlsx", "Transfer Report"): 2,
    }
    # no matching sheet: an empty frame with the same columns
    none = read_workbook_rows(spark, workbook_dir, sheet_prefix="Nope")
    assert none.count() == 0 and none.columns == df.columns


def test_scan_never_ships_workbook_bytes_through_the_jvm(spark, workbook_dir):
    """The binaryFile read lists paths only: its `content` column is
    pruned from the scan, so a workbook of any size never becomes one JVM
    row — each task opens its own files instead."""
    df = read_transfer_reports(spark, workbook_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    (scan,) = [line for line in plan.splitlines() if "FileScan binaryFile" in line]
    assert scan.endswith("ReadSchema: struct<path:string>")


def test_raw_scan_chunked_flush_preserves_rows(spark, workbook_dir):
    """Bounded-memory scan: with chunk_rows=2 every workbook flushes
    multiple mid-file Arrow batches (task memory is O(chunk), not
    O(workbook rows) — the reference's 700 MB+ workbook claim). Results
    must be IDENTICAL to the unchunked scan, including row indexes
    across chunk boundaries."""
    base = read_workbook_rows(spark, workbook_dir, sheet_prefix="Transfer Report")
    chunked = read_workbook_rows(
        spark, workbook_dir, sheet_prefix="Transfer Report", chunk_rows=2
    )
    key = ["_source_file", "_sheet", "_row_index"]
    assert sorted(map(tuple, base.select(*key, "_cells").collect())) == sorted(
        map(tuple, chunked.select(*key, "_cells").collect())
    )


def test_transfer_scan_positional_and_padding(spark, workbook_dir):
    df = read_transfer_reports(spark, workbook_dir)
    collected = df.collect()
    assert len(collected) == 5  # headers dropped per sheet
    rows = {r["file_name"]: r for r in collected}
    assert sorted(
        r["file_status"] for r in collected if r["file_name"] == "/A/f1.pdf"
    ) == ["failed", "success"]  # position 15
    assert rows["/A/short.pdf"]["errors"] == ""  # short row padded with ''
    assert rows["/A/short.pdf"]["target_file_id"] == "12"
    assert rows["/B/f9.pdf"]["_source_file"] == "JobB.xlsx"


def test_excel_to_pipeline_end_to_end(spark, workbook_dir):
    out = ingest(read_transfer_reports(spark, workbook_dir))
    rows = {r["file_name"]: r for r in out.collect()}
    assert rows["/A/f1.pdf"]["source_file_size"] == 100  # typed
    assert rows["/A/f1.pdf"]["parent_id"] == "10"  # J1 resolved
    assert rows["/A/f1.pdf"]["job_name"] == "JobA"  # F3 from workbook name
    assert rows["/A/f1.pdf"]["level"] == 2


def test_later_sheet_retry_wins_upsert(spark, workbook_dir):
    """Last-write-wins follows arrival order: a key listed on "Transfer
    Report 1" and again on "Transfer Report 2" keeps the later sheet's
    row (the reference reads sheets in workbook order, :349-379)."""
    out = ingest(read_transfer_reports(spark, workbook_dir))
    f1 = out.filter(F.col("file_name") == "/A/f1.pdf").collect()
    assert len(f1) == 1
    assert f1[0]["file_status"] == "success"


def test_extract_overview_sheet(spark, workbook_dir, tmp_path):
    out_path = str(tmp_path / "Overview-JobA.xlsx")
    n = extract_sheet(spark, workbook_dir + "/JobA.xlsx", out_path, "Overview")
    assert n == 2
    back = read_workbook_rows(spark, out_path).collect()
    assert {r["_sheet"] for r in back} == {"Overview"}
    assert sorted(r["_cells"] for r in back) == [["summary", "ignored"], ["x", "y"]]


def test_inspect_columns_caps(spark, workbook_dir):
    df = inspect_columns(spark, workbook_dir + "/JobA.xlsx", max_rows=2, max_cols=3)
    rows = df.collect()
    assert all(r["_row_index"] < 2 for r in rows)
    assert all(len(r["_cells"]) <= 3 for r in rows)


def test_xls_biff_scan_mixed_with_xlsx(spark, tmp_path):
    # S3: binary .xls parses through the same distributed scan as .xlsx
    from shuttlestandalonedbcreator_spark.sources.biff import write_xls

    write_xls(
        {
            "Transfer Report 1": [
                ["header", "h2", "h3"],
                ["/a/ü.txt", 100, 45123.5],
                ["/a/v.txt", -7, ""],
            ],
            "Overview": [["skip me"]],
        },
        str(tmp_path / "legacy.xls"),
    )
    write_workbook(
        {"Transfer Report 2": [["header"], ["/b/x.txt"]]},
        str(tmp_path / "modern.xlsx"),
    )
    df = read_workbook_rows(spark, str(tmp_path), sheet_prefix="Transfer Report")
    rows = {
        (r["_source_file"], r["_sheet"], r["_row_index"]): r["_cells"]
        for r in df.collect()
    }
    assert len(rows) == 5  # 3 + 2 data rows; Overview filtered
    assert rows[("legacy.xls", "Transfer Report 1", 1)] == ["/a/ü.txt", "100", "45123.5"]
    assert rows[("legacy.xls", "Transfer Report 1", 2)] == ["/a/v.txt", "-7", ""]
    assert rows[("modern.xlsx", "Transfer Report 2", 1)] == ["/b/x.txt"]


def test_biff_sst_continue_spanning():
    # SST strings split across CONTINUE records, with the compression flag
    # re-specified per fragment ([MS-XLS] 2.5.293) — both byte widths
    import struct

    from shuttlestandalonedbcreator_spark.sources import biff

    s1, s2 = "abcdef", "ghíjkl"  # second needs UTF-16 in fragment 2
    head = struct.pack("<II", 2, 2)
    # string 1: starts compressed, splits after 3 chars
    frag1 = head + struct.pack("<HB", len(s1), 0) + b"abc"
    # continue: rest of string 1 (flags byte 0), then string 2 header +
    # first 2 chars compressed... string 2 splits mid-string too
    frag2 = b"\x00def" + struct.pack("<HB", len(s2), 0) + b"gh"
    # continue: rest of string 2, uncompressed fragment (flag 1)
    frag3 = b"\x01" + "íjkl".encode("utf-16-le")
    assert biff._parse_sst([frag1, frag2, frag3]) == [s1, s2]


def _handbuilt_xls(sheet_records: bytes) -> bytes:
    """Minimal one-sheet .xls: globals (BOUNDSHEET pointing at the sheet
    BOF) + the given sheet cell records, wrapped in a CFB container."""
    import struct

    from shuttlestandalonedbcreator_spark.sources import biff

    bs_payload = struct.pack("<IBB", 0, 0, 0) + biff._short_xl_string("S")
    globals_part = (
        biff._bof(0x0005)
        + biff._rec(biff.R_BOUNDSHEET, bs_payload)
        + biff._rec(biff.R_EOF, b"")
    )
    bs_fixed = struct.pack("<IBB", len(globals_part), 0, 0) + biff._short_xl_string("S")
    globals_part = (
        biff._bof(0x0005)
        + biff._rec(biff.R_BOUNDSHEET, bs_fixed)
        + biff._rec(biff.R_EOF, b"")
    )
    sheet = biff._bof(0x0010) + sheet_records + biff._rec(biff.R_EOF, b"")
    return biff.wrap_cfb(globals_part + sheet)


def test_biff_rstring_and_per_cell_error_tolerance():
    """Legacy RSTRING records parse like LABEL (runs ignored), and a
    malformed cell record skips THAT record only (E1): surrounding cells
    survive, the error is reported to the caller's sink."""
    import struct

    from shuttlestandalonedbcreator_spark.sources import biff

    recs = (
        # RSTRING at (0,0): LABEL layout + 1 formatting run appended
        biff._rec(
            biff.R_RSTRING,
            struct.pack("<HHH", 0, 0, 0) + biff._xl_string("rich") + b"\x01\x00\x00\x00",
        )
        # malformed NUMBER at row 1: payload truncated mid-double
        + biff._rec(biff.R_NUMBER, struct.pack("<HH", 1, 0) + b"\x00\x00\x01")
        # healthy BOOLERR at (2,0) AFTER the bad record
        + biff._rec(biff.R_BOOLERR, struct.pack("<HHHBB", 2, 0, 0, 1, 0))
    )
    errors: list = []
    rows = list(biff.parse_xls_rows(_handbuilt_xls(recs), errors=errors))
    assert rows == [("S", 0, ["rich"]), ("S", 1, ["TRUE"])]
    assert len(errors) == 1 and errors[0][0] == "S" and errors[0][1] == biff.R_NUMBER


def test_biff_corrupt_container_raises_valueerror():
    """Corruption never escapes as struct.error/IndexError or hangs:
    truncated CFB and corrupt workbook globals both surface as ValueError
    (the per-FILE E2 contract), bad magic keeps its specific message."""
    import pytest

    from shuttlestandalonedbcreator_spark.sources import biff

    good = _handbuilt_xls(b"")
    with pytest.raises(ValueError, match="bad magic"):
        biff.cfb_streams(b"\x00" * 100)
    with pytest.raises(ValueError):
        # cut mid-FAT: header parses, sector reads come back short
        biff.cfb_streams(good[:600])
    # self-pointing DIFAT chain + huge num_difat must terminate with
    # ValueError, not spin for 2^32 iterations
    import struct as _s

    looped = bytearray(good)
    sector_size = 1 << _s.unpack_from("<H", looped, 30)[0]
    _s.pack_into("<I", looped, 68, 0)  # first DIFAT sector = sector 0
    _s.pack_into("<I", looped, 72, 0xFFFFFFFE)  # absurd num_difat
    # sector 0's chain pointer (its last uint) points back to sector 0
    _s.pack_into("<I", looped, (0 + 1) * sector_size + sector_size - 4, 0)
    with pytest.raises(ValueError):
        biff.cfb_streams(bytes(looped))
    # corrupt globals: truncated BOUNDSHEET payload
    bad_globals = (
        biff._bof(0x0005)
        + biff._rec(biff.R_BOUNDSHEET, b"\x01\x00")
        + biff._rec(biff.R_EOF, b"")
    )
    with pytest.raises(ValueError, match="globals"):
        list(biff.parse_xls_rows(biff.wrap_cfb(bad_globals)))


def test_biff_rk_decode():
    from shuttlestandalonedbcreator_spark.sources.biff import _decode_rk

    # int, int/100, double, double/100 variants
    assert _decode_rk((100 << 2) | 0x02) == 100
    assert _decode_rk((12345 << 2) | 0x03) == 123.45
    import struct

    bits = struct.unpack("<Q", struct.pack("<d", 2.5))[0]
    assert _decode_rk((bits >> 32) & 0xFFFFFFFC) == 2.5
    assert _decode_rk(((bits >> 32) & 0xFFFFFFFC) | 0x01) == 0.025
    assert _decode_rk(((-5 & 0x3FFFFFFF) << 2) | 0x02) == -5


def test_xls_end_to_end_pipeline(spark, tmp_path):
    # .xls rows flow through the same typed ingest as .xlsx (P1 parity)
    from shuttlestandalonedbcreator_spark.sources.biff import write_xls

    header = [c.replace("_", " ").title() for c in RAW_COLUMNS]
    row = ["/A/f1.pdf", "100", "90", "11"] + [""] * 11 + ["success", "", "", ""]
    write_xls({"Transfer Report 1": [header, row]}, str(tmp_path / "JobC.xls"))
    raw = read_transfer_reports(spark, str(tmp_path))
    typed = ingest(raw)
    out = typed.collect()
    assert len(out) == 1
    assert out[0]["source_file_size"] == 100
    assert out[0]["job_name"] == "JobC"


def test_xlsx_python_datasource_matches_mapinpandas_scan(spark, workbook_dir):
    """spark.read.format('xlsx') (Spark 4 Python DataSource) returns the
    exact rows of the binaryFile+mapInPandas scan, partitioned one task
    per workbook, with S1 discovery semantics (glob + ~lock exclusion)."""
    from shuttlestandalonedbcreator_spark.sources.xlsx_datasource import (
        register_xlsx_source,
    )

    register_xlsx_source(spark)
    ds = (
        spark.read.format("xlsx")
        .option("sheetPrefix", "Transfer Report")
        .load(workbook_dir)
    )
    ref = read_workbook_rows(spark, workbook_dir, sheet_prefix="Transfer Report")

    def canon(df):
        return sorted(
            (r["_source_file"], r["_sheet"], r["_row_index"], tuple(r["_cells"]))
            for r in df.collect()
        )

    assert canon(ds) == canon(ref)
    # one partition per (non-temp) workbook
    assert ds.rdd.getNumPartitions() == 2


def _zip_replace(path, replacements):
    """Rebuild the zip at ``path`` with some entries' bytes replaced
    (zipfile append-mode would leave duplicate entries)."""
    import os
    import zipfile

    tmp = path + ".tmp"
    with zipfile.ZipFile(path) as zin, zipfile.ZipFile(tmp, "w") as zout:
        for info in zin.infolist():
            data = replacements.get(info.filename, None)
            if data is None:
                data = zin.read(info.filename)
            zout.writestr(info.filename, data)
    os.replace(tmp, path)


def _with_calcchain_override(src):
    import zipfile

    with zipfile.ZipFile(src) as zf:
        ct = zf.read("[Content_Types].xml").decode()
    return ct.replace(
        "</Types>",
        '<Override PartName="/xl/calcChain.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.calcChain+xml"/>'
        "</Types>",
    ).encode()


def test_extract_sheet_preserving_charts_and_media(tmp_path):
    """S9 byte fidelity (TransferOverviewExtractor.java:303-478): the
    ZIP-copy extractor must keep charts/drawings/media/styles
    byte-identical, keep ONLY the target worksheet part, rewrite
    workbook.xml to the single sheet (sheetId forced to 1), drop the
    other worksheet relationships, and filter their Content_Types
    overrides; the result must still round-trip through our own scan."""
    import zipfile

    from shuttlestandalonedbcreator_spark.sources.excel import (
        parse_xlsx_rows,
        write_workbook,
    )
    from shuttlestandalonedbcreator_spark.sources.overview_extractor import (
        extract_sheet_preserving,
    )

    src = str(tmp_path / "report.xlsx")
    write_workbook(
        {
            "Data1": [["a", "1"], ["b", "2"]],
            "Overview": [["Job", "Count"], ["alpha", "7"]],
            "Data2": [["x"]],
        },
        src,
    )
    chart = b'<?xml version="1.0"?><chartSpace>chart bytes</chartSpace>'
    drawing = b'<?xml version="1.0"?><xdr:wsDr>drawing</xdr:wsDr>'
    media = b"\x89PNG fake image payload \x00\x01\x02"
    styles = b'<?xml version="1.0"?><styleSheet/>'
    sheet_rels = (
        b'<?xml version="1.0"?><Relationships xmlns="http://schemas.openxml'
        b'formats.org/package/2006/relationships"><Relationship Id="rId1" '
        b'Type="http://schemas.openxmlformats.org/officeDocument/2006/relat'
        b'ionships/drawing" Target="../drawings/drawing1.xml"/></Relationships>'
    )
    with zipfile.ZipFile(src, "a") as zf:
        zf.writestr("xl/charts/chart1.xml", chart)
        zf.writestr("xl/drawings/drawing1.xml", drawing)
        zf.writestr("xl/drawings/_rels/drawing1.xml.rels", b"<Relationships/>")
        zf.writestr("xl/media/image1.png", media)
        zf.writestr("xl/styles.xml", styles)
        zf.writestr("xl/worksheets/_rels/sheet2.xml.rels", sheet_rels)
        zf.writestr("xl/worksheets/_rels/sheet1.xml.rels", b"<Relationships/>")
        zf.writestr("xl/calcChain.xml", b"<calcChain/>")

    # give calcChain a REAL Content_Types Override so a dangling entry
    # would be observable in the output (ADVICE r3: only worksheet
    # overrides were filtered before)
    _zip_replace(src, {
        "[Content_Types].xml": _with_calcchain_override(src),
    })

    out = str(tmp_path / "report_Overview.xlsx")
    assert extract_sheet_preserving(src, out, "Overview") is True

    with zipfile.ZipFile(out) as zf:
        names = set(zf.namelist())
        # preserved byte-for-byte
        assert zf.read("xl/charts/chart1.xml") == chart
        assert zf.read("xl/drawings/drawing1.xml") == drawing
        assert zf.read("xl/media/image1.png") == media
        assert zf.read("xl/styles.xml") == styles
        assert zf.read("xl/worksheets/_rels/sheet2.xml.rels") == sheet_rels
        # only the Overview worksheet part (sheet2) survives
        sheets = {n for n in names if n.startswith("xl/worksheets/") and n.endswith(".xml")}
        assert sheets == {"xl/worksheets/sheet2.xml"}
        assert "xl/worksheets/_rels/sheet1.xml.rels" not in names
        assert "xl/calcChain.xml" not in names
        wb = zf.read("xl/workbook.xml").decode()
        assert wb.count("<sheet ") == 1
        assert 'name="Overview"' in wb and 'sheetId="1"' in wb and 'r:id="rId2"' in wb
        rels = zf.read("xl/_rels/workbook.xml.rels").decode()
        assert "sheet2.xml" in rels and "sheet1.xml" not in rels and "sheet3.xml" not in rels
        ct = zf.read("[Content_Types].xml").decode()
        assert "/xl/worksheets/sheet2.xml" in ct
        assert "/xl/worksheets/sheet1.xml" not in ct and "/xl/worksheets/sheet3.xml" not in ct
        # EVERY skipped part's Override is filtered, not just worksheets
        assert "calcChain" not in ct

    # the artifact is still a readable workbook: our scan sees ONLY Overview
    with open(out, "rb") as fh:
        got = list(parse_xlsx_rows(fh))
    assert [(s, i, c) for s, i, c in got] == [
        ("Overview", 0, ["Job", "Count"]),
        ("Overview", 1, ["alpha", "7"]),
    ]

    # absent sheet: report False, write nothing (reference :221-224)
    missing_out = str(tmp_path / "nope.xlsx")
    assert extract_sheet_preserving(src, missing_out, "NoSuchSheet") is False
    import os

    assert not os.path.exists(missing_out)


def test_extract_sheet_preserving_handles_paired_sheet_elements(tmp_path):
    """Some OOXML writers emit <sheet ...></sheet> instead of the
    self-closing form; the workbook.xml rewrite must drop non-target
    sheets in BOTH spellings (ADVICE r3: paired elements survived,
    leaving dangling sheet entries whose parts were removed)."""
    import re as _re
    import zipfile

    from shuttlestandalonedbcreator_spark.sources.excel import (
        parse_xlsx_rows,
        write_workbook,
    )
    from shuttlestandalonedbcreator_spark.sources.overview_extractor import (
        extract_sheet_preserving,
    )

    src = str(tmp_path / "paired.xlsx")
    write_workbook(
        {"Data1": [["a"]], "Overview": [["Job"], ["alpha"]]}, src
    )
    with zipfile.ZipFile(src) as zf:
        wb = zf.read("xl/workbook.xml").decode()
    paired = _re.sub(r"(<sheet\b[^>]*?)\s*/>", r"\1></sheet>", wb)
    assert "</sheet>" in paired
    _zip_replace(src, {"xl/workbook.xml": paired.encode()})

    out = str(tmp_path / "out.xlsx")
    assert extract_sheet_preserving(src, out, "Overview") is True
    with zipfile.ZipFile(out) as zf:
        wb_out = zf.read("xl/workbook.xml").decode()
        assert wb_out.count("<sheet ") == 1
        assert 'name="Overview"' in wb_out and 'name="Data1"' not in wb_out
    with open(out, "rb") as fh:
        got = list(parse_xlsx_rows(fh))
    assert [(s, i, c) for s, i, c in got] == [
        ("Overview", 0, ["Job"]),
        ("Overview", 1, ["alpha"]),
    ]


def test_xlsx_python_datasource_write_roundtrip(spark, tmp_path):
    """df.write.format('xlsx'): one part workbook per task, header row,
    overwrite via staged _temporary rename; reading the directory back
    through the same DataSource recovers every row."""
    from shuttlestandalonedbcreator_spark.sources.xlsx_datasource import (
        register_xlsx_source,
    )

    import os

    register_xlsx_source(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", None), (3, "g<&>amma", 0.25)],
        "id long, name string, score double",
    )
    df.repartition(2).write.format("xlsx").mode("append").save(out)

    parts = [f for f in os.listdir(out) if f.endswith(".xlsx")]
    assert 1 <= len(parts) <= 2 and all(f.startswith("part-") for f in parts)
    assert not os.path.exists(os.path.join(out, "_temporary"))

    back = spark.read.format("xlsx").load(out)
    rows = back.collect()
    headers = [tuple(r["_cells"]) for r in rows if r["_row_index"] == 0]
    assert headers == [("id", "name", "score")] * len(parts)
    data = sorted(
        tuple(r["_cells"]) for r in rows if r["_row_index"] > 0
    )
    assert data == [
        ("1", "alpha", "1.5"), ("2", "beta", ""), ("3", "g<&>amma", "0.25"),
    ]

    # overwrite replaces the old part files, not merges with them
    df2 = spark.createDataFrame([(9, "only", 9.0)], "id long, name string, score double")
    df2.coalesce(1).write.format("xlsx").mode("overwrite").save(out)
    back2 = spark.read.format("xlsx").load(out)
    data2 = sorted(tuple(r["_cells"]) for r in back2.collect() if r["_row_index"] > 0)
    assert data2 == [("9", "only", "9.0")]
