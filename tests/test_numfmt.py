"""DataFormatter-parity golden pack: number-format rendering pinned to
POI `DataFormatter.formatCellValue` semantics (half-up rounding, Excel
General significant digits, 1900-system date masks) — the reference
inserts these strings (SQLiteDirectImporter.java:457-465, :948-952)."""

import io
import zipfile

import pytest

from shuttlestandalonedbcreator_spark.sources.numfmt import (
    BUILTIN_FORMATS,
    format_number,
    is_date_format,
    parse_styles,
    serial_to_datetime,
)


@pytest.mark.parametrize(
    "raw,code,want",
    [
        # General — integers bare, trailing zeros trimmed
        ("7", None, "7"),
        ("7.0", "General", "7"),
        ("7.5", "General", "7.5"),
        ("0.1", "General", "0.1"),
        ("-3.25", "General", "-3.25"),
        # fixed decimals, HALF-UP (POI sets Excel-style rounding)
        ("2.5", "0", "3"),
        ("3.5", "0", "4"),  # half-even would give 4 too; 2.5->3 is the tell
        ("2.345", "0.00", "2.35"),
        ("1234.567", "0.00", "1234.57"),
        ("1", "0.00", "1.00"),
        # thousands grouping
        ("1234567", "#,##0", "1,234,567"),
        ("1234567.891", "#,##0.00", "1,234,567.89"),
        ("999", "#,##0", "999"),
        # percent
        ("0.42", "0%", "42%"),
        ("0.4256", "0.00%", "42.56%"),
        ("1.5", "0%", "150%"),
        # scientific
        ("12345", "0.00E+00", "1.23E+04"),
        ("0.0001234", "0.00E+00", "1.23E-04"),
        # optional-digit tail trimming
        ("1.5", "0.0#", "1.5"),
        ("1.56", "0.0#", "1.56"),
        # sections: negative in parens (builtin 37)
        ("-1234", "#,##0;(#,##0)", "(1,234)"),
        ("1234", "#,##0;(#,##0)", "1,234"),
        # default negative: minus prefix
        ("-2.345", "0.00", "-2.35"),
        # [Red] modifier stripped
        ("-12", "#,##0;[Red](#,##0)", "(12)"),
        # literal text
        ('3.5', '0.0" kg"', "3.5 kg"),
        # junk stays raw (defensive)
        ("abc", "0.00", "abc"),
    ],
)
def test_number_rendering(raw, code, want):
    assert format_number(raw, code) == want


@pytest.mark.parametrize(
    "raw,code,want",
    [
        # serial 45123 = 2023-07-16 (epoch 1899-12-30, serial >= 61 exact)
        ("45123", "m/d/yy", "7/16/23"),
        ("45123", "d-mmm-yy", "16-Jul-23"),
        ("45123", "mmm-yy", "Jul-23"),
        ("45123.5", "m/d/yy h:mm", "7/16/23 12:00"),
        ("45123.25", "h:mm AM/PM", "6:00 AM"),
        ("45123.75", "h:mm:ss AM/PM", "6:00:00 PM"),
        ("45123", "yyyy-mm-dd", "2023-07-16"),
        ("45123.604861111", "yyyy-mm-dd hh:mm:ss", "2023-07-16 14:31:00"),
        # elapsed hours past 24
        ("1.5", "[h]:mm:ss", "36:00:00"),
        # mm:ss — m reads as minutes next to s
        ("0.001041666667", "mm:ss", "01:30"),  # 90 seconds
        ("45123", "dddd", "Sunday"),
        ("45123", "ddd d mmmm yyyy", "Sun 16 July 2023"),
    ],
)
def test_date_rendering(raw, code, want):
    assert format_number(raw, code) == want


def test_is_date_format_classification():
    assert is_date_format("m/d/yy")
    assert is_date_format("yyyy-mm-dd hh:mm:ss")
    assert is_date_format("[h]:mm:ss")
    assert not is_date_format("0.00")
    assert not is_date_format("#,##0;[Red](#,##0)")
    assert not is_date_format("0%")
    assert not is_date_format('0.0" m"')  # quoted m is a literal


def test_serial_epoch_matches_spark_function(spark):
    """Python-side serial conversion must agree with
    functions/dates.py:excel_serial_to_timestamp (same POI 1900 epoch)."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.functions.dates import (
        excel_serial_to_timestamp,
    )

    serials = [61.0, 45123.0, 45123.604861111, 40000.25]
    df = spark.createDataFrame([(s,) for s in serials], "s double").select(
        excel_serial_to_timestamp(F.col("s")).alias("ts")
    )
    got = [r["ts"].replace(tzinfo=None) for r in df.collect()]
    want = [serial_to_datetime(s) for s in serials]
    assert got == want


def _styled_workbook() -> bytes:
    """Minimal xlsx with cellXfs: s=0 General, s=1 builtin 9 (0%),
    s=2 custom percent, s=3 builtin 14 date, s=4 custom date-time."""
    ct = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.'
        'org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxml'
        'formats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="applica'
        'tion/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/styles.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.styles+xml"/></Types>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxml'
        'formats.org/package/2006/relationships"><Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relation'
        'ships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    wb = (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.'
        'org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships"><sheets>'
        '<sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxml'
        'formats.org/package/2006/relationships"><Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relation'
        'ships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'
    )
    styles = (
        '<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxml'
        'formats.org/spreadsheetml/2006/main"><numFmts count="2">'
        '<numFmt numFmtId="164" formatCode="0.00%"/>'
        '<numFmt numFmtId="165" formatCode="yyyy-mm-dd hh:mm"/></numFmts>'
        '<cellXfs count="5">'
        '<xf numFmtId="0"/><xf numFmtId="9"/><xf numFmtId="164"/>'
        '<xf numFmtId="14"/><xf numFmtId="165"/></cellXfs></styleSheet>'
    )
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns="http://schemas.openxml'
        'formats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1">'
        '<c r="A1"><v>7.5</v></c>'
        '<c r="B1" s="1"><v>0.42</v></c>'
        '<c r="C1" s="2"><v>0.4256</v></c>'
        '<c r="D1" s="3"><v>45123</v></c>'
        '<c r="E1" s="4"><v>45123.5</v></c>'
        '<c r="F1" t="b"><v>1</v></c>'
        '<c r="G1" t="inlineStr"><is><t>txt</t></is></c>'
        "</row></sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/styles.xml", styles)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def test_formatted_scan_renders_via_styles():
    """End-to-end S2 option: formatted=True routes numeric cells through
    their style's format code; raw scan keeps stored strings; strings and
    booleans follow DataFormatter (verbatim / TRUE-FALSE)."""
    from shuttlestandalonedbcreator_spark.sources.excel import parse_xlsx_rows

    data = _styled_workbook()
    raw = list(parse_xlsx_rows(io.BytesIO(data)))
    assert raw[0][2] == ["7.5", "0.42", "0.4256", "45123", "45123.5", "1", "txt"]
    fmt = list(parse_xlsx_rows(io.BytesIO(data), formatted=True))
    assert fmt[0][2] == [
        "7.5",          # General
        "42%",          # builtin 9
        "42.56%",       # custom 164
        "7/16/23",      # builtin 14 (m/d/yy)
        "2023-07-16 12:00",  # custom date-time
        "TRUE",         # boolean
        "txt",          # string verbatim
    ]


def test_parse_styles_builtin_and_custom():
    styles = (
        '<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxml'
        'formats.org/spreadsheetml/2006/main">'
        '<numFmts><numFmt numFmtId="200" formatCode="0.0&quot;x&quot;"/>'
        "</numFmts>"
        '<cellXfs><xf numFmtId="0"/><xf numFmtId="4"/><xf numFmtId="200"/>'
        "</cellXfs></styleSheet>"
    ).encode()
    got = parse_styles(styles)
    assert got == ["General", BUILTIN_FORMATS[4], '0.0"x"']


def test_formatted_biff_scan_renders_via_xf_records(tmp_path):
    """S3 DataFormatter parity: .xls cells carry an ixfe into the XF
    list; FORMAT records map ifmt → code. formatted=True renders RK /
    NUMBER / FORMULA numerics through the same numfmt renderer as the
    xlsx path; default scan stays raw."""
    from shuttlestandalonedbcreator_spark.sources.biff import (
        parse_xls_rows,
        write_xls,
    )

    path = str(tmp_path / "f.xls")
    write_xls(
        {
            "S": [
                [0.42, 1234567, 45123.0, 7.5, "txt"],
            ]
        },
        path,
        cell_formats={
            ("S", 0, 0): "0.00%",
            ("S", 0, 1): "#,##0",
            ("S", 0, 2): "yyyy-mm-dd",
            # (0,3) no format -> General; (0,4) string unaffected
        },
    )
    data = open(path, "rb").read()
    raw = list(parse_xls_rows(data))
    assert raw[0][2] == ["0.42", "1234567", "45123", "7.5", "txt"]
    fmt = list(parse_xls_rows(data, formatted=True))
    assert fmt[0][2] == ["42.00%", "1,234,567", "2023-07-16", "7.5", "txt"]


def test_formatted_scan_mixed_xls_xlsx(spark, tmp_path):
    """The distributed scan formats BOTH file types through one option."""
    from shuttlestandalonedbcreator_spark.sources.biff import write_xls
    from shuttlestandalonedbcreator_spark.sources.excel import (
        read_workbook_rows,
    )

    write_xls(
        {"S": [[0.5]]}, str(tmp_path / "a.xls"),
        cell_formats={("S", 0, 0): "0%"},
    )
    with open(str(tmp_path / "b.xlsx"), "wb") as fh:
        fh.write(_styled_workbook())
    rows = {
        (r["_source_file"], tuple(r["_cells"]))
        for r in read_workbook_rows(spark, str(tmp_path), formatted=True).collect()
    }
    assert ("a.xls", ("50%",)) in rows
    assert (
        "b.xlsx",
        ("7.5", "42%", "42.56%", "7/16/23", "2023-07-16 12:00", "TRUE", "txt"),
    ) in rows
