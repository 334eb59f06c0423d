"""700 MB+ workbook rehearsal — the reference's single headline capacity
claim (README.md:45, CLAUDE.md:7: "streams 700 MB+ Excel workbooks"),
exercised at its stated size.

Streams ONE multi-sheet .xlsx of the requested size to disk (a REAL
sharedStrings-based workbook, the layout POI writes: every string lives
in xl/sharedStrings.xml and sheet cells are `t="s"` index references),
then runs the full reference pipeline on it:

    read_transfer_reports (the per-file scan: one task opens the
      workbook and streams its sheets)
      -> positional RAW_COLUMNS projection (S5 header skip)
      -> plans.transfer_pipeline.ingest (P1/F1-F4/A1/J1)
      -> partitioned parquet sink

and prints one JSON line with file size, rows, wall clocks, rows/s,
and peak driver/JVM RSS. Set SPARK_DRIVER_MEMORY to check the memory
bound: the JVM never holds workbook bytes, so the heap need not fit the
workbook.

Generation is O(chunk) memory: sheet XML and the sharedStrings part are
streamed into the zip entry-by-entry; string indices are assigned
arithmetically (fixed pool for repeated cells, per-row unique strings
in row order) so no string table is ever held in memory.

Usage: python tools/workbook700_bench.py [target_mb] [n_sheets]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import zipfile
from xml.sax.saxutils import escape

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

# fixed pool of repeated cell values (sst indices 0..len-1)
_POOL = (
    ["acct-src", "acct-tgt", "md5", "done", "success", "failed", "", "timeout"]
    + [f"user{i}" for i in range(13)]
)
_POOL_IDX = {v: i for i, v in enumerate(_POOL)}
_UNIQUE_PER_ROW = 3  # path, checksum, translated name


def _col_letters(ci: int) -> str:
    s = ""
    ci += 1
    while ci:
        ci, r = divmod(ci - 1, 26)
        s = chr(65 + r) + s
    return s


def _row_cells_builder():
    """Returns g -> [(kind, value)] per RAW_COLUMNS position: kind 'n'
    numeric literal, 's' pooled shared string, 'u' per-row unique shared
    string (value is its offset). Import + column-order resolution
    happen ONCE — this runs in the ~3M-row generation hot loop."""
    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS

    def cells_for(g: int) -> dict:
        return {
            "file_name": ("u", 0),
            "source_file_size": ("n", (g * 37) % 5_000_000),
            "target_file_size": ("n", (g * 37) % 5_000_000),
            "target_file_id": ("n", 10_000_000 + g),
            "source_account": ("s", "acct-src"),
            "target_account": ("s", "acct-tgt"),
            "creation_time": ("n", 44000 + (g % 900)),
            "source_last_modified_by": ("s", f"user{g % 13}"),
            "source_last_modification_time": ("n", 44100 + (g % 900)),
            "target_last_modification_time": ("n", 45000.5),
            "last_access_time": ("n", 44500.25),
            "start_time": ("n", 44600),
            "transfer_time": ("n", 44601),
            "checksum_method": ("s", "md5"),
            "checksum": ("u", 1),
            "file_status": ("s", "success" if g % 7 else "failed"),
            "errors": ("s", "" if g % 7 else "timeout"),
            "status": ("s", "done"),
            "translated_file_name": ("u", 2),
        }

    cols = list(RAW_COLUMNS)

    def build(g: int) -> list[tuple[str, object]]:
        c = cells_for(g)
        return [c[name] for name in cols]

    return build


def _unique_strings(g: int) -> list[str]:
    """The _UNIQUE_PER_ROW per-row strings, in offset order. The checksum
    is 8 chained md5 hexes (256 near-incompressible chars) so the file
    reaches POI-export density instead of deflating away."""
    h = hashlib.md5(str(g).encode()).hexdigest()
    checksum = "".join(
        hashlib.md5((h + str(k)).encode()).hexdigest() for k in range(8)
    )
    path = f"/jobs/batch{g % 31}/dir{g % 97}/sub{g % 1009}/file_{g}_{h[:12]}.dat"
    return [path, checksum, path.rsplit("/", 1)[-1]]


def generate(path: str, rows_per_sheet: int, n_sheets: int) -> int:
    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import RAW_COLUMNS

    _row_cells = _row_cells_builder()
    header_base = len(_POOL)  # header strings: one per column
    row_base = header_base + len(RAW_COLUMNS)
    total_rows = rows_per_sheet * n_sheets

    def u_idx(g: int, off: int) -> int:
        return row_base + g * _UNIQUE_PER_ROW + off

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        def _deflated(name: str) -> zipfile.ZipInfo:
            zi = zipfile.ZipInfo(name)
            zi.compress_type = zipfile.ZIP_DEFLATED  # ZipInfo defaults to STORED
            return zi

        # sharedStrings: pool + headers + per-row uniques, streamed
        with zf.open(_deflated("xl/sharedStrings.xml"), "w", force_zip64=True) as f:
            n_sst = row_base + total_rows * _UNIQUE_PER_ROW
            # count = TOTAL string-cell references (strict consumers like
            # POI validate it), not the unique count: per-row s/u cells
            # plus one header reference per column per sheet
            str_per_row = sum(1 for kind, _v in _row_cells(0) if kind != "n")
            n_refs = total_rows * str_per_row + n_sheets * len(RAW_COLUMNS)
            f.write(
                b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            )
            f.write(
                f'<sst xmlns="{_NS}" count="{n_refs}" uniqueCount="{n_sst}">'.encode()
            )
            buf = []
            for v in list(_POOL) + list(RAW_COLUMNS):
                buf.append(f'<si><t xml:space="preserve">{escape(v)}</t></si>')
            for g in range(total_rows):
                for v in _unique_strings(g):
                    buf.append(f"<si><t>{escape(v)}</t></si>")
                if len(buf) >= 30_000:
                    f.write("".join(buf).encode())
                    buf = []
            buf.append("</sst>")
            f.write("".join(buf).encode())

        overrides, wb_sheets, wb_rels = [], [], []
        for s in range(1, n_sheets + 1):
            part = f"xl/worksheets/sheet{s}.xml"
            overrides.append(
                f'<Override PartName="/{part}" ContentType="application/vnd.'
                "openxmlformats-officedocument.spreadsheetml.worksheet+xml\"/>"
            )
            wb_sheets.append(
                f'<sheet name="Transfer Report {s}" sheetId="{s}" r:id="rId{s}"/>'
            )
            wb_rels.append(
                f'<Relationship Id="rId{s}" Type="http://schemas.openxmlformats.org/'
                f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{s}.xml"/>'
            )
            with zf.open(_deflated(part), "w", force_zip64=True) as f:
                f.write(
                    b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                )
                f.write(f'<worksheet xmlns="{_NS}"><sheetData>'.encode())
                hdr = "".join(
                    f'<c r="{_col_letters(ci)}1" t="s"><v>{header_base + ci}</v></c>'
                    for ci in range(len(RAW_COLUMNS))
                )
                buf = [f'<row r="1">{hdr}</row>']
                for i in range(rows_per_sheet):
                    g = (s - 1) * rows_per_sheet + i
                    r = i + 2
                    cells = []
                    for ci, (kind, v) in enumerate(_row_cells(g)):
                        ref = f"{_col_letters(ci)}{r}"
                        if kind == "n":
                            cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                        elif kind == "s":
                            cells.append(
                                f'<c r="{ref}" t="s"><v>{_POOL_IDX[v]}</v></c>'
                            )
                        else:
                            cells.append(
                                f'<c r="{ref}" t="s"><v>{u_idx(g, v)}</v></c>'
                            )
                    buf.append(f'<row r="{r}">{"".join(cells)}</row>')
                    if len(buf) >= 5_000:
                        f.write("".join(buf).encode())
                        buf = []
                buf.append("</sheetData></worksheet>")
                f.write("".join(buf).encode())

        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            + "".join(overrides)
            + "</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{_NS}" xmlns:r="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships"><sheets>'
            + "".join(wb_sheets)
            + "</sheets></workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(wb_rels)
            + '<Relationship Id="rIdSst" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            "</Relationships>",
        )
    return os.path.getsize(path)


def _jvm_peak_mb() -> float | None:
    """VmHWM of OUR Spark JVM — the java process whose parent is this
    python process (py4j launches the gateway as a direct child), so an
    unrelated JVM on the box can never be reported."""
    me = os.getpid()
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"java" not in cmd.split(b"\x00")[0]:
                    continue
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                # ppid is the 2nd field after the ')' closing comm
                # (comm itself may contain spaces)
                if int(stat[stat.rindex(")") + 2:].split()[1]) != me:
                    continue
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM"):
                            return round(int(line.split()[1]) / 1024, 1)
            except (OSError, ValueError):
                continue
    except OSError:
        pass
    return None


def main() -> None:
    import resource

    target_mb = int(sys.argv[1]) if len(sys.argv) > 1 else 700
    n_sheets = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from shuttlestandalonedbcreator_spark.plans.sinks import write_transfer_table
    from shuttlestandalonedbcreator_spark.plans.transfer_pipeline import ingest
    from shuttlestandalonedbcreator_spark.session import get_spark
    from shuttlestandalonedbcreator_spark.sources.excel import read_transfer_reports

    # calibrate rows/sheet from a small probe (bytes/row is stable)
    work = tempfile.mkdtemp(prefix="wb700_")
    probe = os.path.join(work, "probe.xlsx")
    probe_rows = 20_000
    generate(probe, probe_rows, 1)
    bytes_per_row = os.path.getsize(probe) / probe_rows
    os.unlink(probe)
    rows_per_sheet = int(target_mb * 1024 * 1024 / bytes_per_row / n_sheets) + 1

    src = os.path.join(work, "source")
    os.makedirs(src)
    big = os.path.join(src, "report.xlsx")
    print(f"generating ~{target_mb} MB: {rows_per_sheet} rows x {n_sheets} "
          f"sheets ({bytes_per_row:.0f} B/row probe)", flush=True)
    t0 = time.time()
    size = generate(big, rows_per_sheet, n_sheets)
    gen_sec = time.time() - t0
    print(f"generated {size / 1024 / 1024:.1f} MB in {gen_sec:.0f}s", flush=True)

    spark = get_spark()
    try:
        # the PRODUCTION projection (read_transfer_reports) — the
        # rehearsal measures exactly the pipeline users run
        t1 = time.time()
        out = ingest(read_transfer_reports(spark, src), materialize=True)
        write_transfer_table(out, os.path.join(work, "transfer"))
        n = spark.read.parquet(os.path.join(work, "transfer")).count()
        pipeline_sec = time.time() - t1
        print(f"pipeline done: {n} rows in {pipeline_sec:.0f}s", flush=True)

        print(json.dumps({
            "metric": "workbook700_rows_per_sec",
            "value": round(n / pipeline_sec, 1),
            "file_mb": round(size / 1024 / 1024, 1),
            "rows": n,
            "sheets": n_sheets,
            "gen_sec": round(gen_sec, 1),
            "pipeline_sec": round(pipeline_sec, 1),
            "driver_peak_mb": round(
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
            ),
            "jvm_peak_mb": _jvm_peak_mb(),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
