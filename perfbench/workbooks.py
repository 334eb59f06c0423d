"""Seeded "Transfer Report" workbooks and the ETL output they must produce.

The generator writes plain .xlsx files (shared strings, numeric cells) with
a fixed zip timestamp, so the same seed gives byte-identical files. Each
base workbook holds one ``Overview`` sheet, which the ``Transfer Report``
prefix filter must skip, and two ``Transfer Report`` sheets. Every path is
rooted under the folder of the job that first lists it. The inputs carry:

- junk numeric and date cells at a fixed share;
- folder rows, so that parent ids resolve, plus a share of folders the
  report never lists, so that some parent ids stay unresolved;
- duplicate keys within a workbook (a later retry row wins) and across
  workbooks (a re-listed row, identical in every checked column);
- a re-import batch that updates a share of the rows, adds new files and
  re-lists the folder chain above each of them.

``expected_output`` replays the reference's semantics on the generated rows
in plain Python: the last-write-wins dedup on ``(file_name,
target_file_id)``, parent-id resolution inside each import, the upsert of
the re-import batch, the tolerant casts and the ``status_summary`` view.
"""

from __future__ import annotations

import io
import os
import random
import re
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

HEADERS = (
    "File Name", "Source File Size", "Target File Size", "Target File ID",
    "Source Account", "Target Account", "Creation Time",
    "Source Last Modified By", "Source Last Modification Time",
    "Target Last Modification Time", "Last Access Time", "Start Time",
    "Transfer Time", "Checksum Method", "Checksum", "File Status", "Errors",
    "Status", "Translated File Name",
)
FIELDS = (
    "file_name", "source_file_size", "target_file_size", "target_file_id",
    "source_account", "target_account", "creation_time",
    "source_last_modified_by", "source_last_modification_time",
    "target_last_modification_time", "last_access_time", "start_time",
    "transfer_time", "checksum_method", "checksum", "file_status", "errors",
    "status", "translated_file_name",
)
SIZE_COLUMNS = ("source_file_size", "target_file_size")
DATE_COLUMNS = (
    "creation_time", "source_last_modification_time",
    "target_last_modification_time", "last_access_time", "start_time",
    "transfer_time",
)
CAST_COLUMNS = SIZE_COLUMNS + DATE_COLUMNS

STATUSES = (
    ("success", 60), ("match-exists", 12), ("filtered", 8), ("failed", 10),
    ("Re-Try (auto)", 6), ("", 4),
)
NUMERIC_JUNK = ("n/a", "#VALUE!", "-", "unknown", "12,5")
DATE_JUNK = ("", "0", "n/a", "12/31/2023", "#N/A")
CLIENTS = ("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay", "Stark")
DIR_WORDS = ("Contracts", "Finance", "HR", "Legal", "Matters", "Archive", "Scans")
EXTENSIONS = ("pdf", "docx", "xlsx", "msg", "txt", "png")
ACCOUNTS = ("fs-old-01", "fs-old-02", "nas-legacy", "share-east")
USERS = ("alice", "bob", "carol", "dave", "erin", "frank")

# shares of the generated rows
JUNK_SHARE = 0.04  # numeric and date cells that do not parse
PADDED_SHARE = 0.02  # sizes padded with spaces, which must still parse
UNLISTED_FOLDER_SHARE = 0.05  # folders the report never lists
WITHIN_DUP_SHARE = 0.05  # a workbook's own rows retried later in it
CROSS_DUP_SHARE = 0.03  # the previous workbook's rows listed again
REIMPORT_UPDATE_SHARE = 0.06  # rows the re-import batch updates
REIMPORT_NEW_SHARE = 0.02  # new files the re-import batch adds

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_ZIP_TIME = (1980, 1, 1, 0, 0, 0)
_LONG = re.compile(r"[0-9]+")


@dataclass(frozen=True)
class Spec:
    """Size of one generated input set."""

    workbooks: int
    files_per_workbook: int
    folders_per_workbook: int


@dataclass
class Inputs:
    """Where the generated workbooks are and what the ETL must produce."""

    base_dir: str
    batch_dir: str
    input_bytes: int
    expected: dict


# ---------------------------------------------------------------------------
# rows
# ---------------------------------------------------------------------------


class _RowMaker:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.next_id = rng.randrange(1_000, 9_000) * 10_000
        self.statuses = [s for s, _ in STATUSES]
        self.weights = [w for _, w in STATUSES]

    def _id(self) -> str:
        self.next_id += 1
        return str(self.next_id)

    def _serial(self) -> str:
        rng = self.rng
        if rng.random() < JUNK_SHARE:
            return rng.choice(DATE_JUNK)
        return f"{rng.uniform(43000, 46000):.5f}"

    def _size(self) -> str:
        rng = self.rng
        r = rng.random()
        if r < JUNK_SHARE:
            return rng.choice(NUMERIC_JUNK)
        n = rng.randint(1, 50_000_000)
        if r < JUNK_SHARE + PADDED_SHARE:
            return f" {n} "
        return str(n)

    def _common(self, path: str) -> dict[str, str]:
        rng = self.rng
        return {
            "file_name": path,
            "source_account": rng.choice(ACCOUNTS),
            "target_account": "m365-tenant",
            "source_last_modified_by": rng.choice(USERS),
            **{c: self._serial() for c in DATE_COLUMNS},
            "translated_file_name": "",
        }

    def folder(self, path: str) -> dict[str, str]:
        row = self._common(path)
        row.update(
            source_file_size=self.rng.choice(("", "0")),
            target_file_size="",
            target_file_id=self._id(),
            checksum_method="",
            checksum="",
            file_status="success",
            errors="",
            status="Folder",
        )
        return row

    def file(self, path: str) -> dict[str, str]:
        rng = self.rng
        row = self._common(path)
        status = rng.choices(self.statuses, self.weights)[0]
        size = self._size()
        failed = status == "failed"
        row.update(
            source_file_size=size,
            target_file_size="" if failed else size,
            target_file_id="" if failed and rng.random() < 0.5 else self._id(),
            checksum_method="MD5",
            checksum=f"{rng.getrandbits(64):016x}",
            file_status=status,
            errors=rng.choice(("Timeout", "Access denied")) if failed else "",
            status="Done" if not failed else "Error",
        )
        return row

    def retried(self, row: dict[str, str]) -> dict[str, str]:
        """A later report line for the same key: the transfer was retried."""
        out = dict(row)
        clean = str(self.rng.randint(1, 50_000_000))
        out.update(
            source_file_size=clean,
            target_file_size=clean,
            transfer_time=f"{self.rng.uniform(46000, 46500):.5f}",
            file_status="success",
            errors="",
            status="Done",
        )
        return out


def _folder_tree(rng: random.Random, root: str, n: int) -> list[str]:
    """Folder paths under ``root`` (listed first), at most 4 levels deep."""
    folders = [root]
    depth = {root: 1}
    while len(folders) < n:
        parent = rng.choice(folders)
        if depth[parent] >= 4:
            continue
        path = f"{parent}/{rng.choice(DIR_WORDS)}{len(folders)}"
        folders.append(path)
        depth[path] = depth[parent] + 1
    return folders


def _ancestors(path: str) -> list[str]:
    """Folder paths above ``path``, nearest first."""
    out = []
    while True:
        cut = path.rfind("/")
        if cut <= 0:
            return out
        path = path[:cut]
        out.append(path)


Workbook = tuple[str, list[list[dict]]]  # (file name, sheets of row dicts in arrival order)


def generate_rows(seed: int, spec: Spec) -> tuple[list[Workbook], Workbook]:
    """``(base, batch)``: the base workbooks and the one re-import workbook."""
    rng = random.Random(seed)
    maker = _RowMaker(rng)
    base: list[Workbook] = []
    listed: dict[str, dict] = {}  # folder path -> its row
    previous_winners: list[dict] = []
    for j in range(spec.workbooks):
        job = f"Job{j:02d}-{rng.choice(CLIENTS)}"
        folders = _folder_tree(rng, f"/{job}", spec.folders_per_workbook)
        rows = []
        for path in folders:
            if path != folders[0] and rng.random() < UNLISTED_FOLDER_SHARE:
                continue
            row = maker.folder(path)
            listed[path] = row
            rows.append(row)
        for i in range(spec.files_per_workbook):
            folder = rng.choice(folders)
            name = f"{rng.choice(DIR_WORDS).lower()}_{i}.{rng.choice(EXTENSIONS)}"
            rows.append(maker.file(f"{folder}/{name}"))
        rng.shuffle(rows)
        own_files = [r for r in rows if r["status"] != "Folder"]
        # re-listed rows from the previous report, identical in every column
        for row in rng.sample(previous_winners, int(len(previous_winners) * CROSS_DUP_SHARE)):
            rows.insert(rng.randrange(len(rows) + 1), row)
        cut = len(rows) // 2
        sheet1, sheet2 = rows[:cut], rows[cut:]
        # retries only of this report's own rows: a re-listed row must stay
        # identical to its earlier copy, whichever of the two the dedup keeps
        retries = [maker.retried(r) for r in rng.sample(own_files, int(len(own_files) * WITHIN_DUP_SHARE))]
        sheet2.extend(retries)
        base.append((f"{job}.xlsx", [sheet1, sheet2]))
        previous_winners = list(_winners(sheet1 + sheet2).values())

    winners = list(_winners(r for _, sheets in base for s in sheets for r in s).values())
    files = [r for r in winners if r["status"] != "Folder"]
    batch_rows: list[dict] = []
    for row in rng.sample(files, int(len(files) * REIMPORT_UPDATE_SHARE)):
        batch_rows.append(maker.retried(row))
    folder_paths = sorted(listed)
    for i in range(int(len(files) * REIMPORT_NEW_SHARE)):
        folder = rng.choice(folder_paths)
        batch_rows.append(maker.file(f"{folder}/reimport_{i}.{rng.choice(EXTENSIONS)}"))
    # a re-import re-lists the listed folder chain above each changed file
    chain: dict[str, dict] = {}
    for row in batch_rows:
        for path in _ancestors(row["file_name"]):
            if path in listed:
                chain[path] = listed[path]
    rows = list(chain.values()) + batch_rows
    rows += [maker.retried(r) for r in rng.sample(batch_rows, len(batch_rows) // 50)]
    batch = (f"Reimport-{rng.choice(CLIENTS)}.xlsx", [rows])
    return base, batch


# ---------------------------------------------------------------------------
# expected output
# ---------------------------------------------------------------------------


def _winners(rows) -> dict[tuple[str, str], dict]:
    """Last-write-wins on (file_name, target_file_id), in arrival order."""
    out: dict[tuple[str, str], dict] = {}
    for row in rows:
        out[(row["file_name"], row["target_file_id"])] = row
    return out


def parent_folder(path: str) -> str | None:
    """The path before its last '/', or None at level 1 (reference rules)."""
    stripped = path[1:] if path.startswith("/") else path
    if path.strip() == "" or len(stripped.split("/")) <= 1:
        return None
    cut = path.rfind("/")
    return path[:cut] if cut > 0 else None


def _resolve(winners: dict[tuple[str, str], dict]) -> dict[tuple[str, str], str | None]:
    id_map = {r["file_name"]: r["target_file_id"] for r in winners.values() if r["target_file_id"] != ""}
    return {k: id_map.get(parent_folder(r["file_name"])) for k, r in winners.items()}


def cast_long(cell: str) -> int | None:
    text = cell.strip()
    if _LONG.fullmatch(text) and int(text) < 2**63:
        return int(text)
    return None


def cast_serial(cell: str) -> float | None:
    try:
        value = float(cell)
    except ValueError:
        return None
    return None if value == 0 else value


def sanitize_view_name(status: str) -> str:
    if status.strip() == "":
        return "unknown"
    s = re.sub(r"_+", "_", re.sub(r"[^a-z0-9_]", "_", status.lower()))
    return re.sub(r"^_|_$", "", s)


def expected_output(base, batch) -> dict:
    """What the sink and the views must hold after ingest, sink and merge."""
    base_winners = _winners(r for _, sheets in base for s in sheets for r in s)
    batch_winners = _winners(r for s in batch[1] for r in s)
    final = {k: (r, p) for (k, r), p in zip(base_winners.items(), _resolve(base_winners).values())}
    final.update({k: (r, p) for (k, r), p in zip(batch_winners.items(), _resolve(batch_winners).values())})

    nulls = {c: 0 for c in CAST_COLUMNS}
    summary: dict[str, list[int]] = {}
    files = folders = 0
    for row, _ in final.values():
        for c in SIZE_COLUMNS:
            nulls[c] += cast_long(row[c]) is None
        for c in DATE_COLUMNS:
            nulls[c] += cast_serial(row[c]) is None
        size = cast_long(row["source_file_size"])
        entry = summary.setdefault(row["file_status"], [0, 0, 0])
        entry[0] += 1
        if size is not None and size > 0:
            entry[1] += 1
            files += 1
        if size is None or size == 0:
            entry[2] += 1
            folders += 1
    status_rows = sorted(([k, *v] for k, v in summary.items()), key=lambda r: (-r[1], r[0]))
    view_rows = {
        "transfer_data": len(final),
        "files_view": files,
        "folders_view": folders,
        "status_summary": len(status_rows),
        "hierarchy_children": len(final),
    }
    for status, (n, _, _) in summary.items():
        name = sanitize_view_name(status)
        if name:
            view_rows[f"status_{name}"] = view_rows.get(f"status_{name}", 0) + n
    return {
        "base_rows": len(base_winners),
        "rows": len(final),
        "nulls": nulls,
        "parent_ids_resolved": sum(p is not None for _, p in final.values()),
        "status_summary": status_rows,
        "view_rows": view_rows,
    }


# ---------------------------------------------------------------------------
# xlsx writer (deterministic bytes)
# ---------------------------------------------------------------------------


def _col_letters(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


_COLS = [_col_letters(i) for i in range(len(FIELDS))]
_NUMERIC = set(SIZE_COLUMNS + DATE_COLUMNS)


def _sheet_xml(rows: list[list[str]], numeric: list[bool], sst: dict[str, int]) -> str:
    out = [f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="{_NS}"><sheetData>']
    for r, cells in enumerate(rows, start=1):
        out.append(f'<row r="{r}">')
        for ci, value in enumerate(cells):
            if value == "":
                continue
            ref = f"{_COLS[ci] if ci < len(_COLS) else _col_letters(ci)}{r}"
            if r > 1 and numeric[ci] and _is_number(value):
                out.append(f'<c r="{ref}"><v>{value}</v></c>')
            else:
                idx = sst.setdefault(value, len(sst))
                out.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    return "".join(out)


def _is_number(value: str) -> bool:
    try:
        float(value)
    except ValueError:
        return False
    return value == value.strip()


def _put(zf: zipfile.ZipFile, name: str, text: str) -> None:
    info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
    info.compress_type = zipfile.ZIP_DEFLATED
    zf.writestr(info, text.encode("utf-8"), compresslevel=6)


def workbook_bytes(sheets: list[tuple[str, list[list[str]], list[bool]]]) -> bytes:
    """An .xlsx holding ``sheets``: ``(name, rows, numeric-column flags)``."""
    sst: dict[str, int] = {}
    parts = [(name, _sheet_xml(rows, numeric, sst)) for name, rows, numeric in sheets]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        overrides = "".join(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(1, len(parts) + 1)
        )
        _put(zf, "[Content_Types].xml",
             '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
             '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
             '<Default Extension="xml" ContentType="application/xml"/>'
             '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
             'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
             '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
             'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
             f"{overrides}</Types>")
        _put(zf, "_rels/.rels",
             '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
             '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
             '2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>')
        sheets_xml = "".join(
            f'<sheet name="{escape(name)}" sheetId="{i}" r:id="rId{i}"/>'
            for i, (name, _) in enumerate(parts, start=1)
        )
        _put(zf, "xl/workbook.xml",
             f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="{_NS}" '
             'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
             f"<sheets>{sheets_xml}</sheets></workbook>")
        rels = "".join(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats.org/officeDocument/'
            f'2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>'
            for i in range(1, len(parts) + 1)
        )
        n = len(parts) + 1
        rels += (
            f'<Relationship Id="rId{n}" Type="http://schemas.openxmlformats.org/officeDocument/'
            '2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        )
        _put(zf, "xl/_rels/workbook.xml.rels",
             '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             f'<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">{rels}</Relationships>')
        for i, (_, xml) in enumerate(parts, start=1):
            _put(zf, f"xl/worksheets/sheet{i}.xml", xml)
        strings = "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in sst)
        _put(zf, "xl/sharedStrings.xml",
             f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="{_NS}" '
             f'count="{len(sst)}" uniqueCount="{len(sst)}">{strings}</sst>')
    return buf.getvalue()


def _report_sheets(sheets: list[list[dict]], overview: list[list[str]] | None):
    numeric = [f in _NUMERIC for f in FIELDS]
    out = []
    if overview is not None:
        out.append(("Overview", overview, [False, True]))
    for i, rows in enumerate(sheets):
        name = "Transfer Report" if i == 0 else f"Transfer Report {i + 1}"
        out.append((name, [list(HEADERS)] + [[r[f] for f in FIELDS] for r in rows], numeric))
    return out


def write_inputs(seed: int, spec: Spec, root: str) -> Inputs:
    """Write the base workbooks and the re-import batch under ``root``."""
    base, batch = generate_rows(seed, spec)
    base_dir, batch_dir = os.path.join(root, "reports"), os.path.join(root, "reimport")
    os.makedirs(base_dir, exist_ok=True)
    os.makedirs(batch_dir, exist_ok=True)
    total = 0
    for name, sheets in base:
        rows = sum(len(s) for s in sheets)
        overview = [["Job", name.rsplit(".", 1)[0]], ["Rows", str(rows)], ["Sheets", str(len(sheets))]]
        data = workbook_bytes(_report_sheets(sheets, overview))
        with open(os.path.join(base_dir, name), "wb") as fh:
            fh.write(data)
        total += len(data)
    data = workbook_bytes(_report_sheets(batch[1], None))
    with open(os.path.join(batch_dir, batch[0]), "wb") as fh:
        fh.write(data)
    total += len(data)
    return Inputs(base_dir, batch_dir, total, expected_output(base, batch))
