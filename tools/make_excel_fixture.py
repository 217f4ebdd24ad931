"""Generate the committed q30 Excel fixture + its CSV oracle twin.

Writes ``fixtures/q30_catalog.xlsx`` — a minimal SpreadsheetML zip built
with the stdlib only, deterministic byte-for-byte (fixed zip timestamps,
fixed member order) — and ``fixtures/q30_catalog_utf8.csv`` carrying the
identical rows for the DuckDB oracle (DuckDB cannot read xlsx; the twin
serves the same role as q35's UTF-8 CSV twin).

The sheet deliberately exercises every cell type the stdlib parser in
sources/readers.py handles: shared strings (with repeats), inlineStr
cells (every 5th name), integer and float numerics, and booleans.
Non-ASCII ('café') proves UTF-8 survives both containers.

Run once; the outputs are committed.  Re-running reproduces identical
bytes.
"""

from __future__ import annotations

import os
import zipfile

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
OUT_XLSX = os.path.join(FIXTURES, "q30_catalog.xlsx")
OUT_CSV = os.path.join(FIXTURES, "q30_catalog_utf8.csv")

NAMES = ["alpha", "beta", "café", "delta", "epsilon"]
CITIES = ["lyon", "osaka", "quito"]


def rows():
    for i in range(1, 31):
        name = NAMES[i % len(NAMES)]
        city = CITIES[i % len(CITIES)]
        qty = (i * 7) % 13
        price = round(i * 2.5 + (i % 3) * 0.25, 2)
        active = (i % 4) != 0
        yield i, name, city, qty, price, active


def _col(idx: int) -> str:
    # 0 -> A, 1 -> B ... (single-letter range is enough here)
    return chr(ord("A") + idx)


def build_xlsx() -> None:
    header = ["row_id", "name", "city", "qty", "price", "active"]
    data = list(rows())

    # shared-string table: header + names (minus the inlineStr ones) + cities
    shared: list[str] = []

    def sidx(s: str) -> int:
        if s not in shared:
            shared.append(s)
        return shared.index(s)

    sheet_rows = []
    cells = "".join(
        f'<c r="{_col(i)}1" t="s"><v>{sidx(h)}</v></c>'
        for i, h in enumerate(header)
    )
    sheet_rows.append(f'<row r="1">{cells}</row>')
    for rn, (row_id, name, city, qty, price, active) in enumerate(data, start=2):
        if row_id % 5 == 0:  # exercise the inlineStr branch
            name_cell = (
                f'<c r="B{rn}" t="inlineStr"><is><t>{name}</t></is></c>'
            )
        else:
            name_cell = f'<c r="B{rn}" t="s"><v>{sidx(name)}</v></c>'
        sheet_rows.append(
            f'<row r="{rn}">'
            f'<c r="A{rn}"><v>{row_id}</v></c>'
            + name_cell
            + f'<c r="C{rn}" t="s"><v>{sidx(city)}</v></c>'
            f'<c r="D{rn}"><v>{qty}</v></c>'
            f'<c r="E{rn}"><v>{price}</v></c>'
            f'<c r="F{rn}" t="b"><v>{int(active)}</v></c>'
            "</row>"
        )

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sheet_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}"><sheetData>'
        + "".join(sheet_rows)
        + "</sheetData></worksheet>"
    )
    sst_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{ns}" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    ct_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'sharedStrings+xml"/>'
        "</Types>"
    )
    wb_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns}"><sheets>'
        '<sheet name="catalog" sheetId="1" r:id="rId1" xmlns:r='
        '"http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships"/>'
        "</sheets></workbook>"
    )

    os.makedirs(os.path.dirname(OUT_XLSX), exist_ok=True)
    with zipfile.ZipFile(OUT_XLSX, "w", zipfile.ZIP_DEFLATED) as z:
        for arcname, payload in (
            ("[Content_Types].xml", ct_xml),
            ("xl/workbook.xml", wb_xml),
            ("xl/sharedStrings.xml", sst_xml),
            ("xl/worksheets/sheet1.xml", sheet_xml),
        ):
            info = zipfile.ZipInfo(arcname, date_time=(2026, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, payload)


def build_csv() -> None:
    lines = ["row_id,name,city,qty,price,active"]
    for row_id, name, city, qty, price, active in rows():
        lines.append(
            f"{row_id},{name},{city},{qty},{price},{str(active).lower()}"
        )
    with open(OUT_CSV, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    build_xlsx()
    build_csv()
    print(f"wrote {OUT_XLSX} and {OUT_CSV}")
