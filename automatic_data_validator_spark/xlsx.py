"""From-scratch minimal XLSX reader — stdlib only.

XLSX is a zip of XML parts (ECMA-376 / ISO 29500 SpreadsheetML, a
public standard): ``xl/workbook.xml`` lists sheets, each worksheet is
``<row><c r="A1" t="s"><v>idx</v></c>…</row>`` rows, strings live in
``xl/sharedStrings.xml`` or inline. This sandbox has no openpyxl, so
the reference's Excel input surface (file_handler.py:63-118
multi-sheet read via pd.read_excel) is covered by this implementation
instead of an import-gated stub: ``sources.read_excel`` falls back
here automatically when openpyxl is absent.

Deliberately minimal and driver-side, matching the reference's scale
envelope (it hard-caps Excel input at 100 MB, config.py:14): cell
values + sheet names only — no styles, merged cells, formulas
(cached values ARE read), charts, or dates-as-serials (a date-styled
number surfaces as the raw serial; the schema module's detection
handles strings). Big data belongs in parquet; Excel is an
interchange format for small inputs.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_REL = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
)
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")

# ECMA-376 _xHHHH_ escaping: control characters are invalid in XML 1.0
# and \r is normalized to \n by every parser, so writers (Excel itself
# in sharedStrings) store them as _xHHHH_; a literal "_xHHHH_" substring
# is stored with its leading underscore escaped as _x005F_.
_X_UNESC = re.compile(r"_x([0-9A-Fa-f]{4})_")


def _unesc_oox(s: str) -> str:
    return _X_UNESC.sub(lambda m: chr(int(m.group(1), 16)), s)


def _col_index(letters: str) -> int:
    """'A' -> 0, 'Z' -> 25, 'AA' -> 26."""
    i = 0
    for ch in letters:
        i = i * 26 + (ord(ch) - ord("A") + 1)
    return i - 1


def _si_text(si) -> str:
    """A shared-string item: plain ``<t>`` or rich-text ``<r><t>…``."""
    t = si.find(f"{_NS}t")
    if t is not None:
        return _unesc_oox(t.text or "")
    return _unesc_oox("".join(
        (t.text or "") for t in si.iter(f"{_NS}t")
    ))


def _cell_value(c, shared: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_NS}is")
        return _si_text(is_el) if is_el is not None else None
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return v.text == "1"
    if t in ("str", "e"):
        return v.text
    # numeric: int when integral (pandas-read_excel-like)
    try:
        f = float(v.text)
    except ValueError:
        return v.text
    return int(f) if f.is_integer() and abs(f) < 2**53 else f


def read_xlsx(path: str) -> "dict[str, list[list]]":
    """All sheets -> {sheet_name: rows} where rows are lists of cell
    values (None for gaps), ragged rows padded to the sheet's width."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = [_si_text(si) for si in root.iter(f"{_NS}si")]
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_map = {
            r.get("Id"): r.get("Target").lstrip("/")
            for r in rels
        }
        out: dict[str, list[list]] = {}
        for sh in wb.iter(f"{_NS}sheet"):
            name = _unesc_oox(sh.get("name"))
            target = rel_map[sh.get(f"{_NS_REL}id")]
            if not target.startswith("xl/"):
                target = "xl/" + target
            sheet = ET.fromstring(z.read(target))
            rows: list[list] = []
            width = 0
            for row in sheet.iter(f"{_NS}row"):
                vals: list = []
                for c in row.iter(f"{_NS}c"):
                    ref = c.get("r")
                    if ref:
                        m = _CELL_REF.match(ref)
                        idx = _col_index(m.group(1))
                    else:
                        idx = len(vals)
                    while len(vals) < idx:
                        vals.append(None)
                    vals.append(_cell_value(c, shared))
                width = max(width, len(vals))
                rows.append(vals)
            for r in rows:
                r.extend([None] * (width - len(r)))
            out[name] = rows
    return out


