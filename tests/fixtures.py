"""Test input builders.

``write_xlsx`` is a minimal stdlib SpreadsheetML (xlsx) writer: the
package only reads xlsx (``sources.read_excel`` -> ``xlsx.read_xlsx``),
so the tests write their workbooks with this. ``synth_media_payloads``
attaches deterministic binary payloads and typed metadata to a media
catalog for the multimodal tests. ``grid_sketch`` builds a drift
sketch from local values, for tests that need a baseline without a
Spark job.
"""

from __future__ import annotations

import re
import zipfile
from xml.sax.saxutils import escape, quoteattr

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automatic_data_validator_spark.drift import QuantileGrid
from automatic_data_validator_spark.profile import _DRIFT_QUANTILE_GRID
from automatic_data_validator_spark.xlsx import _X_UNESC

# ECMA-376 _xHHHH_ escaping: control characters are invalid in XML 1.0
# (so raw \x01 in a doc_id would corrupt the whole workbook), and \r —
# XML-valid — is normalized to \n by every parser on read. Both are
# escaped the way Excel itself does in sharedStrings; a literal
# "_xHHHH_" substring gets its leading underscore escaped as _x005F_.
_X_BAD_TEXT = re.compile("[\x00-\x08\x0b-\x1f]")  # keeps \t \n raw
_X_BAD_ATTR = re.compile("[\x00-\x1f]")  # attrs also normalize \t \n


def _esc_oox(s: str, attr: bool = False) -> str:
    s = _X_UNESC.sub(lambda m: f"_x005F_x{m.group(1)}_", s)
    bad = _X_BAD_ATTR if attr else _X_BAD_TEXT
    return bad.sub(lambda m: "_x%04X_" % ord(m.group()), s)


def _col_letters(i: int) -> str:
    """0 -> 'A', 26 -> 'AA'."""
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def _sheet_xml(columns: list[str], rows: "list[list]") -> bytes:
    """Worksheet XML: header row + data rows, strings inline (no
    sharedStrings part needed), numbers/bools as native cells."""
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>']

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            # NaN/inf are not valid SpreadsheetML numerics: a report
            # frame with a NULL double reaches here as float('nan')
            # via pandas — blank cell for NaN (pandas to_excel
            # default), inline 'inf'/'-inf' strings (its inf_rep).
            if isinstance(v, float) and v != v:
                return ""
            if isinstance(v, float) and v in (float("inf"), float("-inf")):
                return (
                    f'<c r="{ref}" t="inlineStr"><is><t>'
                    f'{"inf" if v > 0 else "-inf"}</t></is></c>'
                )
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{escape(_esc_oox(str(v)))}</t></is></c>"
        )

    for rix, vals in enumerate([list(columns)] + [list(r) for r in rows]):
        cells = "".join(
            cell(f"{_col_letters(cix)}{rix + 1}", v)
            for cix, v in enumerate(vals)
        )
        parts.append(f'<row r="{rix + 1}">{cells}</row>')
    parts.append("</sheetData></worksheet>")
    return "".join(parts).encode()


def write_xlsx(path: str, sheets: "dict[str, tuple[list[str], list[list]]]") -> None:
    """Write {sheet_name: (columns, rows)} as a minimal valid xlsx."""
    if not sheets:
        raise ValueError("write_xlsx: no sheets")
    names = list(sheets)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        overrides = "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types">'
            '<Default Extension="rels" ContentType="application/vnd.'
            'openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            "vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"
            f'"/>{overrides}</Types>',
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            'package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
            'org/officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        )
        # attribute context: escape() alone leaves double quotes raw,
        # which would terminate the name="…" attribute early; control
        # chars AND \t \n \r need _xHHHH_ (attribute-value
        # normalization would fold the whitespace ones to spaces)
        sheet_tags = "".join(
            f'<sheet name={quoteattr(_esc_oox(n, attr=True))} '
            f'sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, n in enumerate(names)
        )
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main" xmlns:r="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{sheet_tags}</sheets></workbook>",
        )
        rels = "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/'
            f'worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/'
            f'package/2006/relationships">{rels}</Relationships>',
        )
        for i, n in enumerate(names):
            columns, rows = sheets[n]
            z.writestr(
                f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(columns, rows)
            )


def synth_media_payloads(catalog: DataFrame, payload_bytes: int = 64) -> DataFrame:
    """Attach deterministic binary payloads + typed metadata to a media
    catalog — expression-only (payload = repeated md5 of the ref)."""
    h = F.md5(F.col("media_ref"))
    payload = F.to_binary(
        F.substring(F.repeat(h, (payload_bytes // 16) + 1), 1, payload_bytes * 2), F.lit("hex")
    )
    meta = F.struct(
        (F.pmod(F.xxhash64("media_ref", F.lit("w")), F.lit(1920)) + 16).cast("int").alias("width"),
        (F.pmod(F.xxhash64("media_ref", F.lit("h")), F.lit(1080)) + 16).cast("int").alias("height"),
        F.when(
            F.col("media_kind") == "audio",
            (F.pmod(F.xxhash64("media_ref", F.lit("d")), F.lit(600_000)) + 1000).cast("int"),
        ).otherwise(F.lit(None).cast("int")).alias("duration_ms"),
        F.concat(F.lit("application/x-"), F.col("media_kind")).alias("mime"),
    )
    return catalog.select(
        "media_ref",
        "media_kind",
        payload.alias("payload"),
        meta.alias("meta"),
    )


def grid_sketch(values=()) -> QuantileGrid:
    """The drift sketch of local values: their exact quantiles at the
    grid levels (what ``drift.sketch_columns``' ``percentile_approx``
    grid approximates) and their count; NaN is dropped, and no values
    give the empty sketch."""
    v = np.asarray(values, dtype=np.float64)
    v = v[~np.isnan(v)]
    if not v.size:
        return QuantileGrid()
    levels = np.linspace(0.0, 1.0, _DRIFT_QUANTILE_GRID)
    return QuantileGrid(np.quantile(v, levels, method="inverted_cdf"), v.size)
