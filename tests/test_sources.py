"""Sources: csv round-trip with encoding fallback path, json nesting
preserved, text and xlsx readers, file stats."""

from __future__ import annotations

import json

from fixtures import write_xlsx

from automatic_data_validator_spark import sources as S


def test_csv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "x.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write("id,name,score\n1,alice,3.5\n2,bob,4.0\n3,,2.5\n")
    df = S.read_csv(spark, p)
    assert df.count() == 3
    assert dict(df.dtypes)["id"] in ("int", "bigint")
    out = str(tmp_path / "out_csv")
    df.write.option("header", True).csv(out)
    back = S.read_csv(spark, out)
    assert back.count() == 3


def test_csv_latin1_fallback(spark, tmp_path):
    p = str(tmp_path / "latin.csv")
    with open(p, "wb") as f:
        f.write("name\ncaf\xe9\n".encode("latin-1"))
    df = S.read_csv(spark, p, inferSchema=False)
    vals = [r["name"] for r in df.collect()]
    assert len(vals) == 1  # readable through the fallback chain


def test_json_keeps_nesting_and_flatten_optin(spark, tmp_path):
    p = str(tmp_path / "x.json")
    rows = [{"id": 1, "meta": {"a": 1, "b": "x"}}, {"id": 2, "meta": {"a": 2, "b": "y"}}]
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    df = S.read_json(spark, p, multiline=False)
    # nested struct preserved (reference flattens destructively; we don't)
    assert df.schema["meta"].dataType.typeName() == "struct"
    assert df.count() == 2


def test_read_text_and_whole_file(spark, tmp_path):
    p = str(tmp_path / "t.txt")
    with open(p, "w") as f:
        f.write("line one\nline two\n")
    assert S.read_text(spark, p).count() == 2
    whole = S.read_text(spark, p, whole_file=True)
    assert whole.count() == 1 and "line one" in whole.collect()[0]["value"]


def test_read_table_parquet_path(spark):
    df = S.read_table(spark, "/root/testdata/sf0.001/region.parquet")
    assert df.count() > 0


def test_file_stats(spark, docs):
    st = S.file_stats(docs)
    assert st["rows"] == 5000 and st["columns"] == 2
    assert st["column_kinds"]["string"] == 1  # doc_id
    assert st["column_kinds"]["nested"] == 1  # spans


def test_excel_roundtrip_without_openpyxl(spark, tmp_path):
    """S2 with NO openpyxl: read_excel reads a two-sheet workbook
    through the from-scratch stdlib SpreadsheetML reader — values,
    types (str/int/float/bool/None), sheet names, and the
    _source_sheet provenance column all survive the round trip."""
    from automatic_data_validator_spark.sources import read_excel

    path = str(tmp_path / "report.xlsx")
    write_xlsx(path, {
        "verdicts": (
            ["x", "y", "z", "ok"],
            [[1, "a&b <ok>", 1.5, True], [2, None, -0.25, False]],
        ),
        "summary": (["metric", "value"], [["rows", 5000]]),
    })

    back = read_excel(spark, path)
    assert set(
        r["_source_sheet"] for r in back.select("_source_sheet").collect()
    ) == {"verdicts", "summary"}
    got = {
        (r["x"], r["y"], r["z"], r["ok"])
        for r in back.filter("_source_sheet = 'verdicts'")
        .select("x", "y", "z", "ok").collect()
    }
    assert got == {(1, "a&b <ok>", 1.5, True), (2, None, -0.25, False)}
    srow = back.filter("_source_sheet = 'summary'").collect()[0]
    assert srow["metric"] == "rows" and srow["value"] == 5000

    # raw cell layer: header row + typed values per the minimal reader
    from automatic_data_validator_spark.xlsx import read_xlsx

    raw = read_xlsx(path)
    assert raw["verdicts"][0] == ["x", "y", "z", "ok"]
    assert raw["verdicts"][1] == [1, "a&b <ok>", 1.5, True]


def test_xlsx_nan_inf_and_quoted_sheet_names(tmp_path):
    """SpreadsheetML has no NaN/inf numeric: a NaN is written as a
    blank cell and ±inf as inline strings (pandas to_excel semantics),
    and the reader must return None / "inf" / "-inf" for them, never a
    float NaN. A sheet name containing a double quote must survive the
    name=\"…\" attribute."""
    import math
    from xml.etree import ElementTree as ET

    from automatic_data_validator_spark.xlsx import read_xlsx

    path = str(tmp_path / "edge.xlsx")
    write_xlsx(
        path,
        {
            'he said "hi"': (
                ["v"],
                [[float("nan")], [float("inf")], [float("-inf")], [2.5]],
            )
        },
    )
    # every XML part must stay well-formed (quoteattr + no <v>nan</v>)
    import zipfile

    with zipfile.ZipFile(path) as z:
        for part in z.namelist():
            ET.fromstring(z.read(part))
    raw = read_xlsx(path)
    assert list(raw) == ['he said "hi"']
    rows = raw['he said "hi"']
    assert rows[0] == ["v"]
    assert rows[1] == [None] and rows[2] == ["inf"] and rows[3] == ["-inf"]
    assert rows[4] == [2.5]
    assert not any(
        isinstance(v, float) and math.isnan(v) for r in rows for v in r
    )


def test_xlsx_control_chars_escape_ecma376(tmp_path):
    """Raw control characters (e.g. a \\x01 scraped into a doc_id) are
    invalid XML 1.0 and used to corrupt the workbook; \\r is XML-valid
    but parsers normalize it to \\n. Both round-trip via the ECMA-376
    _xHHHH_ escape (what Excel itself writes), including the literal
    '_xHHHH_' substring case which needs its underscore escaped."""
    from automatic_data_validator_spark.xlsx import read_xlsx

    cells = [["\x01ctrl"], ["lit _x0041_ eral"], ["cr\rlf\n tab\t"]]
    path = str(tmp_path / "ctl.xlsx")
    write_xlsx(path, {"n\x02ame": (["v"], cells)})
    back = read_xlsx(path)
    assert list(back) == ["n\x02ame"]
    assert back["n\x02ame"][1:] == cells


def test_csv_encoding_fallback_reads_latin1(spark, tmp_path):
    """A latin-1 file with non-UTF8 bytes must come through the
    fallback chain with correct characters (S1)."""
    from automatic_data_validator_spark.sources import read_csv

    p = tmp_path / "latin1.csv"
    p.write_bytes("name,city\nJos\xe9,S\xe3o Paulo\nRen\xe9e,Z\xfcrich\n".encode("latin-1"))
    # the fallback probes for U+FFFD (Spark substitutes instead of
    # raising) and must land on the correctly-decoded encoding
    df = read_csv(spark, str(p))
    got = {r["name"]: r["city"] for r in df.collect()}
    assert got == {"José": "São Paulo", "Renée": "Zürich"}
    # clean UTF-8 stays on the first encoding with correct content
    q = tmp_path / "utf8.csv"
    q.write_bytes("name,city\nJosé,São Paulo\n".encode("utf-8"))
    got2 = {r["name"]: r["city"] for r in read_csv(spark, str(q)).collect()}
    assert got2 == {"José": "São Paulo"}


def test_is_path_like_classification():
    from automatic_data_validator_spark.sources import is_path_like

    assert is_path_like("s3://bucket/warehouse/db/documents")
    assert is_path_like("hdfs://nn/data/docs")
    assert is_path_like("/root/testdata/sf0.001/documents.parquet")
    assert is_path_like("relative/dir")
    assert not is_path_like("warehouse.db.documents")
    assert not is_path_like("documents")


def test_csv_encoding_probe_catches_late_file_mojibake(spark, tmp_path):
    """Round-2 directive #8: a clean first file must not mask a
    latin-1 second file — the probe samples PER input file."""
    d = tmp_path / "multi_enc"
    d.mkdir()
    (d / "a_clean.csv").write_text("name,qty\nalpha,1\nbeta,2\n", encoding="utf-8")
    (d / "b_latin.csv").write_bytes(b"name,qty\ncaf\xe9,3\nna\xefve,4\n")
    df = S.read_csv(spark, str(d))
    names = {r["name"] for r in df.collect()}
    assert "café" in names and "naïve" in names, names
    assert not any("�" in n for n in names)


def test_csv_probe_budget_strict_and_skip_warning(spark, tmp_path, caplog):
    """Round-3 VERDICT #9: the default probe budget logs how many files
    it accepted unprobed (here the mojibake in file 25 slips through),
    and encoding_strict=True probes every file and catches it."""
    import logging

    d = tmp_path / "many_enc"
    d.mkdir()
    for i in range(24):
        (d / f"f{i:02d}.csv").write_text(
            f"name,qty\nrow{i},1\n", encoding="utf-8"
        )
    (d / "zz_latin.csv").write_bytes(b"name,qty\ncaf\xe9,3\n")
    with caplog.at_level(
        logging.WARNING, logger="automatic_data_validator_spark.sources"
    ):
        df = S.read_csv(spark, str(d))
    assert any("accepted unprobed" in r.getMessage() for r in caplog.records)
    names = {r["name"] for r in df.collect()}
    assert any("�" in (n or "") for n in names)  # budget mode: slipped
    strict = S.read_csv(spark, str(d), encoding_strict=True)
    snames = {r["name"] for r in strict.collect()}
    assert "café" in snames
    assert not any("�" in (n or "") for n in snames)
