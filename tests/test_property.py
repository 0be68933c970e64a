"""Property-based checks (SURVEY.md §5.2 item 4) with hypothesis on
driver-side structures (quantile-grid sketches) and seed-sweeps on
Spark ops."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from automatic_data_validator_spark.drift import QuantileGrid
from fixtures import grid_sketch


@settings(max_examples=25, deadline=None)
@given(
    a=st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=500),
    b=st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=500),
)
def test_grid_merge_weight_and_bounds(a, b):
    m = QuantileGrid.merge([grid_sketch(a), grid_sketch(b)])
    assert math.isclose(m.total_weight, len(a) + len(b))
    assert m.quantile(0.0) == min(min(a), min(b))
    assert m.quantile(1.0) == max(max(a), max(b))
    q = m.quantile(0.5)
    assert m.quantile(0.0) <= q <= m.quantile(1.0)


@settings(max_examples=25, deadline=None)
@given(
    vals=st.lists(
        st.integers(-10_000_000, 10_000_000).map(float),
        min_size=20, max_size=2000, unique=True,
    )
)  # unique: cdf∘quantile inversion is ill-posed for point masses
def test_grid_quantile_monotonic_and_cdf_inverse(vals):
    d = grid_sketch(vals)
    qs = [d.quantile(q) for q in (0.1, 0.3, 0.5, 0.7, 0.9)]
    assert qs == sorted(qs)
    if d.quantile(1.0) - d.quantile(0.0) < 1e-9:
        return  # constant data: cdf is a step, inverse is ill-defined
    for q, x in zip((0.1, 0.5, 0.9), (qs[0], qs[2], qs[4])):
        assert abs(d.cdf(x) - q) < 0.2  # loose inverse within grid error


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(st.floats(0, 1000), min_size=50, max_size=1000),
    cut=st.integers(1, 49),
)
def test_grid_partition_invariance(vals, cut):
    """merge(sketch(A), sketch(B)) answers the quantiles of A u B — the
    property that makes per-increment sketching correct — within 0.05
    in rank: its q-quantile x has F(x-) - 0.05 <= q <= F(x) + 0.05 over
    the data. Rank is the sketch's error unit: at a point mass sitting
    near rank q, a rank error far below one grid step moves the value
    across the whole gap to the next distinct value."""
    arr = np.array(vals)
    parts = QuantileGrid.merge([grid_sketch(arr[:cut]), grid_sketch(arr[cut:])])
    for q in (0.25, 0.5, 0.75):
        x = parts.quantile(q)
        below, at_most = np.mean(arr < x), np.mean(arr <= x)
        assert below - 0.05 <= q <= at_most + 0.05, (q, x, below, at_most)


# --- Spark-side properties (seed sweep instead of hypothesis: each
# case costs a Spark job) --------------------------------------------------

@pytest.mark.parametrize("n_parts", [1, 3, 8])
def test_dedup_idempotent_under_partitioning(spark, docs, n_parts):
    from automatic_data_validator_spark.dedup import duplicate_key_counts

    d = docs.repartition(n_parts)
    got = sorted(
        (r["doc_id"], r["dup_count"])
        for r in duplicate_key_counts(d, "doc_id").collect()
    )
    base = sorted(
        (r["doc_id"], r["dup_count"])
        for r in duplicate_key_counts(docs, "doc_id").collect()
    )
    assert got == base


def test_verdict_totals_partition_invariant(spark, docs):
    from automatic_data_validator_spark import rules as R
    from automatic_data_validator_spark.validate import DEFAULT_RULES

    def totals(df):
        v, _ = R.evaluate_row_rules(df, R.row_level(DEFAULT_RULES))
        rows = v.groupBy("rule_id").agg({"violation_count": "sum"}).collect()
        return {r["rule_id"]: r["sum(violation_count)"] for r in rows}

    assert totals(docs) == totals(docs.repartition(11))


def test_normalize_spans_property_sweep(spark):
    """Arrow-normalizer invariant over adversarial span shapes: for
    EVERY doc, (kind, media_ref, offset) sequences are preserved
    exactly and text equals the reference normalization (collapse ASCII
    whitespace runs, trim) — including unicode, empties, nulls."""
    import re

    cases = [
        [{"kind": "text", "text": "  a\t\tb \n c  ", "media_ref": None, "offset": 0}],
        [{"kind": "text", "text": "", "media_ref": None, "offset": 5}],
        [{"kind": "text", "text": "  ", "media_ref": None, "offset": 1}],
        [{"kind": "text", "text": "héllo　wörld", "media_ref": None, "offset": 2}],
        [{"kind": "image", "text": None, "media_ref": "m-1", "offset": 0},
         {"kind": "text", "text": " x ", "media_ref": None, "offset": 9}],
        [],
        None,
        [{"kind": "audio", "text": None, "media_ref": "m-2", "offset": None}],
        [{"kind": "text", "text": "a" * 5000 + "   end", "media_ref": None, "offset": 3}],
    ]
    rows = [(f"d{i}", c) for i, c in enumerate(cases)]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    from automatic_data_validator_spark.spans import normalize_spans_arrow

    got = {r["doc_id"]: r["spans"]
           for r in normalize_spans_arrow(spark.createDataFrame(rows, schema)).collect()}

    def ref_norm(t):
        # RE2 \s is ASCII; utf8_trim_whitespace trims unicode ws
        return re.sub(r"[ \t\n\r\f\v]+", " ", t).strip() if t is not None else None

    for i, case in enumerate(cases):
        out = got[f"d{i}"]
        if case is None:
            assert out is None
            continue
        assert len(out) == len(case)
        for o, c in zip(out, case):
            assert (o["kind"], o["media_ref"], o["offset"]) == (
                c["kind"], c["media_ref"], c["offset"]), (i, o, c)
            expected = ref_norm(c["text"])
            # unicode whitespace: kernel also trims it at the ends
            if expected is not None:
                expected = expected.strip()
            assert o["text"] == expected, (i, o["text"], expected)


# --- arrow minhash kernel: adversarial bit-equality fuzz (round 3) ---------

_texty = st.builds(
    lambda base, long_words: base + (" " + " ".join(long_words) if long_words else ""),
    st.text(
        # every Java \s class member + multi-byte UTF-8 code points
        alphabet=st.sampled_from(list("ab xyz\t\n\r\x0b\x0c") + ["é", "ß", "世", "🎉"]),
        min_size=0,
        max_size=80,
    ),
    # occasionally append >32-byte words so shingles exercise the
    # 32-byte stripe loop of the vectorized XXH64
    st.lists(
        st.sampled_from(["longword" * 6, "é" * 40, "mixed🎉" * 8]),
        min_size=0,
        max_size=3,
    ),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.one_of(st.none(), _texty), min_size=1, max_size=24))
def test_minhash_arrow_bit_equals_expr_fuzz(spark_sess, texts):
    """The numpy kernel (byte tokenization + vectorized XXH64 with
    stripe/long/int/byte tails + seed mixes) must be BIT-IDENTICAL to
    the Catalyst expression oracle on adversarial inputs: whitespace-run
    edges, leading/trailing separators, multi-byte UTF-8, empty and
    null texts, and >32-byte shingles that exercise the 32-byte stripe
    loop."""
    import pandas as pd
    from oracles import minhash_signature_expr

    from automatic_data_validator_spark import dedup as D

    df = spark_sess.createDataFrame(
        pd.DataFrame({"id": range(len(texts)), "text": pd.array(texts, dtype=object)})
    )
    rows = df.select(
        "id",
        D.minhash_signature("text", num_hashes=8).alias("a"),
        minhash_signature_expr("text", num_hashes=8).alias("e"),
    ).collect()
    for r in rows:
        assert r["a"] == r["e"], (texts[r["id"]], r["a"], r["e"])


@pytest.fixture(scope="module")
def spark_sess(spark):
    return spark


# --- xlsx roundtrip (driver-side, no Spark): the from-scratch
# SpreadsheetML writer/reader must preserve arbitrary report cells.

_XLSX_TEXT = st.text(
    # full utf-8 range INCLUDING control chars and \r: the writer
    # escapes XML-invalid/normalized chars as ECMA-376 _xHHHH_ and the
    # reader reverses it, so everything round-trips (raw \x01 used to
    # corrupt the workbook; \r used to come back as \n)
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=40,
)

_XLSX_CELL = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53) + 1, max_value=2**53 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    _XLSX_TEXT,
)


def _expected_cell(v):
    """The documented read-back normalization: integral floats within
    2^53 come back as int (pandas-read_excel-like)."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if v.is_integer() and abs(v) < 2**53:
        return int(v)
    return v


@settings(max_examples=40, deadline=None)
@given(
    name=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        min_size=1,
        max_size=20,
    ),
    header=st.lists(_XLSX_TEXT, min_size=1, max_size=5),
    rows=st.lists(st.lists(_XLSX_CELL, min_size=5, max_size=5), max_size=6),
)
def test_xlsx_roundtrip_property(tmp_path_factory, name, header, rows):
    from fixtures import write_xlsx

    from automatic_data_validator_spark.xlsx import read_xlsx

    header = (header + [""] * 5)[:5]
    path = str(tmp_path_factory.mktemp("xlsx") / "p.xlsx")
    write_xlsx(path, {name: (header, rows)})
    back = read_xlsx(path)
    assert list(back) == [name]
    got = back[name]
    # empty-string cells write as <t xml:space="preserve"></t>; the
    # reader surfaces them as "" — header row is all strings so exact
    assert got[0] == header
    assert len(got) == len(rows) + 1
    for want_row, got_row in zip(rows, got[1:]):
        for want, got_v in zip(want_row, got_row):
            want = _expected_cell(want)
            if want == "":
                assert got_v in ("", None)  # trailing-gap cells drop
            elif isinstance(want, float):
                assert isinstance(got_v, float) and got_v == want
            else:
                assert got_v == want
