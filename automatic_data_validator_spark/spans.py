"""Span-array normalization for the interleaved text+media document
model (doc_id, spans:array<struct<kind,text,media_ref,offset>>).

Descendant of the reference's only nested structure — text chunks
(text_processor.py:355-426). ``normalize_spans_arrow`` is the
vectorized Arrow path for free-form span transforms.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .synth import SPAN_SCHEMA


def normalize_spans_arrow(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Vectorized Arrow path (input_hint: "vectorized pandas/Arrow UDFs
    (no per-row Python)"): normalize text spans (collapse whitespace,
    strip) while PRESERVING the span-sequence invariant (kind,
    media_ref, order unchanged; only text content is normalized).

    Pure Arrow kernels via ``mapInArrow``: the span ListArray's
    flattened struct children are transformed in place
    (``replace_substring_regex`` + ``utf8_trim_whitespace`` on the text
    child — RE2/C++, zero Python per row OR per span) and the list is
    rebuilt from the ORIGINAL offsets, so empty arrays stay ``[]``,
    null arrays stay null, and (kind, media_ref, offset) children are
    reused untouched — the span-sequence invariant holds by
    construction. Note: RE2's ``\\s`` is ASCII (vs Python's unicode
    ``\\s``); unicode whitespace inside text survives, leading/trailing
    unicode whitespace is still trimmed by utf8_trim_whitespace.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField(spans_col, T.ArrayType(SPAN_SCHEMA)),
        ]
    )
    fields = [f.name for f in SPAN_SCHEMA.fields]

    def norm(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for b in batches:
            lst = b.column(b.schema.get_field_index(spans_col))
            st = lst.values  # flattened struct children, offset-aligned
            children = {f: st.field(f) for f in fields}
            children["text"] = pc.utf8_trim_whitespace(
                pc.replace_substring_regex(children["text"], r"\s+", " ")
            )
            # carry the element validity: without mask a NULL span
            # element would come back as a non-null all-defaults struct
            new_st = pa.StructArray.from_arrays(
                [children[f] for f in fields],
                names=fields,
                mask=pc.is_null(st),
            )
            new_lst = pa.ListArray.from_arrays(
                lst.offsets, new_st, mask=pc.is_null(lst)
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(b.schema.get_field_index("doc_id")), new_lst],
                names=["doc_id", spans_col],
            )

    return df.select("doc_id", spans_col).mapInArrow(norm, out_schema)
