"""Span normalization (sequence invariant, Arrow rebuild) and the span
order predicate; multimodal plumbing with stubbed decode."""

from __future__ import annotations

import pyspark.sql.functions as F

from fixtures import synth_media_payloads
from oracles import span_sequence_key

from automatic_data_validator_spark import spans as SP
from automatic_data_validator_spark import multimodal as MM
from automatic_data_validator_spark.rules import span_order_pred
from automatic_data_validator_spark.synth import make_media_catalog


def test_span_sequence_equality_invariant(spark, docs):
    """input_hint per-row invariant: a text-only normalization must
    preserve (kind, media_ref, order) and non-normalized text."""
    normalized = SP.normalize_spans_arrow(docs)
    # doc_id is not unique (synth injects dups), so compare multisets of
    # (doc_id, span_sequence_key) — synth text is already
    # whitespace-normalized, so keys must be preserved exactly
    a = docs.select("doc_id", span_sequence_key().alias("k"))
    b = normalized.select("doc_id", span_sequence_key().alias("k"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_normalize_spans_handles_empty_and_null(spark):
    """A doc whose spans array is empty or null must come back unchanged
    and must NOT corrupt alignment of the surrounding rows."""
    rows = [
        ("d-ws", [{"kind": "text", "text": "  a   b\tc ", "media_ref": None, "offset": 0}]),
        ("d-empty", []),
        ("d-null", None),
        ("d-media", [{"kind": "image", "text": None, "media_ref": "m-1", "offset": 0}]),
        ("d-nulloff", [{"kind": "text", "text": "x", "media_ref": None, "offset": None}]),
    ]
    schema = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    df = spark.createDataFrame(rows, schema)
    got = {r["doc_id"]: r["spans"] for r in SP.normalize_spans_arrow(df).collect()}
    assert got["d-ws"][0]["text"] == "a b c"
    assert got["d-empty"] == []
    assert got["d-null"] is None
    assert got["d-media"][0]["media_ref"] == "m-1" and got["d-media"][0]["text"] is None
    assert got["d-nulloff"][0]["offset"] is None and got["d-nulloff"][0]["text"] == "x"
    # an all-empty batch must not crash
    empt = spark.createDataFrame([("e1", []), ("e2", None)], schema)
    got2 = {r["doc_id"]: r["spans"] for r in SP.normalize_spans_arrow(empt).collect()}
    assert got2 == {"e1": [], "e2": None}


def test_spans_ordered_flag_matches_rule(spark, docs):
    flags = docs.select(span_order_pred("spans").alias("ok"))
    bad = flags.filter(~F.col("ok")).count()
    assert bad > 0  # synth injects ~0.3%


def test_multimodal_pipeline_with_fake_decoder(spark):
    cat = make_media_catalog(spark, 200)
    media = synth_media_payloads(cat, payload_bytes=64)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = MM.extract_features(media, out_dim=8)
    rows = feats.collect()
    assert len(rows) == 200
    assert all(r["decode_ok"] and len(r["feature"]) == 8 for r in rows)
    # deterministic: same ref -> same feature
    f2 = {r["media_ref"]: r["feature"] for r in MM.extract_features(media, out_dim=8).collect()}
    f1 = {r["media_ref"]: r["feature"] for r in rows}
    assert f1 == f2


def test_frame_sample_plan(spark):
    cat = make_media_catalog(spark, 100)
    media = synth_media_payloads(cat)
    frames = MM.frame_sample_plan(media, every_ms=60_000)
    audio = media.filter("media_kind = 'audio'").count()
    assert frames.select("media_ref").distinct().count() == audio
    assert frames.filter("frame_ts_ms % 60000 != 0").count() == 0


def test_normalize_preserves_null_span_elements(spark):
    """A NULL element INSIDE a spans array must stay null (the struct
    validity bitmap must survive the Arrow rebuild), not become a
    non-null all-defaults span."""
    schema = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    df = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "  a  b ", "media_ref": None, "offset": 0},
                 None,
                 {"kind": "image", "text": None, "media_ref": "m-9", "offset": 8}])],
        schema,
    )
    out = SP.normalize_spans_arrow(df).collect()[0]["spans"]
    assert len(out) == 3
    assert out[0]["text"] == "a b"
    assert out[1] is None
    assert out[2]["media_ref"] == "m-9"


def test_real_decoder_slot_activates_when_codec_injected(spark):
    """Directive: prove the real-decoder slot is live plumbing, not
    dead code — inject a working bytes->ndarray codec and the SAME
    mapInPandas path must flip from all-failed to all-decoded, with
    features recomputable driver-side from the payload bytes."""

    def _toy_decoder(payload):
        # stand-in real codec; NESTED so cloudpickle ships it by value
        # (a test-module-level function pickles by reference, which
        # executor workers cannot import)
        import numpy as _np

        return _np.frombuffer(bytes(payload), dtype=_np.uint8).astype(
            _np.float32
        )

    cat = make_media_catalog(spark, 60)
    media = synth_media_payloads(cat, payload_bytes=32)
    # without a codec the real path fails closed (existing contract)
    gated = MM.extract_features(media, out_dim=8, use_fake_decoder=False)
    assert all(not r["decode_ok"] for r in gated.collect())
    # with a codec injected, the identical plumbing decodes everything
    live = MM.extract_features(
        media, out_dim=8, use_fake_decoder=False, decoder=_toy_decoder
    ).collect()
    assert len(live) == 60 and all(r["decode_ok"] for r in live)
    payloads = {r["media_ref"]: bytes(r["payload"]) for r in media.collect()}
    for r in live:
        want = [float(x) for x in payloads[r["media_ref"]][:8]]
        assert r["feature"] == want


def test_injected_decoder_skips_null_payloads(spark):
    """NULL payloads must fail closed BEFORE the injected codec runs —
    a real codec need not tolerate None."""
    media = spark.createDataFrame(
        [("m-1", b"\x01\x02\x03\x04"), ("m-2", None)],
        "media_ref string, payload binary",
    )

    def touchy(payload):
        import numpy as _np

        assert payload is not None, "decoder saw a NULL payload"
        return _np.frombuffer(bytes(payload), dtype=_np.uint8).astype(_np.float32)

    feats = {r["media_ref"]: r for r in MM.extract_features(
        media, out_dim=4, decoder=touchy).collect()}
    assert feats["m-1"]["decode_ok"] and not feats["m-2"]["decode_ok"]


def test_injected_decoder_failures_route_per_row(spark):
    """Round-5 review fix: a real codec raises its OWN exception types
    on corrupt payloads (not DecodeUnavailable) — one bad payload must
    land as decode_ok=False, never abort the job; and a
    codec returning FEWER than out_dim elements is zero-padded like
    the fake path (ANSI element_at(feature, out_dim) must stay safe)."""
    media = spark.createDataFrame(
        [("m-ok", b"\x05\x06\x07\x08\x09\x0a"),
         ("m-corrupt", b"\xff"),
         ("m-short", b"\x01\x02")],
        "media_ref string, payload binary",
    )

    def picky(payload):
        import numpy as _np

        b = bytes(payload)
        if len(b) == 1:
            raise ValueError("truncated image")  # a PIL-style error
        return _np.frombuffer(b, dtype=_np.uint8).astype(_np.float32)

    rows = {r["media_ref"]: r for r in MM.extract_features(
        media, out_dim=4, decoder=picky).collect()}
    assert rows["m-ok"]["decode_ok"] and rows["m-ok"]["feature"] == [5.0, 6.0, 7.0, 8.0]
    assert not rows["m-corrupt"]["decode_ok"] and rows["m-corrupt"]["feature"] is None
    # 2-byte payload decodes to 2 elements -> padded to out_dim=4
    assert rows["m-short"]["decode_ok"]
    assert rows["m-short"]["feature"] == [1.0, 2.0, 0.0, 0.0]
