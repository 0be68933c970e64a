"""Multimodal columns: image/audio/video as opaque ``binary`` with
typed metadata.

The Spark-side plumbing (schemas, batch shapes, partitioning, UDF
signatures) is real and tested; the actual codec work is stubbed —
the container has no image/audio libraries — behind
``DecodeUnavailable`` or a deterministic fake so tests can assert the
pipeline shape end-to-end. A production deployment passes
``decoder=<bytes -> ndarray>`` (any Pillow/torchvision wrapper) to
extract_features; nothing else changes.

Fake/real parity contract (q52): the driver-adjudicated oracle pins
the FAKE path byte-exactly — feature[i] == payload_byte[i] / 255 for
the first out_dim bytes, NULL payloads fail closed — which is a
statement about the PLUMBING (Arrow batch shape, padding, failure
routing, schema), not the pixels. A real codec produces different
feature VALUES through the identical plumbing; what carries over
verbatim is: decode_ok routing (any codec exception = per-row
failure), zero-padding to out_dim, NULL-payload pre-filtering, and
determinism for a deterministic codec. The injection tests
(test_real_decoder_slot_activates_when_codec_injected) prove the real
slot is live by wiring a working codec and recomputing its features
driver-side.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


class DecodeUnavailable(NotImplementedError):
    """Raised by the real-decoder slot: codec libraries absent here."""


def _decode_image_real(payload: bytes) -> np.ndarray:  # pragma: no cover
    raise DecodeUnavailable(
        "image decoding requires Pillow/libvips; not present in this "
        "container — wire a decoder with signature bytes -> HxWxC uint8"
    )


def _decode_image_fake(payload: bytes, out_dim: int = 16) -> np.ndarray:
    """Deterministic fake decoder: derive a pseudo-feature from the
    payload bytes so pipeline tests are stable without codecs."""
    if payload is None:
        return np.zeros(out_dim, dtype=np.float32)
    arr = np.frombuffer(payload[: out_dim * 4].ljust(out_dim * 4, b"\0"), dtype=np.uint8)
    return (arr[: out_dim].astype(np.float32) / 255.0)


def extract_features(
    media: DataFrame,
    out_dim: int = 16,
    use_fake_decoder: bool = True,
    decoder: "Callable[[bytes], np.ndarray] | None" = None,
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches).

    Partitioning note for 100 TB: payload columns dominate bytes, so
    the caller should repartition by media_ref range before this to
    balance batch sizes; the UDF itself is embarrassingly parallel.

    ``decoder`` is the real-codec injection slot: pass any callable
    ``bytes -> ndarray`` (e.g. a Pillow/libvips wrapper once the env
    has one) and it is cloudpickled to the executors and used in place
    of the fake/raising defaults — the Spark plumbing (schema, Arrow
    batch shape, failure routing) is identical on every path, which a
    test pins by injecting a working decoder.
    """
    if decoder is None:
        decoder = _decode_image_fake if use_fake_decoder else _decode_image_real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats, ok = [], []
            for payload in b["payload"]:
                if payload is None:
                    # missing media is a decode FAILURE, not a
                    # zero-vector "success" whose zero norm would NaN
                    # any cosine consumer
                    feats.append(None)
                    ok.append(False)
                    continue
                try:
                    vec = [float(x) for x in decoder(payload)[:out_dim]]
                    # zero-pad short outputs to exactly out_dim (the
                    # fake decoder pads internally, an injected codec
                    # need not): consumers index element_at(feature,
                    # out_dim) and ANSI Spark throws on short arrays
                    vec.extend(0.0 for _ in range(out_dim - len(vec)))
                    feats.append(vec)
                    ok.append(True)
                except Exception:
                    # ANY decoder failure is a per-row decode failure,
                    # not a job failure: an injected real codec raises
                    # its own exception types (not DecodeUnavailable)
                    # on corrupt payloads, and one bad byte string
                    # must not abort a 10^12-doc pass
                    feats.append(None)
                    ok.append(False)
            yield pd.DataFrame(
                {"media_ref": b["media_ref"], "feature": feats, "decode_ok": ok}
            )

    return media.select("media_ref", "payload").mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """For video/audio rows: expand to (media_ref, frame_ts_ms) sample
    points from metadata — pure expressions; the decode of each frame
    would plug into extract_features."""
    return (
        media.filter(F.col("meta.duration_ms").isNotNull())
        .select(
            "media_ref",
            F.explode(
                F.sequence(F.lit(0), F.col("meta.duration_ms") - 1, F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )
