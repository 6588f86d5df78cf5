"""Avro envelope codec: binary roundtrip, schema-id dispatch across
interleaved writer-schema versions, corrupt-payload diversion."""

from __future__ import annotations

import pytest

from gobblin_spark.avro_codec import (
    decode_envelope,
    decode_record,
    encode_record,
    envelope_schema_id,
    wrap_envelope,
)

V1 = [("url", "string"), ("warc_ts", "long"), ("html", ["null", "bytes"]), ("value", "double")]
V2 = V1 + [("lang", ["null", "string"])]  # widened writer schema


@pytest.mark.parametrize(
    "rec",
    [
        {"url": "http://a", "warc_ts": 1, "html": b"\x00\xffbin", "value": 1.5},
        {"url": "", "warc_ts": -(2**40), "html": None, "value": -0.0},
        {"url": "日本語/ünïcode", "warc_ts": 2**62, "html": b"", "value": 3.14159},
    ],
)
def test_binary_roundtrip(rec):
    assert decode_record(V1, encode_record(V1, rec)) == rec


def test_envelope_framing():
    body = encode_record(V1, {"url": "u", "warc_ts": 0, "html": None, "value": 0.0})
    env = wrap_envelope(42, body)
    assert env[0] == 0 and envelope_schema_id(env) == 42
    with pytest.raises(ValueError, match="magic"):
        envelope_schema_id(b"\x01oops")


def test_decode_envelope_schema_dispatch(spark):
    """A stream interleaving two writer-schema versions decodes each record
    with ITS schema; v1 records get NULL for the v2-only column (the
    EnvelopeSchemaConverter + schema-registry model)."""
    rows = []
    for i in range(20):
        if i % 2:
            body = encode_record(
                V2, {"url": f"u{i}", "warc_ts": i, "html": b"h", "value": 1.0, "lang": "en"}
            )
            rows.append((i, wrap_envelope(2, body)))
        else:
            body = encode_record(
                V1, {"url": f"u{i}", "warc_ts": i, "html": None, "value": 2.0}
            )
            rows.append((i, wrap_envelope(1, body)))
    rows.append((99, b"\xde\xad"))  # corrupt payload
    df = spark.createDataFrame(rows, "log_offset long, payload binary")
    out = decode_envelope(df, {1: V1, 2: V2}).collect()
    byoff = {r["log_offset"]: r for r in out}
    assert byoff[1]["lang"] == "en" and byoff[1]["_schema_id"] == 2
    assert byoff[0]["lang"] is None and byoff[0]["_schema_id"] == 1
    assert byoff[0]["url"] == "u0" and byoff[1]["warc_ts"] == 1
    assert bytes(byoff[1]["html"]) == b"h" and byoff[0]["html"] is None
    assert byoff[99]["_schema_id"] == -1 and byoff[99]["url"] is None  # diverted
    assert len(out) == 21


def test_decode_envelope_widens_conflicting_field_types(spark):
    """v1 writes `n` as int, v2 as long: the union output type must be LONG
    and a 2^40 value decoded under v2 must survive unclipped."""
    from gobblin_spark.avro_codec import decode_envelope, encode_record, wrap_envelope

    v1 = [("url", "string"), ("n", "int")]
    v2 = [("url", "string"), ("n", "long")]
    registry = {1: v1, 2: v2}
    rows = [
        (1, wrap_envelope(1, encode_record(v1, {"url": "a", "n": 7}))),
        (2, wrap_envelope(2, encode_record(v2, {"url": "b", "n": 2**40}))),
    ]
    df = spark.createDataFrame(rows, "rid int, payload binary")
    out = decode_envelope(df, registry)
    assert dict(out.dtypes)["n"] == "bigint"
    got = {r["rid"]: r["n"] for r in out.collect()}
    assert got == {1: 7, 2: 2**40}


def test_decode_envelope_widens_float_to_double(spark):
    from gobblin_spark.avro_codec import decode_envelope, encode_record, wrap_envelope

    v1 = [("x", "float")]
    v2 = [("x", "double")]
    registry = {1: v1, 2: v2}
    rows = [(1, wrap_envelope(2, encode_record(v2, {"x": 1.0000000001})))]
    df = spark.createDataFrame(rows, "rid int, payload binary")
    out = decode_envelope(df, registry)
    assert dict(out.dtypes)["x"] == "double"
    assert abs(out.collect()[0]["x"] - 1.0000000001) < 1e-12
