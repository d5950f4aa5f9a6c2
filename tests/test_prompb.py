"""Wire-format codec tests (S2/S3): snappy block format and prompb
protobuf, plus the full decode→flatten ingest path on a DataFrame of raw
POST bodies — the byte-level twin of the reference's hot path
(kinesis.go:69-90)."""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from prometheus_remote_kinesis_spark.sources.prompb import (
    SNAPPY_MAX_EXPANSION,
    _write_uvarint,
    decode_write_request,
    encode_remote_write_body,
    encode_write_request,
    parse_write_request,
    snappy_compress,
    snappy_decompress,
)
from prometheus_remote_kinesis_spark.sources.remote_write import decode_remote_write


@given(st.binary(max_size=200_000))
@settings(max_examples=50, deadline=None)
def test_snappy_literal_roundtrip(data):
    assert snappy_decompress(snappy_compress(data)) == data


def test_snappy_rejects_declared_size_bomb():
    """A preamble may not declare more than SNAPPY_MAX_EXPANSION × the
    block length: the output buffer is sized from it, so a tiny body
    claiming 1 GiB must fail before any allocation. A maximally
    expanding valid block (copy-2 elements of length 64) stays under the
    cap, and truncated or empty input is a ValueError too."""
    with pytest.raises(ValueError, match="declares"):
        snappy_decompress(_write_uvarint(1 << 30) + b"\x00")
    dense = bytes([0]) + b"a" + _encode_copy(2, 64, 1) * 1000  # literal + copies
    blob = _write_uvarint(1 + 64 * 1000) + dense
    assert len(blob) * SNAPPY_MAX_EXPANSION > 1 + 64 * 1000
    assert snappy_decompress(blob) == b"a" * (1 + 64 * 1000)
    for bad in (b"", b"\x80"):
        with pytest.raises(ValueError):
            snappy_decompress(bad)


def test_snappy_copy_elements():
    """Decoder handles back-references (incl. overlapping copies), which
    real snappy encoders emit. Hand-built: 'abcd' literal + copy1
    (len 8, offset 4) → 'abcd' repeated with overlap → 'abcdabcdabcd'."""
    literal = bytes([3 << 2]) + b"abcd"  # literal, len 4
    copy1 = bytes([((8 - 4) << 2) | 1 | (0 << 5), 4])  # len 8, offset 4
    blob = bytes([12]) + literal + copy1  # 12 = decompressed length
    assert snappy_decompress(blob) == b"abcdabcdabcd"


def test_snappy_rejects_bad_offset():
    blob = bytes([4]) + bytes([(4 << 2) | 1 | (0 << 5), 200])
    with pytest.raises(ValueError):
        snappy_decompress(blob)


def _encode_copy(kind: int, length: int, offset: int) -> bytes:
    """Emit one back-reference element in the requested tag format
    (format_description.txt §2: copy1 len 4-11 / off <2048, copy2 len
    1-64 / off <65536, copy4 len 1-64 / off <2^32)."""
    if kind == 1:
        return bytes([((length - 4) << 2) | 1 | ((offset >> 8) << 5), offset & 0xFF])
    if kind == 2:
        return bytes([((length - 1) << 2) | 2]) + offset.to_bytes(2, "little")
    return bytes([((length - 1) << 2) | 3]) + offset.to_bytes(4, "little")


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_snappy_fuzz_copy_literal_mix(data):
    """Property fuzz over the FULL element grammar: random interleavings
    of literals and all three copy tag formats (including overlapping
    copies, offset < length) are built alongside the output they imply,
    and the decoder must reproduce that output exactly. Literal-only
    blocks (every draw a literal) are covered here too, next to the
    encoder round-trip and the hand-built copy cases — the decoder runs
    executor-side on every ingested body, so a 100 TB replay hits every
    element shape a conformant encoder emits."""
    expected = bytearray()
    body = bytearray()
    n_ops = data.draw(st.integers(min_value=1, max_value=12))
    for _ in range(n_ops):
        if not expected or data.draw(st.booleans()):
            lit = data.draw(st.binary(min_size=1, max_size=300))
            ln = len(lit) - 1
            if ln < 60:
                body.append(ln << 2)
            else:
                nbytes = (ln.bit_length() + 7) // 8
                body.append((59 + nbytes) << 2)
                body += ln.to_bytes(nbytes, "little")
            body += lit
            expected += lit
        else:
            kind = data.draw(st.sampled_from([1, 2, 3]))
            max_off = min(len(expected), 2047 if kind == 1 else 65535)
            offset = data.draw(st.integers(min_value=1, max_value=max_off))
            length = data.draw(
                st.integers(min_value=4 if kind == 1 else 1, max_value=11 if kind == 1 else 64)
            )
            body += _encode_copy(kind, length, offset)
            start = len(expected) - offset
            for i in range(length):  # overlapping-copy semantics
                expected.append(expected[start + i])
    blob = bytes(_write_uvarint(len(expected))) + bytes(body)
    assert snappy_decompress(blob) == bytes(expected)


def test_protobuf_roundtrip():
    ts = [
        ({"__name__": "up", "job": "node"}, [(1.0, 1513264725773), (0.5, -7)]),
        ({"__name__": "empty"}, []),
        ({"метрика": "значение"}, [(float("nan"), 0)]),
    ]
    parsed = parse_write_request(encode_write_request(ts))
    assert len(parsed) == 3
    assert parsed[0]["labels"] == [
        {"name": "__name__", "value": "up"},
        {"name": "job", "value": "node"},
    ]
    assert parsed[0]["samples"][0] == {"value": 1.0, "timestamp": 1513264725773}
    assert parsed[0]["samples"][1]["timestamp"] == -7  # negative int64 varint
    assert parsed[1]["samples"] == []
    assert math.isnan(parsed[2]["samples"][0]["value"])


def test_protobuf_skips_unknown_fields():
    """Forward compatibility: prompb gained fields (exemplars=3,
    histograms=4 in TimeSeries) that v1-era parsers must skip."""
    body = encode_write_request([({"__name__": "m"}, [(2.0, 9)])])
    # splice an unknown varint field (field 9, wire 0) into WriteRequest
    extra = bytes([(9 << 3) | 0, 42])
    parsed = parse_write_request(body + extra)
    assert parsed[0]["samples"] == [{"value": 2.0, "timestamp": 9}]


def test_decode_remote_write_end_to_end(spark):
    """Raw snappy+protobuf bodies → records, matching the reference's
    flatten/NaN/empty-series semantics exactly (one ``mapInArrow`` over
    the same per-body decoder as the format("prompb") DataSource)."""
    body1 = encode_remote_write_body(
        [
            ({"__name__": "up", "job": "n"}, [(1.0, 1000), (float("nan"), 2000)]),
            ({"__name__": "lonely"}, []),
        ]
    )
    body2 = encode_remote_write_body([({"no_name": "x"}, [(3.5, 5)])])
    df = spark.createDataFrame([(body1,), (body2,)], "body binary")
    rows = sorted(
        (
            (r["name"], r["time"], r["value"], dict(r["labels"]))
            for r in decode_remote_write(df).collect()
        ),
        key=lambda t: (t[0], t[1]),
    )
    assert rows == [
        ("", 5, 3.5, {"no_name": "x"}),
        ("lonely", 0, None, {"__name__": "lonely"}),
        ("up", 1000, 1.0, {"__name__": "up", "job": "n"}),
        ("up", 2000, None, {"__name__": "up", "job": "n"}),  # NaN→NULL
    ]


@given(
    st.lists(
        st.tuples(
            st.dictionaries(
                st.text(min_size=0, max_size=150),  # >127-byte names hit the
                st.text(min_size=0, max_size=150),  # general-path fallback
                max_size=4,
            ),
            st.lists(
                st.tuples(
                    st.floats(allow_nan=False, allow_infinity=True, width=64),
                    st.integers(min_value=-(2**63), max_value=2**63 - 1),
                ),
                max_size=4,
            ),
        ),
        max_size=6,
    )
)
@settings(max_examples=100, deadline=None)
def test_prompb_parse_fuzz_roundtrip(ts):
    """Property fuzz for the decoder: encode∘parse is the identity, and
    encode∘decode yields the records the prometheus.go:10-37 rules give
    for the fixture, over arbitrary label strings (including >127-byte
    values, which overflow the single-byte-length Label fast path and must
    fall back to the general path), full-range int64 timestamps (negative
    → 10-byte varints), ±inf values, and empty series. Guards the
    fast/fallback boundary — the exact seam where an off-by-one would
    silently corrupt records."""
    body = encode_write_request(ts)
    parsed = parse_write_request(body)
    assert len(parsed) == len(ts)
    for (labels, samples), got in zip(ts, parsed):
        assert got["labels"] == [
            {"name": n, "value": v} for n, v in labels.items()
        ]
        assert got["samples"] == [
            {"value": v, "timestamp": t} for v, t in samples
        ]
    assert list(zip(*decode_write_request(body))) == _records(ts)


def _records(ts) -> list[tuple]:
    """``parseRecords`` (prometheus.go:10-37) over an encoder fixture: the
    name is ``__name__`` or "", a series without samples gives one row
    with time 0 and no value, NaN gives no value."""
    out = []
    for labels, samples in ts:
        name = labels.get("__name__", "")
        if not samples:
            out.append((name, 0, None, labels))
        for v, t in samples:
            out.append((name, t, None if math.isnan(v) else v, labels))
    return out


def _ts(*fields: bytes) -> bytes:
    """A one-TimeSeries WriteRequest around the given TimeSeries fields."""
    ts_msg = b"".join(fields)
    return bytes([0x0A, len(ts_msg)]) + ts_msg


_SAMPLE = bytes([0x09]) + struct.pack("<d", 2.0) + bytes([0x10, 0x09])
_GOOD = _ts(bytes([0x12, len(_SAMPLE)]) + _SAMPLE)


@pytest.mark.parametrize(
    "body",
    [
        # a Label whose name length claims 6 bytes of a 4-byte Label span
        _ts(bytes([0x0A, 0x04, 0x0A, 0x06]) + b"ab", bytes([0x12, len(_SAMPLE)]) + _SAMPLE),
        # a Label whose value length claims 9 bytes with only 2 present
        _ts(bytes([0x0A, 0x07, 0x0A, 0x01]) + b"a" + bytes([0x12, 0x09]) + b"xy"),
        # an 11-byte (>64-bit) timestamp varint
        _ts(bytes([0x12, 0x15, 0x09]) + struct.pack("<d", 1.0) + bytes([0x10]) + b"\x80" * 10 + b"\x01"),
        # a fixed64 unknown field in a Sample cut to 2 of its 8 bytes
        _ts(bytes([0x12, len(_SAMPLE) + 3]) + _SAMPLE + bytes([0x19, 0x01, 0x02])),
        # a top-level unknown field claiming 80 bytes, none present
        _GOOD + bytes([0x1A, 0x50]),
        # a TimeSeries claiming more bytes than the body holds
        _GOOD[:-1],
    ],
    ids=["label-name-past-span", "label-value-past-span", "varint-too-long",
         "sample-fixed64-cut", "top-level-field-cut", "timeseries-cut"],
)
def test_parse_malformed_wire_raises(body):
    """A length or fixed-width field that runs past its enclosing message
    raises ``ValueError`` — Go's ``proto.Unmarshal`` returns
    ``io.ErrUnexpectedEOF`` there and the reference answers 400
    (kinesis.go:83-88) — and so does a varint longer than 64 bits."""
    assert parse_write_request(_GOOD) == [
        {"labels": [], "samples": [{"value": 2.0, "timestamp": 9}]}
    ]
    with pytest.raises(ValueError):
        decode_write_request(body)
    with pytest.raises(ValueError):
        parse_write_request(body)


def test_non_canonical_wire_decodes_like_canonical():
    """The wire a conformant encoder may send besides the canonical
    layout: overlong-varint keys (``8A 00`` for ``0A``), a Label with its
    value before its name, and unknown fields inside TimeSeries, Label and
    Sample. It decodes to the same records as its canonical twin."""
    canonical = encode_write_request(
        [({"__name__": "up", "job": "api"}, [(1.5, 1000), (float("nan"), -2)])]
    )
    label_up = bytes([0x8A, 0x00, 0x08]) + b"__name__" + bytes([0x12, 0x02]) + b"up"
    label_job = (
        bytes([0x12, 0x03]) + b"api"  # value first
        + bytes([0x18, 0x07])  # unknown varint field 3
        + bytes([0x0A, 0x03]) + b"job"
    )
    sample1 = (
        bytes([0x10, 0xE8, 0x07])  # timestamp before value
        + bytes([0x1D]) + b"\x00" * 4  # unknown fixed32 field 3
        + bytes([0x89, 0x00]) + struct.pack("<d", 1.5)  # overlong key of 09
    )
    sample2 = bytes([0x09]) + struct.pack("<d", float("nan")) + bytes([0x10]) + (
        b"\xfe" + b"\xff" * 8 + b"\x01"  # -2 as a 10-byte int64 varint
    )
    ts_msg = (
        bytes([0x8A, 0x00, len(label_up)]) + label_up
        + bytes([0x22, 0x02]) + b"ex"  # unknown length-delimited field 4
        + bytes([0x12, len(sample1)]) + sample1
        + bytes([0x0A, len(label_job)]) + label_job
        + bytes([0x92, 0x00, len(sample2)]) + sample2
        + bytes([0x29]) + b"\x00" * 8  # unknown fixed64 field 5
    )
    body = bytes([0x8A, 0x00, len(ts_msg)]) + ts_msg + bytes([0x10, 0x2A])
    assert body != canonical
    assert decode_write_request(body) == decode_write_request(canonical) == (
        ["up", "up"],
        [1000, -2],
        [1.5, None],
        [{"__name__": "up", "job": "api"}] * 2,
    )
