"""Wire-format codec tests (S2/S3): snappy block format and prompb
protobuf, plus the full decode→flatten ingest path on a DataFrame of raw
POST bodies — the byte-level twin of the reference's hot path
(kinesis.go:69-90)."""

from __future__ import annotations

import math
import struct
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from prometheus_remote_kinesis_spark.sources import prompb
from prometheus_remote_kinesis_spark.sources.prompb import (
    SNAPPY_MAX_EXPANSION,
    _forget_label_sets,
    _write_uvarint,
    decode_write_request,
    encode_read_request,
    encode_remote_write_body,
    encode_write_request,
    parse_read_request,
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
    fall back to the general path and end the label-set cache key),
    full-range int64 timestamps (negative → 10-byte varints), ±inf
    values, and empty series. Each body is decoded cold, with an empty
    label-set cache, and then warm: both give the same records. Guards the
    fast/fallback boundary — the exact seam where an off-by-one would
    silently corrupt records."""
    body = encode_write_request(ts)
    _forget_label_sets()
    for _ in ("cold", "warm"):
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
# the label bytes of {"__name__": "up", "job": "api"}: the cache key of a
# TimeSeries that starts with them
_LABELS = encode_write_request([({"__name__": "up", "job": "api"}, [])])[2:]
_LABELED = _ts(_LABELS, bytes([0x12, len(_SAMPLE)]) + _SAMPLE)


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
        # a 10-byte timestamp varint whose last byte sets bits past 64
        _ts(bytes([0x12, 0x14, 0x09]) + struct.pack("<d", 1.0) + bytes([0x10]) + b"\x80" * 9 + b"\x02"),
        # a Label of the key run claiming more bytes than its TimeSeries holds
        _ts(bytes([0x0A, 0x09, 0x0A, 0x01]) + b"a"),
        # cached labels, then a Sample cut to 13 of its 15 bytes
        _ts(_LABELS, bytes([0x12, len(_SAMPLE)]) + _SAMPLE[:-2]),
        # cached labels, then a Sample whose double is cut short
        _ts(_LABELS, bytes([0x12, 0x05, 0x09]) + b"\x00" * 4),
        # cached labels in a TimeSeries claiming more bytes than the body holds
        _LABELED[:-1],
        # a TimeSeries that ends inside the last Label of the cached run
        _ts(_LABELS[:-3]),
    ],
    ids=["label-name-past-span", "label-value-past-span", "varint-too-long",
         "sample-fixed64-cut", "top-level-field-cut", "timeseries-cut",
         "varint-overflows-64-bits", "label-past-timeseries",
         "cached-labels-sample-cut", "cached-labels-double-cut",
         "cached-labels-timeseries-cut", "cached-label-run-cut"],
)
def test_parse_malformed_wire_raises(body):
    """A length or fixed-width field that runs past its enclosing message
    raises ``ValueError`` — Go's ``proto.Unmarshal`` returns
    ``io.ErrUnexpectedEOF`` there and the reference answers 400
    (kinesis.go:83-88) — and so does a varint longer than 64 bits or
    overflowing them. Each body is decoded cold, then warm: with the
    label-set cache already holding the label bytes the malformed bodies
    start with, since a cached label prefix must not hide a cut Sample or
    a cut TimeSeries."""
    _forget_label_sets()
    assert parse_write_request(_GOOD) == [
        {"labels": [], "samples": [{"value": 2.0, "timestamp": 9}]}
    ]
    for warm in (False, True):
        if warm:
            assert decode_write_request(_LABELED) == (
                ["up"], [9], [2.0], [{"__name__": "up", "job": "api"}]
            )
            assert _LABELS in prompb._label_sets
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
    # a canonical Sample's fields followed by more: read again from the
    # start, the repeated timestamp winning and the unknown field skipped
    for tail, t in ((bytes([0x10, 0x07]), 7), (bytes([0x1D]) + b"\x00" * 4, 9)):
        sample = _SAMPLE + tail
        body = _ts(bytes([0x12, len(sample)]) + sample)
        assert decode_write_request(body) == ([""], [t], [2.0], [{}])
    with pytest.raises(ValueError):
        decode_write_request(_ts(bytes([0x12, len(_SAMPLE) + 1]) + _SAMPLE + b"\x10"))


def test_label_cache_duplicates_and_labels_after_samples():
    """Wire order and duplicate label names survive the cache: a run with a
    repeated name is never cached (``parse_write_request`` keeps both
    pairs, the dict keeps the later value), and a Label after the Samples
    merges into a fresh dict after the cached run's labels, exactly as
    ``dict(pairs)`` does, without touching the cached dict."""
    dup = encode_write_request([({"job": "a"}, [])])[2:] * 2  # job twice
    dup = dup[:-1] + b"b"  # job=a, job=b
    late = encode_write_request([({"zone": "z", "job": "late"}, [])])[2:]
    sample = bytes([0x12, len(_SAMPLE)]) + _SAMPLE
    bodies = [_ts(dup, sample), _ts(_LABELS, sample, late), _LABELED]
    _forget_label_sets()
    cold = [(parse_write_request(b), decode_write_request(b)) for b in bodies]
    warm = [(parse_write_request(b), decode_write_request(b)) for b in bodies]
    assert cold == warm
    assert [(lbl["name"], lbl["value"]) for lbl in warm[0][0][0]["labels"]] == [
        ("job", "a"), ("job", "b")
    ]
    assert warm[0][1][3] == [{"job": "b"}]
    assert dup not in prompb._label_sets
    assert warm[1][1][3] == [{"__name__": "up", "job": "late", "zone": "z"}]
    assert prompb._label_sets[_LABELS] == {"__name__": "up", "job": "api"}
    assert warm[2][1][3][0] is prompb._label_sets[_LABELS]  # shared, read-only


@pytest.mark.parametrize("cap", ["entries", "key_bytes"])
def test_label_cache_stays_within_caps(monkeypatch, cap):
    """More label sets than either cap admits leave both the entry count
    and the key bytes within their caps, and the decodes stay what a cold
    decode gives."""
    ts = [({"__name__": "m", "i": f"{i:03d}"}, [(float(i), i)]) for i in range(9)]
    bodies = [encode_write_request([t]) for t in ts]
    key_len = len(encode_write_request([(ts[0][0], [])])) - 2
    entries, key_bytes = (4, 1 << 20) if cap == "entries" else (1000, 4 * key_len)
    monkeypatch.setattr(prompb, "LABEL_CACHE_MAX_ENTRIES", entries)
    monkeypatch.setattr(prompb, "LABEL_CACHE_MAX_KEY_BYTES", key_bytes)
    _forget_label_sets()
    for _ in range(2):
        for body, t in zip(bodies, ts):
            assert list(zip(*decode_write_request(body))) == _records([t])
            assert 0 < len(prompb._label_sets) <= entries
            assert prompb._label_set_bytes <= key_bytes
            assert prompb._label_set_bytes == sum(map(len, prompb._label_sets))
    monkeypatch.setattr(prompb, "LABEL_CACHE_MAX_KEY_BYTES", key_len - 1)
    _forget_label_sets()
    assert list(zip(*decode_write_request(bodies[0]))) == _records(ts[:1])
    assert not prompb._label_sets  # a key longer than the byte cap is not kept


def test_full_label_cache_turns_away_then_clears(monkeypatch):
    """A full cache keeps what it holds and turns new label sets away, so
    a sender with more label sets than fit still hits on those it holds;
    once it has turned away as many as it holds, it is cleared, so a
    churning sender's new label sets get in."""
    monkeypatch.setattr(prompb, "LABEL_CACHE_MAX_ENTRIES", 4)
    ts = [({"__name__": "m", "i": str(i)}, [(1.0, i)]) for i in range(8)]
    keys = [encode_write_request([(labels, [])])[2:] for labels, _ in ts]
    bodies = [encode_write_request([t]) for t in ts]
    _forget_label_sets()
    for body in bodies[:4]:
        decode_write_request(body)
    held = dict(prompb._label_sets)
    assert list(held) == keys[:4]
    for body, t in zip(bodies[4:7], ts[4:7]):  # 3 turned away, 4 held
        assert list(zip(*decode_write_request(body))) == _records([t])
        assert prompb._label_sets == held
    assert all(prompb._label_sets[k] is v for k, v in held.items())
    assert decode_write_request(bodies[0])[3][0] is held[keys[0]]  # still hits
    decode_write_request(bodies[7])  # the 4th turned away: cleared, then kept
    assert list(prompb._label_sets) == [keys[7]]
    assert prompb._label_set_bytes == len(keys[7])


@pytest.mark.parametrize("entries", [32_768, 1_000], ids=["default", "clearing"])
def test_label_cache_concurrent_decodes(monkeypatch, entries):
    """8 threads decoding perfbench-shaped bodies at once, sharing the one
    cache (as ``ThreadingHTTPServer`` handlers do), get the
    single-thread results — also with a cap small enough that threads
    fill, turn away and clear the cache under each other."""
    from perfbench.bodies import BASE_MS, Universe, make_body

    universe = Universe(1)
    bodies = [snappy_decompress(make_body(universe, 1, i, BASE_MS + i)[0])
              for i in range(4)]
    _forget_label_sets()
    expected = [decode_write_request(b) for b in bodies]
    monkeypatch.setattr(prompb, "LABEL_CACHE_MAX_ENTRIES", entries)
    _forget_label_sets()

    def decode_all(k: int) -> list:
        order = [(k + j) % len(bodies) for j in range(len(bodies))]
        got = {j: decode_write_request(bodies[j]) for j in order}
        return [got[j] for j in range(len(bodies))]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often, inside the inserts too
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(decode_all, k) for k in range(8)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(r == expected for r in results)
    assert len(prompb._label_sets) <= entries
    # a lost update of the key-byte count would break this
    assert prompb._label_set_bytes == sum(map(len, prompb._label_sets))


def test_parse_read_request_cut_raises():
    """A ReadRequest cut short raises ``ValueError`` at every level instead
    of parsing as another query: cut by one byte, ``__name__="up"`` would
    otherwise read as ``__name__="u"``."""
    req = encode_read_request(
        [{"start_ms": 1000, "end_ms": 2000, "matchers": [(0, "__name__", "up")]}]
    )
    assert parse_read_request(req)[0]["matchers"] == [(0, "__name__", "up")]
    for cut in (req[:-1], req[:-3], req[:1]):
        with pytest.raises(ValueError):
            parse_read_request(cut)
    # each runs past its own message but not past the buffer
    matcher = bytes([0x12, 0x08]) + b"__name__" + bytes([0x1A, 0x03]) + b"up"
    next_matcher = bytes([0x1A, 0x02, 0x08, 0x00])
    for query, after in (
        (bytes([0x1A, len(matcher)]) + matcher + next_matcher, b""),  # matcher value
        (bytes([0x1A, 0x02, 0x08, 0x80]) + next_matcher, b""),  # matcher type varint
        (bytes([0x1A, 0x06, 0x08, 0x00]), bytes([0x10, 0x00, 0x18, 0x00])),  # matcher
    ):
        with pytest.raises(ValueError):
            parse_read_request(bytes([0x0A, len(query)]) + query + after)
