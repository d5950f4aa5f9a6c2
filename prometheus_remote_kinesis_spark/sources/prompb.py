"""Codecs for the Prometheus remote-write wire format.

The reference ingests ``snappy(block) ∘ protobuf(prompb.WriteRequest)``
HTTP bodies (``kinesis.go:76-84``). The snappy block format
(github.com/google/snappy format_description.txt) is pyarrow's built-in
codec behind the uvarint length preamble; the protobuf wire format for
the prompb messages is parsed here in pure Python from its public
specification:

    WriteRequest { repeated TimeSeries timeseries = 1; }
    TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2; }
    Label        { string name = 1; string value = 2; }
    Sample       { double value = 1; int64 timestamp = 2; }

No protobuf runtime dependency; snappy comes from pyarrow, which every
Spark Arrow path already needs. Encoders exist for test fixtures and the
``/read`` responses.
"""

from __future__ import annotations

import struct

import pyarrow as pa

# --------------------------- snappy block format ---------------------------


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("uvarint too long")


def _write_uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# Valid snappy expands at most 64 output bytes per 3-byte copy element
# (copy-2: length 64, tag + 2 offset bytes), i.e. < 22x the block size. A
# preamble declaring more cannot be a real payload; it is refused before
# an output buffer of the declared size is allocated.
SNAPPY_MAX_EXPANSION = 22


def snappy_decompress(data: bytes) -> bytes:
    """Block-format snappy decode (the format ``snappy.Decode`` consumes,
    kinesis.go:76): uvarint decompressed-length preamble, then pyarrow's
    snappy codec. Every failure raises ``ValueError``."""
    try:
        expected, _ = _read_uvarint(data, 0)
    except IndexError:
        raise ValueError("snappy: truncated length preamble") from None
    if expected > SNAPPY_MAX_EXPANSION * len(data):
        raise ValueError(
            f"snappy: preamble declares {expected} bytes for a {len(data)}-byte block"
        )
    try:
        return pa.decompress(
            data, decompressed_size=expected, codec="snappy", asbytes=True
        )
    except OSError as e:
        raise ValueError(f"snappy: {e}") from None


def snappy_compress(data: bytes) -> bytes:
    """Block-format snappy encode (pyarrow's codec, real back-references)."""
    return pa.compress(data, codec="snappy", asbytes=True)


# --------------------------- protobuf wire format --------------------------


def _read_key(buf: bytes, pos: int) -> tuple[int, int, int]:
    key, pos = _read_uvarint(buf, pos)
    return key >> 3, key & 7, pos


def _skip(buf: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = _read_uvarint(buf, pos)
    elif wire == 1:
        pos += 8
    elif wire == 2:
        ln, pos = _read_uvarint(buf, pos)
        pos += ln
    elif wire == 5:
        pos += 4
    else:
        raise ValueError(f"unsupported wire type {wire}")
    return pos


def _parse_label(buf: bytes) -> tuple[str, str]:
    name = value = ""
    pos = 0
    while pos < len(buf):
        field, wire, pos = _read_key(buf, pos)
        if field == 1 and wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            name = buf[pos : pos + ln].decode("utf-8")
            pos += ln
        elif field == 2 and wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            value = buf[pos : pos + ln].decode("utf-8")
            pos += ln
        else:
            pos = _skip(buf, pos, wire)
    return name, value


def _parse_sample(buf: bytes) -> tuple[float, int]:
    value, timestamp = 0.0, 0
    pos = 0
    while pos < len(buf):
        field, wire, pos = _read_key(buf, pos)
        if field == 1 and wire == 1:
            value = struct.unpack("<d", buf[pos : pos + 8])[0]
            pos += 8
        elif field == 2 and wire == 0:
            raw, pos = _read_uvarint(buf, pos)
            # int64: 64-bit two's complement varint
            timestamp = raw - (1 << 64) if raw >= 1 << 63 else raw
        else:
            pos = _skip(buf, pos, wire)
    return value, timestamp


def _parse_timeseries_span(buf: bytes, pos: int, end: int) -> dict:
    """Span-based TimeSeries parse with inline fast paths for the
    CANONICAL wire layout every real Prometheus sender (and our encoder)
    produces — single-byte tags/lengths, fields in declaration order:
    ``Label = 0x0A <n> name 0x12 <n> value``; ``Sample = 0x09 <8-byte
    double> 0x10 <ts varint>``. Anything else (multi-byte tags, >127-byte
    strings, reordered or unknown fields) falls back to the general
    helpers on the submessage, so behavior is identical — only the
    per-message function-call/slice overhead is gone. Round-5 profiling:
    this is the relay's per-core hot loop (~17 µs/record before, ~10 µs
    after on the realistic single-sample/4-label shape — the practical
    pure-Python floor: remaining time is the span loop's byte handling
    itself, and numpy vectorization loses on the ≤16-byte submessages
    prompb actually has, where array setup dominates)."""
    labels: list[dict] = []
    samples: list[dict] = []
    while pos < end:
        tag = buf[pos]
        if tag == 0x0A and pos + 1 < end:  # Label submessage
            ln = buf[pos + 1]
            if ln < 0x80:
                pos += 2
            else:
                ln, pos = _read_uvarint(buf, pos + 1)
            lend = pos + ln
            name = value = ""
            p = pos
            while p < lend:
                t2 = buf[p]
                # fast only when the WHOLE string lies inside the declared
                # submessage span — a length claiming bytes past `lend`
                # (malformed wire) must reparse through the slice-bounded
                # general path so truncation behavior matches it exactly
                if (
                    t2 == 0x0A
                    and p + 1 < lend
                    and buf[p + 1] < 0x80
                    and p + 2 + buf[p + 1] <= lend
                ):
                    n2 = buf[p + 1]
                    name = buf[p + 2 : p + 2 + n2].decode("utf-8")
                    p += 2 + n2
                elif (
                    t2 == 0x12
                    and p + 1 < lend
                    and buf[p + 1] < 0x80
                    and p + 2 + buf[p + 1] <= lend
                ):
                    n2 = buf[p + 1]
                    value = buf[p + 2 : p + 2 + n2].decode("utf-8")
                    p += 2 + n2
                else:  # long/overflowing string / unknown field → reparse
                    name, value = _parse_label(buf[pos:lend])
                    break
            labels.append({"name": name, "value": value})
            pos = lend
        elif tag == 0x12 and pos + 1 < end:  # Sample submessage
            ln = buf[pos + 1]
            if ln < 0x80:
                pos += 2
            else:
                ln, pos = _read_uvarint(buf, pos + 1)
            send = pos + ln
            if ln >= 10 and buf[pos] == 0x09 and buf[pos + 9] == 0x10:
                v = struct.unpack_from("<d", buf, pos + 1)[0]
                p = pos + 10
                raw = shift = 0
                ok = False
                # bounded exactly like _read_uvarint: never read past the
                # declared span and never accept >64-bit varints (the
                # general path raises on both; fast path defers to it)
                while p < send and shift <= 63:
                    b = buf[p]
                    p += 1
                    raw |= (b & 0x7F) << shift
                    if not b & 0x80:
                        ok = True
                        break
                    shift += 7
                if ok and p == send:
                    samples.append(
                        {
                            "value": v,
                            "timestamp": raw - (1 << 64) if raw >= 1 << 63 else raw,
                        }
                    )
                    pos = send
                    continue
            v, t = _parse_sample(buf[pos:send])
            samples.append({"value": v, "timestamp": t})
            pos = send
        else:  # non-canonical key encoding → general path (incl. overlong
            # varint keys, which still decode to field 1/2 wire 2)
            field, wire, pos = _read_key(buf, pos)
            if field == 1 and wire == 2:
                ln, pos = _read_uvarint(buf, pos)
                labels.append(dict(zip(("name", "value"), _parse_label(buf[pos : pos + ln]))))
                pos += ln
            elif field == 2 and wire == 2:
                ln, pos = _read_uvarint(buf, pos)
                v, t = _parse_sample(buf[pos : pos + ln])
                samples.append({"value": v, "timestamp": t})
                pos += ln
            else:
                pos = _skip(buf, pos, wire)
    return {"labels": labels, "samples": samples}


def parse_write_request(buf: bytes) -> list[dict]:
    """protobuf ``WriteRequest`` bytes → list of timeseries dicts shaped
    exactly like ``schema.WRITE_REQUEST_SCHEMA``'s ``timeseries`` element.

    A real deployment with protobuf available JVM-side would use Spark's
    public ``from_protobuf()`` (spark-protobuf) and decode inside codegen;
    this pure-Python path exists because the container has no protobuf
    runtime, and after the r5 fast-path work it is at its practical
    Python floor (see ``_parse_timeseries_span``)."""
    out: list[dict] = []
    pos, n = 0, len(buf)
    while pos < n:
        tag = buf[pos]
        if tag == 0x0A and pos + 1 < n:  # field 1 wire 2: timeseries
            ln = buf[pos + 1]
            if ln < 0x80:
                pos += 2
            else:
                ln, pos = _read_uvarint(buf, pos + 1)
            out.append(_parse_timeseries_span(buf, pos, pos + ln))
            pos += ln
        else:
            field, wire, pos = _read_key(buf, pos)
            if field == 1 and wire == 2:  # overlong-varint key encoding
                ln, pos = _read_uvarint(buf, pos)
                out.append(_parse_timeseries_span(buf, pos, pos + ln))
                pos += ln
            else:
                pos = _skip(buf, pos, wire)
    return out


# ------------------------------ test encoders ------------------------------


def _field(field: int, wire: int) -> bytes:
    return _write_uvarint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _field(field, 2) + _write_uvarint(len(payload)) + payload


def encode_write_request(timeseries: list[tuple[dict, list[tuple[float, int]]]]) -> bytes:
    """Encode ``[(labels_dict, [(value, ts_ms), ...]), ...]`` as a
    ``prompb.WriteRequest`` protobuf (test-fixture twin of what a real
    Prometheus sends)."""
    out = bytearray()
    for labels, samples in timeseries:
        ts = bytearray()
        for name, value in labels.items():
            lbl = _len_delim(1, name.encode("utf-8")) + _len_delim(2, value.encode("utf-8"))
            ts += _len_delim(1, lbl)
        for value, t in samples:
            raw_t = t & ((1 << 64) - 1)  # int64 two's complement varint
            # NULL value → NaN on the wire: the exact inverse of the decode
            # path's NaN→NULL staleness mapping (prometheus.go:28-32), so a
            # record round-trips through encode∘decode unchanged.
            v = float("nan") if value is None else value
            smp = _field(1, 1) + struct.pack("<d", v) + _field(2, 0) + _write_uvarint(raw_t)
            ts += _len_delim(2, smp)
        out += _len_delim(1, bytes(ts))
    return bytes(out)


def encode_remote_write_body(
    timeseries: list[tuple[dict, list[tuple[float, int]]]]
) -> bytes:
    """Full wire body: snappy(protobuf(WriteRequest)) — what hits
    ``/receive`` (kinesis.go:69-84)."""
    return snappy_compress(encode_write_request(timeseries))


# ---------------------------------------------------------------------------
# Prometheus remote READ protocol (public prompb spec, remote.proto):
#   ReadRequest  { repeated Query queries = 1; }
#   Query        { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
#                  repeated LabelMatcher matchers = 3; }
#   LabelMatcher { Type type = 1 (EQ=0 NEQ=1 RE=2 NRE=3);
#                  string name = 2; string value = 3; }
#   ReadResponse { repeated QueryResult results = 1; }
#   QueryResult  { repeated TimeSeries timeseries = 1; }
# The reference implements only the WRITE half (kinesis.go); the read half
# here lets the engine SERVE the relayed series back to a Prometheus
# `remote_read` client — same varint/field primitives, same TimeSeries
# shape as the write path, so responses round-trip through
# parse_write_request's TimeSeries parser.

MATCH_EQ, MATCH_NEQ, MATCH_RE, MATCH_NRE = 0, 1, 2, 3


def _parse_matcher(buf: bytes) -> tuple[int, str, str]:
    pos, mtype, name, value = 0, 0, "", ""
    while pos < len(buf):
        field, wire, pos = _read_key(buf, pos)
        if field == 1 and wire == 0:
            mtype, pos = _read_uvarint(buf, pos)
        elif field == 2 and wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            name = buf[pos : pos + ln].decode("utf-8")
            pos += ln
        elif field == 3 and wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            value = buf[pos : pos + ln].decode("utf-8")
            pos += ln
        else:
            pos = _skip(buf, pos, wire)
    return (mtype, name, value)


def parse_read_request(buf: bytes) -> list[dict]:
    """protobuf ``ReadRequest`` bytes → list of query dicts
    ``{"start_ms", "end_ms", "matchers": [(type, name, value), ...]}``."""
    queries: list[dict] = []
    pos = 0
    while pos < len(buf):
        field, wire, pos = _read_key(buf, pos)
        if field == 1 and wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            q = buf[pos : pos + ln]
            pos += ln
            qpos, start, end, matchers = 0, 0, 0, []
            while qpos < len(q):
                f2, w2, qpos = _read_key(q, qpos)
                if f2 == 1 and w2 == 0:
                    raw, qpos = _read_uvarint(q, qpos)
                    start = raw - (1 << 64) if raw >= (1 << 63) else raw
                elif f2 == 2 and w2 == 0:
                    raw, qpos = _read_uvarint(q, qpos)
                    end = raw - (1 << 64) if raw >= (1 << 63) else raw
                elif f2 == 3 and w2 == 2:
                    ln2, qpos = _read_uvarint(q, qpos)
                    matchers.append(_parse_matcher(q[qpos : qpos + ln2]))
                    qpos += ln2
                else:
                    qpos = _skip(q, qpos, w2)
            queries.append({"start_ms": start, "end_ms": end, "matchers": matchers})
        else:
            pos = _skip(buf, pos, wire)
    return queries


def encode_read_request(queries: list[dict]) -> bytes:
    """Inverse of :func:`parse_read_request` (client side / test fixture)."""
    out = bytearray()
    for q in queries:
        body = bytearray()
        body += _field(1, 0) + _write_uvarint(q["start_ms"] & ((1 << 64) - 1))
        body += _field(2, 0) + _write_uvarint(q["end_ms"] & ((1 << 64) - 1))
        for mtype, name, value in q["matchers"]:
            m = (
                (_field(1, 0) + _write_uvarint(mtype) if mtype else b"")
                + _len_delim(2, name.encode("utf-8"))
                + _len_delim(3, value.encode("utf-8"))
            )
            body += _len_delim(3, bytes(m))
        out += _len_delim(1, bytes(body))
    return bytes(out)


def encode_read_response(results: list[list[tuple[dict, list[tuple[float, int]]]]]) -> bytes:
    """``[[ (labels, [(value, ts_ms), ...]) ... per series ] ... per query ]``
    → ``prompb.ReadResponse`` bytes. Series reuse the WriteRequest
    TimeSeries encoding, so :func:`parse_write_request` parses each
    QueryResult payload."""
    out = bytearray()
    for series_list in results:
        qr = encode_write_request(series_list)  # identical TimeSeries shape
        out += _len_delim(1, qr)
    return bytes(out)


def parse_read_response(buf: bytes) -> list[list[dict]]:
    """Inverse of :func:`encode_read_response`: per query, the
    ``parse_write_request``-shaped series list."""
    results: list[list[dict]] = []
    pos = 0
    while pos < len(buf):
        field, wire, pos = _read_key(buf, pos)
        if field == 1 and wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            results.append(parse_write_request(buf[pos : pos + ln]))
            pos += ln
        else:
            pos = _skip(buf, pos, wire)
    return results
