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

``decode_write_request`` is the one WriteRequest decoder: one walk of the
wire (``_timeseries``) feeding the ``parseRecords`` flatten
(``flatten_series``, prometheus.go:10-37) straight into the four record
columns. A length or fixed-width field that runs past its enclosing
message raises ``ValueError``, as Go's ``proto.Unmarshal`` fails with
``io.ErrUnexpectedEOF``. ``parse_write_request`` is the nested form of
the same walk.

A sender resends the same label sets on every send, so the walk keeps a
process-wide cache of decoded label sets. The key is the wire bytes of a
TimeSeries' leading run of Labels written ``0A L …`` with a one-byte
``L``; the value is the labels dict, shared read-only by every row, body
and thread that hits it. Both caps are module constants:
``LABEL_CACHE_MAX_ENTRIES`` (32,768) and ``LABEL_CACHE_MAX_KEY_BYTES``
(4 MiB). A full cache (an insert would cross either cap) keeps what it
holds and turns new label sets away; once it has turned away as many as
it holds, it is cleared and refills.

So the cache pays off only while the distinct label sets a process
decodes fit within the caps: about 27,000 at the perfbench label shape
(6-8 labels, ~155 key bytes a set, where the key-byte cap binds first).
For a sender that repeats more series than that round-robin, the share
of hits falls with the excess: 83% at 1.2x the fit, 40% at 1.5x, 37% at
2x, none from 3x. For one whose series churn, the cache refills as they
do. Measured on perfbench bodies (one 4-core shared host): a warm decode
takes 38-48% of the time it took before the cache; a body of all-new
label sets takes 1.07-1.20x. With ``tracemalloc``, a full cache holds
32.5 MiB at the perfbench label shape (27,000 entries, ~1.26 KB an
entry) and 58.8 MiB at the worst case measured, short labels of
two-character names and values (32,768 entries of 12 labels).

No protobuf runtime dependency; snappy comes from pyarrow, which every
Spark Arrow path already needs. Encoders exist for test fixtures and the
``/read`` responses.
"""

from __future__ import annotations

import struct
import threading
from collections.abc import Iterable, Iterator

import pyarrow as pa

# --------------------------- snappy block format ---------------------------


def _read_uvarint(buf: bytes, pos: int, end: int | None = None) -> tuple[int, int]:
    """The varint at ``pos``; a varint running past ``end`` (default: the
    buffer's end) or past 64 bits raises ``ValueError``."""
    if end is None:
        end = len(buf)
    result = shift = 0
    while True:
        if pos >= end:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            if result >> 64:  # a 10th byte above 1, as Go's protowire refuses
                raise ValueError("uvarint overflows 64 bits")
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
    expected, _ = _read_uvarint(data, 0)
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


def _read_key(buf: bytes, pos: int, end: int | None = None) -> tuple[int, int, int]:
    key, pos = _read_uvarint(buf, pos, end)
    return key >> 3, key & 7, pos


def _skip(buf: bytes, pos: int, wire: int, end: int | None = None) -> int:
    if end is None:
        end = len(buf)
    if wire == 0:
        _, pos = _read_uvarint(buf, pos, end)
    elif wire == 1:
        pos += 8
    elif wire == 2:
        ln, pos = _read_uvarint(buf, pos, end)
        pos += ln
    elif wire == 5:
        pos += 4
    else:
        raise ValueError(f"unsupported wire type {wire}")
    if pos > end:
        raise ValueError("field runs past its message")
    return pos


def _read_span(buf: bytes, pos: int, end: int) -> tuple[int, int]:
    """A length-delimited field's payload ``[pos, stop)``; a length that
    runs past ``end`` raises ``ValueError`` (Go's ``io.ErrUnexpectedEOF``)."""
    ln, pos = _read_uvarint(buf, pos, end)
    if pos + ln > end:
        raise ValueError("length runs past its message")
    return pos, pos + ln


_DOUBLE = struct.Struct("<d")
# The record columns (name, time, value, labels) of RECORD_SCHEMA.
Columns = tuple[list[str], list[int], list[float | None], list[dict[str, str]]]


def _label(buf: bytes, pos: int, end: int) -> tuple[str, str]:
    """The Label in ``[pos, end)``. The canonical Label every Prometheus
    sender (and our encoder) writes, ``0A n name 12 m value`` filling a
    span of under 128 bytes exactly, is sliced without the key/varint
    helpers; any other (long strings, reordered or unknown fields,
    overlong keys) takes the general path."""
    # under 128 bytes, a multi-byte n or m cannot pass for a one-byte one
    if end - pos < 0x80 and pos + 1 < end and buf[pos] == 0x0A:
        q = pos + 2 + buf[pos + 1]  # a multi-byte n lands q past end
        if q + 2 <= end and buf[q] == 0x12 and buf[q + 1] == end - q - 2:
            return buf[pos + 2 : q].decode("utf-8"), buf[q + 2 : end].decode("utf-8")
    name = value = ""
    while pos < end:
        field, wire, pos = _read_key(buf, pos, end)
        if field in (1, 2) and wire == 2:
            start, pos = _read_span(buf, pos, end)
            if field == 1:
                name = buf[start:pos].decode("utf-8")
            else:
                value = buf[start:pos].decode("utf-8")
        else:
            pos = _skip(buf, pos, wire, end)
    return name, value


def _sample(buf: bytes, pos: int, end: int) -> tuple[float, int]:
    """The Sample in ``[pos, end)``. The canonical Sample every Prometheus
    sender (and our encoder) writes, ``09 <double> 10 <varint>`` filling
    the span exactly, is read without the key helpers; any other
    (reordered, repeated or unknown fields, overlong keys) is read again
    from the start by the general path."""
    value, raw = 0.0, 0
    if end - pos > 10 and buf[pos] == 0x09 and buf[pos + 9] == 0x10:
        raw, q = _read_uvarint(buf, pos + 10, end)
        if q == end:
            value, pos = _DOUBLE.unpack_from(buf, pos + 1)[0], end
    while pos < end:
        field, wire, pos = _read_key(buf, pos, end)
        if field == 1 and wire == 1:
            if pos + 8 > end:
                raise ValueError("double runs past its message")
            value = _DOUBLE.unpack_from(buf, pos)[0]
            pos += 8
        elif field == 2 and wire == 0:
            raw, pos = _read_uvarint(buf, pos, end)
        else:
            pos = _skip(buf, pos, wire, end)
    # int64: 64-bit two's complement varint
    return value, raw - (1 << 64) if raw >= 1 << 63 else raw


# ----------------------- label-set cache (module doc) -----------------------
LABEL_CACHE_MAX_ENTRIES = 32_768
LABEL_CACHE_MAX_KEY_BYTES = 4 << 20

_label_sets: dict[bytes, dict[str, str]] = {}
_label_set_bytes = 0  # total length of the keys in _label_sets
_turned_away = 0  # label sets refused since the cache last filled
_label_set_lock = threading.Lock()  # ThreadingHTTPServer handlers share the cache


def _forget_label_sets() -> None:
    global _label_set_bytes, _turned_away
    with _label_set_lock:
        _label_sets.clear()
        _label_set_bytes = _turned_away = 0


def _remember_labels(key: bytes, labels: dict[str, str]) -> None:
    global _label_set_bytes, _turned_away
    if len(key) > LABEL_CACHE_MAX_KEY_BYTES:
        return
    with _label_set_lock:
        if key in _label_sets:  # another thread decoded it first
            return
        if (
            len(_label_sets) >= LABEL_CACHE_MAX_ENTRIES
            or _label_set_bytes + len(key) > LABEL_CACHE_MAX_KEY_BYTES
        ):
            # Full: keep what is held, so a sender with more label sets
            # than fit still hits on those; once as many have been turned
            # away as are held, what is held is likely stale (churn).
            _turned_away += 1
            if _turned_away < len(_label_sets):
                return
            _label_sets.clear()
            _label_set_bytes = _turned_away = 0
        _label_sets[key] = labels
        _label_set_bytes += len(key)


def _timeseries(buf: bytes) -> Iterator[tuple[Iterable, dict, list]]:
    """The one walk of the ``WriteRequest`` wire: per TimeSeries, its
    ``(name, value)`` label pairs in wire order, their ``dict`` (later
    duplicates win, as ``dict(pairs)``), and its ``(value, timestamp)``
    samples. Unknown fields are skipped; a length or fixed-width field
    that runs past its enclosing message raises ``ValueError``.

    The leading run of Labels written ``0A L …`` with a one-byte ``L`` is
    the label-set cache key: a hit reuses the cached dict (its items are
    the pairs: a run with a repeated name is never cached), a miss
    decodes the run with ``_label`` and caches it. A Label decodes from
    its own bytes alone, so a hit is exactly what a fresh decode gives,
    and only a run that decoded without error is cached. A Sample of
    under 128 bytes has its one-byte header read here, like the run's
    Labels. Anything else (Labels after Samples, long Labels or Samples,
    overlong keys, unknown fields) takes the general path, and Labels
    outside the run are merged into a fresh dict."""
    cached = _label_sets.get
    n = len(buf)
    pos = 0
    while pos < n:
        field, wire, pos = _read_key(buf, pos, n)
        if field != 1 or wire != 2:
            pos = _skip(buf, pos, wire, n)
            continue
        pos, end = _read_span(buf, pos, n)
        start = pos
        while pos + 1 < end and buf[pos] == 0x0A and buf[pos + 1] < 0x80:
            pos += 2 + buf[pos + 1]
        if pos > end:
            raise ValueError("length runs past its message")
        key = buf[start:pos]
        labels = cached(key)
        if labels is None:
            pairs = []
            while start < pos:
                stop = start + 2 + buf[start + 1]
                pairs.append(_label(buf, start + 2, stop))
                start = stop
            labels = dict(pairs)
            if len(labels) == len(pairs):  # no duplicate names: items() is pairs
                _remember_labels(key, labels)
        else:
            pairs = labels.items()
        more: list[tuple[str, str]] = []
        samples: list[tuple[float, int]] = []
        while pos < end:
            if buf[pos] == 0x12 and pos + 1 < end and buf[pos + 1] < 0x80:
                stop = pos + 2 + buf[pos + 1]  # a Sample of under 128 bytes
                if stop > end:
                    raise ValueError("length runs past its message")
                samples.append(_sample(buf, pos + 2, stop))
                pos = stop
                continue
            field, wire, pos = _read_key(buf, pos, end)
            if field in (1, 2) and wire == 2:
                start, pos = _read_span(buf, pos, end)
                if field == 1:
                    more.append(_label(buf, start, pos))
                else:
                    samples.append(_sample(buf, start, pos))
            else:
                pos = _skip(buf, pos, wire, end)
        if more:
            pairs = (*pairs, *more)
            labels = dict(pairs)
        yield pairs, labels, samples


def flatten_series(series: Iterable[tuple[dict, list]]) -> Columns:
    """``parseRecords`` (prometheus.go:10-37): ``(labels, samples)`` per
    series → the record columns ``(name, time, value, labels)``.

    - the series' labels dict is shared by its rows (prometheus.go:14-17)
    - name = labels["__name__"] or "" (prometheus.go:19)
    - zero samples → one labels-only row, time=0, value None (prometheus.go:20-23)
    - one row per sample (prometheus.go:25-34)
    - stale-marker NaN → None (prometheus.go:28-32)
    """
    names: list[str] = []
    times: list[int] = []
    values: list[float | None] = []
    label_maps: list[dict[str, str]] = []
    for labels, samples in series:
        name = labels.get("__name__", "")
        for value, time in samples or ((None, 0),):
            names.append(name)
            times.append(time)
            values.append(value if value == value else None)  # NaN != NaN
            label_maps.append(labels)
    return names, times, values, label_maps


def decode_write_request(buf: bytes) -> Columns:
    """protobuf ``WriteRequest`` bytes → the record columns ``(name, time,
    value, labels)`` in one pass: ``proto.Unmarshal`` then ``parseRecords``
    (kinesis.go:83-90). Every Python ingest path decodes through this: both
    ``/receive`` spool modes, the ``format("prompb")`` DataSource and the
    relay (``prompb_datasource.decode_body``). Malformed wire raises
    ``ValueError``.

    The labels dicts come from the label-set cache (see the module
    docstring for its key, caps, fill rule and costs). One dict is shared
    across rows, bodies and threads, so callers must treat it as
    read-only; ``json.dumps`` in ``server.spool`` and ``pa.array`` in
    ``decode_body`` only read it, which
    ``test_receive_and_decode_body_leave_cached_labels_unchanged`` checks.

    A deployment with protobuf available JVM-side could use Spark's
    ``from_protobuf()`` (spark-protobuf) instead; this pure-Python decoder
    exists because the runtime ships no protobuf library."""
    return flatten_series((labels, samples) for _, labels, samples in _timeseries(buf))


def parse_write_request(buf: bytes) -> list[dict]:
    """protobuf ``WriteRequest`` bytes → list of timeseries dicts shaped
    exactly like ``schema.WRITE_REQUEST_SCHEMA``'s ``timeseries`` element,
    NaN kept as NaN: the nested form of the same wire walk that
    :func:`decode_write_request` flattens."""
    return [
        {
            "labels": [{"name": name, "value": value} for name, value in labels],
            "samples": [{"value": value, "timestamp": t} for value, t in samples],
        }
        for labels, _, samples in _timeseries(buf)
    ]


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


def _parse_matcher(buf: bytes, pos: int, end: int) -> tuple[int, str, str]:
    mtype, name, value = 0, "", ""
    while pos < end:
        field, wire, pos = _read_key(buf, pos, end)
        if field == 1 and wire == 0:
            mtype, pos = _read_uvarint(buf, pos, end)
        elif field in (2, 3) and wire == 2:
            start, pos = _read_span(buf, pos, end)
            if field == 2:
                name = buf[start:pos].decode("utf-8")
            else:
                value = buf[start:pos].decode("utf-8")
        else:
            pos = _skip(buf, pos, wire, end)
    return (mtype, name, value)


def parse_read_request(buf: bytes) -> list[dict]:
    """protobuf ``ReadRequest`` bytes → list of query dicts
    ``{"start_ms", "end_ms", "matchers": [(type, name, value), ...]}``.
    A length that runs past its enclosing message raises ``ValueError``,
    so a truncated request is refused rather than read as another query."""
    queries: list[dict] = []
    n = len(buf)
    pos = 0
    while pos < n:
        field, wire, pos = _read_key(buf, pos, n)
        if field != 1 or wire != 2:
            pos = _skip(buf, pos, wire, n)
            continue
        pos, end = _read_span(buf, pos, n)
        bounds, matchers = [0, 0], []
        while pos < end:
            field, wire, pos = _read_key(buf, pos, end)
            if field in (1, 2) and wire == 0:
                raw, pos = _read_uvarint(buf, pos, end)
                bounds[field - 1] = raw - (1 << 64) if raw >= 1 << 63 else raw
            elif field == 3 and wire == 2:
                start, pos = _read_span(buf, pos, end)
                matchers.append(_parse_matcher(buf, start, pos))
            else:
                pos = _skip(buf, pos, wire, end)
        queries.append({"start_ms": bounds[0], "end_ms": bounds[1], "matchers": matchers})
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
    n = len(buf)
    pos = 0
    while pos < n:
        field, wire, pos = _read_key(buf, pos, n)
        if field == 1 and wire == 2:
            start, pos = _read_span(buf, pos, n)
            results.append(parse_write_request(buf[start:pos]))
        else:
            pos = _skip(buf, pos, wire, n)
    return results
