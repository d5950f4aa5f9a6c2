"""S1 end-to-end: a real HTTP POST of a snappy+protobuf remote-write body
→ RemoteWriteServer → NDJSON spool → Structured Streaming relay — the
reference's full dataflow (kinesis.go:68-93 → chan → writer) with our
durable spool as the channel. Also pins the handler's Python flatten
against the Spark-side ingest on the same fixtures."""

from __future__ import annotations

import http.client
import json
import math
import struct
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from prometheus_remote_kinesis_spark import server
from prometheus_remote_kinesis_spark.server import (
    RemoteWriteServer,
    _ndjson_lines,
    _records,
    flatten_timeseries,
)
from prometheus_remote_kinesis_spark.sources import prompb
from prometheus_remote_kinesis_spark.sources.prompb import (
    encode_remote_write_body,
    encode_write_request,
    snappy_compress,
)

FIXTURE = [
    ({"__name__": "up", "job": "api"}, [(1.0, 1000), (0.0, 2000)]),
    ({"__name__": "stale", "job": "api"}, [(float("nan"), 3000)]),  # NaN → null
    ({"__name__": "empty_series"}, []),  # labels-only row, time=0
    ({"no_name": "x"}, [(2.5, 4000)]),  # missing __name__ → ""
]
# valid series, then an unknown field whose length runs past the body:
# proto.Unmarshal's io.ErrUnexpectedEOF → 400 (kinesis.go:85-88)
TRUNCATED = snappy_compress(encode_write_request(FIXTURE) + b"\x1a\x50")


def _post(url_host: str, port: int, body: bytes, path: str = "/receive") -> int:
    conn = http.client.HTTPConnection(url_host, port, timeout=10)
    conn.request("POST", path, body=body)
    status = conn.getresponse().status
    conn.close()
    return status


def test_http_receive_to_streaming_relay(spark, tmp_path):
    spool = str(tmp_path / "spool")
    srv = RemoteWriteServer(spool).start()
    host, port = srv.server_address[:2]
    try:
        assert _post(host, port, encode_remote_write_body(FIXTURE)) == 200
        # reference status codes: bad snappy → 400, bad route → 404
        assert _post(host, port, b"\xff\xff not snappy") == 400
        # valid snappy wrapping garbage protobuf → 400 (kinesis.go:85-88)
        assert _post(host, port, snappy_compress(b"\x99\x99\x99")) == 400
        assert _post(host, port, TRUNCATED) == 400
        assert _post(host, port, encode_remote_write_body(FIXTURE), "/else") == 404
    finally:
        srv.stop()

    from prometheus_remote_kinesis_spark.streaming.pipeline import read_record_stream

    out = (
        read_record_stream(spark, spool)
        .writeStream.format("memory")
        .queryName("srv_relay")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    out.awaitTermination()
    rows = {
        (r["name"], r["time"]): r for r in spark.table("srv_relay").collect()
    }
    assert len(rows) == 5  # 2 + 1 + 1 + 1
    assert rows[("up", 1000)]["value"] == 1.0
    assert rows[("up", 2000)]["labels"] == {"__name__": "up", "job": "api"}
    assert rows[("stale", 3000)]["value"] is None  # NaN → null, wire-level
    assert rows[("empty_series", 0)]["value"] is None  # labels-only row
    assert rows[("", 4000)]["value"] == 2.5  # missing __name__ → ""


def test_python_flatten_matches_spark_ingest(spark):
    """The decoder's flatten (``prompb.flatten_series``, through
    ``flatten_timeseries``) and the declarative Spark flatten must agree
    cell-for-cell on the edge fixtures."""
    from prometheus_remote_kinesis_spark.schema import WRITE_REQUEST_SCHEMA
    from prometheus_remote_kinesis_spark.ingest import flatten_write_requests
    from prometheus_remote_kinesis_spark.sources.prompb import (
        encode_write_request,
        parse_write_request,
    )

    timeseries = parse_write_request(encode_write_request(FIXTURE))
    py_rows = flatten_timeseries(timeseries)

    spark_df = flatten_write_requests(
        spark.createDataFrame([(timeseries,)], WRITE_REQUEST_SCHEMA)
    )
    spark_rows = [
        {
            "name": r["name"],
            "time": r["time"],
            "value": r["value"],
            "labels": dict(r["labels"]),
        }
        for r in spark_df.collect()
    ]

    key = lambda r: (r["name"], r["time"])  # noqa: E731
    assert sorted(py_rows, key=key) == sorted(spark_rows, key=key)
    assert not any(
        isinstance(r["value"], float) and math.isnan(r["value"]) for r in py_rows
    )


def test_raw_spool_to_prompb_stream_relay(spark, tmp_path):
    """Raw-spool mode: the handler validates (same status codes) but
    persists the original snappy body; ``read_prompb_record_stream``
    decodes it inside Spark. Same five records as the NDJSON path."""
    spool = str(tmp_path / "raw_spool")
    srv = RemoteWriteServer(spool, raw=True).start()
    host, port = srv.server_address[:2]
    try:
        assert _post(host, port, encode_remote_write_body(FIXTURE)) == 200
        assert _post(host, port, b"\xff\xff not snappy") == 400
        assert _post(host, port, snappy_compress(b"\x99\x99\x99")) == 400
        assert _post(host, port, TRUNCATED) == 400
    finally:
        srv.stop()

    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        read_prompb_record_stream,
    )

    out = (
        read_prompb_record_stream(spark, spool)
        .writeStream.format("memory")
        .queryName("raw_relay")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_raw"))
        .start()
    )
    out.awaitTermination()
    rows = {(r["name"], r["time"]): r for r in spark.table("raw_relay").collect()}
    assert len(rows) == 5
    assert rows[("up", 1000)]["value"] == 1.0
    assert rows[("up", 2000)]["labels"] == {"__name__": "up", "job": "api"}
    assert rows[("stale", 3000)]["value"] is None
    assert rows[("empty_series", 0)]["value"] is None
    assert rows[("", 4000)]["value"] == 2.5


def test_remote_read_endpoint_round_trip(tmp_path):
    """POST /read e2e: snappy(ReadRequest) in, snappy(ReadResponse) out —
    the read handler sees the parsed queries, its series serialize
    through the WriteRequest-shaped TimeSeries encoding, and a NaN
    sample survives the wire (the staleness marker's inverse mapping).
    A server WITHOUT a read handler keeps reference parity: /read → 404."""
    import math

    from prometheus_remote_kinesis_spark.sources.prompb import (
        MATCH_EQ,
        MATCH_RE,
        encode_read_request,
        parse_read_response,
        snappy_compress,
        snappy_decompress,
    )

    seen = {}

    def handler(queries):
        seen["queries"] = queries
        return [
            [
                ({"__name__": "click", "user": "7"}, [(1.25, 1500), (None, 1600)]),
                ({"__name__": "click", "user": "9"}, [(2.5, 1700)]),
            ]
        ]

    srv = RemoteWriteServer(str(tmp_path / "spool"), read_handler=handler).start()
    host, port = srv.server_address[:2]
    req = snappy_compress(
        encode_read_request(
            [{"start_ms": 1000, "end_ms": 2000,
              "matchers": [(MATCH_EQ, "__name__", "click"),
                           (MATCH_RE, "user", "[79]")]}]
        )
    )
    try:
        conn = http.client.HTTPConnection(host, port, timeout=10)
        conn.request("POST", "/read", body=req)
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "application/x-protobuf"
        body = resp.read()
        conn.close()
        # bad snappy → 400
        conn = http.client.HTTPConnection(host, port, timeout=10)
        conn.request("POST", "/read", body=b"\xff\xffgarbage")
        assert conn.getresponse().status == 400
        conn.close()
    finally:
        srv.stop()

    assert seen["queries"] == [
        {"start_ms": 1000, "end_ms": 2000,
         "matchers": [(MATCH_EQ, "__name__", "click"), (MATCH_RE, "user", "[79]")]}
    ]
    results = parse_read_response(snappy_decompress(body))
    assert len(results) == 1 and len(results[0]) == 2
    s0 = results[0][0]
    assert {l["name"]: l["value"] for l in s0["labels"]} == {
        "__name__": "click", "user": "7"
    }
    assert s0["samples"][0] == {"value": 1.25, "timestamp": 1500}
    assert math.isnan(s0["samples"][1]["value"])

    # write-only server (reference parity): /read routes to 404
    srv2 = RemoteWriteServer(str(tmp_path / "spool2")).start()
    try:
        h2, p2 = srv2.server_address[:2]
        assert _post(h2, p2, req, "/read") == 404
    finally:
        srv2.stop()


def test_remote_read_cut_request_is_400(tmp_path):
    """A ReadRequest cut by one byte answers 400 and never reaches the read
    handler: before the decoder bounded its lengths, ``__name__="up"``
    cut by one byte parsed as ``__name__="u"`` and was answered."""
    from prometheus_remote_kinesis_spark.sources.prompb import MATCH_EQ, encode_read_request

    seen = []
    srv = RemoteWriteServer(str(tmp_path / "spool"), read_handler=seen.append).start()
    req = encode_read_request(
        [{"start_ms": 0, "end_ms": 1, "matchers": [(MATCH_EQ, "__name__", "up")]}]
    )
    try:
        host, port = srv.server_address[:2]
        assert _post(host, port, snappy_compress(req[:-1]), "/read") == 400
    finally:
        srv.stop()
    assert seen == []


def test_receive_and_decode_body_leave_cached_labels_unchanged(tmp_path):
    """The label-set cache shares one labels dict across rows, bodies and
    threads, so every consumer of the decoder must only read it. After
    a raw POST and a ``decode_body`` over a warm cache, the cached label
    sets are the same objects with the same contents and no NDJSON memo;
    after an NDJSON POST too, each holds its memo and the same contents."""
    from prometheus_remote_kinesis_spark.sources.prompb_datasource import decode_body

    def unchanged() -> None:
        assert prompb._label_sets.keys() == held.keys()
        for key, (labels, contents) in held.items():
            assert prompb._label_sets[key] is labels
            assert list(labels.items()) == contents

    body = encode_remote_write_body(FIXTURE)
    prompb._forget_label_sets()
    prompb.decode_write_request(prompb.snappy_decompress(body))
    held = {key: (labels, list(labels.items())) for key, labels in prompb._label_sets.items()}
    assert len(held) == len(FIXTURE)
    for raw in (True, False):
        srv = RemoteWriteServer(str(tmp_path / f"spool_{raw}"), raw=raw).start()
        try:
            host, port = srv.server_address[:2]
            assert _post(host, port, body) == 200
        finally:
            srv.stop()
        if raw:
            assert decode_body(body).num_rows == 5
            unchanged()
            assert not any(hasattr(labels, "ndjson") for labels in prompb._label_sets.values())
    unchanged()
    assert all(hasattr(labels, "ndjson") for labels in prompb._label_sets.values())


def _spool_text(columns) -> str:
    """What the NDJSON spool must write: one ``json.dumps`` per record."""
    return "".join(
        json.dumps(r, ensure_ascii=False, separators=(",", ":")) + "\n"
        for r in _records(columns)
    )


def _series_payload(labels: dict, samples: list) -> bytes:
    """One TimeSeries' payload, without its ``0A len`` header."""
    wire = encode_write_request([(labels, samples)])
    start, end = prompb._read_span(wire, 1, len(wire))
    return wire[start:end]


_STALE_NAN = struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]
_TEXT = st.text(max_size=6) | st.sampled_from(
    ['"', "\\", "\x00\n\x1f\x7f", "é☃𝄞", "\u2028\ud7ff\ufeff", "a\\\"b"]
)
_SERIES = st.tuples(
    st.dictionaries(st.sampled_from(["__name__", "job"]) | _TEXT, _TEXT, max_size=4),
    st.lists(
        st.tuples(
            st.floats() | st.sampled_from(
                [_STALE_NAN, math.inf, -math.inf, -0.0, 5e-324, 1e-310, 1e16, 1e-7]
            ),
            st.integers(-(1 << 63), (1 << 63) - 1) | st.sampled_from(
                [-1, -(1 << 63), (1 << 53) + 1, (1 << 63) - 1]
            ),
        ),
        max_size=3,
    ),
)


@given(
    series=st.lists(_SERIES, max_size=5),
    held=st.sampled_from(
        ["cached", "turned_away", "labels_after_samples", "duplicate_names"]
    ),
)
@settings(max_examples=300, deadline=None)
def test_ndjson_lines_match_json_dumps(series, held):
    """The spool's line builder writes exactly the bytes of one
    ``json.dumps(record, ensure_ascii=False, separators=(",", ":"))`` per
    record: on a cold cache and a warm one (memo built, then reused), and
    for label sets the cache does not hold (turned away by its key-byte
    cap, Labels after Samples, a repeated label name)."""
    parts = [
        (_series_payload(labels, []), _series_payload({}, samples))
        for labels, samples in series
    ]
    if held == "labels_after_samples":
        parts = [(b"", smp + lbl) for lbl, smp in parts]
    elif held == "duplicate_names":
        parts = [(lbl + lbl, smp) for lbl, smp in parts]
    wire = b"".join(prompb._len_delim(1, lbl + smp) for lbl, smp in parts)
    cap = prompb.LABEL_CACHE_MAX_KEY_BYTES
    prompb._forget_label_sets()
    if held == "turned_away":
        prompb.LABEL_CACHE_MAX_KEY_BYTES = 0
    try:
        for _ in ("cold", "warm"):
            columns = prompb.decode_write_request(wire)
            assert _ndjson_lines(columns) == _spool_text(columns)
    finally:
        prompb.LABEL_CACHE_MAX_KEY_BYTES = cap
    if held == "cached":
        assert all(hasattr(labels, "ndjson") for labels in prompb._label_sets.values())
    elif held == "turned_away":
        assert not any(prompb._label_sets)  # only the empty set fits a 0-byte cap


def test_ndjson_spool_concurrent_memo_writes(tmp_path):
    """8 threads spooling the same warm columns at once, building the
    label sets' memos under each other without a lock, write the files
    one ``json.dumps`` per record would."""
    from perfbench.bodies import BASE_MS, Universe, make_body

    universe = Universe(1)
    bodies = [prompb.snappy_decompress(make_body(universe, 1, i, BASE_MS + i)[0])
              for i in range(4)]
    prompb._forget_label_sets()
    for body in bodies:
        prompb.decode_write_request(body)
    columns = [prompb.decode_write_request(b) for b in bodies]  # all hits, no memo
    assert not any(hasattr(labels, "ndjson") for labels in prompb._label_sets.values())
    expected = [_spool_text(c) for c in columns]
    spool = tmp_path / "spool"
    srv = RemoteWriteServer(str(spool))  # never started: spool() alone

    def spool_all(k: int) -> None:
        for j in range(len(columns)):
            srv.spool(columns[(k + j) % len(columns)])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often, inside the memo writes too
    try:
        with ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(spool_all, k) for k in range(8)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
        srv.server_close()
    written = sorted(f.read_text(encoding="utf-8") for f in spool.iterdir())
    assert written == sorted(expected * 8)


def test_oversize_content_length_answers_413_without_reading(tmp_path, monkeypatch):
    """A Content-Length above ``MAX_BODY_BYTES`` answers 413 before any
    read on every POST route that reads a body: the client declares the
    length and sends nothing, so a handler that tried to read would time
    the client out. Nothing is spooled and the read handler never runs; a
    body of exactly the cap is still read."""
    import socket

    def status(path: str, length: int) -> bytes:
        with socket.create_connection((host, port), timeout=2) as sock:
            sock.sendall(
                f"POST {path} HTTP/1.1\r\nHost: x\r\n"
                f"Content-Length: {length}\r\n\r\n".encode()
            )
            return sock.recv(64).split(b"\r\n")[0].split()[1]

    spool = tmp_path / "spool"
    calls = []
    srv = RemoteWriteServer(str(spool), read_handler=calls.append).start()
    host, port = srv.server_address[:2]
    try:
        for path in ("/receive", "/read", "/api/v1/query", "/api/v1/query_range"):
            for length in (server.MAX_BODY_BYTES + 1, 1 << 62):
                assert status(path, length) == b"413", (path, length)
        body = encode_remote_write_body(FIXTURE)
        monkeypatch.setattr(server, "MAX_BODY_BYTES", len(body))
        assert status("/receive", len(body) + 1) == b"413"
        assert list(spool.iterdir()) == []
        assert _post(host, port, body) == 200
    finally:
        srv.stop()
    assert len(list(spool.iterdir())) == 1
    assert calls == []


def test_remote_read_matcher_semantics(spark):
    """remote_read_select: NEQ and NRE matchers against a brute-force
    filter at sf0.001, closed [start, end] range edges included."""
    from prometheus_remote_kinesis_spark.ingest_queries import remote_read_select
    from prometheus_remote_kinesis_spark.sources.prompb import (
        MATCH_NEQ,
        MATCH_NRE,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    ev = [
        (r.event_type, r.user_id, r.ms, r.value)
        for r in load_table(spark, SF_SMOKE, "events")
        .selectExpr("event_type", "user_id", "unix_millis(ts) AS ms", "value")
        .collect()
    ]
    mss = sorted(ms for (_t, _u, ms, _v) in ev)
    start, end = mss[len(mss) // 4], mss[3 * len(mss) // 4]
    got = {
        (r.name, r.user, r.ms)
        for r in remote_read_select(
            spark, SF_SMOKE, start, end,
            [(MATCH_NEQ, "__name__", "click"), (MATCH_NRE, "user", ".*[05]")],
        ).collect()
    }
    import re as _re

    exp = {
        (t, u, ms)
        for (t, u, ms, _v) in ev
        if start <= ms <= end and t != "click" and u is not None
        and not _re.fullmatch("(?:.*[05])", str(u))
    }
    assert got == exp and len(exp) > 50


def test_remote_read_spark_e2e(spark, tmp_path):
    """The FULL remote_read loop: wire ReadRequest → POST /read →
    Spark scan (matchers + range pushed to the parquet scan) →
    ReadResponse wire → client parse — compared against a direct
    DataFrame query over the same corpus."""
    from prometheus_remote_kinesis_spark.ingest_queries import (
        remote_read_select,
        spark_read_handler,
    )
    from prometheus_remote_kinesis_spark.sources.prompb import (
        MATCH_EQ,
        encode_read_request,
        parse_read_response,
        snappy_compress,
        snappy_decompress,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    bounds = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("min(unix_millis(ts)) AS lo", "max(unix_millis(ts)) AS hi")
        .collect()[0]
    )
    start, end = bounds.lo, bounds.lo + (bounds.hi - bounds.lo) // 8
    matchers = [(MATCH_EQ, "__name__", "purchase")]

    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        read_handler=spark_read_handler(spark, SF_SMOKE),
    ).start()
    host, port = srv.server_address[:2]
    try:
        conn = http.client.HTTPConnection(host, port, timeout=60)
        conn.request(
            "POST",
            "/read",
            body=snappy_compress(
                encode_read_request(
                    [{"start_ms": start, "end_ms": end, "matchers": matchers}]
                )
            ),
        )
        resp = conn.getresponse()
        assert resp.status == 200
        body = resp.read()
        conn.close()
    finally:
        srv.stop()

    results = parse_read_response(snappy_decompress(body))
    got = {}
    for s in results[0]:
        labels = {l["name"]: l["value"] for l in s["labels"]}
        got[(labels["__name__"], labels["user"])] = [
            smp["timestamp"] for smp in s["samples"]
        ]
    direct = remote_read_select(spark, SF_SMOKE, start, end, matchers).collect()
    exp = {}
    for r in sorted(direct, key=lambda r: r["ms"]):
        exp.setdefault((r["name"], str(r["user"])), []).append(r["ms"])
    assert got == exp and len(exp) >= 5


def test_promql_query_endpoint_e2e(spark, tmp_path):
    """GET /api/v1/query end to end: a REAL HTTP round trip against the
    live server with the Spark-backed PQ compiler behind it — response
    envelope matches the Prometheus HTTP API spec (status/resultType/
    vector samples as [ts, "value"] pairs), values equal compile_promql
    run directly, PromQL the subset rejects returns the spec's
    bad_data error with HTTP 400, a missing query parameter 400s, and
    a server without a query_handler keeps the route 404 (write-only
    parity with the reference)."""
    import json as _json
    from urllib.error import HTTPError
    from urllib.parse import quote
    from urllib.request import urlopen

    from prometheus_remote_kinesis_spark.promql import (
        compile_promql, make_promql_http_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from tests.conftest import SF_SMOKE

    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=make_promql_http_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1/query"
        q = 'sum by (user) (increase(click[30d]))'
        with urlopen(f"{base}?query={quote(q)}") as resp:
            assert resp.status == 200
            doc = _json.loads(resp.read())
        assert doc["status"] == "success"
        assert doc["data"]["resultType"] == "vector"
        got = {
            s["metric"]["user"]: float(s["value"][1])
            for s in doc["data"]["result"]
        }
        direct = {
            str(r.user): r.value
            for r in compile_promql(spark, SF_SMOKE, q).collect()
        }
        assert got == direct and got
        ts = {s["value"][0] for s in doc["data"]["result"]}
        assert len(ts) == 1 and ts.pop() > 1e9  # one eval time, in seconds
        # the subset's compile-time rejection surfaces as spec bad_data
        try:
            urlopen(f"{base}?query={quote('sum(avg_over_time(click[1d]))')}")
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
            err = _json.loads(e.read())
            assert err["errorType"] == "bad_data"
            assert "variable-denominator" in err["error"]
        try:
            urlopen(base)  # no query parameter
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()
    # no handler → the route stays 404 (reference write-only parity)
    srv2 = RemoteWriteServer(str(tmp_path / "spool2")).start()
    try:
        host, port = srv2.server_address[:2]
        try:
            urlopen(f"http://{host}:{port}/api/v1/query?query=click")
            raise AssertionError("expected HTTP 404")
        except HTTPError as e:
            assert e.code == 404
    finally:
        srv2.stop()


def test_promql_query_time_param_and_range_endpoint(spark, tmp_path):
    """r12 (VERDICT r11 tasks #1/#3) — the two endpoint upgrades:

    1. ``GET /api/v1/query?time=`` honors the spec's evaluation
       timestamp: the same query at two different ``time=`` values
       answers from two different staleness windows, checked against a
       Python reimplementation of the t23 instant-vector rule over the
       raw rows (hand-checked membership, not a Spark self-comparison).
    2. ``GET /api/v1/query_range`` serves the matrix envelope: values
       equal compile_promql_range run directly, per-series samples
       ascend in time, step accepts both float seconds and duration
       literals, a malformed step 400s, and a server without a
       range_handler keeps the route 404."""
    import json as _json
    from urllib.error import HTTPError
    from urllib.parse import quote
    from urllib.request import urlopen

    from prometheus_remote_kinesis_spark.promql import (
        STALENESS_MS,
        compile_promql_range,
        make_promql_http_handler,
        make_promql_range_http_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'click' AND value IS NOT NULL")
        .selectExpr("user_id", "unix_millis(ts) AS ms", "event_id", "value")
        .collect()
    )
    # two hand-picked eval times: one at a sample (its window holds >=1
    # series), one 1 ms BEFORE the corpus's first click (empty vector)
    t_hit_ms = max(r["ms"] for r in rows)
    t_miss_ms = min(r["ms"] for r in rows) - 1

    def instant_expected(t_ms):
        # the t23 rule, in Python: per user, last sample <= t; keep if
        # within the staleness window
        best = {}
        for r in sorted(rows, key=lambda r: (r["ms"], r["event_id"])):
            if r["ms"] <= t_ms:
                best[r["user_id"]] = r
        return {
            str(u): round(int(round(r["value"] * 100)) / 100.0, 6)
            for u, r in best.items()
            if r["ms"] > t_ms - STALENESS_MS
        }

    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=make_promql_http_handler(spark, SF_SMOKE),
        range_handler=make_promql_range_http_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1/query"
        for t_ms, nonempty in ((t_hit_ms, True), (t_miss_ms, False)):
            with urlopen(f"{base}?query=click&time={t_ms / 1000.0}") as resp:
                doc = _json.loads(resp.read())
            got = {
                s["metric"]["user"]: float(s["value"][1])
                for s in doc["data"]["result"]
            }
            want = instant_expected(t_ms)
            assert got == want
            assert bool(got) is nonempty
            if got:  # echoed eval timestamp = the client's time
                assert {s["value"][0] for s in doc["data"]["result"]} == {
                    t_ms / 1000.0
                }
        # bad time parameter → spec bad_data
        try:
            urlopen(f"{base}?query=click&time=yesterday")
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
            assert _json.loads(e.read())["errorType"] == "bad_data"

        # --- query_range: matrix envelope over a literal client grid
        rbase = f"http://{host}:{port}/api/v1/query_range"
        q = "sum by (user) (increase(click[1d]))"
        start_s, end_s = (t_hit_ms - 2 * 86_400_000) / 1000.0, t_hit_ms / 1000.0
        url = (
            f"{rbase}?query={quote(q)}&start={start_s}&end={end_s}&step=6h"
        )
        with urlopen(url) as resp:
            assert resp.status == 200
            doc = _json.loads(resp.read())
        assert doc["data"]["resultType"] == "matrix"
        got_m = {
            s["metric"]["user"]: [(v[0], float(v[1])) for v in s["values"]]
            for s in doc["data"]["result"]
        }
        direct = compile_promql_range(
            spark, SF_SMOKE, q,
            step_ms=21_600_000,
            start_ms=t_hit_ms - 2 * 86_400_000,
            end_ms=t_hit_ms,
        ).collect()
        want_m = {}
        for r in direct:
            want_m.setdefault(str(r["user"]), []).append(
                (r["t_ms"] / 1000.0, r["value"])
            )
        assert got_m == {u: sorted(pts) for u, pts in want_m.items()}
        assert got_m  # real rows flowed through the matrix envelope
        for pts in got_m.values():  # per-series samples ascend in time
            assert pts == sorted(pts)
        # float-seconds step accepted too; identical grid
        with urlopen(
            f"{rbase}?query={quote(q)}&start={start_s}&end={end_s}&step=21600"
        ) as resp:
            assert _json.loads(resp.read())["data"]["result"] == doc["data"]["result"]
        # malformed step → 400 bad_data
        try:
            urlopen(f"{rbase}?query={quote(q)}&start=0&end=1&step=fast")
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
        # oversized grid → the compiler's resolution cap as bad_data
        try:
            urlopen(f"{rbase}?query=click&start=0&end=1000000&step=0.001")
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
            assert "resolution cap" in _json.loads(e.read())["error"]
    finally:
        srv.stop()
    # no range_handler → the route stays 404
    srv2 = RemoteWriteServer(str(tmp_path / "spool2")).start()
    try:
        host, port = srv2.server_address[:2]
        try:
            urlopen(
                f"http://{host}:{port}/api/v1/query_range"
                "?query=click&start=0&end=1&step=1"
            )
            raise AssertionError("expected HTTP 404")
        except HTTPError as e:
            assert e.code == 404
    finally:
        srv2.stop()


def test_promql_time_param_rfc3339(spark, tmp_path):
    """The spec's RFC3339 timestamp form is accepted on time=/start=/
    end= (Grafana sends either form): the same instant query at an
    RFC3339 time equals the unix-seconds form bit for bit; garbage
    still 400s."""
    import json as _json
    from datetime import datetime, timezone
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from prometheus_remote_kinesis_spark.promql import (
        make_promql_http_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    t_ms = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("max(unix_millis(ts)) AS t")
        .collect()[0]["t"]
    )
    t_s = t_ms / 1000.0
    iso = datetime.fromtimestamp(t_s, tz=timezone.utc).isoformat().replace(
        "+00:00", "Z"
    )
    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=make_promql_http_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1/query"
        with urlopen(f"{base}?query=view&time={t_s}") as r1:
            a = _json.loads(r1.read())["data"]["result"]
        with urlopen(f"{base}?query=view&time={iso}") as r2:
            b = _json.loads(r2.read())["data"]["result"]
        assert a == b
        try:
            urlopen(f"{base}?query=view&time=not-a-time")
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_promql_metadata_endpoints(spark, tmp_path):
    """The Prometheus metadata routes a Grafana datasource calls before
    any query (r12): /api/v1/labels lists the label names, /api/v1/
    label/<name>/values lists values from the live corpus (checked
    against a direct distinct scan), /api/v1/series?match[]= returns
    the matching label sets (matcher-filtered), unknown labels return
    the empty list, a malformed series selector 400s, and without a
    metadata_handler every route stays 404."""
    import json as _json
    from urllib.error import HTTPError
    from urllib.parse import quote
    from urllib.request import urlopen

    from prometheus_remote_kinesis_spark.promql import (
        make_promql_metadata_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        metadata_handler=make_promql_metadata_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1"
        with urlopen(f"{base}/labels") as r:
            assert _json.loads(r.read())["data"] == ["__name__", "user"]
        with urlopen(f"{base}/label/__name__/values") as r:
            names = _json.loads(r.read())["data"]
        ev = load_table(spark, SF_SMOKE, "events").where("value IS NOT NULL")
        want = sorted(
            x["event_type"] for x in ev.select("event_type").distinct().collect()
        )
        assert names == want and "click" in names
        with urlopen(f"{base}/label/user/values") as r:
            users = _json.loads(r.read())["data"]
        assert users == sorted(
            (str(x["user_id"]) for x in
             ev.select("user_id").distinct().collect()),
            key=lambda s: (len(s), s),
        )
        with urlopen(f"{base}/label/region/values") as r:
            assert _json.loads(r.read())["data"] == []
        sel = quote('click{user=~"1.?"}')
        with urlopen(f"{base}/series?match[]={sel}") as r:
            series = _json.loads(r.read())["data"]
        import re as _re

        direct = sorted(
            str(x["user_id"])
            for x in ev.where("event_type = 'click'")
            .select("user_id").distinct().collect()
            if _re.fullmatch("1.?", str(x["user_id"]))
        )
        assert sorted(s["user"] for s in series) == direct and series
        assert all(s["__name__"] == "click" for s in series)
        try:
            urlopen(f"{base}/series?match[]={quote('sum(click)')}")
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()
    srv2 = RemoteWriteServer(str(tmp_path / "spool2")).start()
    try:
        host, port = srv2.server_address[:2]
        for path in ("/api/v1/labels", "/api/v1/label/user/values",
                     "/api/v1/series?match[]=click"):
            try:
                urlopen(f"http://{host}:{port}{path}")
                raise AssertionError("expected HTTP 404")
            except HTTPError as e:
                assert e.code == 404
    finally:
        srv2.stop()


def test_promql_query_post_twins(spark, tmp_path):
    """POST /api/v1/query and /api/v1/query_range accept form-encoded
    bodies (r13, VERDICT r12 task #8 — Prometheus clients POST long
    queries; Grafana falls back to POST past URL-length limits): the
    POST result is byte-identical to the GET twin, body parameters win
    over URL ones per the merge rule, and a rejected query answers the
    same 400 bad_data envelope as GET."""
    import json as _json
    from urllib.error import HTTPError
    from urllib.parse import quote, urlencode
    from urllib.request import Request, urlopen

    from prometheus_remote_kinesis_spark.promql import (
        make_promql_http_handler, make_promql_range_http_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from tests.conftest import SF_SMOKE

    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=make_promql_http_handler(spark, SF_SMOKE),
        range_handler=make_promql_range_http_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1"
        q = "sum by (user) (increase(click[30d]))"
        with urlopen(f"{base}/query?query={quote(q)}") as r:
            get_doc = _json.loads(r.read())
        body = urlencode({"query": q}).encode()
        with urlopen(Request(f"{base}/query", data=body, method="POST")) as r:
            assert r.status == 200
            post_doc = _json.loads(r.read())
        assert post_doc == get_doc and post_doc["data"]["result"]
        # body wins over URL per key (Prometheus's ParseForm behavior)
        with urlopen(
            Request(f"{base}/query?query=definitely_absent_metric",
                    data=body, method="POST")
        ) as r:
            assert _json.loads(r.read()) == get_doc
        # range twin: GET grid == POST grid
        end_s = get_doc["data"]["result"][0]["value"][0]
        rng = {
            "query": "count_over_time(click[1d])",
            "start": f"{end_s - 86_400.0}",
            "end": f"{end_s}",
            "step": "6h",
        }
        get_url = f"{base}/query_range?" + urlencode(rng)
        with urlopen(get_url) as r:
            get_rng = _json.loads(r.read())
        with urlopen(
            Request(f"{base}/query_range", data=urlencode(rng).encode(),
                    method="POST")
        ) as r:
            post_rng = _json.loads(r.read())
        assert post_rng == get_rng
        assert post_rng["data"]["resultType"] == "matrix"
        assert post_rng["data"]["result"]
        # rejection parity: POST of a subset-rejected query → 400 bad_data
        bad = urlencode({"query": "sum(avg_over_time(click[1d]))"}).encode()
        try:
            urlopen(Request(f"{base}/query", data=bad, method="POST"))
            raise AssertionError("expected HTTP 400")
        except HTTPError as e:
            assert e.code == 400
            assert _json.loads(e.read())["errorType"] == "bad_data"
    finally:
        srv.stop()


def test_promql_metadata_limit_param(spark, tmp_path):
    """The metadata routes honor the spec's ``limit`` parameter (r13,
    VERDICT r12 task #5): limit below the cardinality truncates the
    sorted list and sets the spec's warnings array, limit above it
    returns everything with no warning, limit=0 (the spec's "disabled")
    still answers bounded by the server hard max, a malformed limit
    400s, and a non-finite time parameter on the query route answers
    400 bad_data instead of a 500 (r12 ADVICE). A metadata handler that
    fails mid-flight answers the spec's 500 internal envelope instead
    of dropping the connection (r12 ADVICE)."""
    import json as _json
    from urllib.error import HTTPError
    from urllib.request import urlopen

    from prometheus_remote_kinesis_spark.promql import (
        make_promql_http_handler, make_promql_metadata_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=make_promql_http_handler(spark, SF_SMOKE),
        metadata_handler=make_promql_metadata_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1"
        ev = load_table(spark, SF_SMOKE, "events").where("value IS NOT NULL")
        all_users = sorted(
            (str(x["user_id"]) for x in
             ev.select("user_id").distinct().collect()),
            key=lambda s: (len(s), s),
        )
        assert len(all_users) > 3
        with urlopen(f"{base}/label/user/values?limit=3") as r:
            doc = _json.loads(r.read())
        assert doc["data"] == all_users[:3]
        assert doc["warnings"] == ["results truncated due to limit"]
        with urlopen(f"{base}/label/user/values?limit={len(all_users)}") as r:
            doc = _json.loads(r.read())
        assert doc["data"] == all_users and "warnings" not in doc
        with urlopen(f"{base}/label/user/values?limit=0") as r:
            doc = _json.loads(r.read())  # spec: 0 disables (hard-max bound)
        assert doc["data"] == all_users and "warnings" not in doc
        with urlopen(f"{base}/labels?limit=1") as r:
            doc = _json.loads(r.read())
        assert doc["data"] == ["__name__"] and "warnings" in doc
        for bad in ("limit=-1", "limit=abc"):
            try:
                urlopen(f"{base}/label/user/values?{bad}")
                raise AssertionError("expected HTTP 400")
            except HTTPError as e:
                assert e.code == 400
        # non-finite time → 400 bad_data, not OverflowError → 500
        for t in ("inf", "nan", "-inf"):
            try:
                urlopen(f"{base}/query?query=click&time={t}")
                raise AssertionError("expected HTTP 400")
            except HTTPError as e:
                assert e.code == 400
                assert _json.loads(e.read())["errorType"] == "bad_data"
    finally:
        srv.stop()

    def boom(kind, arg=None, limit=1000):
        raise RuntimeError("executor lost")

    srv2 = RemoteWriteServer(
        str(tmp_path / "spool2"), metadata_handler=boom
    ).start()
    try:
        host, port = srv2.server_address[:2]
        try:
            urlopen(f"http://{host}:{port}/api/v1/labels")
            raise AssertionError("expected HTTP 500")
        except HTTPError as e:
            assert e.code == 500
            assert _json.loads(e.read())["errorType"] == "internal"
    finally:
        srv2.stop()


def test_promql_r13_grammar_over_http(spark, tmp_path):
    """The r13 grammar end to end over REAL HTTP: `%`, `^`, and `@`
    survive URL-encoding on GET (the percent sign is the classic
    encoding hazard), a vector-vector `bool` comparison rides the POST
    form body, sort_desc's presentation order is preserved through the
    JSON vector envelope, timestamp() serves, and the Grafana
    buildinfo probe answers the spec envelope (404 on a write-only
    relay, reference parity)."""
    import json as _json
    from urllib.error import HTTPError
    from urllib.parse import quote, urlencode
    from urllib.request import Request, urlopen

    from prometheus_remote_kinesis_spark.promql import (
        compile_promql, make_promql_http_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from tests.conftest import SF_SMOKE

    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=make_promql_http_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1/query"

        def get(q):
            with urlopen(f"{base}?query={quote(q)}") as resp:
                assert resp.status == 200
                return _json.loads(resp.read())["data"]["result"]

        # % and ^ and @ through GET — quote() encodes them %25/%5E/%40
        for q in (
            "sum(sum_over_time(purchase[30d]) % 100)",
            "sum(count_over_time(click[30d]) ^ 2)",
            "count_over_time(click[30d] @ 1705276800)",
            "timestamp(purchase)",
        ):
            got = {
                tuple(sorted(s["metric"].items())): float(s["value"][1])
                for s in get(q)
            }
            direct = {
                tuple(
                    sorted(
                        (k, str(getattr(r, k)))
                        for k in r.__fields__ if k != "value"
                    )
                ): r.value
                for r in compile_promql(spark, SF_SMOKE, q).collect()
            }
            assert got == direct, q

        # sort_desc: the JSON result list preserves presentation order
        rows = get("sort_desc(sum_over_time(purchase[30d]))")
        vals = [float(s["value"][1]) for s in rows]
        assert vals == sorted(vals, reverse=True) and len(vals) > 2

        # vector-vector bool comparison through the POST form body
        q = (
            "sum_over_time(purchase[30d]) > bool on(user) "
            "count_over_time(click[30d])"
        )
        body = urlencode({"query": q}).encode()
        with urlopen(Request(base, data=body, method="POST")) as r:
            doc = _json.loads(r.read())
        got = {
            s["metric"]["user"]: float(s["value"][1])
            for s in doc["data"]["result"]
        }
        direct = {
            str(r.user): r.value
            for r in compile_promql(spark, SF_SMOKE, q).collect()
        }
        assert got == direct and set(got.values()) <= {0.0, 1.0} and got

        # buildinfo: the Grafana datasource probe
        with urlopen(f"http://{host}:{port}/api/v1/status/buildinfo") as r:
            info = _json.loads(r.read())
        assert info["status"] == "success" and "version" in info["data"]
    finally:
        srv.stop()
    # write-only relay: buildinfo stays 404 (reference parity)
    srv2 = RemoteWriteServer(str(tmp_path / "spool2")).start()
    try:
        host, port = srv2.server_address[:2]
        try:
            urlopen(f"http://{host}:{port}/api/v1/status/buildinfo")
            raise AssertionError("expected HTTP 404")
        except HTTPError as e:
            assert e.code == 404
    finally:
        srv2.stop()


def test_snappy_bomb_rejected_on_receive_and_read(tmp_path):
    """A tiny body whose snappy preamble declares 1 GiB is refused with
    400 before any buffer of that size is allocated — on /receive (both
    spool modes) and on /read with a read handler set. Nothing is
    spooled and the read handler never runs."""
    from prometheus_remote_kinesis_spark.sources.prompb import _write_uvarint

    bomb = _write_uvarint(1 << 30) + b"\x00" * 8
    calls = []
    for raw in (False, True):
        spool = tmp_path / f"spool_{raw}"
        srv = RemoteWriteServer(
            str(spool), raw=raw, read_handler=lambda q: calls.append(q) or [[]]
        ).start()
        host, port = srv.server_address[:2]
        try:
            assert _post(host, port, bomb) == 400
            assert _post(host, port, bomb, "/read") == 400
            assert _post(host, port, encode_remote_write_body(FIXTURE)) == 200
        finally:
            srv.stop()
        assert len([f for f in spool.iterdir() if not f.name.startswith(".")]) == 1
    assert calls == []


def test_bad_content_length_answers_400_without_reading(tmp_path):
    """A negative or non-numeric Content-Length answers 400 before any
    read, as Go's net/http does; ``rfile.read(-1)`` would wait for EOF on
    a socket the client keeps open. Nothing is spooled."""
    import socket

    spool = tmp_path / "spool"
    srv = RemoteWriteServer(str(spool)).start()
    host, port = srv.server_address[:2]
    try:
        for path, length in (("/receive", "-1"), ("/receive", "1x"), ("/api/v1/query", "-1")):
            with socket.create_connection((host, port), timeout=2) as sock:
                sock.sendall(
                    f"POST {path} HTTP/1.1\r\nHost: x\r\n"
                    f"Content-Length: {length}\r\n\r\nabc".encode()
                )
                status_line = sock.recv(64).split(b"\r\n")[0]
            assert status_line.split()[1] == b"400", (path, length, status_line)
    finally:
        srv.stop()
    assert list(spool.iterdir()) == []


def test_promql_empty_aggregate_over_http(spark, tmp_path):
    """An aggregation over no series answers 200 with an empty result,
    never a 0 count, a value-less element, a 500 or a dropped
    connection: ``sum(rate(...))``, ``count`` and ``quantile`` at an
    evaluation time before the corpus's first sample (instant), and
    over a range that ends there (matrix)."""
    import json as _json
    from urllib.parse import quote
    from urllib.request import urlopen

    from prometheus_remote_kinesis_spark.promql import (
        make_promql_http_handler,
        make_promql_range_http_handler,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    first_ms = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("min(unix_millis(ts)) AS t")
        .collect()[0]["t"]
    )
    t_s = (first_ms - 86_400_000) / 1000.0
    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=make_promql_http_handler(spark, SF_SMOKE),
        range_handler=make_promql_range_http_handler(spark, SF_SMOKE),
    ).start()
    try:
        host, port = srv.server_address[:2]
        base = f"http://{host}:{port}/api/v1"
        for text in (
            "sum(rate(click[5m]))", "count(click)", "quantile(0.5, click)",
        ):
            q = quote(text)
            url = f"{base}/query?query={q}&time={t_s}"
            with urlopen(url, timeout=120) as resp:
                assert resp.status == 200
                doc = _json.loads(resp.read())
            assert doc["status"] == "success"
            assert doc["data"] == {"resultType": "vector", "result": []}, text
        q = quote("sum(rate(click[5m]))")
        url = f"{base}/query_range?query={q}&start={t_s - 3600}&end={t_s}&step=15m"
        with urlopen(url, timeout=120) as resp:
            assert resp.status == 200
            doc = _json.loads(resp.read())
        assert doc["data"] == {"resultType": "matrix", "result": []}
    finally:
        srv.stop()


@pytest.mark.parametrize("raw", [False, True])
def test_receive_routes_on_url_path(tmp_path, raw):
    """``/receive`` is matched on the URL path, as Go's ``ServeMux``
    matches ``r.URL.Path``: a remote-write URL with a query string answers
    200 and spools one file in either spool mode."""
    spool = tmp_path / "spool"
    srv = RemoteWriteServer(str(spool), raw=raw).start()
    host, port = srv.server_address[:2]
    try:
        assert _post(host, port, encode_remote_write_body(FIXTURE), "/receive?tenant=a") == 200
    finally:
        srv.stop()
    assert len(list(spool.iterdir())) == 1


# Each API route: (path, request parameters, the call the injected
# handler should receive). Buildinfo calls no handler.
_API_ROUTES = {
    "instant": ("/api/v1/query", {"query": "up", "time": "60"}, ("up", 60.0)),
    "range": ("/api/v1/query_range", {"query": "up", "start": "0", "end": "60", "step": "15s"},
              ("up", 0.0, 60.0, 15.0)),
    "labels": ("/api/v1/labels", {}, ("labels",)),
    "label_values": ("/api/v1/label/job/values", {"limit": "5"}, ("label_values", "job")),
    "series": ("/api/v1/series", {"match[]": 'up{job="a"}'}, ("series", 'up{job="a"}')),
    "buildinfo": ("/api/v1/status/buildinfo", {}, None),
}


def _api_request(srv, method: str, path: str, params: dict) -> tuple[int, dict | None]:
    """GET with the parameters in the URL, or POST with them as a form
    body; returns the status and the decoded JSON reply, if any."""
    from urllib.parse import urlencode

    form = urlencode(params)
    conn = http.client.HTTPConnection(*srv.server_address[:2], timeout=10)
    if method == "GET":
        conn.request("GET", f"{path}?{form}")
    else:
        conn.request("POST", path, body=form.encode(),
                     headers={"Content-Type": "application/x-www-form-urlencoded"})
    resp = conn.getresponse()
    status, body = resp.status, resp.read()
    conn.close()
    return status, json.loads(body) if body else None


@pytest.mark.parametrize("exc, code, error_type", [
    (RuntimeError("executor lost"), 500, "internal"),
    (ValueError("parse error: unexpected end of input"), 400, "bad_data"),
])
@pytest.mark.parametrize("method", ["GET", "POST"])
@pytest.mark.parametrize("route", sorted(_API_ROUTES))
def test_api_answer_path(tmp_path, route, method, exc, code, error_type):
    """Every API route answers its handler's failure with the spec's
    error envelope, over GET and over a POST form body: a ValueError is
    400 ``bad_data`` with its message, anything else 500 ``internal``.
    The parameters reach the handler either way (a POSTed ``match[]``
    too). Buildinfo calls no handler and answers 200."""
    path, params, want_call = _API_ROUTES[route]
    calls = []

    def stub(*args, **kwargs):
        calls.append(args)
        raise exc

    srv = RemoteWriteServer(str(tmp_path / "spool"), query_handler=stub,
                            range_handler=stub, metadata_handler=stub).start()
    try:
        status, reply = _api_request(srv, method, path, params)
    finally:
        srv.stop()
    if want_call is None:
        assert (status, reply["status"], calls) == (200, "success", [])
        return
    assert calls == [want_call]
    assert status == code
    assert reply == {"status": "error", "errorType": error_type, "error": str(exc)}


@pytest.mark.parametrize("method", ["GET", "POST"])
def test_api_unknown_or_unconfigured_route_is_404(tmp_path, method):
    """An unknown API path, a label-values path with no label name, and
    every route whose handler was not injected answer 404 without calling
    any handler."""
    calls = []
    srv = RemoteWriteServer(str(tmp_path / "spool"), query_handler=calls.append,
                            metadata_handler=calls.append).start()
    bare = RemoteWriteServer(str(tmp_path / "spool2")).start()
    try:
        for path in ("/api/v1/nosuch", "/api/v1/label/values", "/api/v1/label//values"):
            assert _api_request(srv, method, path, {"query": "up"})[0] == 404, path
        for path, params, _ in _API_ROUTES.values():
            assert _api_request(bare, method, path, params)[0] == 404, path
    finally:
        srv.stop()
        bare.stop()
    assert calls == []


@pytest.mark.parametrize("method", ["GET", "POST"])
def test_api_success_envelopes(tmp_path, method):
    """Each route's 200 reply: the instant vector and range matrix
    envelopes with string values, metadata lists with the spec's
    ``warnings`` only when the handler reports truncation, buildinfo."""
    srv = RemoteWriteServer(
        str(tmp_path / "spool"),
        query_handler=lambda q, t: (60.0, [({"job": "a"}, 1.5)]),
        range_handler=lambda q, start, end, step: [({"job": "a"}, [(0.0, 1), (15.0, 2.5)])],
        metadata_handler=lambda kind, arg=None, limit=1000: ([kind, arg, limit], kind == "labels"),
    ).start()
    try:
        got = {name: _api_request(srv, method, path, params)
               for name, (path, params, _) in _API_ROUTES.items()}
    finally:
        srv.stop()
    ok = {"status": "success"}
    assert got["instant"] == (200, {**ok, "data": {"resultType": "vector", "result": [
        {"metric": {"job": "a"}, "value": [60.0, "1.5"]}]}})
    assert got["range"] == (200, {**ok, "data": {"resultType": "matrix", "result": [
        {"metric": {"job": "a"}, "values": [[0.0, "1.0"], [15.0, "2.5"]]}]}})
    assert got["labels"] == (200, {**ok, "data": ["labels", None, 1000],
                                   "warnings": ["results truncated due to limit"]})
    assert got["label_values"] == (200, {**ok, "data": ["label_values", "job", 5]})
    assert got["series"] == (200, {**ok, "data": ["series", 'up{job="a"}', 1000]})
    assert got["buildinfo"][0] == 200 and got["buildinfo"][1]["data"]["version"]
