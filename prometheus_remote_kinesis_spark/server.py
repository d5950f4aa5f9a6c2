"""S1: the Prometheus remote-write HTTP endpoint (reference:
``kinesis.go:68-93`` / ``firehose.go:61-86``, route ``main.go:57-63``).

A stdlib ``ThreadingHTTPServer`` exposing ``POST /receive`` with the
reference handler's exact staging and status codes:

| stage | reference | here | failure → HTTP |
|---|---|---|---|
| 1 read | ``ioutil.ReadAll`` (kinesis.go:69) | ``rfile.read(len)`` | 500 (kinesis.go:70-74); a bad ``Content-Length`` 400, as net/http; one above ``MAX_BODY_BYTES`` (32 MiB) 413 before reading |
| 2 decompress | ``snappy.Decode`` (kinesis.go:76) | ``prompb.snappy_decompress`` (pyarrow's snappy; preamble capped at 22× the body) | 400 (kinesis.go:77-81) |
| 3 decode + transform | ``proto.Unmarshal`` + ``parseRecords`` (kinesis.go:83-90, prometheus.go:10-37) | ``prompb.decode_write_request``: one pass to record columns, label sets reused from a bounded cache keyed by their wire bytes | 400 (kinesis.go:85-88) |
| 4 handoff | ``writeCh <- records`` (kinesis.go:92) | atomic NDJSON file into the spool dir, lines from ``ndjson.ndjson_lines``; each label set's JSON encoded once and memoised on its cached ``LabelSet`` (~1.5-2.4 ms a warm 2,000-sample body, was 11-14 ms); the raw-spool relay's sink builds its lines with the same builder and memo | — |

The spool directory IS the channel: the Structured Streaming relay
(``streaming.pipeline.read_record_stream``) watches it as a file source,
giving the same ingest→writer decoupling as the reference's buffered
``chan Records`` — except the handoff is durable, so the reference's
ack-before-durable data loss window (SURVEY.md §3.2) is closed: we write
the records before answering 200.

Both spool modes run the same decoder as the ``format("prompb")``
DataSource and the raw-spool relay (``prompb.decode_write_request``). The
NDJSON mode writes its columns as record lines; the raw mode
(``raw=True``) drops them and spools the original body, so whatever the
handler accepts, the executors decode, and the relay sends the lines the
NDJSON mode would have spooled. ``tests/test_server.py`` pins the decoder's flatten
against the Spark-side ``ingest.flatten_write_requests`` (which flattens
already-nested Spark rows) on the same fixtures so the two can never
diverge silently. ``flatten_timeseries`` applies the same flatten to
``parse_write_request``-shaped series.

``POST /receive`` routes on the URL path, as Go's ``ServeMux`` matches
``r.URL.Path``: a remote-write URL with a query string is still received.

Beyond the reference's write-only surface, the same server optionally
serves the data BACK: ``POST /read`` (Prometheus remote_read) and the
Prometheus HTTP API (instant and range query, labels, label values,
series, buildinfo; ``promql.make_promql_http_handler`` and its siblings
put the PQ compiler behind the spec's JSON envelope). ``_ROUTES`` is the
API's one route table: each path names the injected handler it needs and
a route function that turns the request parameters into the reply's
``data``. ``_Handler._api`` decides every API status in one place: 404
for an unknown path or a handler that was not injected, 400 ``bad_data``
when the route raises ValueError, 500 ``internal`` on any other failure,
else 200. API routes take GET parameters or a POST form body (the body
wins per key). Every read route stays 404 unless its handler is injected,
preserving reference parity by default.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import uuid
from collections.abc import Iterator
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from operator import attrgetter
from urllib.parse import parse_qs, urlsplit

from prometheus_remote_kinesis_spark.ndjson import ndjson_lines
from prometheus_remote_kinesis_spark.sources.prompb import (
    Columns,
    decode_write_request,
    encode_read_response,
    flatten_series,
    parse_read_request,
    parse_write_request,  # noqa: F401 — perfbench's handler trace wraps it here
    snappy_compress,
    snappy_decompress,
)


def flatten_timeseries(timeseries: list[dict]) -> list[dict]:
    """``parseRecords`` (prometheus.go:10-37) over
    :func:`parse_write_request`-shaped series: the record dicts the NDJSON
    spool writes, through the decoder's own flatten
    (``prompb.flatten_series``)."""
    return list(_records(flatten_series(
        (
            {lbl["name"]: lbl["value"] for lbl in ts["labels"]},
            [(smp["value"], smp["timestamp"]) for smp in ts["samples"]],
        )
        for ts in timeseries
    )))


def _records(columns: Columns) -> Iterator[dict]:
    """Record columns → ``{"name", "time", "value", "labels"}`` dicts, the
    field order of record.go:8-14."""
    for name, time, value, labels in zip(*columns):
        yield {"name": name, "time": time, "value": value, "labels": labels}


# The largest request body any POST route reads; a larger Content-Length
# answers 413 before anything is read or allocated. A remote-write body
# carries one send of ``max_samples_per_send`` samples (Prometheus's
# default is 2,000): a perfbench body of 2,000 samples with 6-8 labels
# each is 116 KiB, so 32 MiB leaves room for sends ~100x larger with
# longer label sets. ReadRequests and query forms are far smaller.
MAX_BODY_BYTES = 32 << 20


# Default metadata-route cap (the Prometheus API's `limit` parameter):
# absent → this cap; `limit=0` (the spec's "disabled") → the hard server
# max below, so NO client request can size a driver materialization by
# data cardinality alone.
_MD_DEFAULT_LIMIT = 1000
_MD_HARD_MAX = 100_000
_DURATION = re.compile(r"(\d+)(ms|s|m|h|d)")
_DURATION_UNIT_S = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}


def _parse_time_s(text: str) -> float:
    """Prometheus API timestamp: unix seconds (float) or RFC3339 (the spec
    allows both; Grafana sends either depending on the datasource
    version). Anything else raises ValueError."""
    try:
        t = float(text)
    except ValueError:
        dt = datetime.fromisoformat(text.replace("Z", "+00:00"))
        if dt.tzinfo is None:  # bare local times are ambiguous — spec
            dt = dt.replace(tzinfo=timezone.utc)  # sends UTC ('Z') forms
        return dt.timestamp()
    if not math.isfinite(t):
        # float() parses "inf"/"nan"; int(round(inf*1000)) downstream
        # would raise OverflowError → a 500 'internal' where the spec
        # wants 400 bad_data
        raise ValueError(f"non-finite timestamp {text!r}")
    return t


def _parse_duration_s(text: str) -> float:
    """Prometheus API step: a float (seconds) or a duration literal like
    ``15s``/``5m``/``1h``; anything else raises ValueError."""
    try:
        return float(text)
    except ValueError:
        pass
    m = _DURATION.fullmatch(text)
    if not m:
        raise ValueError(f"bad step {text!r}")
    return int(m.group(1)) * _DURATION_UNIT_S[m.group(2)]


def _parse_limit(params: dict) -> int:
    """The metadata routes' ``limit=`` parameter → effective row cap
    (always finite); a negative or non-integer limit raises ValueError."""
    raw = params.get("limit", [None])[0]
    if raw is None:
        return _MD_DEFAULT_LIMIT
    try:
        n = int(raw)
    except ValueError:
        n = -1
    if n < 0:
        raise ValueError(f"bad limit parameter {raw!r}")
    return min(n or _MD_HARD_MAX, _MD_HARD_MAX)  # spec: 0 disables the limit


def _query(params: dict) -> str:
    q = params.get("query", [None])[0]
    if not q:
        raise ValueError("missing query parameter")
    return q


def _instant(query_handler, params: dict) -> tuple:
    q, time_s = _query(params), None
    if "time" in params:  # spec: optional evaluation timestamp
        try:
            time_s = _parse_time_s(params["time"][0])
        except ValueError:
            raise ValueError(f"bad time parameter {params['time'][0]!r}") from None
    t_s, results = query_handler(q, time_s)
    result = [{"metric": labels, "value": [t_s, str(float(v))]} for labels, v in results]
    return {"resultType": "vector", "result": result}, False


def _range(range_handler, params: dict) -> tuple:
    q = _query(params)
    try:
        start_s = _parse_time_s(params["start"][0])
        end_s = _parse_time_s(params["end"][0])
        step_s = _parse_duration_s(params["step"][0])
    except (KeyError, ValueError):
        raise ValueError("query_range needs start, end (unix seconds) "
                         "and step (seconds or duration)") from None
    result = [
        {"metric": labels, "values": [[t_s, str(float(v))] for t_s, v in pts]}
        for labels, pts in range_handler(q, start_s, end_s, step_s)
    ]
    return {"resultType": "matrix", "result": result}, False


def _labels(metadata_handler, params: dict) -> tuple:
    return metadata_handler("labels", limit=_parse_limit(params))


def _label_values(metadata_handler, params: dict, name: str) -> tuple:
    return metadata_handler("label_values", name, limit=_parse_limit(params))


def _series(metadata_handler, params: dict) -> tuple:
    limit = _parse_limit(params)
    match = params.get("match[]", [None])[0]
    if not match:
        raise ValueError("series needs a match[] selector")
    return metadata_handler("series", match, limit=limit)


def _buildinfo(query_handler, params: dict) -> tuple:
    # Grafana's Prometheus datasource probes buildinfo on save to pick its
    # query UI feature set; the spec envelope with a conservative version
    # is enough. Served only when a query surface is configured.
    return {"version": "2.45.0", "application": "prometheus_remote_kinesis_spark"}, False


# The Prometheus HTTP API's route table: path → (the injected server
# handler the route needs, route function). A route function takes that
# handler, the request parameters and, for label values, the label name
# (the one path parameter); it returns ``(data, truncated)`` or raises
# ValueError for bad input. ``_Handler._api`` does the rest.
_LABEL_VALUES = re.compile(r"/api/v1/label/([^/]+)/values")
_ROUTES = {
    "/api/v1/query": (attrgetter("query_handler"), _instant),
    "/api/v1/query_range": (attrgetter("range_handler"), _range),
    "/api/v1/labels": (attrgetter("metadata_handler"), _labels),
    "/api/v1/label/<name>/values": (attrgetter("metadata_handler"), _label_values),
    "/api/v1/series": (attrgetter("metadata_handler"), _series),
    "/api/v1/status/buildinfo": (attrgetter("query_handler"), _buildinfo),
}


class _Handler(BaseHTTPRequestHandler):
    # Quiet by default; the server object collects nothing per-request.
    def log_message(self, fmt: str, *args) -> None:  # noqa: A002
        pass

    def _json(self, code: int, obj: dict) -> None:
        body = json.dumps(obj, ensure_ascii=False).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        url = urlsplit(self.path)
        self._api(url.path, url.query)

    def _api(self, path: str, query: str, form: bytes = b"") -> None:
        """Answers a Prometheus HTTP API request; every API status is
        decided here. 404 for an unknown path or one whose handler was not
        injected; otherwise the route runs on the URL query merged with a
        POST form body (body wins per key, as Prometheus's ParseForm):
        200 with the spec envelope, 400 ``bad_data`` when it raises
        ValueError (bad parameters, PromQL the subset rejects, a body that
        is not UTF-8), 500 ``internal`` on any other failure."""
        m = _LABEL_VALUES.fullmatch(path)
        handler_of, route = _ROUTES.get("/api/v1/label/<name>/values" if m else path, (None, None))
        handler = handler_of and handler_of(self.server)
        if handler is None:
            self._status(404)
            return
        try:
            params = parse_qs(query)
            params.update(parse_qs(form.decode("utf-8")))
            data, truncated = route(handler, params, *(m.groups() if m else ()))
        except ValueError as e:  # PromQLError subclasses ValueError
            self._json(400, {"status": "error", "errorType": "bad_data", "error": str(e)})
            return
        except Exception as e:  # noqa: BLE001 — spec: internal error
            self._json(500, {"status": "error", "errorType": "internal", "error": str(e)})
            return
        reply = {"status": "success", "data": data}
        if truncated:  # the spec's truncation signal
            reply["warnings"] = ["results truncated due to limit"]
        self._json(200, reply)

    def do_POST(self) -> None:  # noqa: N802 (http.server API)
        url = urlsplit(self.path)
        if url.path.startswith("/api/v1/"):
            # Prometheus clients POST form-encoded bodies for long queries;
            # Grafana falls back to POST past URL-length limits.
            body = self._read_body()
            if body is not None:
                self._api(url.path, url.query, body)
            return
        if url.path == "/read" and self.server.read_handler is not None:
            # Prometheus remote_read (beyond-reference surface; the
            # reference is write-only — this serves the relayed series
            # BACK to a `remote_read` client, prompb.py read codecs):
            # snappy(ReadRequest) → handler(queries) → snappy(ReadResponse)
            body = self._read_body()
            if body is None:
                return
            try:
                queries = parse_read_request(snappy_decompress(body))
            except Exception:
                self._status(400)  # bad snappy, or a ReadRequest cut short
                return
            try:
                results = self.server.read_handler(queries)
                payload = snappy_compress(encode_read_response(results))
            except Exception:
                self._status(500)
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/x-protobuf")
            self.send_header("Content-Encoding", "snappy")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
            return
        if url.path != "/receive":  # route, main.go:61 (ServeMux matches the path)
            self._status(404)
            return
        body = self._read_body()
        if body is None:
            return
        try:
            decompressed = snappy_decompress(body)  # kinesis.go:76
        except Exception:
            self._status(400)  # kinesis.go:77-81
            return
        try:
            columns = decode_write_request(decompressed)  # kinesis.go:83-90
        except Exception:
            self._status(400)  # kinesis.go:85-88
            return
        if self.server.raw:
            # Raw mode: the decode above only chooses the status; the
            # original snappy body is spooled and the executors decode it
            # again with the same decoder (read_prompb_record_stream).
            self.server.spool_raw(body)
        else:
            self.server.spool(columns)  # kinesis.go:92
        self._status(200)  # implicit 200, kinesis.go:93

    def _read_body(self) -> bytes | None:
        """The request body, or None after answering: 400 for a negative or
        non-numeric Content-Length (``rfile.read(-1)`` would read to EOF;
        Go's net/http answers such a request 400), 413 for one above
        ``MAX_BODY_BYTES``, both before anything is read, and 500 when the
        read fails (kinesis.go:70-74)."""
        length = self.headers.get("Content-Length", "0").strip()
        if not (length.isascii() and length.isdigit()):
            self._status(400)
            return None
        if int(length) > MAX_BODY_BYTES:
            self._status(413)
            return None
        try:
            return self.rfile.read(int(length))
        except OSError:
            self._status(500)
            return None

    def _status(self, code: int) -> None:
        self.send_response(code)
        self.end_headers()


class RemoteWriteServer(ThreadingHTTPServer):
    """``POST /receive`` → NDJSON files in ``spool_dir``.

    Files appear atomically (write to a dot-prefixed temp name in the
    same directory, then rename) so the streaming file source never reads
    a half-written batch. One file per request, mirroring the reference's
    one channel message per request (kinesis.go:92).
    """

    daemon_threads = True

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        raw: bool = False,
        read_handler=None,
        query_handler=None,
        range_handler=None,
        metadata_handler=None,
    ):
        super().__init__((host, port), _Handler)
        self.spool_dir = spool_dir
        # raw=True: spool the validated snappy body as .pb.sz for
        # read_prompb_record_stream — decode runs in Spark, not here.
        self.raw = raw
        # optional remote_read: callable(queries) -> per-query series lists
        # (prompb.encode_read_response shape); None keeps the server
        # write-only like the reference (POST /read → 404)
        self.read_handler = read_handler
        # optional PromQL instant-query API: callable(query_text,
        # time_s | None) -> (eval_time_seconds, [(labels_dict, value),
        # ...]); None keeps GET /api/v1/query → 404
        # (promql.make_promql_http_handler builds the Spark-backed one)
        self.query_handler = query_handler
        # optional PromQL range-query API: callable(query_text, start_s,
        # end_s, step_s) -> [(labels_dict, [(t_s, value), ...]), ...];
        # None keeps GET /api/v1/query_range → 404
        # (promql.make_promql_range_http_handler builds it)
        self.range_handler = range_handler
        # optional Prometheus metadata API (labels / label values /
        # series — the routes Grafana's dropdowns call): callable(kind,
        # arg); None keeps them 404
        # (promql.make_promql_metadata_handler builds it)
        self.metadata_handler = metadata_handler
        os.makedirs(spool_dir, exist_ok=True)
        self._thread: threading.Thread | None = None

    def spool(self, columns: Columns) -> None:
        """Record columns (``decode_write_request``'s, so a row's name is
        its labels' ``__name__``) → one ``.json`` NDJSON spool file.

        Wire format = sinks.encode_ndjson: one JSON object per line,
        explicit null value (record.go:21-27), name/time/value/labels
        field order (record.go:8-14). The bytes are those of one
        ``json.dumps(record, ensure_ascii=False, separators=(",", ":"))``
        per record, but a label set's JSON is encoded once: its head and
        tail are memoised on the cached ``LabelSet`` the first time it is
        spooled (``ndjson.ndjson_lines``). Measured on 24 perfbench ``Universe(1)``
        bodies (2,000 series of one sample each, best of 7, one 4-core
        shared host): one ``json.dumps`` per record took 11-14 ms a body;
        this builder takes 1.5-2.4 ms warm, and 8.8-10.5 ms with the memo
        taken out. Bodies of only new label sets take 0.87-0.91x the
        ``json.dumps`` loop (median of 9)."""
        if columns[0]:
            self._spool_file("".join(ndjson_lines(columns)).encode("utf-8"), ".json")

    def spool_raw(self, body: bytes) -> None:
        self._spool_file(body, ".pb.sz")

    def _spool_file(self, payload: bytes, suffix: str) -> None:
        tmp = os.path.join(self.spool_dir, f".{uuid.uuid4().hex}.tmp")
        final = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}{suffix}")
        with open(tmp, "wb") as f:
            f.write(payload)
        os.rename(tmp, final)

    @property
    def url(self) -> str:
        host, port = self.server_address[:2]
        return f"http://{host}:{port}/receive"

    def start(self) -> "RemoteWriteServer":
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.shutdown()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.server_close()
