"""S1: the Prometheus remote-write HTTP endpoint (reference:
``kinesis.go:68-93`` / ``firehose.go:61-86``, route ``main.go:57-63``).

A stdlib ``ThreadingHTTPServer`` exposing ``POST /receive`` with the
reference handler's exact staging and status codes:

| stage | reference | here | failure → HTTP |
|---|---|---|---|
| 1 read | ``ioutil.ReadAll`` (kinesis.go:69) | ``rfile.read(len)`` | 500 (kinesis.go:70-74); a bad ``Content-Length`` 400, as net/http |
| 2 decompress | ``snappy.Decode`` (kinesis.go:76) | ``prompb.snappy_decompress`` (pyarrow's snappy; preamble capped at 22× the body) | 400 (kinesis.go:77-81) |
| 3 decode + transform | ``proto.Unmarshal`` + ``parseRecords`` (kinesis.go:83-90, prometheus.go:10-37) | ``prompb.decode_write_request``: one pass to record columns, label sets reused from a bounded cache keyed by their wire bytes | 400 (kinesis.go:85-88) |
| 4 handoff | ``writeCh <- records`` (kinesis.go:92) | atomic NDJSON file into the spool dir | — |

The spool directory IS the channel: the Structured Streaming relay
(``streaming.pipeline.read_record_stream``) watches it as a file source,
giving the same ingest→writer decoupling as the reference's buffered
``chan Records`` — except the handoff is durable, so the reference's
ack-before-durable data loss window (SURVEY.md §3.2) is closed: we write
the records before answering 200.

Both spool modes run the same decoder as the ``format("prompb")``
DataSource and the relay (``prompb_datasource.decode_body``). The NDJSON
mode writes its columns as record lines; the raw mode (``raw=True``)
drops them and spools the original body, so whatever the handler accepts,
the executors decode. ``tests/test_server.py`` pins the decoder's flatten
against the Spark-side ``ingest.flatten_write_requests`` (which flattens
already-nested Spark rows) on the same fixtures so the two can never
diverge silently. ``flatten_timeseries`` applies the same flatten to
``parse_write_request``-shaped series.

Beyond the reference's write-only surface, the same server optionally
serves the data BACK: ``POST /read`` (Prometheus remote_read, r10) and
``GET /api/v1/query`` (the Prometheus HTTP API instant query, r11 —
``promql.make_promql_http_handler`` puts the PQ compiler behind the
spec's vector-JSON envelope). Both routes stay 404 unless a handler is
injected, preserving reference parity by default.
"""

from __future__ import annotations

import json
import math
import os
import threading
import uuid
from collections.abc import Iterator
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

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

    @staticmethod
    def _parse_time_s(text: str) -> float:
        """Prometheus API timestamp: unix seconds (float) or RFC3339
        (the spec allows both; Grafana sends either depending on the
        datasource version). Anything else → ValueError → 400."""
        try:
            t = float(text)
        except ValueError:
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(text.replace("Z", "+00:00"))
            if dt.tzinfo is None:  # bare local times are ambiguous — spec
                dt = dt.replace(tzinfo=timezone.utc)  # sends UTC ('Z') forms
            return dt.timestamp()
        if not math.isfinite(t):
            # float() parses "inf"/"nan"; int(round(inf*1000)) downstream
            # would raise OverflowError → a 500 'internal' where the spec
            # wants 400 bad_data (r12 ADVICE)
            raise ValueError(f"non-finite timestamp {text!r}")
        return t

    @staticmethod
    def _parse_duration_s(text: str) -> float:
        """Prometheus API step: a float (seconds) or a duration literal
        like ``15s``/``5m``/``1h``; anything else → ValueError → 400."""
        try:
            return float(text)
        except ValueError:
            pass
        import re as _re

        m = _re.fullmatch(r"(\d+)(ms|s|m|h|d)", text)
        if not m:
            raise ValueError(f"bad step {text!r}")
        return int(m.group(1)) * {
            "ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0
        }[m.group(2)]

    def _bad(self, msg: str) -> None:
        self._json(
            400, {"status": "error", "errorType": "bad_data", "error": msg}
        )

    # Default metadata-route cap (the Prometheus API's `limit` parameter,
    # r12 VERDICT task #5): absent → this cap; `limit=0` (the spec's
    # "disabled") → the hard server max below, so NO client request can
    # size a driver materialization by data cardinality alone.
    _MD_DEFAULT_LIMIT = 1000
    _MD_HARD_MAX = 100_000

    def _parse_limit(self, params) -> int | None:
        """The metadata routes' ``limit=`` parameter → effective row cap
        (always finite). Returns None after answering 400 on bad input."""
        raw = params.get("limit", [None])[0]
        if raw is None:
            return self._MD_DEFAULT_LIMIT
        try:
            n = int(raw)
        except ValueError:
            n = -1
        if n < 0:
            self._bad(f"bad limit parameter {raw!r}")
            return None
        if n == 0:  # spec: 0 disables the limit — bounded by the hard max
            return self._MD_HARD_MAX
        return min(n, self._MD_HARD_MAX)

    def _md_reply(self, data, truncated: bool) -> None:
        obj = {"status": "success", "data": data}
        if truncated:  # the spec's truncation signal
            obj["warnings"] = ["results truncated due to limit"]
        self._json(200, obj)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        # Prometheus HTTP API (public spec): GET /api/v1/query (instant,
        # optional time=) and GET /api/v1/query_range (start/end/step →
        # matrix) — beyond-reference surface like /read: the PQ compiler
        # serves the relayed series back to any Prometheus-API client
        # (a Grafana panel's refresh IS a query_range call). Errors use
        # the spec's status/errorType fields (bad_data for PromQL the
        # subset rejects, internal for everything else).
        from urllib.parse import parse_qs, urlparse

        u = urlparse(self.path)
        self._api(u.path, parse_qs(u.query))

    def _api(self, path: str, params: dict) -> None:
        """The shared API dispatcher — GET takes parameters from the URL,
        POST from a form-encoded body (r12 VERDICT task #8: Prometheus
        clients POST long queries; Grafana falls back to POST past
        URL-length limits)."""
        md = getattr(self.server, "metadata_handler", None)
        if md is not None and path in ("/api/v1/labels", "/api/v1/series"):
            limit = self._parse_limit(params)
            if limit is None:
                return
            try:
                if path == "/api/v1/labels":
                    data, trunc = md("labels", limit=limit)
                else:
                    m = params.get("match[]", [None])[0]
                    if not m:
                        self._bad("series needs a match[] selector")
                        return
                    data, trunc = md("series", m, limit=limit)
            except ValueError as e:
                self._bad(str(e))
                return
            except Exception as e:  # noqa: BLE001 — spec: internal error
                # (r12 ADVICE: a non-ValueError Spark failure previously
                # escaped do_GET and dropped the connection)
                self._json(
                    500,
                    {"status": "error", "errorType": "internal",
                     "error": str(e)},
                )
                return
            self._md_reply(data, trunc)
            return
        if md is not None and path.startswith("/api/v1/label/") and path.endswith("/values"):
            name = path[len("/api/v1/label/"):-len("/values")]
            limit = self._parse_limit(params)
            if limit is None:
                return
            try:
                data, trunc = md("label_values", name, limit=limit)
            except ValueError as e:
                self._bad(str(e))
                return
            except Exception as e:  # noqa: BLE001 — spec: internal error
                self._json(
                    500,
                    {"status": "error", "errorType": "internal",
                     "error": str(e)},
                )
                return
            self._md_reply(data, trunc)
            return
        if (
            path == "/api/v1/query_range"
            and getattr(self.server, "range_handler", None) is not None
        ):
            q = params.get("query", [None])[0]
            if not q:
                self._bad("missing query parameter")
                return
            try:
                start_s = self._parse_time_s(params["start"][0])
                end_s = self._parse_time_s(params["end"][0])
                step_s = self._parse_duration_s(params["step"][0])
            except (KeyError, ValueError, IndexError):
                self._bad("query_range needs start, end (unix seconds) "
                          "and step (seconds or duration)")
                return
            try:
                series = self.server.range_handler(q, start_s, end_s, step_s)  # type: ignore[attr-defined]
                result = [
                    {"metric": labels,
                     "values": [[t_s, str(float(v))] for t_s, v in pts]}
                    for labels, pts in series
                ]
            except ValueError as e:  # PromQLError subclasses ValueError
                self._bad(str(e))
                return
            except Exception as e:  # noqa: BLE001 — spec: internal error
                self._json(
                    500,
                    {"status": "error", "errorType": "internal",
                     "error": str(e)},
                )
                return
            self._json(
                200,
                {
                    "status": "success",
                    "data": {"resultType": "matrix", "result": result},
                },
            )
            return
        if (
            path == "/api/v1/status/buildinfo"
            and getattr(self.server, "query_handler", None) is not None
        ):
            # Grafana's Prometheus datasource probes buildinfo on save to
            # pick its query UI feature set (r13); the spec envelope with
            # a conservative version is enough. Served only when a query
            # surface is configured — a write-only relay keeps reference
            # parity (404).
            self._json(
                200,
                {
                    "status": "success",
                    "data": {"version": "2.45.0", "application": (
                        "prometheus_remote_kinesis_spark"
                    )},
                },
            )
            return
        if path != "/api/v1/query" or getattr(self.server, "query_handler", None) is None:
            self.send_response(404)
            self.end_headers()
            return
        q = params.get("query", [None])[0]
        if not q:
            self._bad("missing query parameter")
            return
        time_s = None
        if "time" in params:  # spec: optional evaluation timestamp
            try:
                time_s = self._parse_time_s(params["time"][0])
            except ValueError:
                self._bad(f"bad time parameter {params['time'][0]!r}")
                return
        try:
            t_s, results = self.server.query_handler(q, time_s)  # type: ignore[attr-defined]
            result = [
                {"metric": labels, "value": [t_s, str(float(v))]}
                for labels, v in results
            ]
        except ValueError as e:  # PromQLError subclasses ValueError
            self._bad(str(e))
            return
        except Exception as e:  # noqa: BLE001 — spec: internal error
            self._json(
                500,
                {"status": "error", "errorType": "internal", "error": str(e)},
            )
            return
        self._json(
            200,
            {
                "status": "success",
                "data": {"resultType": "vector", "result": result},
            },
        )

    def do_POST(self) -> None:  # noqa: N802 (http.server API)
        from urllib.parse import parse_qs, urlparse

        u = urlparse(self.path)
        if u.path in ("/api/v1/query", "/api/v1/query_range"):
            # Prometheus clients POST form-encoded bodies for long
            # queries (r12 VERDICT task #8); parameters may arrive in the
            # URL, the body, or both — body wins per key (the spec lets
            # either carry them; merging matches Prometheus's ParseForm)
            try:
                body = self._read_body().decode("utf-8")
            except Exception:
                self._bad("unreadable request body")
                return
            params = parse_qs(u.query)
            params.update(parse_qs(body))
            self._api(u.path, params)
            return
        if self.path == "/read" and getattr(self.server, "read_handler", None):
            # Prometheus remote_read (beyond-reference surface; the
            # reference is write-only — this serves the relayed series
            # BACK to a `remote_read` client, prompb.py read codecs):
            # snappy(ReadRequest) → handler(queries) → snappy(ReadResponse)
            try:
                queries = parse_read_request(snappy_decompress(self._read_body()))
            except Exception:
                self._status(400)  # bad snappy, or a ReadRequest cut short
                return
            try:
                results = self.server.read_handler(queries)  # type: ignore[attr-defined]
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
        if self.path != "/receive":  # route, main.go:61
            self._status(404)
            return
        try:
            body = self._read_body()
        except ValueError:
            self._status(400)  # bad Content-Length: net/http answers before the handler
            return
        except Exception:
            self._status(500)  # read failure, kinesis.go:70-74
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
        if getattr(self.server, "raw", False):
            # Raw mode: the decode above only chooses the status; the
            # original snappy body is spooled and the executors decode it
            # again with the same decoder (read_prompb_record_stream).
            self.server.spool_raw(body)  # type: ignore[attr-defined]
        else:
            self.server.spool(columns)  # type: ignore[attr-defined]  # kinesis.go:92
        self._status(200)  # implicit 200, kinesis.go:93

    def _read_body(self) -> bytes:
        """The request body. A negative or non-numeric Content-Length raises
        ``ValueError`` before anything is read (``rfile.read(-1)`` would
        read to EOF); Go's net/http answers such a request 400."""
        length = self.headers.get("Content-Length", "0").strip()
        if not (length.isascii() and length.isdigit()):
            raise ValueError(f"bad Content-Length {length!r}")
        return self.rfile.read(int(length))

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
        if not columns[0]:
            return
        # Wire format = sinks.encode_ndjson: one JSON object per line,
        # explicit null value (record.go:21-27), name/time/value/labels
        # field order (record.go:8-14).
        lines = "".join(
            json.dumps(r, ensure_ascii=False, separators=(",", ":")) + "\n"
            for r in _records(columns)
        )
        tmp = os.path.join(self.spool_dir, f".{uuid.uuid4().hex}.tmp")
        final = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.json")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(lines)
        os.rename(tmp, final)

    def spool_raw(self, body: bytes) -> None:
        tmp = os.path.join(self.spool_dir, f".{uuid.uuid4().hex}.tmp")
        final = os.path.join(self.spool_dir, f"{uuid.uuid4().hex}.pb.sz")
        with open(tmp, "wb") as f:
            f.write(body)
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
