"""CLI parity tests: flag semantics of the reference's main() plus a full
drain-mode run — HTTP POST → spool → relay → file sink in one process."""

from __future__ import annotations

import http.client

import pytest

from prometheus_remote_kinesis_spark.cli import main
from prometheus_remote_kinesis_spark.sources.prompb import encode_remote_write_body


def test_stream_name_required():
    with pytest.raises(SystemExit):  # main.go:88-90
        main(["--sink-dir", "/tmp/x", "--drain"])


@pytest.mark.slow  # HTTP server + streaming relay e2e (~14 s with setup)
def test_drain_run_end_to_end(spark, tmp_path, monkeypatch):
    """--drain: post one body at the moment the server is up, relay the
    backlog with availableNow, exit. Exercises flag plumbing, server
    lifecycle, writer selection (file sink), and the relay itself."""
    spool = tmp_path / "spool"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    sink.mkdir()

    # Post the body BEFORE main(): the spool dir is the durable channel,
    # so records written to it before the stream starts are still drained
    # (the availableNow trigger reads the backlog).
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer

    srv = RemoteWriteServer(str(spool)).start()
    host, port = srv.server_address[:2]
    conn = http.client.HTTPConnection(host, port, timeout=10)
    conn.request(
        "POST",
        "/receive",
        body=encode_remote_write_body(
            [({"__name__": "m1", "job": "j"}, [(1.5, 1000), (2.5, 2000)])]
        ),
    )
    assert conn.getresponse().status == 200
    conn.close()
    srv.stop()

    rc = main(
        [
            "--stream-name",
            "test-stream",
            "--listen-addr",
            "127.0.0.1:0",
            "--spool-dir",
            str(spool),
            "--checkpoint-dir",
            str(ckpt),
            "--sink-dir",
            str(sink),
            "--drain",
        ]
    )
    assert rc == 0

    lines = []
    for p in sink.iterdir():
        lines += p.read_bytes().decode().splitlines()
    assert len(lines) == 2
    assert all("\t" in ln for ln in lines)  # kinesis mode keeps partition keys
    keys = {ln.split("\t", 1)[0] for ln in lines}
    assert keys == {"m1"}  # partition key = metric name (kinesis.go:174)


@pytest.mark.slow  # HTTP server + prompb DataSource relay e2e (~9 s)
def test_drain_raw_spool_end_to_end(spark, tmp_path):
    """--raw-spool --drain: the posted body lands as wire bytes, the relay
    decodes it through read_prompb_record_stream on executors, same sink
    output."""
    spool = tmp_path / "spool"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    sink.mkdir()

    from prometheus_remote_kinesis_spark.server import RemoteWriteServer

    srv = RemoteWriteServer(str(spool), raw=True).start()
    host, port = srv.server_address[:2]
    conn = http.client.HTTPConnection(host, port, timeout=10)
    conn.request(
        "POST",
        "/receive",
        body=encode_remote_write_body(
            [({"__name__": "m2", "job": "j"}, [(1.5, 1000), (2.5, 2000)])]
        ),
    )
    assert conn.getresponse().status == 200
    conn.close()
    srv.stop()
    assert any(p.name.endswith(".pb.sz") for p in spool.iterdir())

    rc = main(
        [
            "--stream-name",
            "test-stream",
            "--listen-addr",
            "127.0.0.1:0",
            "--spool-dir",
            str(spool),
            "--checkpoint-dir",
            str(ckpt),
            "--sink-dir",
            str(sink),
            "--drain",
            "--raw-spool",
        ]
    )
    assert rc == 0

    lines = []
    for p in sink.iterdir():
        lines += p.read_bytes().decode().splitlines()
    assert len(lines) == 2
    keys = {ln.split("\t", 1)[0] for ln in lines}
    assert keys == {"m2"}


def test_query_tables_handler_wiring(spark):
    """--query-tables wires all four query-side handlers (r12): the
    remote_read matcher engine plus the instant/range/metadata routes —
    each answers real data from the given table dir (the route-level
    envelopes are pinned by test_server.py; this pins the CLI wiring)."""
    from prometheus_remote_kinesis_spark.cli import build_query_handlers
    from tests.conftest import SF_SMOKE

    h = build_query_handlers(spark, SF_SMOKE)
    assert set(h) == {
        "read_handler", "query_handler", "range_handler", "metadata_handler"
    }
    t_s, vec = h["query_handler"]("count(signup)")
    assert t_s > 1e9 and len(vec) <= 1  # 0 or 1 row, a global count
    labels, _trunc = h["metadata_handler"]("labels")
    assert labels == ["__name__", "user"]
    names, _trunc = h["metadata_handler"]("label_values", "__name__")
    assert "click" in names
    end_s = t_s
    series = h["range_handler"](
        "count_over_time(click[1d])", end_s - 86_400.0, end_s, 21_600.0
    )
    assert series and all(pts == sorted(pts) for _lbl, pts in series)
