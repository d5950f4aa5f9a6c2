"""Process entry point — the reference's ``main()`` (main.go:70-119) as a
Spark pipeline: flag parsing, writer selection, HTTP server, graceful
shutdown.

Flag parity (reference defaults cited):

| flag | reference | ours |
|---|---|---|
| ``--stream-name`` | required, fatal if empty (main.go:71,88-90) | same |
| ``--listen-addr`` | default ``:9501`` (main.go:73) | default ``127.0.0.1:9501`` |
| ``--write-interval`` | default 10 s (main.go:75) | same (``10 seconds``) |
| ``--firehose`` | picks PutRecordBatch writer, no partition key (main.go:94-99) | same selection |
| ``--region`` | flag → ``$AWS_REGION`` → ``ap-northeast-1`` (kinesis.go:41-46, :24) | same chain |

Differences, all deliberate (SURVEY.md §4.3): shutdown stops the streaming
query THEN the HTTP server, so the in-flight micro-batch flushes — the
reference's flush is unreachable on SIGTERM (main.go:109 vs 114-118); the
handoff is a durable spool, so nothing acked is ever lost; without boto3
(or with ``--sink-dir``) the sink is a file writer stand-in, keeping AWS
strictly injected.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import tempfile

DEFAULT_REGION = "ap-northeast-1"  # kinesis.go:24


def build_put_fn(args):
    """Writer selection (main.go:94-99): Kinesis vs Firehose, boto3 when
    available, file-sink stand-in otherwise (tests/dev)."""
    from prometheus_remote_kinesis_spark.testing import FilePutRecords

    if args.sink_dir:
        # Firehose has no partition key (firehose.go:165-167) — drop keys.
        return FilePutRecords(args.sink_dir, keep_keys=not args.firehose)
    try:
        import boto3  # noqa: F401 — optional, never required for tests
    except ImportError:
        sys.exit("boto3 not installed: pass --sink-dir for the file sink")
    region = args.region or os.environ.get("AWS_REGION") or DEFAULT_REGION
    if args.firehose:
        client = boto3.client("firehose", region_name=region)

        def put(batch):
            resp = client.put_record_batch(
                DeliveryStreamName=args.stream_name,
                Records=[{"Data": data} for _, data in batch.entries],
            )
            return [
                i
                for i, r in enumerate(resp.get("RequestResponses", []))
                if "ErrorCode" in r
            ]

        return put
    client = boto3.client("kinesis", region_name=region)

    def put(batch):
        resp = client.put_records(
            StreamName=args.stream_name,
            Records=[
                {"Data": data, "PartitionKey": key or "_"}
                for key, data in batch.entries
            ],
        )
        return [
            i for i, r in enumerate(resp.get("Records", [])) if "ErrorCode" in r
        ]

    return put


def build_query_handlers(spark, tables_dir: str) -> dict:
    """The query-side server handlers ``--query-tables`` wires (r12):
    remote_read plus the full Prometheus HTTP API (instant, range, and
    the Grafana-dropdown metadata routes) over the given parquet table
    dir — typically the archival sink's output. Kept separate from
    ``main`` so the wiring is unit-testable without a live relay."""
    from prometheus_remote_kinesis_spark.ingest_queries import (
        spark_read_handler,
    )
    from prometheus_remote_kinesis_spark.promql import (
        make_promql_http_handler,
        make_promql_metadata_handler,
        make_promql_range_http_handler,
    )

    return {
        "read_handler": spark_read_handler(spark, tables_dir),
        "query_handler": make_promql_http_handler(spark, tables_dir),
        "range_handler": make_promql_range_http_handler(spark, tables_dir),
        "metadata_handler": make_promql_metadata_handler(spark, tables_dir),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="prometheus_remote_kinesis_spark")
    ap.add_argument("--stream-name", default="", help="required (main.go:88-90)")
    ap.add_argument("--listen-addr", default="127.0.0.1:9501")
    ap.add_argument("--write-interval", default="10 seconds")
    ap.add_argument("--firehose", action="store_true")
    ap.add_argument("--region", default=None)
    ap.add_argument("--spool-dir", default=None, help="HTTP→stream handoff dir")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--sink-dir", default=None, help="file sink instead of AWS")
    ap.add_argument(
        "--drain",
        action="store_true",
        help="availableNow: relay the spool backlog once, then exit "
        "(batch catch-up / tests)",
    )
    ap.add_argument(
        "--raw-spool",
        action="store_true",
        help="handler spools validated wire bytes; Spark decodes via the "
        "format('prompb') source (flatten on executors, not in the handler)",
    )
    ap.add_argument(
        "--query-tables",
        default=None,
        help="parquet table dir (e.g. the archival sink's output): also "
        "serve POST /read (remote_read) and the Prometheus HTTP API — "
        "GET /api/v1/query, /query_range, /labels, /label/<n>/values, "
        "/series — over it (r12; without the flag those routes stay 404, "
        "reference write-only parity)",
    )
    args = ap.parse_args(argv)
    if not args.stream_name:
        sys.exit("-stream-name is required")  # main.go:88-90

    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from prometheus_remote_kinesis_spark.session import get_spark
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        read_prompb_record_stream,
        read_record_stream,
        relay,
    )

    spool = args.spool_dir or tempfile.mkdtemp(prefix="rw_spool_")
    ckpt = args.checkpoint_dir or tempfile.mkdtemp(prefix="rw_ckpt_")
    host, _, port = args.listen_addr.rpartition(":")
    spark = get_spark("prometheus_remote_kinesis_spark")
    handlers = (
        build_query_handlers(spark, args.query_tables)
        if args.query_tables
        else {}
    )
    server = RemoteWriteServer(
        spool, host=host or "127.0.0.1", port=int(port), raw=args.raw_spool,
        **handlers,
    ).start()
    source = (
        read_prompb_record_stream(spark, spool)
        if args.raw_spool
        else read_record_stream(spark, spool)
    )
    query = relay(
        source,
        build_put_fn(args),
        checkpoint_dir=ckpt,
        interval=None if args.drain else args.write_interval,
        available_now=args.drain,
    )

    def shutdown(signum, frame):  # SIGINT/SIGTERM (main.go:90-92,114)
        # Stop the query FIRST: the current micro-batch completes, so the
        # buffer flush the reference loses on SIGTERM (main.go:109) happens.
        query.stop()

    if not args.drain:
        signal.signal(signal.SIGINT, shutdown)
        signal.signal(signal.SIGTERM, shutdown)
    print(f"listening on {server.url}, relaying spool={spool} ckpt={ckpt}")
    try:
        query.awaitTermination()
    finally:
        server.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
