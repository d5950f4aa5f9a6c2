"""S1-S3: the remote-write ingest stage as a Spark transform.

``decode_remote_write`` turns a DataFrame of raw POST bodies (binary
snappy+protobuf, the exact bytes of ``kinesis.go:69``) into RECORD_SCHEMA
rows through the same per-body decoder as the ``format("prompb")``
DataSource (``prompb_datasource.decode_body``, built on the one
WriteRequest decoder ``prompb.decode_write_request`` that the
``/receive`` handler also runs), as an Arrow-batched ``mapInArrow``
(SURVEY.md §2.10 U1). The raw-spool record stream
(``streaming.pipeline.read_prompb_record_stream``) is this stage over
Spark's ``binaryFile`` stream; ``relay`` given that stream as it is
sends the bodies to its sink tasks instead (``sinks.body_batch_writer``).

The HTTP listener itself is peripheral (BASELINE.json): in production the
bodies arrive via a stream transport (Kinesis/Kafka topic of raw bodies, or
files on object storage); any of those sources yields the ``body`` column
this stage consumes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from prometheus_remote_kinesis_spark.sources.prompb_datasource import (
    RECORD_DDL,
    decode_body,
)


def decode_remote_write(bodies: DataFrame, body_col: str = "body") -> DataFrame:
    """binary bodies → RECORD_SCHEMA rows (decode → flatten → NaN→NULL).

    Stage 2+3 of the reference's hot path (kinesis.go:76-90); malformed
    bodies raise (the reference answers HTTP 400 — at the pipeline level
    a poison message is surfaced, not dropped silently)."""

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for body in batch.column(body_col).to_pylist():
                yield decode_body(body)

    return bodies.select(body_col).mapInArrow(decode, RECORD_DDL)
