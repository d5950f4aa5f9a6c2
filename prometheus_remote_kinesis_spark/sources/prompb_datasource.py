"""Spark 4 custom Python DataSource for the reference's wire format.

``spark.read.format("prompb").load(dir)`` scans a directory of
snappy-compressed protobuf ``WriteRequest`` spool files — the exact bytes
the reference receives per HTTP POST (kinesis.go:68-93) and our
``server.py`` endpoint spools — and produces RECORD_SCHEMA rows with the
reference's flatten semantics (prometheus.go:10-37, implemented once in
``prompb.decode_write_request``). ``df.write.format("prompb")`` is the
archival twin that writes such files.

The batch reader makes one InputPartition per spool file, and the decode
(``decode_body``: pyarrow's snappy, then ``prompb.decode_write_request``'s
record columns as one Arrow batch) runs on executors — the driver never
touches payload bytes. ``decode_body`` is the one per-body Arrow
decoder, on the same ``decode_write_request`` the ``/receive`` handler
runs: the raw-spool record stream
(``streaming.pipeline.read_prompb_record_stream``) reads the same spool
through Spark's own ``binaryFile`` file source, which packs many small
files into few tasks, and decodes with it through ``mapInArrow``. (The
relay of that stream skips the Arrow build: its sink tasks decode the
bodies themselves.) There is no streaming reader here.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from prometheus_remote_kinesis_spark.sources.prompb import (
    decode_write_request,
    snappy_decompress,
)

RECORD_DDL = "name string, time bigint, value double, labels map<string,string>"
RECORD_ARROW_SCHEMA = pa.schema(
    [
        ("name", pa.string()),
        ("time", pa.int64()),
        ("value", pa.float64()),
        ("labels", pa.map_(pa.string(), pa.string())),
    ]
)


def decode_body(body: bytes) -> pa.RecordBatch:
    """One remote-write body → one RECORD_DDL ``pyarrow.RecordBatch``.
    Yielding RecordBatch (supported by the Python DataSource API and
    ``mapInArrow``) skips Spark's per-row tuple→Arrow conversion."""
    columns = decode_write_request(snappy_decompress(body))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, RECORD_ARROW_SCHEMA)],
        schema=RECORD_ARROW_SCHEMA,
    )


class PrompbDataSource(DataSource):
    """format("prompb") — directory of ``*.pb.sz`` WriteRequest files."""

    @classmethod
    def name(cls) -> str:
        return "prompb"

    def schema(self) -> str:
        return RECORD_DDL

    def reader(self, schema) -> "PrompbReader":  # noqa: ANN001 (API signature)
        return PrompbReader(self.options)

    def writer(self, schema, overwrite: bool) -> "PrompbWriter":  # noqa: ANN001
        return PrompbWriter(self.options)


class PrompbReader(DataSourceReader):
    """``read.format("prompb")`` — one InputPartition per spool file, the
    decode on executors."""

    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options.get("path")
        if not self.path:
            raise ValueError("prompb source requires a path")

    def partitions(self):
        files = sorted(f for f in os.listdir(self.path) if f.endswith(".pb.sz"))
        # No files → one no-op partition (Spark requires ≥1).
        if not files:
            return [InputPartition(None)]
        return [InputPartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        if partition.value is None:
            return
        with open(partition.value, "rb") as fh:
            yield decode_body(fh.read())


class PrompbWriter(DataSourceWriter):
    """``df.write.format("prompb").mode(...).save(dir)`` — the archival
    sink twin of the reader: each task encodes its partition of
    RECORD_SCHEMA rows (``name, time, value, labels``) as ONE snappy
    WriteRequest body (rows grouped into series by label set), written
    atomically (tmp + rename) so a concurrent streaming reader of the same
    directory never sees half a file. Round trip with the reader is
    lossless — NaN/NULL values and empty names ride through the wire
    semantics; an empty-samples series cannot be produced by the writer
    (every row carries a sample), so read(write(x)) == x row-for-row."""

    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options.get("path")
        if not self.path:
            raise ValueError("prompb sink requires a path")
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> WriterCommitMessage:
        import uuid

        from prometheus_remote_kinesis_spark.sources.prompb import (
            encode_remote_write_body,
        )

        series: dict = {}
        for row in iterator:
            labels = dict(row.labels) if row.labels is not None else {}
            key = tuple(sorted(labels.items()))
            value = float("nan") if row.value is None else row.value
            series.setdefault(key, (labels, []))[1].append((value, row.time))
        if series:
            body = encode_remote_write_body(list(series.values()))
            tmp = os.path.join(self.path, f".{uuid.uuid4().hex}.tmp")
            final = os.path.join(self.path, f"{uuid.uuid4().hex}.pb.sz")
            with open(tmp, "wb") as fh:
                fh.write(body)
            os.rename(tmp, final)
        return WriterCommitMessage()


def register_prompb_source(spark) -> None:  # noqa: ANN001
    """Idempotently register format("prompb") on this session."""
    spark.dataSource.register(PrompbDataSource)
