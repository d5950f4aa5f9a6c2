"""Spark 4 custom Python DataSource for the reference's wire format.

``spark.read.format("prompb").load(dir)`` scans a directory of
snappy-compressed protobuf ``WriteRequest`` spool files — the exact bytes
the reference receives per HTTP POST (kinesis.go:68-93) and our
``server.py`` endpoint spools — and produces RECORD_SCHEMA rows with the
reference's flatten semantics (prometheus.go:10-37, implemented once in
``server.flatten_timeseries``).

This is the idiomatic Spark-4 way to expose a bespoke wire format as a
first-class source: one InputPartition per spool file, so a directory of N
files scans N-way parallel and the decode (``decode_body``: pyarrow's
snappy, the prompb parser, the flatten) runs on executors — the driver
never touches payload bytes. At 100 TB the same class pointed at an
object-store prefix keeps the shape; only file listing grows, and Spark
batches that on the driver.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from prometheus_remote_kinesis_spark.server import flatten_timeseries
from prometheus_remote_kinesis_spark.sources.prompb import (
    parse_write_request,
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
    return pa.RecordBatch.from_pylist(
        flatten_timeseries(parse_write_request(snappy_decompress(body))),
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

    def streamReader(self, schema) -> "PrompbParallelStreamReader":  # noqa: ANN001,N802
        return PrompbParallelStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "PrompbWriter":  # noqa: ANN001
        return PrompbWriter(self.options)


class _Spool:
    """Options, listing and per-file decode shared by both readers."""

    def __init__(self, options) -> None:  # noqa: ANN001
        self.path = options.get("path")
        if not self.path:
            raise ValueError("prompb source requires a path")
        self.suffix = options.get("suffix", ".pb.sz")

    def _list(self) -> list[str]:
        return sorted(f for f in os.listdir(self.path) if f.endswith(self.suffix))

    def _partitions(self, files: list[str]) -> list[InputPartition]:
        # One partition per spool file: parallelism = file count, decode
        # executor-side. No files → one no-op partition (Spark requires ≥1).
        if not files:
            return [InputPartition(None)]
        return [InputPartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        if partition.value is None:
            return
        with open(partition.value, "rb") as fh:
            yield decode_body(fh.read())


class PrompbReader(_Spool, DataSourceReader):
    def partitions(self):
        return self._partitions(self._list())


class PrompbParallelStreamReader(_Spool, DataSourceStreamReader):
    """``readStream.format("prompb")`` — each micro-batch consumes the spool
    files that appeared since the last committed offset, exactly once
    (offset = the sorted seen-file list). The driver only LISTS the spool;
    each new file becomes an InputPartition and decodes on an executor, so
    N new files per micro-batch scan N-way parallel and payload bytes
    never touch the driver. Sequence-numbered names (the Kinesis analog)
    would replace the seen-set offset with a watermark so offsets stay
    O(1)."""

    def initialOffset(self) -> dict:  # noqa: N802
        return {"seen": []}

    def latestOffset(self) -> dict:  # noqa: N802
        return {"seen": self._list()}

    def partitions(self, start: dict, end: dict):
        return self._partitions(sorted(set(end["seen"]) - set(start["seen"])))

    def commit(self, end: dict) -> None:
        pass


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
