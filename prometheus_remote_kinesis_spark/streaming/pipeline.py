"""Layer A streaming core: the reference's relay re-expressed as a
Structured Streaming pipeline (SURVEY.md §2.8).

Reference dataflow (kinesis.go / firehose.go):

    HTTP /receive → decode → flatten → chan(1000) → [writer goroutine]
      → NDJSON → micro-batch by 10 s OR 500 entries OR 4.5 MB → PutRecords

Spark mapping:

    readStream(spool) → writeStream
      .trigger(processingTime='10 seconds')         (T1: main.go:75 default)
      .foreachBatch(chunked put: ≤500 / ≤4.5e6)     (T2: kinesis.go:22-23)
      .option('checkpointLocation', ...)            (T4: supersedes the
          reference's flush-on-close, which is unreachable on SIGTERM —
          SURVEY.md §4.3 bug 4; checkpointing also upgrades the
          ack-before-durable handoff of kinesis.go:92 to at-least-once)

An NDJSON spool holds records already: the batch's rows are encoded
with ``to_json`` in the JVM and shipped to a Python task for the put.
A raw spool holds snappy remote-write bodies: ``relay`` streams the
bodies themselves, and each Python task runs the reference's whole
per-body pipeline (kinesis.go:76-93, :153-193) in one pass: snappy →
decode → flatten → NDJSON lines (the spool's own line builder) → chunk →
put. Any other records frame, a transformed raw one included, takes the
``to_json`` path.

Backpressure (T3, chan cap 1000) is Spark source admission control
(``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``) — not re-implemented.

Event-time operators add what the reference lacks: ``windowed_rollup``
(T5/T6 + T8) is a watermarked tumbling/sliding window here, and the
registered streaming queries (``streaming/queries.py``: t9s dedup, the
session and stateful families) run the same expressions as the batch
queries in ``operators/time_windows.py`` — one definition, two execution
modes, which is the point of Structured Streaming.

Production Kinesis/Firehose clients are INJECTED callables (boto3 in a
real deployment); tests and local runs use file/memory stand-ins. No AWS
dependency anywhere in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from prometheus_remote_kinesis_spark.schema import (
    MAX_PUT_BYTES,
    MAX_PUT_ENTRIES,
    RECORD_SCHEMA,
)
from prometheus_remote_kinesis_spark.sinks import (
    PutRecordsFn,
    body_batch_writer,
    foreach_batch_writer,
)

DEFAULT_WRITE_INTERVAL = "10 seconds"  # -write-interval default, main.go:75


def read_record_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming NDJSON record source (S8 as a stream): the engine's own
    wire format read back under the declared RECORD_SCHEMA."""
    reader = spark.readStream.schema(RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        # T3: bounded admission per micro-batch = the chan-cap-1000
        # backpressure of kinesis.go:21, but checkpoint-tracked.
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_prompb_record_stream(
    spark: SparkSession, path: str, parallel: bool = True
) -> DataFrame:
    """Streaming record source over a RAW remote-write spool (snappy prompb
    bodies, ``RemoteWriteServer(raw=True)``): the handler decodes each body
    only to choose its status and writes no records, and the records are
    built here, where the cores are.

    Spark's own ``binaryFile`` streaming source lists the spool's new
    ``*.pb.sz`` files (dot-prefixed tmp files are hidden from it) and packs
    them into about ``defaultParallelism`` splits; the bodies then decode
    through ``decode_remote_write``. Packing matters because every Python
    task pays a fixed start-up cost: 48 bodies become a few tasks, not 48.
    Offsets are the file source's compacted log (exactly once), and
    ``availableNow`` is native. ``parallel`` is accepted for older callers
    and ignored.

    The returned frame remembers its bodies stream: ``relay`` given this
    frame as it is streams the bodies and decodes them in its sink tasks
    instead (same records, no Arrow build and no JVM ``to_json``). A
    frame derived from it (``where``, ``select``, …) is a new frame and
    relays its rows.

    Two consequences of reading bodies as files:

    - ``numInputRows`` in the query progress counts BODIES (files), not
      decoded records.
    - The file source's ``maxFileAge`` rule (7 days, relative to the newest
      file seen) applies. The handler writes each spool file when it
      receives the body, so the rule cannot drop a relayed body."""
    from prometheus_remote_kinesis_spark.sources.remote_write import (
        decode_remote_write,
    )

    bodies = (
        spark.readStream.format("binaryFile")
        # a streaming file source refuses to start without a schema
        .schema("path string, modificationTime timestamp, length bigint, content binary")
        .option("pathGlobFilter", "*.pb.sz")
        .load(path)
    )
    records = decode_remote_write(bodies.select(F.col("content").alias("body")))
    records._prompb_bodies = bodies.select("content")
    return records


def relay(
    records: DataFrame,
    put_records_fn: PutRecordsFn,
    checkpoint_dir: str,
    interval: str | None = DEFAULT_WRITE_INTERVAL,
    available_now: bool = False,
    max_entries: int = MAX_PUT_ENTRIES,
    max_bytes: int = MAX_PUT_BYTES,
) -> StreamingQuery:
    """The reference's whole writer loop (kinesis.go:99-151) as one
    writeStream: time trigger + sink-side size/count chunking + retry.

    ``records`` exactly as ``read_prompb_record_stream`` returned it is
    relayed from its bodies: the query streams the raw spool's
    ``binaryFile`` bodies, and each sink task decodes them and sends the
    NDJSON lines the spool's own line builder makes
    (``sinks.body_batch_writer``). Every other frame is encoded with
    ``to_json`` (``sinks.foreach_batch_writer``). Both send through one
    loop: same chunk limits, retries and failure accounting.

    ``available_now=True`` drains the current source contents then stops —
    used by tests and batch-catchup runs."""
    # the instance dict, not getattr: DataFrame.__getattr__ resolves
    # column names through the JVM
    bodies = records.__dict__.get("_prompb_bodies")
    stream, batch_writer = (
        (records, foreach_batch_writer) if bodies is None else (bodies, body_batch_writer)
    )
    writer: DataStreamWriter = stream.writeStream.foreachBatch(
        batch_writer(put_records_fn, max_entries=max_entries, max_bytes=max_bytes)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval is not None:
        writer = writer.trigger(processingTime=interval)
    return writer.start()


def with_event_time(records: DataFrame) -> DataFrame:
    """Derive an event-time column from the epoch-ms long (record.go:10)."""
    return records.withColumn("event_time", F.timestamp_millis(F.col("time")))


def windowed_rollup(
    records: DataFrame,
    width: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """T5/T6 + T8: watermarked per-name tumbling/sliding rollup.

    Late-beyond-watermark rows are DROPPED — a documented divergence from
    the reference, which has no event-time reasoning and forwards
    everything (processing-time ticker only, kinesis.go:103)."""
    ts = with_event_time(records).withWatermark("event_time", watermark)
    win = (
        F.window("event_time", width, slide) if slide else F.window("event_time", width)
    )
    return ts.groupBy(win.alias("w"), "name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.avg("value").alias("avg_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "name",
        "n",
        "sum_value",
        "avg_value",
    )
