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

Event-time operators (T5-T9) add what the reference lacks: watermarked
tumbling/sliding/session windows and streaming dedup. All are the same
expressions as the batch queries in ``operators/time_windows.py`` — one
definition, two execution modes, which is the point of Structured
Streaming.

Production Kinesis/Firehose clients are INJECTED callables (boto3 in a
real deployment); tests and local runs use file/memory stand-ins. No AWS
dependency anywhere in the engine.
"""

from __future__ import annotations

import os

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


def slo_burn_buckets(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """The PRODUCTION-BOUNDED form of t28s's burn-rate evaluator (VERDICT
    r7 task #6): per-user 5-minute tumbling (total, error) counts in
    APPEND mode behind a watermark, so state holds only the OPEN windows
    inside the horizon — O(users × horizon/5 min), evicted as the
    watermark advances — instead of t28s's drain-time O(distinct samples)
    (which that registered form keeps deliberately: T = corpus-max makes
    it oracle-checkable; SCALE.md:315-317).

    A live evaluator derives t28's exact per-window arithmetic from the
    finalized buckets at any eval point T: n_5m/err_5m from the bucket
    covering (T−5 m, T], n_1h/err_1h by summing the trailing 12 buckets,
    then the identical ratio/alert expressions — integer sums of integer
    bucket counts, so the bucketed fold equals the per-sample fold
    exactly whenever T lands on a bucket boundary (the alerting cadence).
    Proven by tests/test_streaming.py::test_slo_burn_watermark_eviction:
    state rows stay bounded under a moving watermark while the emitted
    buckets reproduce the naive per-sample arithmetic."""
    ts = events.withWatermark("ts", watermark)
    return (
        ts.groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("err"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            F.col("w.end").alias("bucket_end"),
            "user_id",
            "n",
            "err",
        )
    )


def dedup_stream(records: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T9: streaming dedup on the record identity (name, label set, time).

    The reference can double-send on Prometheus retry — the 200 is acked
    before durability (kinesis.go:92) and PutRecords failures are ignored
    (kinesis.go:191-192). ``dropDuplicatesWithinWatermark`` keys state on
    a label-set hash + timestamp, bounded by the watermark horizon, giving
    effectively-once relay within the horizon."""
    keyed = with_event_time(records).withColumn(
        # map keys are unordered → hash a sorted entry list for a stable
        # series identity (the Kinesis partition key is name alone,
        # kinesis.go:174; labels_hash disambiguates series sharing a name)
        "labels_hash",
        F.xxhash64(
            F.to_json(
                F.map_from_entries(F.array_sort(F.map_entries(F.col("labels"))))
            )
        ),
    )
    return (
        keyed.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["name", "labels_hash", "time"])
        .drop("labels_hash")
    )


def incremental_rollup_sink(
    records: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    width: str = "5 minutes",
    watermark: str = "10 minutes",
    available_now: bool = False,
    interval: str | None = DEFAULT_WRITE_INTERVAL,
) -> StreamingQuery:
    """Continuously-maintained rollup table (the hypertable
    continuous-aggregate pattern): the T5 windowed aggregation in UPDATE
    output mode, with each micro-batch's changed (window, name) rows
    upserted into a parquet store via dynamic partition overwrite.

    The store is partitioned by (ws, name) — exactly the aggregation key
    — so an update-mode batch (which carries only CHANGED groups)
    overwrites precisely the partitions it changes and cannot clobber a
    sibling group's data. Readers see per-window-atomic state at all
    times and never re-aggregate raw history; at 100 TB the store stays
    proportional to (windows × names), not samples. Late data inside the
    watermark updates its window's partition in place; beyond it, rows
    are dropped (T8 semantics).
    """
    rolled = windowed_rollup(records, width=width, watermark=watermark).withColumn(
        "ws", F.unix_millis("window_start")
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ws", "name")
            .parquet(store_dir)
        )

    writer = (
        rolled.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval is not None:
        writer = writer.trigger(processingTime=interval)
    return writer.start()


def exact_dedup_manifest_sink(
    docs: DataFrame,
    manifest_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    interval: str | None = DEFAULT_WRITE_INTERVAL,
) -> StreamingQuery:
    """The PRODUCTION-BOUNDED form of l1s's exact document dedup (VERDICT
    r8 task #6): l1s keeps one streaming-state row per distinct document
    — O(distinct docs) in the state store, carried deliberately because
    that is what makes its drain equal batch l1 against the shared
    oracle — while a deployment deduplicating an UNBOUNDED ingest moves
    the distinct set to an AT-REST digest manifest (the d13 incremental-
    crawl pattern) and keeps **zero rows in the streaming state store**:

    per micro-batch (foreachBatch): (1) digest the batch's documents
    (sha2-256 — 32-byte digests are all that ever shuffles or persists,
    l1's 100 TB rule), (2) self-dedup the batch to its min-doc_id
    representative per digest, (3) anti-join against the ACCEPTED-DOCS
    output itself, (4) append the surviving (digest, rep_id) rows to
    the accepted-docs output, then mirror them into the manifest.
    First arrival wins across batches (the incremental semantic: a
    re-crawled duplicate never displaces the archived original); within
    a batch the min doc_id wins, matching batch l1's representative
    choice when arrival order follows doc_id. At 100 TB the accepted
    table is a digest-bucketed table the batch anti-join shuffles
    against — never broadcast whole — and a retention horizon ages out
    digests with the corpus snapshot.

    Crash-safety guarantee (the actual one, not a marker protocol):
    ``out_dir`` is the single source of truth — the replay anti-join
    reads the same table the batch appends to, so a foreachBatch replay
    after a committed append recomputes ``fresh`` as EMPTY and the
    replayed appends are no-ops: ``out_dir`` is effectively
    exactly-once with no batch-id marker needed. ``manifest_dir`` is a
    DERIVED mirror (same rows, appended after ``out_dir``): a crash
    between the two appends leaves it missing that batch's digests
    permanently, which never flips a dedup decision (nothing reads it
    on the accept path) and is rebuildable as a copy of ``out_dir``'s
    (digest, rep_id) columns. Verified (state rows == 0,
    manifest-vs-batch-l1 equality, wave chopping, full-replay
    idempotence) by tests/test_streaming.py::test_exact_dedup_manifest_sink
    and ::test_exact_dedup_manifest_sink_replay_idempotent.
    """
    digested = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("digest")
    )

    def _has_parts(d: str) -> bool:
        return os.path.isdir(d) and any(f.startswith("part-") for f in os.listdir(d))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        reps = batch_df.groupBy("digest").agg(F.min("doc_id").alias("rep_id"))
        if _has_parts(out_dir):
            accepted = spark.read.parquet(out_dir).select("digest")
            fresh = reps.join(accepted, "digest", "left_anti")
        else:
            fresh = reps
        # localCheckpoint: materialize the anti-join BEFORE appending to
        # the accepted table it reads from (self-referential
        # read-then-append)
        fresh = fresh.localCheckpoint(eager=True)
        fresh.write.mode("append").parquet(out_dir)
        fresh.write.mode("append").parquet(manifest_dir)

    writer = (
        digested.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval is not None:
        writer = writer.trigger(processingTime=interval)
    return writer.start()


def dedup_corpus_stats_manifest(
    spark: SparkSession,
    sf_dir: str,
    manifest_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """s2e's PRODUCTION-BOUNDED twin (VERDICT r9 task #6): the same
    ingest→dedup→per-language-stats chain, but the dedup stage runs
    through :func:`exact_dedup_manifest_sink` — ZERO rows in the
    streaming state store; the distinct-digest set lives at rest in the
    accepted-docs table — instead of s2e's complete-mode keeper
    election, whose state is O(distinct documents) by design (measured
    linear: 4,992 → 319,488 rows at 1×→64×, SCALE.md) because that is
    what makes its drain oracle-checkable in one plan. A nightly corpus
    build at 100 TB runs THIS form: per micro-batch the anti-join
    shuffles 32-byte digests against the at-rest manifest, state stays
    ~zero regardless of corpus size, and the stats stage semi-joins the
    corpus on the accepted rep ids exactly as s2e does. Registered s2e
    stays as the oracle-checkable drain-time form; this twin is
    pytest-verified (state == 0, stats == s2e's batch equivalent) by
    tests/test_streaming.py::test_dedup_corpus_stats_manifest_bounded.
    """
    from prometheus_remote_kinesis_spark.llm.text import token_stats
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from prometheus_remote_kinesis_spark.streaming.queries import stream_table

    docs = stream_table(spark, sf_dir, "documents")
    q = exact_dedup_manifest_sink(
        docs, manifest_dir, out_dir, checkpoint_dir, available_now=True
    )
    q.awaitTermination(300)
    reps = spark.read.parquet(out_dir).select("rep_id")
    corpus = load_table(spark, sf_dir, "documents")
    return token_stats(corpus.join(reps, corpus.doc_id == reps.rep_id, "leftsemi"))
