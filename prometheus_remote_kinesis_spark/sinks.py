"""Sinks: NDJSON encode, chunked Kinesis/Firehose-shaped batch put, parquet.

The reference serializes each record to one JSON line (``kinesis.go:153-180``,
newline at ``kinesis.go:163``) and sends micro-batches bounded by
≤500 entries / ≤4.5e6 bytes per AWS call (``kinesis.go:22-23``), partitioned
by metric name (``kinesis.go:174``). We reproduce the limits and the
partition key, and deliberately FIX the reference's warts (SURVEY.md §4.3):

1. oversize first-append (kinesis.go:127-132): we chunk WITHIN a batch, so
   a single huge request can never produce an over-limit call;
2. nil entry on marshal failure (kinesis.go:156-161): ``to_json`` cannot
   emit nil entries; NULL-text rows are filtered defensively anyway;
3. ignored partial failures / no retry (kinesis.go:191-192): ``put_batch``
   retries the failed subset with bounded backoff, and a micro-batch whose
   entries still fail after the retries fails the query instead of being
   logged and dropped.

AWS clients are injected (a ``put_records_fn``), never imported — tests use
an in-memory fake; production wires ``boto3.client("kinesis").put_records``.
"""

from __future__ import annotations

import os
import time as _time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prometheus_remote_kinesis_spark.schema import MAX_PUT_BYTES, MAX_PUT_ENTRIES

# NDJSON wire format: {"name":...,"time":...,"value":...,"labels":{...}}\n
# Field order follows the Go struct (record.go:8-14); ignoreNullFields=false
# keeps the explicit "value": null the reference emits for stale markers
# (record.go:21-27 MarshalJSON → JSON null).
_RECORD_STRUCT = ("name", "time", "value", "labels")


def encode_ndjson(records: DataFrame) -> DataFrame:
    """RECORD_SCHEMA rows → single-column ``line`` (no trailing newline;
    the line terminator is added by the text writer / sink, mirroring
    ``kinesis.go:163``). Partition key column ``name`` is retained."""
    return records.select(
        F.col("name").alias("partition_key"),  # kinesis.go:174
        F.to_json(
            F.struct(*_RECORD_STRUCT), {"ignoreNullFields": "false"}
        ).alias("line"),
    )


@dataclass
class PutBatch:
    """One sink call's payload: ≤500 entries, ≤4.5e6 total bytes."""

    entries: list[tuple[str, bytes]]  # (partition_key, data-with-newline)
    total_bytes: int


def chunk_entries(
    entries: Iterable[tuple[str, bytes]],
    max_entries: int = MAX_PUT_ENTRIES,
    max_bytes: int = MAX_PUT_BYTES,
) -> Iterator[PutBatch]:
    """Split a micro-batch into AWS-call-sized chunks.

    Unlike the reference (which only splits BETWEEN requests,
    kinesis.go:133-146, and accepts an oversize first append,
    kinesis.go:127-132), chunking here is per-entry, so every emitted batch
    respects both limits regardless of input sizes.
    """
    batch: list[tuple[str, bytes]] = []
    nbytes = 0
    for key, data in entries:
        size = len(data)
        if batch and (len(batch) >= max_entries or nbytes + size > max_bytes):
            yield PutBatch(batch, nbytes)
            batch, nbytes = [], 0
        batch.append((key, data))
        nbytes += size
    if batch:
        yield PutBatch(batch, nbytes)


PutRecordsFn = Callable[[PutBatch], list[int]]
"""Injected sink call. Returns indices of FAILED entries (empty = success),
mirroring the per-record failure reporting of PutRecords that the reference
never inspects (kinesis.go:191-192)."""


def put_batch(
    batch: PutBatch,
    put_records_fn: PutRecordsFn,
    max_retries: int = 3,
    backoff_s: float = 0.2,
    sleep: Callable[[float], None] = _time.sleep,
) -> int:
    """Send one chunk, retrying only the failed subset with backoff.

    Returns the number of entries permanently failed after retries.
    """
    pending = batch
    for attempt in range(max_retries + 1):
        failed = put_records_fn(pending)
        if not failed:
            return 0
        entries = [pending.entries[i] for i in failed]
        pending = PutBatch(entries, sum(len(d) for _, d in entries))
        if attempt < max_retries:
            sleep(backoff_s * (2**attempt))
    return len(pending.entries)


def foreach_batch_writer(
    put_records_fn: PutRecordsFn,
    max_entries: int = MAX_PUT_ENTRIES,
    max_bytes: int = MAX_PUT_BYTES,
    commit_dir: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build a Structured Streaming ``foreachBatch`` sink function.

    Each micro-batch is NDJSON-encoded, keyed by metric name, chunked to
    the AWS limits, and sent partition-by-partition ON THE EXECUTORS via
    ``foreachPartition`` — the driver never collects the batch, so sink
    throughput scales with the cluster, not the driver (the reference is a
    single writer goroutine, kinesis.go:63).

    ``commit_dir`` opts into exactly-once-per-batch delivery: foreachBatch
    replays a micro-batch after a crash between sink success and offset
    commit, and a replayed PutRecords double-sends — the reference has the
    same failure mode on retry (kinesis.go:191-192, the duplicates t9s
    dedups downstream). With a commit dir, each delivered ``batch_id``
    drops a marker file (atomic create) and a replay of a marked batch is
    skipped — source-side dedup instead of sink-side duplicates.

    Entries that still fail after ``put_batch``'s retries are counted in
    an accumulator; if any did, the batch raises (failing the streaming
    query) and writes no marker, so a rerun on the same checkpoint replays
    the batch instead of losing it silently. Entries of the batch that
    were delivered are delivered again on that replay (at-least-once).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if commit_dir is not None:
            os.makedirs(commit_dir, exist_ok=True)
            marker = os.path.join(commit_dir, f"batch-{batch_id}.done")
            if os.path.exists(marker):
                return  # replayed batch, already delivered
        # foreachPartition, deliberately NOT mapInArrow: A/B-measured on
        # 100k-row micro-batches, the Arrow variant was ~17% SLOWER
        # (mean 25.2k vs 30.4k rec/s; re-measured r13: 0.80 s vs 0.63 s
        # median) — the per-partition Arrow conversion plus the extra
        # result stage cost more than column-batch access saved on these
        # narrow rows.
        #
        # r13 (guide §4.1 "how efficiently they cross"): the partition
        # drain is ~100% JVM→Python row pickling (pickle-only 0.61 s vs
        # full loop 0.63 s measured), so ship ONE string per row instead
        # of a 2-field Row: key + "\n" + line, split Python-side with
        # rpartition (to_json output never contains a raw newline — JSON
        # escapes control characters — so the LAST "\n" is always the
        # separator, whatever the key contains). Tuple-unpacking the
        # 1-field rows skips Row.__getitem__'s name lookup. Measured
        # median 0.54 s vs 0.63 s (-14%) on the same micro-batches.
        encoded = encode_ndjson(batch_df).where(F.col("line").isNotNull())
        single = encoded.select(
            F.concat_ws("\n", "partition_key", "line").alias("kl")
        )

        failed = batch_df.sparkSession.sparkContext.accumulator(0)

        def send_partition(rows: Iterator) -> None:
            def entries() -> Iterator[tuple[str, bytes]]:
                for (kl,) in rows:
                    key, _, line = kl.rpartition("\n")
                    yield key, (line + "\n").encode("utf-8")

            for chunk in chunk_entries(entries(), max_entries, max_bytes):
                failed.add(put_batch(chunk, put_records_fn))

        single.foreachPartition(send_partition)
        if failed.value:
            raise RuntimeError(
                f"batch {batch_id}: {failed.value} entries permanently failed "
                "after retries"
            )
        if commit_dir is not None:
            with open(marker, "w"):
                pass

    return write


def write_parquet_archive(
    records: DataFrame, path: str, sort_by_time: bool = True
) -> None:
    """S9: the reference's stated S3-archival use case (README.rst:6),
    columnar at rest, partitioned by metric name (the reference's Kinesis
    partition key, kinesis.go:174) so per-metric queries prune partitions.

    ``sort_by_time`` clusters each task's rows by (name, time) before the
    write, so every parquet row group's time min/max statistics span a
    narrow band instead of the whole file — a time-range scan then skips
    most row groups at the footer, without reading data pages. At 100 TB
    this is the second pruning axis after the name partitioning: the
    partition dir eliminates metrics, the row-group stats eliminate
    history. Measured (tools/probe_data_skipping.py, SCALE.md): a 1-day
    band over a 30-day archive touches ~1/30th of the sorted row groups
    vs ALL unsorted ones. Off only for latency-critical micro-batch
    appends where the per-batch sort isn't worth it (compact_archive
    restores clustering later)."""
    to_write = (
        records.sortWithinPartitions("name", "time") if sort_by_time else records
    )
    to_write.write.mode("overwrite").partitionBy("name").parquet(path)


def compact_archive(
    records_path: str, spark, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Compact a streamed-in archive's small files (S9 maintenance).

    Micro-batch archival writes one file per (trigger × partition × name)
    — at a 10 s interval that is ~8.6k files/name/day, and at 100 TB the
    NameNode/S3-listing and task-per-file overheads dominate scans long
    before the data does. This rewrites the archive with
    ceil(total_bytes / target) tasks hash-keyed by ``name``, so each
    metric's rows collapse to one file per partition dir (a metric larger
    than one target file needs a salt added to the repartition key —
    deliberately not done blind, since it doubles small metrics' files).
    The rewrite re-sorts each task by (name, time) — the repartition
    shuffle interleaves rows from many input files, so WITHOUT the sort
    every compacted row group's time min/max would span the whole
    history, silently destroying the clustering ``write_parquet_archive``
    establishes (r5 self-review catch). The rewrite lands in a temp dir
    and swaps in atomically; returns the task count used.
    """
    import glob
    import math
    import shutil
    import uuid

    base = records_path.rstrip("/")
    files = glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(total / target_file_bytes))
    tmp = f"{base}.compact-{uuid.uuid4().hex}"
    (
        spark.read.parquet(base)
        .repartition(n_target, F.col("name"))
        .sortWithinPartitions("name", "time")
        .write.mode("overwrite")
        .partitionBy("name")
        .parquet(tmp)
    )
    old = f"{base}.old-{uuid.uuid4().hex}"
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old)
    return n_target
