"""Sink chunking + retry semantics (FIXTURES.md §B big_batch_*; the
reference bugs of SURVEY.md §4.3 that we deliberately fix)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prometheus_remote_kinesis_spark.schema import MAX_PUT_BYTES, MAX_PUT_ENTRIES
from prometheus_remote_kinesis_spark.sinks import (
    PutBatch,
    chunk_entries,
    foreach_batch_writer,
    put_batch,
)


def entry(key: str, size: int):
    return (key, b"x" * size)


def test_chunk_by_count():
    """>500 entries split into ≤500-entry calls (kinesis.go:23; fixes the
    oversize first-append, §4.3 bug 1)."""
    batches = list(chunk_entries([entry("k", 10)] * 1203))
    assert [len(b.entries) for b in batches] == [500, 500, 203]


def test_chunk_by_bytes():
    """Byte cap honored mid-batch (kinesis.go:22,133-144)."""
    big = MAX_PUT_BYTES // 3 + 1  # three of these exceed the cap by 3 bytes
    batches = list(chunk_entries([entry("k", big)] * 4))
    assert [len(b.entries) for b in batches] == [2, 2]
    assert all(b.total_bytes <= MAX_PUT_BYTES for b in batches)


def test_single_oversize_entry_still_sent_alone():
    """A single entry larger than the cap forms its own batch (the AWS
    call will reject it, but we never silently merge it with others —
    unlike kinesis.go:127-132 which merges unconditionally)."""
    batches = list(chunk_entries([entry("k", MAX_PUT_BYTES + 1), entry("k", 1)]))
    assert [len(b.entries) for b in batches] == [1, 1]


def test_put_batch_retries_failed_subset():
    """Partial failures retried with backoff (fixes kinesis.go:191-192
    which ignores FailedRecordCount)."""
    calls = []

    def flaky(batch: PutBatch):
        calls.append([k for k, _ in batch.entries])
        return [0] if len(calls) == 1 else []

    failed = put_batch(
        PutBatch([entry("a", 1), entry("b", 1)], 2), flaky, sleep=lambda s: None
    )
    assert failed == 0
    assert calls == [["a", "b"], ["a"]]  # only the failed index retried


def test_put_batch_gives_up_after_max_retries():
    always_fail = lambda b: list(range(len(b.entries)))  # noqa: E731
    failed = put_batch(
        PutBatch([entry("a", 1)], 1), always_fail, max_retries=2, sleep=lambda s: None
    )
    assert failed == 1


def test_foreach_batch_writer_end_to_end(spark, tmp_path):
    """Micro-batch → NDJSON → chunked put with an injected file-backed
    sink (no AWS in tests, SURVEY.md §7 M4). The put fn executes inside
    the Python WORKER processes (foreachPartition runs on executors, not
    the driver), so capture goes through the shared filesystem."""
    out_dir = str(tmp_path)

    class Collector:
        def __init__(self, out_dir: str):
            self.out_dir = out_dir

        def __call__(self, batch: PutBatch):
            import os
            import uuid

            with open(os.path.join(self.out_dir, f"{uuid.uuid4().hex}.txt"), "wb") as f:
                for key, data in batch.entries:
                    f.write(key.encode() + b"\t" + data)
            return []

    records = spark.createDataFrame(
        [("m1", 1, 1.5, {"__name__": "m1"}), ("m2", 2, None, {"__name__": "m2"})],
        "name string, time long, value double, labels map<string,string>",
    )
    foreach_batch_writer(Collector(out_dir), max_entries=1)(records, batch_id=0)

    received = []
    for p in tmp_path.iterdir():
        for line in p.read_bytes().splitlines(keepends=True):
            key, data = line.split(b"\t", 1)
            received.append((key.decode(), data))
    assert len(received) == 2
    by_key = {k: d.decode() for k, d in received}
    assert set(by_key) == {"m1", "m2"}  # partition key = name (kinesis.go:174)
    assert by_key["m1"].startswith('{"name":"m1"')
    assert '"value":null' in by_key["m2"]  # record.go:21-27
    assert all(d.endswith("\n") for d in by_key.values())  # kinesis.go:163


def test_parquet_archive_roundtrip_and_pruning(spark, tmp_path):
    """S9: archive partitioned by name (the reference's Kinesis partition
    key, kinesis.go:174); a per-metric read must prune to that partition
    (PartitionFilters), and values — including NULLs — round-trip."""
    from prometheus_remote_kinesis_spark.ingest import records_from_columns
    from prometheus_remote_kinesis_spark.plans.explain import formatted_plan
    from prometheus_remote_kinesis_spark.sinks import write_parquet_archive

    src = spark.createDataFrame(
        [("up", 1000, 1.0, {"job": "a"}), ("up", 2000, None, {"job": "a"}),
         ("down", 1000, 0.5, {"job": "b"})],
        "name string, time long, value double, labels map<string,string>",
    )
    records = records_from_columns(
        src, F.col("name"), F.col("time"), F.col("value"), F.col("labels")
    )
    path = str(tmp_path / "archive")
    write_parquet_archive(records, path)

    back = spark.read.parquet(path).filter(F.col("name") == "up")
    rows = sorted((r["time"], r["value"]) for r in back.collect())
    assert rows == [(1000, 1.0), (2000, None)]
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan and "name" in plan.split("PartitionFilters", 1)[1][:120]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=2000), max_size=60),
    max_entries=st.integers(min_value=1, max_value=7),
    max_bytes=st.integers(min_value=2000, max_value=8000),
)
def test_chunker_properties(sizes, max_entries, max_bytes):
    """For arbitrary entry sizes: every chunk respects BOTH limits (given
    no single entry exceeds max_bytes), order and content are preserved
    exactly, and chunking is maximal (a chunk only ends because the next
    entry would overflow it)."""
    entries = [(f"k{i}", b"x" * s) for i, s in enumerate(sizes)]
    chunks = list(chunk_entries(entries, max_entries=max_entries, max_bytes=max_bytes))
    flat = [e for c in chunks for e in c.entries]
    assert flat == entries  # order + content preserved, nothing dropped
    for c in chunks:
        assert len(c.entries) <= max_entries
        assert c.total_bytes == sum(len(d) for _, d in c.entries) <= max_bytes
    for prev, nxt in zip(chunks, chunks[1:]):
        first_len = len(nxt.entries[0][1])
        assert (
            len(prev.entries) >= max_entries
            or prev.total_bytes + first_len > max_bytes
        )  # no premature split


def test_compact_archive(spark, tmp_path):
    """Many small archive files → one file per metric partition dir,
    byte-identical row content."""
    import glob

    from prometheus_remote_kinesis_spark.sinks import (
        compact_archive,
        write_parquet_archive,
    )

    records = spark.createDataFrame(
        [(f"m{i % 3}", i, float(i), {"__name__": f"m{i % 3}"}) for i in range(300)],
        "name string, time long, value double, labels map<string,string>",
    ).repartition(16)  # force 16 small files per partition dir
    path = str(tmp_path / "archive")
    write_parquet_archive(records, path)
    before = glob.glob(f"{path}/**/*.parquet", recursive=True)
    assert len(before) > 40  # 3 names x up-to-16 files
    content_before = sorted(
        (r["name"], r["time"], r["value"]) for r in spark.read.parquet(path).collect()
    )

    compact_archive(path, spark)

    after = glob.glob(f"{path}/**/*.parquet", recursive=True)
    assert len(after) == 3  # one file per name partition
    content_after = sorted(
        (r["name"], r["time"], r["value"]) for r in spark.read.parquet(path).collect()
    )
    assert content_after == content_before

    # compaction must RE-ESTABLISH (name, time) clustering — the
    # repartition shuffle interleaves input files, and without the
    # re-sort every compacted row group would span the whole history,
    # undoing the write path's data skipping (r5 self-review catch)
    import pyarrow.parquet as pq

    for f in after:
        times = pq.read_table(f, columns=["time"])["time"].to_pylist()
        assert times == sorted(times), f


def test_foreach_batch_writer_commit_dir_skips_replayed_batch(spark, tmp_path):
    """commit_dir: a replayed batch_id (foreachBatch's crash-replay
    semantics — the double-send the reference suffers on retry,
    kinesis.go:191-192) must deliver nothing the second time; a NEW
    batch_id still delivers."""
    from prometheus_remote_kinesis_spark.ingest_queries import _event_records
    from prometheus_remote_kinesis_spark.sinks import foreach_batch_writer
    from prometheus_remote_kinesis_spark.testing import FilePutRecords

    sink = tmp_path / "sink"
    sink.mkdir()

    def n_sent() -> int:
        return sum(
            len(p.read_bytes().decode().splitlines()) for p in sink.iterdir()
        )

    writer = foreach_batch_writer(
        FilePutRecords(str(sink)), commit_dir=str(tmp_path / "commits")
    )
    records = _event_records(spark, "/root/testdata/sf0.001").limit(10)

    writer(records, 0)
    assert n_sent() == 10

    writer(records, 0)  # replay of a committed batch: skipped entirely
    assert n_sent() == 10

    writer(records, 1)  # new batch id: delivered
    assert n_sent() == 20


def test_archive_write_is_time_clustered(spark, tmp_path):
    """S9 sort_by_time: rows inside each archive file must be
    time-ascending (per file; files are per-name under partitionBy), so
    parquet row-group min/max stats form narrow, skippable bands —
    the property tools/probe_data_skipping.py measures (40/280 vs
    680/680 groups read for a 1-day band). Shuffled input, one output
    partition → the sort is the only thing that can order the file."""
    import glob

    import pyarrow.parquet as pq

    from prometheus_remote_kinesis_spark.sinks import write_parquet_archive

    rows = [("m", t, float(t)) for t in [5000, 1000, 4000, 2000, 3000, 500]]
    df = spark.createDataFrame(
        rows, "name string, time long, value double"
    ).repartition(1)
    path = str(tmp_path / "clustered")
    write_parquet_archive(df, path, sort_by_time=True)
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        times = pq.read_table(f, columns=["time"])["time"].to_pylist()
        assert times == sorted(times), f


def test_permanent_put_failure_fails_batch_and_replays(spark, tmp_path):
    """Entries that still fail after put_batch's retries fail the
    micro-batch loudly: the query ends in an exception and no commit
    marker is written, so a rerun on the same checkpoint with a working
    put replays the batch and delivers every record (nothing is lost
    silently)."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from prometheus_remote_kinesis_spark.sources.prompb import (
        encode_remote_write_body,
    )
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        read_prompb_record_stream,
    )
    from prometheus_remote_kinesis_spark.testing import FilePutRecords

    spool, sink, commits = tmp_path / "spool", tmp_path / "sink", tmp_path / "commits"
    spool.mkdir()
    sink.mkdir()
    for i in range(2):
        (spool / f"{i}.pb.sz").write_bytes(
            encode_remote_write_body(
                [({"__name__": f"m{i}"}, [(1.0, 1000), (2.0, 2000)])]
            )
        )

    class AlwaysFail:
        def __call__(self, batch: PutBatch):
            return list(range(len(batch.entries)))

    def drain(put_fn):
        return (
            read_prompb_record_stream(spark, str(spool))
            .writeStream.foreachBatch(
                foreach_batch_writer(put_fn, commit_dir=str(commits))
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = drain(AlwaysFail())
    with pytest.raises(StreamingQueryException, match="4 entries permanently failed"):
        q.awaitTermination()
    assert not list(commits.glob("*.done"))

    q = drain(FilePutRecords(str(sink)))
    q.awaitTermination()
    assert q.exception() is None
    lines = [ln for p in sink.iterdir() for ln in p.read_bytes().decode().splitlines()]
    assert sorted(lines) == sorted(
        f'{{"name":"m{i}","time":{t},"value":{v},"labels":{{"__name__":"m{i}"}}}}'
        for i in range(2)
        for v, t in ((1.0, 1000), (2.0, 2000))
    )
    assert list(commits.glob("*.done"))
