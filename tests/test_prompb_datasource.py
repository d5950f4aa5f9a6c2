"""Custom format("prompb") Python DataSource (sources/prompb_datasource.py)
and the raw-spool stream (``read_prompb_record_stream``): decode semantics
pinned file-by-file, independent of the r4 oracle query.
"""

from __future__ import annotations

from prometheus_remote_kinesis_spark.sources.prompb import encode_remote_write_body
from prometheus_remote_kinesis_spark.sources.prompb_datasource import (
    register_prompb_source,
)
from prometheus_remote_kinesis_spark.streaming.pipeline import (
    read_prompb_record_stream,
)


def test_prompb_datasource_reads_spool(spark, tmp_path):
    body1 = encode_remote_write_body(
        [({"__name__": "m1", "job": "a"}, [(1.5, 1000), (float("nan"), 2000)])]
    )
    # No __name__ (name projects to "") and no samples (labels-only
    # passthrough row, time=0, value NULL — prometheus.go:19-23).
    body2 = encode_remote_write_body([({"job": "b"}, [])])
    (tmp_path / "a.pb.sz").write_bytes(body1)
    (tmp_path / "b.pb.sz").write_bytes(body2)
    (tmp_path / "ignored.txt").write_bytes(b"junk")  # suffix-filtered out

    register_prompb_source(spark)
    df = spark.read.format("prompb").load(str(tmp_path))

    assert df.rdd.getNumPartitions() == 2  # one InputPartition per spool file
    rows = {(r.name, r.time): (r.value, r.labels) for r in df.collect()}
    assert rows[("m1", 1000)] == (1.5, {"__name__": "m1", "job": "a"})
    assert rows[("m1", 2000)][0] is None  # stale-marker NaN → NULL
    assert rows[("", 0)] == (None, {"job": "b"})
    assert len(rows) == 3


def test_prompb_datasource_empty_dir(spark, tmp_path):
    register_prompb_source(spark)
    assert spark.read.format("prompb").load(str(tmp_path)).count() == 0


def _drain(spark, src_dir, out_dir, ckpt):
    q = (
        read_prompb_record_stream(spark, str(src_dir))
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_prompb_stream_reader_exactly_once(spark, tmp_path):
    """Two availableNow runs over a growing spool with a shared checkpoint:
    the second run must pick up ONLY the new file (the file source's
    offset log)."""
    src, out, ckpt = tmp_path / "spool", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()

    (src / "a.pb.sz").write_bytes(
        encode_remote_write_body([({"__name__": "m1"}, [(1.0, 1000), (2.0, 2000)])])
    )
    _drain(spark, src, out, ckpt)
    assert spark.read.parquet(str(out)).count() == 2

    (src / "b.pb.sz").write_bytes(
        encode_remote_write_body([({"__name__": "m2"}, [(3.0, 3000)])])
    )
    _drain(spark, src, out, ckpt)
    rows = spark.read.parquet(str(out)).collect()
    assert len(rows) == 3  # no re-read of a.pb.sz, new file consumed
    assert {(r.name, r.time) for r in rows} == {("m1", 1000), ("m1", 2000), ("m2", 3000)}


def test_prompb_parallel_stream_reader_exactly_once(spark, tmp_path):
    """Same growing-spool contract with several files per micro-batch: the
    first run consumes both files, the second ONLY the new file."""
    src, out, ckpt = tmp_path / "spool", tmp_path / "out", tmp_path / "ckpt"
    src.mkdir()

    (src / "a.pb.sz").write_bytes(
        encode_remote_write_body([({"__name__": "m1"}, [(1.0, 1000)])])
    )
    (src / "b.pb.sz").write_bytes(
        encode_remote_write_body([({"__name__": "m2"}, [(2.0, 2000)])])
    )
    _drain(spark, src, out, ckpt)
    assert spark.read.parquet(str(out)).count() == 2

    (src / "c.pb.sz").write_bytes(
        encode_remote_write_body([({"__name__": "m3"}, [(3.0, 3000)])])
    )
    _drain(spark, src, out, ckpt)
    rows = spark.read.parquet(str(out)).collect()
    assert {(r.name, r.time) for r in rows} == {
        ("m1", 1000),
        ("m2", 2000),
        ("m3", 3000),
    }
    assert len(rows) == 3


def _drain_to_memory(spark, src_dir, ckpt, name):
    from pyspark.sql import functions as F

    q = (
        read_prompb_record_stream(spark, str(src_dir))
        .withColumn("pid", F.spark_partition_id())
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_prompb_stream_packs_files_into_few_tasks(spark, tmp_path):
    """The stream packs many small spool files into few splits: 12 bodies
    decode in fewer tasks than files (one Python task per body is the
    per-task overhead the file source removes), and every record arrives."""
    src = tmp_path / "spool"
    src.mkdir()
    for i in range(12):
        (src / f"{i:02d}.pb.sz").write_bytes(
            encode_remote_write_body([({"__name__": f"m{i}"}, [(float(i), 1000 + i)])])
        )
    q = _drain_to_memory(spark, src, tmp_path / "ckpt", "prompb_packing")
    assert q.exception() is None
    rows = spark.table("prompb_packing").collect()
    assert sorted((r.name, r.time, r.value) for r in rows) == sorted(
        (f"m{i}", 1000 + i, float(i)) for i in range(12)
    )
    assert len({r.pid for r in rows}) < 12


def test_prompb_stream_reads_only_spool_files(spark, tmp_path):
    """Only ``*.pb.sz`` bodies are read: a foreign file and a dot-prefixed
    in-flight tmp file (the handler's tmp + rename) are skipped."""
    src = tmp_path / "spool"
    src.mkdir()
    (src / "a.pb.sz").write_bytes(
        encode_remote_write_body([({"__name__": "m1"}, [(1.0, 1000)])])
    )
    (src / "ignored.txt").write_bytes(b"junk")
    (src / ".x.tmp").write_bytes(b"junk")
    q = _drain_to_memory(spark, src, tmp_path / "ckpt", "prompb_filtered")
    assert q.exception() is None
    rows = spark.table("prompb_filtered").collect()
    assert [(r.name, r.time, r.value) for r in rows] == [("m1", 1000, 1.0)]


def test_prompb_stream_corrupt_body_fails_loudly(spark, tmp_path):
    """A ``.pb.sz`` file that is not snappy fails the query; it is never
    dropped silently."""
    import pytest
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "spool"
    src.mkdir()
    (src / "a.pb.sz").write_bytes(
        encode_remote_write_body([({"__name__": "m1"}, [(1.0, 1000)])])
    )
    (src / "bad.pb.sz").write_bytes(b"\xff\xff not snappy")
    with pytest.raises(StreamingQueryException):
        _drain_to_memory(spark, src, tmp_path / "ckpt", "prompb_corrupt")


def test_prompb_writer_roundtrip(spark, tmp_path):
    """write.format("prompb") → read.format("prompb") is lossless,
    including NaN→NULL values and empty metric names."""
    from pyspark.sql import Row

    from prometheus_remote_kinesis_spark.schema import RECORD_SCHEMA

    register_prompb_source(spark)
    rows = [
        Row(name="m1", time=1000, value=1.5, labels={"__name__": "m1", "job": "a"}),
        Row(name="m1", time=2000, value=None, labels={"__name__": "m1", "job": "a"}),
        Row(name="", time=3000, value=2.5, labels={"no_name": "x"}),
    ]
    out = tmp_path / "archive"
    df = spark.createDataFrame(rows, RECORD_SCHEMA)
    df.write.format("prompb").mode("append").save(str(out))

    back = spark.read.format("prompb").load(str(out))
    got = {(r.name, r.time): (r.value, dict(r.labels)) for r in back.collect()}
    assert got == {
        ("m1", 1000): (1.5, {"__name__": "m1", "job": "a"}),
        ("m1", 2000): (None, {"__name__": "m1", "job": "a"}),
        ("", 3000): (2.5, {"no_name": "x"}),
    }


def test_decode_file_matches_flatten_property():
    """Property: for arbitrary label maps (unicode) and samples (incl. NaN
    and negative epoch values), the per-body Arrow batch every reader
    yields (``decode_body``) holds the records the prometheus.go:10-37
    rules give for the fixture, row for row and in order. Pure-Python — no
    Spark job per example."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from prometheus_remote_kinesis_spark.sources.prompb_datasource import (
        RECORD_ARROW_SCHEMA,
        decode_body,
    )

    text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=20
    )
    labels_st = st.dictionaries(text, text, max_size=4)
    sample_st = st.tuples(
        st.one_of(st.floats(allow_infinity=False), st.just(float("nan"))),
        st.integers(min_value=-(2**40), max_value=2**40),
    )
    series_st = st.lists(st.tuples(labels_st, st.lists(sample_st, max_size=5)), max_size=4)

    @given(series_st)
    @settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
    def check(series):
        batch = decode_body(encode_remote_write_body(series))
        assert batch.schema == RECORD_ARROW_SCHEMA
        got = [
            (r["name"], r["time"], r["value"], r["labels"])
            for r in batch.to_pylist()
        ]
        # parseRecords: name from __name__ or "", a series without samples
        # is one row at time 0 with no value, NaN has no value
        want = []
        for labels, samples in series:
            name = labels.get("__name__", "")
            for v, t in samples or [(float("nan"), 0)]:
                want.append((name, t, None if math.isnan(v) else v, list(labels.items())))
        assert got == want

    check()
