"""Structured Streaming tests (SURVEY.md §5.5): file-source micro-batches
through the relay (trigger + chunked sink + checkpoint), watermarked
windows with late data, streaming dedup, and the stateful counter
operator cross-checked against its batch twin."""

from __future__ import annotations

import json
import os
import time

import pytest

# Streaming e2e (real queries, checkpoints, multi-batch chops — each
# test spins up 1-3 streaming queries): slow lane per the fast-lane
# split; the streaming-executed REGISTRY queries still run in the fast
# lane through test_queries.py's smoke sweep.
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from prometheus_remote_kinesis_spark.sources.prompb import encode_remote_write_body
from prometheus_remote_kinesis_spark.testing import FilePutRecords
from prometheus_remote_kinesis_spark.streaming.pipeline import (
    read_prompb_record_stream,
    read_record_stream,
    relay,
    windowed_rollup,
)


def write_ndjson(path: str, records: list[dict]) -> None:
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def rec(name: str, t: int, v: float | None, **labels) -> dict:
    return {"name": name, "time": t, "value": v, "labels": {"__name__": name, **labels}}


def read_sink(out_dir) -> list[dict]:
    out = []
    for p in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, p)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def write_prompb(path: str, records: list[dict]) -> None:
    """The same records as one raw-spool body (a series per label set)."""
    series: dict = {}
    for r in records:
        value = float("nan") if r["value"] is None else r["value"]
        key = tuple(r["labels"].items())
        series.setdefault(key, (r["labels"], []))[1].append((value, r["time"]))
    with open(path, "wb") as f:
        f.write(encode_remote_write_body(list(series.values())))


@pytest.mark.parametrize("spool", ["ndjson", "raw"])
def test_relay_end_to_end(spark, tmp_path, spool):
    """Source files → record stream → foreachBatch chunked put: every
    record relayed exactly once per micro-batch run, NDJSON intact
    (kinesis.go wire format), checkpoint created. The raw spool holds
    the same records as ``.pb.sz`` bodies; its relay streams the bodies
    themselves and decodes them in the sink tasks (no ``MapInArrow`` in
    the query's plan)."""
    write, read, suffix = {
        "ndjson": (write_ndjson, read_record_stream, "json"),
        "raw": (write_prompb, read_prompb_record_stream, "pb.sz"),
    }[spool]
    src = tmp_path / "src"
    sink_dir = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    for d in (src, sink_dir, ckpt):
        d.mkdir()
    batch1 = [rec("up", 1000 + i, float(i), job="n") for i in range(600)]
    batch1.append(rec("stale", 1, None))
    write(str(src / f"b1.{suffix}"), batch1)

    q = relay(
        read(spark, str(src)),
        FilePutRecords(str(sink_dir)),
        checkpoint_dir=str(ckpt),
        available_now=True,
        max_entries=500,  # forces ≥2 chunks for 601 records
    )
    q.awaitTermination(120)
    assert len(os.listdir(sink_dir)) >= 2  # one file per put call
    got = read_sink(sink_dir)
    assert sorted(got, key=lambda g: (g["name"], g["time"])) == sorted(
        batch1, key=lambda g: (g["name"], g["time"])
    )
    assert os.listdir(ckpt)  # checkpoint exists (T4)
    assert "MapInArrow" not in q._jsq.explainInternal(True)

    # restart with a second file: only the new data is relayed (exactly-once
    # source accounting across restarts — supersedes ack-before-durable)
    write(str(src / f"b2.{suffix}"), [rec("up", 9999, 1.0)])
    q2 = relay(
        read(spark, str(src)),
        FilePutRecords(str(sink_dir)),
        checkpoint_dir=str(ckpt),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert len(read_sink(sink_dir)) == 602


def test_relay_of_transformed_prompb_frame_sends_its_rows(spark, tmp_path):
    """A frame derived from ``read_prompb_record_stream`` (here a
    ``where``) is relayed row by row through ``to_json``, not from the
    raw bodies: only its ``m1`` rows are delivered, and the decode stays
    in the query's plan."""
    src, sink_dir = tmp_path / "src", tmp_path / "sink"
    src.mkdir()
    sink_dir.mkdir()
    write_prompb(str(src / "b.pb.sz"), [rec("m1", 1, 1.0), rec("m2", 2, 2.0)])
    records = read_prompb_record_stream(spark, str(src))
    q = relay(
        records.where(F.col("name") == "m1"),
        FilePutRecords(str(sink_dir)),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert read_sink(sink_dir) == [rec("m1", 1, 1.0)]
    assert "MapInArrow" in q._jsq.explainInternal(True)


def test_windowed_rollup_with_late_data(spark, tmp_path):
    """T5+T8: tumbling rollup; a record later than the watermark horizon
    behind the max seen event time is dropped."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    for d in (src, out, ckpt):
        d.mkdir()
    base = 1_700_000_000_000  # ms, divisible window grid applies anyway
    # batch 1: two in-window records + advance watermark far ahead
    write_ndjson(
        str(src / "b1.json"),
        [
            rec("m", base + 10_000, 1.0),
            rec("m", base + 20_000, 3.0),
            rec("m", base + 60 * 60_000, 5.0),  # pushes max event time +1h
        ],
    )
    agg = windowed_rollup(read_record_stream(spark, str(src)), watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # batch 2: a record 1h late → beyond watermark → dropped
    write_ndjson(str(src / "b2.json"), [rec("m", base + 30_000, 100.0)])
    q2 = (
        windowed_rollup(read_record_stream(spark, str(src)), watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    first_window = [
        r
        for r in rows
        if r["window_start"].timestamp() * 1000 <= base + 10_000
        and base + 10_000 < r["window_end"].timestamp() * 1000
    ]
    assert len(first_window) == 1
    assert first_window[0]["n"] == 2  # late 100.0 never counted
    assert first_window[0]["sum_value"] == 4.0


def test_counter_increase_stateful_vs_batch(spark, tmp_path):
    """T10: stateful increase/reset detection across MULTIPLE micro-
    batches (state carries over) equals the batch-twin computation."""
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        counter_increase,
        counter_increase_batch,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    for d in (src, out, ckpt):
        d.mkdir()
    series1 = [rec("c", 1000, 10.0), rec("c", 2000, 15.0), rec("c", 3000, 2.0)]  # reset
    series2 = [rec("c", 4000, 7.0), rec("c", 5000, None), rec("c", 6000, 9.0)]

    write_ndjson(str(src / "b1.json"), series1)
    q = (
        counter_increase(
            read_record_stream(spark, str(src), max_files_per_trigger=1),
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    write_ndjson(str(src / "b2.json"), series2)
    q2 = (
        counter_increase(
            read_record_stream(spark, str(src), max_files_per_trigger=1),
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    streamed = {
        r["time"]: (r["increase"], r["resets"])
        for r in spark.read.parquet(str(out)).collect()
    }
    batch_records = spark.createDataFrame(
        [(r["name"], r["time"], r["value"], r["labels"]) for r in series1 + series2],
        "name string, time long, value double, labels map<string,string>",
    )
    expected = {
        r["time"]: (r["increase"], r["resets"])
        for r in counter_increase_batch(batch_records).collect()
    }
    assert streamed == expected
    assert streamed[3000] == (2.0, 1)  # reset detected, post-reset value = increase
    assert streamed[4000] == (5.0, 1)  # state carried across micro-batches
    assert 5000 not in streamed  # NULL (stale) samples skipped


def test_gap_fill_stateful_vs_batch(spark, tmp_path):
    """T10 gap fill: streaming LOCF grid emission across micro-batches
    (state carries last value + pending grid time) equals the batch twin
    over the completed series."""
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        gap_fill,
        gap_fill_batch,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    for d in (src, out, ckpt):
        d.mkdir()
    # interval 1000 ms; gaps of 3 and 2 intervals, plus an aligned sample
    b1 = [rec("g", 1000, 1.0), rec("g", 4500, 2.0)]
    b2 = [rec("g", 6000, 3.0), rec("g", 8200, 4.0)]

    def run():
        q = (
            gap_fill(
                read_record_stream(spark, str(src), max_files_per_trigger=1),
                1000,
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_ndjson(str(src / "b1.json"), b1)
    run()
    write_ndjson(str(src / "b2.json"), b2)
    run()

    streamed = {
        (r["name"], r["time"]): r["value"]
        for r in spark.read.parquet(str(out)).collect()
    }
    full = spark.createDataFrame(
        [("g", 1000, 1.0), ("g", 4500, 2.0), ("g", 6000, 3.0), ("g", 8200, 4.0)],
        "name string, time long, value double",
    )
    batch = {
        (r["name"], r["time"]): r["value"]
        for r in gap_fill_batch(full, 1000).collect()
    }
    assert streamed == batch
    assert streamed[("g", 4000)] == 1.0  # LOCF before the 4500 sample
    assert streamed[("g", 5000)] == 2.0


def test_key_split_over_arrow_chunks_folds_in_order(spark, tmp_path):
    """One series' shuffled samples in ONE micro-batch, handed to the
    stateful kernels as 2-row Arrow chunks (``maxRecordsPerBatch=2``):
    the kernels must fold the whole batch in time order, as if it were
    one chunk. Sorting each chunk on its own got every increase, every
    ``n_prior``, most gap-fill grid points and most funnel resolutions
    wrong."""
    import random

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        counter_increase,
        counter_increase_batch,
        funnel_views,
        gap_fill,
        gap_fill_batch,
        prefix_anomaly,
    )

    H = 3_600_000
    rows = [
        {
            "event_id": i,
            "event_type": "p" if i % 4 == 3 else "v",
            "user_id": 1,
            "time": i * 1000 + (i % 3) * 100,
            "value": float((i * 7) % 23),  # a counter with resets
        }
        for i in range(20)
    ]
    shuffled = rows[:]
    random.Random(13).shuffle(shuffled)
    stream = _batched_stream(spark, tmp_path, [shuffled])
    series = stream.select(F.lit("m").alias("name"), "time", "value")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        inc = run_to_batch(counter_increase(series), "append").collect()
        anom = run_to_batch(prefix_anomaly(series), "append").collect()
        grid = run_to_batch(gap_fill(series, interval_ms=700), "append").collect()
        funnel = run_to_batch(
            funnel_views(
                stream.select(
                    "user_id", "time", (F.col("event_type") == "p").cast("int").alias("side")
                ),
                convert_ms=H,
            ),
            "append",
        ).collect()
    finally:
        spark.conf.set(key, old)

    batch = spark.createDataFrame(
        [("m", r["time"], r["value"]) for r in rows], "name string, time long, value double"
    )
    assert sorted((r["time"], r["increase"], r["resets"]) for r in inc) == sorted(
        (r["time"], r["increase"], r["resets"])
        for r in counter_increase_batch(batch).collect()
    )
    assert {r["time"]: r["n_prior"] for r in anom} == {
        r["time"]: i for i, r in enumerate(rows)
    }
    assert sorted((r["time"], r["value"]) for r in grid) == sorted(
        (r["time"], r["value"]) for r in gap_fill_batch(batch, 700).collect()
    )
    views = [r["time"] for r in rows if r["event_type"] == "v"]
    buys = [r["time"] for r in rows if r["event_type"] == "p"]
    want = [(v, 0, 0) for v in views] + [
        (v, 1, 1) for v in views if any(b >= v for b in buys)
    ]
    assert sorted((r["view_ms"], r["conv"], r["resolved"]) for r in funnel) == sorted(want)


def test_holt_winters_stream_matches_batch(spark):
    """The stateful streaming Holt-Winters fold must equal the batch
    aggregate() fold exactly on a single-batch drain — same recurrence,
    same operand order, same IEEE doubles (t20's batch/streaming
    duality)."""
    from prometheus_remote_kinesis_spark.operators.time_windows import (
        t20_holt_winters,
    )
    from prometheus_remote_kinesis_spark.streaming.queries import (
        t20s_holt_winters_stream,
    )
    from tests.conftest import SF_SMOKE

    batch = {
        (r["event_type"], r["user_id"]): (
            r["n_samples"], r["hw_level"], r["hw_trend"], r["hw_forecast"],
        )
        for r in t20_holt_winters(spark, SF_SMOKE).collect()
    }
    stream = {
        (r["event_type"], r["user_id"]): (
            r["n_samples"], r["hw_level"], r["hw_trend"], r["hw_forecast"],
        )
        for r in t20s_holt_winters_stream(spark, SF_SMOKE).collect()
    }
    assert stream == batch


def test_streaming_rate_matches_batch(spark):
    """The stateful streaming rate operator must reproduce t14's batch
    (and therefore DuckDB-oracle-checked) output exactly on a single-batch
    drain — the PromQL rate family's batch/streaming duality."""
    from prometheus_remote_kinesis_spark.operators.time_windows import t14_rate_5m
    from prometheus_remote_kinesis_spark.streaming.queries import (
        t14s_rate_5m_stream,
    )
    from tests.conftest import SF_SMOKE

    batch = {
        r["event_id"]: (r["rate_per_sec"], r["n_increases"])
        for r in t14_rate_5m(spark, SF_SMOKE).collect()
    }
    stream = {
        r["event_id"]: (r["rate_per_sec"], r["n_increases"])
        for r in t14s_rate_5m_stream(spark, SF_SMOKE).collect()
    }
    assert stream == batch


def _chopped_stream(spark, tmp_path, rows, n_files):
    """Write (event_id, event_type, user_id, time, value) rows as n_files
    JSON chop files and stream them ONE FILE PER MICRO-BATCH — forcing
    real state carry-over, the path a single availableNow drain of one
    file never exercises."""
    per = -(-len(rows) // n_files)
    return _batched_stream(
        spark, tmp_path, [rows[i * per : (i + 1) * per] for i in range(n_files)]
    )


def _batched_stream(spark, tmp_path, batches):
    """Stream each non-empty list of rows in ``batches`` as its own
    micro-batch (one JSON file each, in list order)."""
    src = tmp_path / "chop_src"
    src.mkdir()
    now = time.time()
    for i, chunk in enumerate(batches):
        if chunk:
            p = str(src / f"c{i}.json")
            write_ndjson(p, chunk)
            # FileStreamSource batches files in TIMESTAMP order; same-mtime
            # files tie-break arbitrarily — make arrival order the row order
            os.utime(p, (now + i * 10, now + i * 10))
    return (
        spark.readStream.schema(
            "event_id long, event_type string, user_id long, time long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )


def test_streaming_rate_multibatch_matches_naive(spark, tmp_path):
    """streaming_rate under a REAL multi-batch chop (one file per
    micro-batch, 4 batches): the trailing-window state — last v100 plus
    the in-window (ts, increase-cents) buffer — must carry and evict
    across batch boundaries exactly; output equals the naive reference
    (integer cents, floor-truncated quotient, t14's conventions).
    Timestamps straddle the 5-minute window so eviction happens
    mid-stream, and a counter reset lands in a later batch than the
    samples it resets against. The last sample of each batch is emitted
    speculatively and re-emitted when the next batch commits it; the
    drain keeps the argmax(seen) row per event_id, as t14s does."""
    import math

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import streaming_rate

    # one series: rising, reset at 260s, rising again past window eviction
    vals = [1.0, 2.5, 4.0, 7.5, 1.2, 3.0, 9.9, 12.4, 15.0, 15.0, 20.25, 21.0]
    rows = [
        {
            "event_id": i,
            "event_type": "m",
            "user_id": 1,
            "time": i * 65_000,  # 65 s apart → >5 m span, rolling eviction
            "value": v,
        }
        for i, v in enumerate(vals)
    ]
    out = run_to_batch(
        streaming_rate(_chopped_stream(spark, tmp_path, rows, 4)),
        "append",
    )
    got = {
        r["event_id"]: (r["rate_per_sec"], r["n_increases"])
        # argmax(seen) per event_id: the dict keeps each id's last row
        for r in sorted(out.collect(), key=lambda r: r["seen"])
    }

    window_ms = 300_000
    last, buf = None, []  # buf: (ms, inc_cents)
    expected = {}
    from prometheus_remote_kinesis_spark.streaming.stateful import _round_half_up

    for r in rows:
        # production's Spark-compatible HALF_UP, not Python's banker's
        # round() — the values above never land on .5 ties, but the naive
        # reference must pin the production convention so a tie-prone
        # addition fails loudly here instead of masking a regression
        # (r4 ADVICE).
        v100 = int(_round_half_up(r["value"] * 100, 0))
        inc = None if last is None else (v100 - last if v100 >= last else v100)
        if inc is not None:
            buf.append((r["time"], inc))
        last = v100
        lo = r["time"] - window_ms
        buf = [(m, x) for m, x in buf if m >= lo]
        if buf:
            q = float(sum(x for _, x in buf)) / 100.0 / 300.0
            expected[r["event_id"]] = (math.floor(q * 1e6) / 1e6, len(buf))
        else:
            expected[r["event_id"]] = (None, 0)
    assert got == expected


def test_holt_winters_multibatch_final_state(spark, tmp_path):
    """holt_winters under a multi-batch chop: each touched series emits a
    summary row per batch; the max-n final-state row (t20s's registered
    filter) must equal the full-sequence recurrence — the property that
    justifies registering t20s against t20's oracle."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import holt_winters

    vals = [5.0, 6.25, 4.5, 8.0, 7.75, 9.0, 10.5]
    rows = [
        {
            "event_id": i,
            "event_type": "m",
            "user_id": 7,
            "time": 1000 * i,
            "value": v,
        }
        for i, v in enumerate(vals)
    ]
    drained = run_to_batch(
        holt_winters(_chopped_stream(spark, tmp_path, rows, 3)),
        "append",
    )
    assert drained.count() >= 2  # really was chopped into multiple batches
    w = Window.partitionBy("event_type", "user_id").orderBy(F.desc("n_samples"))
    final = (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    assert len(final) == 1
    level, trend = vals[0], 0.0
    for x in vals[1:]:
        s = 0.3 * x + 0.7 * (level + trend)
        trend = 0.1 * (s - level) + 0.9 * trend
        level = s
    r = final[0]
    assert r["n_samples"] == len(vals)
    assert r["hw_level"] == level  # bit-exact: same IEEE ops, same order
    assert r["hw_trend"] == trend
    assert r["hw_forecast"] == level + trend


def test_gap_fill_duplicate_timestamp_max_wins(spark, tmp_path):
    """Duplicate (series, ms) samples must resolve max-wins (the batch
    form collapses with max(value), the t10bs oracle likewise): gap_fill
    sorts each batch by (time, value) so the surviving LOCF value at a
    duplicated timestamp is the maximum regardless of arrival order."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import gap_fill

    rows = [
        {"name": "m", "time": 0, "value": 5.0},
        {"name": "m", "time": 0, "value": 9.0},  # dup ts — max must win
        {"name": "m", "time": 0, "value": 7.0},
        {"name": "m", "time": 150_000, "value": 1.0},
    ]
    src = tmp_path / "gfsrc"
    spark.createDataFrame(
        [(r["name"], r["time"], r["value"]) for r in rows],
        "name string, time long, value double",
    ).coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("name string, time long, value double")
        .parquet(str(src))
    )
    out = run_to_batch(gap_fill(stream, interval_ms=60_000), "append")
    got = sorted((r["time"], r["value"]) for r in out.collect())
    assert got == [(0, 9.0), (60_000, 9.0), (120_000, 9.0)], got


def test_funnel_multibatch_chop_invariant(spark, tmp_path):
    """funnel_views under a real multi-batch chop: a view in batch 1
    resolved by a purchase in batch 3, a view never resolved, a same-ms
    view+purchase pair, and a too-late purchase — the authoritative-row
    selection (resolved DESC top-1 per view) must equal the batch t15
    semantics no matter where the chop falls."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import funnel_views

    H = 3_600_000
    rows = [  # (user, time, side): 0=view 1=purchase
        {"event_id": 0, "event_type": "v", "user_id": 1, "time": 0, "value": 0.0},
        {"event_id": 1, "event_type": "v", "user_id": 2, "time": 1000, "value": 0.0},
        {"event_id": 2, "event_type": "p", "user_id": 1, "time": H // 2, "value": 0.0},
        {"event_id": 3, "event_type": "v", "user_id": 3, "time": 2000, "value": 0.0},
        {"event_id": 4, "event_type": "p", "user_id": 3, "time": 2000, "value": 0.0},
        {"event_id": 5, "event_type": "v", "user_id": 1, "time": H, "value": 0.0},
        {"event_id": 6, "event_type": "p", "user_id": 1, "time": 3 * H, "value": 0.0},
        # user 2's view never resolves (no purchase at all)
    ]
    stream = _chopped_stream(spark, tmp_path, rows, 3).select(
        "user_id",
        "time",
        (F.col("event_type") == "p").cast("int").alias("side"),
    )
    out = run_to_batch(funnel_views(stream), "append")
    w = Window.partitionBy("user_id", "view_ms").orderBy(F.desc("resolved"))
    got = {
        (r["user_id"], r["view_ms"]): r["conv"]
        for r in out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == {
        (1, 0): 1,       # purchase at H/2, within the hour, later batch
        (2, 1000): 0,    # never resolved
        (3, 2000): 1,    # same-ms purchase counts
        (1, H): 0,       # next purchase at 3H — too late
    }, got


def test_cohort_pairs_multibatch_chop_invariant(spark, tmp_path):
    """cohort_pairs under a real multi-batch chop: a signup arriving in a
    LATER batch than the user's activity, duplicate weeks across batches
    (the dedup state must carry), a strictly earlier second signup (the
    cohort re-emission path — min() downstream must absorb it), and a
    user with activity but no signup (must drop). The assembled retention
    triangle must equal the hand-computed batch answer no matter where
    the chop falls."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import cohort_pairs

    rows = [  # time doubles as the week number
        # batch 0
        {"event_id": 0, "event_type": "view", "user_id": 1, "time": 5, "value": 0.0},
        {"event_id": 1, "event_type": "view", "user_id": 1, "time": 6, "value": 0.0},
        {"event_id": 2, "event_type": "signup", "user_id": 2, "time": 7, "value": 0.0},
        # batch 1
        {"event_id": 3, "event_type": "view", "user_id": 2, "time": 9, "value": 0.0},
        {"event_id": 4, "event_type": "signup", "user_id": 1, "time": 5, "value": 0.0},
        {"event_id": 5, "event_type": "view", "user_id": 1, "time": 5, "value": 0.0},
        # batch 2
        {"event_id": 6, "event_type": "signup", "user_id": 2, "time": 6, "value": 0.0},
        {"event_id": 7, "event_type": "view", "user_id": 3, "time": 4, "value": 0.0},
        {"event_id": 8, "event_type": "view", "user_id": 2, "time": 7, "value": 0.0},
    ]
    stream = _chopped_stream(spark, tmp_path, rows, 3).select(
        "user_id",
        F.col("time").alias("wk"),
        (F.col("event_type") == "signup").cast("int").alias("is_signup"),
    )
    drained = run_to_batch(cohort_pairs(stream), "append")
    # week rows are emitted exactly once per (user, week)
    week_rows = drained.filter(F.col("is_cohort") == 0).collect()
    assert len(week_rows) == len({(r["user_id"], r["wk"]) for r in week_rows})
    cohorts = (
        drained.filter(F.col("is_cohort") == 1)
        .groupBy(F.col("user_id").alias("cu"))
        .agg(F.min("wk").alias("cw"))
    )
    weeks = drained.filter(F.col("is_cohort") == 0).select(
        "user_id", F.col("wk").alias("w")
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active"]
        for r in weeks.join(F.broadcast(cohorts), F.col("user_id") == F.col("cu"))
        .filter(F.col("w") >= F.col("cw"))
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .collect()
    }
    # u1: cw=5 weeks{5,6}; u2: cw=6 (the later-batch EARLIER signup wins)
    # weeks{6,7,9} — signup weeks count as activity; u3: no signup, dropped
    assert got == {
        (5, 0): 1,
        (5, 1): 1,
        (6, 0): 1,
        (6, 1): 1,
        (6, 3): 1,
    }, got


def test_stream_absent_gaps_multibatch(spark, tmp_path):
    """The t18s composition (streaming dropDuplicates on derived
    (series, bucket) + post-drain gaps-and-islands) under a multi-batch
    chop with duplicate buckets straddling batch boundaries: the deduped
    union is the same set regardless of chop, so the derived gaps equal
    the hand-computed answer."""
    from prometheus_remote_kinesis_spark.operators.time_windows import (
        absent_gaps_from_buckets,
    )
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch

    rows = [  # time = bucket number (scaled in the assertion)
        {"event_id": 0, "event_type": "a", "user_id": 1, "time": 1, "value": 0.0},
        {"event_id": 1, "event_type": "a", "user_id": 1, "time": 2, "value": 0.0},
        {"event_id": 2, "event_type": "b", "user_id": 1, "time": 3, "value": 0.0},
        {"event_id": 3, "event_type": "a", "user_id": 1, "time": 2, "value": 0.0},
        {"event_id": 4, "event_type": "a", "user_id": 1, "time": 5, "value": 0.0},
        {"event_id": 5, "event_type": "b", "user_id": 1, "time": 4, "value": 0.0},
        {"event_id": 6, "event_type": "a", "user_id": 1, "time": 9, "value": 0.0},
        {"event_id": 7, "event_type": "a", "user_id": 1, "time": 5, "value": 0.0},
    ]
    b = (
        _chopped_stream(spark, tmp_path, rows, 4)
        .select("event_type", F.col("time").alias("bucket"))
        .dropDuplicates(["event_type", "bucket"])
    )
    got = {
        (
            r["event_type"],
            r["gap_start_ms"] // 300000,
            r["gap_end_ms"] // 300000,
        ): r["missing_buckets"]
        for r in absent_gaps_from_buckets(run_to_batch(b, "append")).collect()
    }
    # a: buckets {1,2,5,9} → gaps [3,5) missing 2 and [6,9) missing 3; b: none
    assert got == {("a", 3, 5): 2, ("a", 6, 9): 3}, got


def test_interp_fill_multibatch_matches_naive(spark, tmp_path):
    """interp_fill under a real multi-batch chop: grid points whose
    bracketing samples land in DIFFERENT batches must interpolate
    across the batch boundary from carried state; an exact-hit grid
    point must short-circuit to the sample value; NULLs are skipped;
    and nothing past the last sample is emitted."""
    import math

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import interp_fill

    step = 1000
    samples = [  # (ms, value) — one series; grid at multiples of 1000
        (500, 10.0),     # first sample off-grid
        (1200, 17.0),    # brackets grid 1000 (batch 1)
        (2000, 5.0),     # exact hit at grid 2000 — batch 2
        (2500, None),    # staleness marker: skipped entirely
        (4400, 11.0),    # brackets grids 3000 and 4000 across the NULL
        (4600, 99.0),    # tail: no grid in (4400, 4600]
    ]
    rows = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(samples)
    ]
    stream = _chopped_stream(spark, tmp_path, rows, 3).select(
        F.col("event_type").alias("name"), "time", "value"
    )
    out = run_to_batch(interp_fill(stream, step_ms=step), "append")
    got = {r["time"]: r["value"] for r in out.collect()}

    def lerp(t0, v0, t1, v1, g):
        return math.floor((v0 + (v1 - v0) * (g - t0) / (t1 - t0)) * 1e6) / 1e6

    assert got == {
        1000: lerp(500, 10.0, 1200, 17.0, 1000),
        2000: math.floor(5.0 * 1e6) / 1e6,  # exact hit → sample value
        3000: lerp(2000, 5.0, 4400, 11.0, 3000),  # across the NULL
        4000: lerp(2000, 5.0, 4400, 11.0, 4000),
    }, got


def test_interp_fill_all_null_first_batch(spark, tmp_path):
    """interp_fill when the ENTIRE first micro-batch is staleness
    markers: the (None, None, None) state tuple must round-trip through
    the state store and the op must anchor its grid at the first real
    sample in a later batch (r5 review noted this edge was unpinned)."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import interp_fill

    rows = [
        {"event_id": 0, "event_type": "m", "user_id": 1, "time": 100, "value": None},
        {"event_id": 1, "event_type": "m", "user_id": 1, "time": 900, "value": None},
        # batch 2: first real samples — grid anchors at ceil(1500/1000)=2000
        {"event_id": 2, "event_type": "m", "user_id": 1, "time": 1500, "value": 4.0},
        {"event_id": 3, "event_type": "m", "user_id": 1, "time": 2500, "value": 8.0},
    ]
    stream = _chopped_stream(spark, tmp_path, rows, 2).select(
        F.col("event_type").alias("name"), "time", "value"
    )
    out = run_to_batch(interp_fill(stream, step_ms=1000), "append")
    got = {r["time"]: r["value"] for r in out.collect()}
    assert got == {2000: 6.0}, got  # midpoint of (1500, 4.0) → (2500, 8.0)


def test_relay_rollup_e2e_chop_invariant(spark, tmp_path):
    """s1e's single-query wire→dedup→rollup plan must produce the batch t5
    answer when the spool arrives as event-time-ordered WAVES across
    micro-batches (the relay's real arrival pattern: POST bodies landing
    over time), each wave double-sent — not just in the registered
    query's one-shot spool. Waits for the engine's no-data flush batch
    between waves so every chop boundary crosses a watermark advance."""
    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.schema import RECORD_SCHEMA
    from prometheus_remote_kinesis_spark.sources.prompb_datasource import (
        register_prompb_source,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from prometheus_remote_kinesis_spark.streaming.queries import relay_rollup_plan

    sf = "/root/testdata/sf0.001"
    register_prompb_source(spark)
    events = load_table(spark, sf, "events")
    wire = events.select(
        F.col("event_type").alias("name"),
        F.unix_millis("ts").alias("time"),
        F.col("value").cast("double").alias("value"),
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("user")),
            F.array(F.col("event_type"), F.col("user_id").cast("string")),
        ).alias("labels"),
    )
    lo, hi = wire.agg(F.min("time"), F.max("time")).first()
    cuts = [lo + (hi - lo) * i // 3 for i in (1, 2)]
    waves = [
        wire.where(F.col("time") <= cuts[0]),
        wire.where((F.col("time") > cuts[0]) & (F.col("time") <= cuts[1])),
        wire.where(F.col("time") > cuts[1]),
    ]

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    plan = relay_rollup_plan(spark, spool)
    query = (
        plan.writeStream.format("memory")
        .queryName("s1e_chop")
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def await_drained(deadline_s: float = 60.0) -> None:
        # drained = every spool file has been consumed (cumulative input
        # accounting — the source's input rows are bodies, one per file —
        # immune to a stale pre-write empty batch) AND the most recent
        # micro-batch consumed nothing (the watermark flush batch has
        # run since)
        expected_files = sum(f.endswith(".pb.sz") for f in os.listdir(spool))
        end = time.time() + deadline_s
        while time.time() < end:
            progresses = [json.loads(p.json) for p in query.recentProgress]
            consumed = sum(p["numInputRows"] for p in progresses)
            if (
                consumed >= expected_files
                and progresses
                and progresses[-1]["numInputRows"] == 0
            ):
                return
            time.sleep(0.2)
        raise TimeoutError("stream never drained the wave")

    try:
        for wave in waves:
            wave.write.format("prompb").mode("append").save(spool)
            wave.write.format("prompb").mode("append").save(spool)  # double send
            await_drained()
        sentinel = spark.createDataFrame(
            [("__wm_sentinel__", hi + 86_400_000, 0.0, {"__name__": "x"})],
            RECORD_SCHEMA,
        )
        sentinel.coalesce(1).write.format("prompb").mode("append").save(spool)
        await_drained()
    finally:
        query.stop()
        query.awaitTermination()

    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value, r.avg_value)
        for r in spark.table("s1e_chop").collect()
    }
    expect = {
        (r.window_start, r.event_type): (r.n, r.sum_value, r.avg_value)
        for r in all_queries()["t5_tumbling_5min"].fn(spark, sf).collect()
    }
    assert got == expect


def test_kmv_topk_sketch_production_state(spark, tmp_path):
    """a3cs's production-bounded sibling (VERDICT r8 task #6): the
    O(K)-state KMV form must (a) hold exactly one state row per type —
    never one per distinct key — while hundreds of distinct users stream
    past in multiple micro-batches, and (b) drain to the IDENTICAL
    (k_actual, h_k, kmv_estimate) as batch a3c's sketch tail over the
    same rows, on both the saturated (>K distinct) and exact-fallback
    (<K distinct) paths."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        KMV_K,
        kmv_hash,
        kmv_summary,
    )
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        kmv_topk_sketch,
    )

    # type "hot": 500 distinct users (sketch path, > K=64);
    # type "cold": 20 distinct users (exact-count fallback path);
    # every user appears twice (duplicate arrivals must not perturb).
    rows = [("hot", u) for u in range(500) for _ in (0, 1)] + [
        ("cold", u) for u in range(20) for _ in (0, 1)
    ]
    src = tmp_path / "src"
    src.mkdir()
    for w in range(3):  # three event-waves -> three micro-batches
        chunk = [r for i, r in enumerate(rows) if i % 3 == w]
        spark.createDataFrame(
            chunk, "event_type string, user_id long"
        ).coalesce(1).write.parquet(str(src / f"w{w}.parquet"))
        for root, _dirs, files in os.walk(src / f"w{w}.parquet"):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (1_700_000_000 + w, 1_700_000_000 + w),
                )

    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "w*.parquet"))
    )
    hashed = stream.select(
        "event_type", kmv_hash(F.col("user_id")).alias("h")
    )
    q = (
        kmv_topk_sketch(hashed)
        .writeStream.format("memory")
        .queryName("kmv_prod")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    progresses = [json.loads(p.json) for p in q.recentProgress]
    state_rows = [
        so["numRowsTotal"]
        for p in progresses
        for so in p.get("stateOperators", [])
    ]
    # (a) O(K) bound: one state row per TYPE (the K-array lives inside
    # it), never one per distinct user (520) like registered a3cs.
    assert max(state_rows) <= 2, state_rows

    out = spark.table("kmv_prod").toPandas()
    final = (
        out.sort_values("seq").groupby("event_type").last().reset_index()
    )
    got = {
        r.event_type: (int(r.k_actual), int(r.h_k), int(r.kmv_estimate))
        for r in final.itertuples()
    }

    batch = spark.createDataFrame(rows, "event_type string, user_id long")
    dh = batch.select(
        "event_type", kmv_hash(F.col("user_id")).alias("h")
    ).distinct()
    exp = {
        r.event_type: (int(r.k_actual), int(r.h_k), int(r.kmv_estimate))
        for r in kmv_summary(dh).collect()
    }
    assert got == exp
    assert got["hot"][0] == KMV_K  # saturated: sketch path exercised
    assert got["cold"][0] == 20 and got["cold"][2] == 20  # exact fallback


def test_time_weighted_avg_multibatch_chop_invariant(spark, tmp_path):
    """time_weighted_avg under a REAL multi-batch chop (one file per
    micro-batch, 4 batches): the five-integer state must bridge batch
    boundaries exactly — the boundary trapezoid (last sample of batch k,
    first sample of batch k+1) is the bit that a single-batch drain never
    exercises. NULL staleness markers land mid-stream and must bridge
    like the batch filter. Ground truth is an unbounded-int Python
    trapezoid with the identical floor-truncation."""
    import math

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import time_weighted_avg

    vals_a = [1.0, 2.5, None, 4.0, 7.5, 1.2, 3.0, None, 9.9, 12.4]
    vals_b = [10.0, 10.0, 5.25, 20.0]
    rows = [
        {
            "event_id": i,
            "event_type": "m",
            "user_id": 1,
            "time": i * 65_000,
            "value": v,
        }
        for i, v in enumerate(vals_a)
    ] + [
        {
            "event_id": 100 + i,
            "event_type": "m",
            "user_id": 2,
            "time": i * 13_000,
            "value": v,
        }
        for i, v in enumerate(vals_b)
    ]
    out = run_to_batch(
        time_weighted_avg(
            _chopped_stream(spark, tmp_path, rows, 4)
        ),
        "append",
    )
    # authoritative row per series = max n_samples (the t20s protocol)
    got = {}
    for r in out.collect():
        key = (r["event_type"], r["user_id"])
        if key not in got or r["n_samples"] > got[key][0]:
            got[key] = (r["n_samples"], r["span_ms"], r["num"])

    def truth(vals):
        pts = [
            (i * 65_000 if vals is vals_a else i * 13_000, int(round(v * 100)))
            for i, v in enumerate(vals)
            if v is not None
        ]
        num = sum(
            (v0 + v1) * (t1 - t0) for (t0, v0), (t1, v1) in zip(pts, pts[1:])
        )
        return len(pts), pts[-1][0] - pts[0][0], num

    assert got[("m", 1)] == truth(vals_a)
    assert got[("m", 2)] == truth(vals_b)
    # and the drain-side conversion reproduces the batch twa exactly
    for key, (_n, span, num) in got.items():
        twa = math.floor(float(num) / float(span) / 200.0 * 1e6) / 1e6
        lo = min(v for v in (vals_a if key[1] == 1 else vals_b) if v is not None)
        hi = max(v for v in (vals_a if key[1] == 1 else vals_b) if v is not None)
        assert lo - 1e-6 <= twa <= hi + 1e-6


def test_alert_for_duration_multibatch_chop(spark, tmp_path):
    """alert_for_duration under a REAL multi-batch chop: an island that
    OPENS in batch 1, extends through batch 2, and closes in batch 3
    must emit exactly one authoritative row (the provisional rows it
    superseded carry the same island_start with smaller n); islands
    fully inside one batch behave identically; NULLs neither open nor
    close an island."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        alert_for_duration,
    )

    # thr=50: cond pattern per row (one series 'm'):
    # 60, 70, None, 80, 90 | 10 | 55, 20, 95 → islands:
    #   rows 0-4 (NULL skipped, stays open across it) closed by row 5,
    #   row 6 closed by row 7, row 8 open at drain.
    vals = [60.0, 70.0, None, 80.0, 90.0, 10.0, 55.0, 20.0, 95.0]
    rows = [
        {"event_id": i, "event_type": "m", "user_id": 1,
         "time": i * 60_000, "value": v}
        for i, v in enumerate(vals)
    ]
    out = run_to_batch(
        alert_for_duration(
            _chopped_stream(spark, tmp_path, rows, 3), thr=50
        ),
        "append",
    )
    rows_out = [
        (r["island_seq"], r["island_start"], r["island_end"], r["n_samples"])
        for r in out.collect()
    ]
    # authoritative = max n per island_seq (the island identity)
    auth = {}
    for q, s, e, n in rows_out:
        if q not in auth or n > auth[q][2]:
            auth[q] = (s, e, n)
    assert auth == {
        1: (0, 4 * 60_000, 4),       # 60,70,80,90 (NULL bridged)
        2: (6 * 60_000, 6 * 60_000, 1),
        3: (8 * 60_000, 8 * 60_000, 1),
    }
    # the closed islands were emitted exactly once with their final n
    assert rows_out.count((1, 0, 4 * 60_000, 4)) >= 1


def test_alert_for_duration_same_ms_islands_stay_distinct(spark, tmp_path):
    """Two islands of the SAME type opening on the SAME truncated ms
    (breach, close, re-breach all at one timestamp — possible because
    the partition key is event_type alone) must surface as TWO
    authoritative rows: the island_seq drain key keeps them distinct
    where a (type, island_start) key would collapse them to one max-n
    row and silently lose an island."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        alert_for_duration,
    )

    T = 120_000
    rows = [
        {"event_id": 0, "event_type": "m", "user_id": 1, "time": T, "value": 90.0},
        {"event_id": 1, "event_type": "m", "user_id": 2, "time": T, "value": 10.0},
        {"event_id": 2, "event_type": "m", "user_id": 3, "time": T, "value": 80.0},
        {"event_id": 3, "event_type": "m", "user_id": 3, "time": T + 60_000,
         "value": 70.0},
    ]
    out = run_to_batch(
        alert_for_duration(
            _chopped_stream(spark, tmp_path, rows, 2), thr=50
        ),
        "append",
    )
    auth = {}
    for r in out.collect():
        q = r["island_seq"]
        if q not in auth or r["n_samples"] > auth[q][2]:
            auth[q] = (r["island_start"], r["island_end"], r["n_samples"])
    assert auth == {
        1: (T, T, 1),              # closed by the same-ms non-breach
        2: (T, T + 60_000, 2),     # reopened at the SAME start ms
    }


def test_ewma_halflife_multibatch_chop(spark, tmp_path):
    """ewma_halflife under a REAL multi-batch chop: the (level, last_ms)
    handoff across batch boundaries must reproduce the single-pass fold
    bit-for-bit (dyadic decay is exact; op-order identity covers the
    rest); NULLs bridge without advancing last_ms."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import ewma_halflife

    HL = 600_000
    vals = [10.0, 12.0, None, 8.0, 20.0, 4.0, 16.0]
    # spacings chosen to exercise g = 0, 1, and >1 halvings
    times = [0, 100_000, 150_000, 700_000, 2_000_000, 2_050_000, 9_999_999]
    rows = [
        {"event_id": i, "event_type": "m", "user_id": 1,
         "time": t, "value": v}
        for i, (t, v) in enumerate(zip(times, vals))
    ]
    out = run_to_batch(
        ewma_halflife(
            _chopped_stream(spark, tmp_path, rows, 4), hl_ms=HL,
        ),
        "append",
    )
    best = max(out.collect(), key=lambda r: r["n_samples"])
    # single-pass Python fold (identical op order)
    l = m = n = None
    for t, v in zip(times, vals):
        if v is None:
            continue
        if n is None:
            l, m, n = v, t, 1
        else:
            g = min((t - m) // HL, 62)
            l = v + (l - v) * (1.0 / float(1 << g))
            m, n = t, n + 1
    assert best["n_samples"] == n == 6
    assert best["ewma_raw"] == l  # bit-exact


# One series (event_type 'm', user 1), in event order. The alert kernel
# (thr 10) sees islands {e0,e1}, {e3}, {e5,e7,e8} and {e10}; e6 is a
# NULL staleness marker.
_REORDER_SEQ = [
    (0, 20.0), (0, 15.0), (100_000, 5.0), (200_000, 30.0), (250_000, 6.0),
    (300_000, 35.0), (350_000, None), (400_000, 40.0), (600_000, 50.0),
    (700_000, 4.0), (900_000, 60.0),
]
_REORDER_MS = 300_000


@pytest.mark.parametrize(
    "kernel",
    [
        "alert_for_duration",
        "ewma_halflife",
        "holt_winters",
        "streaming_rate",
        "time_weighted_avg",
    ],
)
def test_reorder_buffer_through_state_store(spark, tmp_path, kernel):
    """The five ``_reorder_fold`` kernels through a REAL state store, one
    micro-batch per file, arrivals displaced up to ``reorder_ms``:

    - batch 3 brings e0 (ms 0) while the highest ms seen is 300 000 — a
      displacement of exactly ``reorder_ms``, admitted; its same-ms peer
      e1 must still be buffered so e0 folds first (committing ms <=
      horizon would have folded e1 first);
    - batch 5 brings the non-breach e4 (250 000) after the speculative
      alert island 200 000-400 000 was emitted: it SPLITS that island,
      and the stale row must lose the max-version drain;
    - the buffer round-trips the store between every batch.

    The drained output equals, floats bit for bit, the in-order fold
    (the kernel at ``reorder_ms=0`` over the sorted stream, driven
    without Spark), and a sample past its horizon in a later micro-batch
    fails the query."""
    from pyspark.errors import StreamingQueryException

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from tests.test_stateful_props import _drive_reorder_kernel, _reorder_kernels

    build, _key, drain = _reorder_kernels()[kernel]
    rows = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(_REORDER_SEQ)
    ]

    def drained(src, arrival):
        return run_to_batch(
            build(
                _batched_stream(spark, src, [[rows[i] for i in b] for b in arrival]),
                reorder_ms=_REORDER_MS,
            ),
            "append",
        ).collect()

    out = [
        r.asDict()
        for r in drained(tmp_path, [[1], [5], [0, 2, 3, 6], [7], [4, 8], [10, 9]])
    ]
    want = _drive_reorder_kernel(
        kernel,
        [[(i, t, v) for i, (t, v) in enumerate(_REORDER_SEQ) if v is not None]],
        reorder_ms=0,
    )
    assert drain(out) == want
    if kernel == "alert_for_duration":
        assert any(r["island_seq"] == 2 and r["n_samples"] == 3 for r in out)
        assert want == {
            1: (0, 0, 2),
            2: (200_000, 200_000, 1),
            3: (300_000, 600_000, 3),
            4: (900_000, 900_000, 1),
        }
    if kernel == "streaming_rate":
        picked = {}
        for r in out:
            if r["event_id"] not in picked or r["seen"] > picked[r["event_id"]]["seen"]:
                picked[r["event_id"]] = r
        # both paths reach the drain; the NULL sample emits no row
        assert {r["committed"] for r in picked.values()} == {True, False}
        assert len(picked) == 10

    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    # e4 (250 000) after 600 000 was seen: 50 000 past the horizon
    with pytest.raises(StreamingQueryException, match="reorder horizon"):
        drained(bad_dir, [[0, 1, 2, 3], [5, 7, 8], [4, 6]])


def test_ewma_reordered_bit_equals_in_order(spark, tmp_path):
    """ewma_halflife(reorder_ms=...) under REAL multi-batch chop with
    out-of-order arrival inside the reorder bound: the committed fold
    runs in global (ms, event_id) order regardless of arrival order, so
    the drained level is BIT-EQUAL to the in-order Python fold (the
    t20s op-order-identity argument, now robust to bounded disorder).
    NULLs skip; a sample arriving past its reorder horizon raises
    loudly instead of folding out of order."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import ewma_halflife

    HL, RO = 600_000, 300_000
    # event-time order (ms, value); gaps exercise g = 0, 1, >1 halvings
    seq = [
        (0, 10.0), (100_000, 12.0), (150_000, None), (400_000, 8.0),
        (700_000, 20.0), (900_000, 4.0), (2_000_000, 16.0),
        (2_050_000, 7.0), (2_200_000, 11.0),
    ]
    rows_sorted = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(seq)
    ]
    # bounded disorder: swap neighbors whose ms gap < RO (arrival order
    # != event order, displacement under the contract)
    order = [1, 0, 2, 3, 4, 5, 7, 6, 8]
    rows_arrival = [rows_sorted[i] for i in order]
    out = run_to_batch(
        ewma_halflife(
            _chopped_stream(spark, tmp_path, rows_arrival, 4),
            hl_ms=HL,
            reorder_ms=RO,
        ),
        "append",
    )
    rows_out = out.collect()
    auth = max(rows_out, key=lambda r: r["n_samples"])
    # Python in-order fold — the identical recurrence, bit for bit
    n, m, level = 0, 0, 0.0
    for i, (t, v) in enumerate(seq):
        if v is None:
            continue
        if n == 0:
            level = v
        else:
            g = min(max((t - m) // HL, 0), 62)
            level = v + (level - v) * (1.0 / float(1 << g))
        m, n = t, n + 1
    assert auth["n_samples"] == n
    assert auth["ewma_raw"] == level  # bit-exact, not approx
    # a sample past its horizon (displacement > RO) must raise loudly
    bad = [rows_sorted[i] for i in [1, 2, 3, 4, 5, 0, 6, 7, 8]]  # 0 arrives
    # after 900_000 has been seen: 0 < 900_000 - RO → contract violated
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    with pytest.raises(Exception, match="reorder horizon"):
        run_to_batch(
            ewma_halflife(
                _chopped_stream(spark, bad_dir, bad, 3),
                hl_ms=HL,
                reorder_ms=RO,
            ),
            "append",
        ).collect()


def test_ewma_reordered_boundary_displacement(spark, tmp_path):
    """A sample arriving displaced EXACTLY reorder_ms sits inside the
    contract (the late-arrival guard admits ms == hi - reorder_ms) and
    must fold bit-equal to the in-order recurrence: the commit cut is
    strictly-below-horizon (committing ms <= hi - reorder_ms would let a
    boundary arrival fold after its already-committed same-ms peers,
    breaking the documented (ms, event_id) fold order)."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import ewma_halflife

    HL, RO = 600_000, 300_000
    seq = [(0, 10.0), (0, 12.0), (300_000, 8.0), (700_000, 20.0), (900_000, 4.0)]
    rows_sorted = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(seq)
    ]
    # arrival: eid1 (ms 0), eid2 (ms 300_000 → horizon reaches 0; the
    # a ms <= horizon cut would commit eid1 here), THEN eid0 at ms 0 — displacement
    # exactly RO, admitted by the guard — then the in-order suffix;
    # one file per micro-batch so each arrival is its own commit point
    order = [1, 2, 0, 3, 4]
    out = run_to_batch(
        ewma_halflife(
            _chopped_stream(spark, tmp_path, [rows_sorted[i] for i in order], 5),
            hl_ms=HL,
            reorder_ms=RO,
        ),
        "append",
    )
    auth = max(out.collect(), key=lambda r: r["n_samples"])
    n, m, level = 0, 0, 0.0
    for t, v in seq:
        if n == 0:
            level = v
        else:
            g = min(max((t - m) // HL, 0), 62)
            level = v + (level - v) * (1.0 / float(1 << g))
        m, n = t, n + 1
    assert auth["n_samples"] == n == 5
    assert auth["ewma_raw"] == level  # bit-exact under boundary disorder
