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

from prometheus_remote_kinesis_spark.testing import FilePutRecords
from prometheus_remote_kinesis_spark.streaming.pipeline import (
    dedup_stream,
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


def test_relay_end_to_end(spark, tmp_path):
    """Source files → record stream → foreachBatch chunked put: every
    record relayed exactly once per micro-batch run, NDJSON intact
    (kinesis.go wire format), checkpoint created."""
    src = tmp_path / "src"
    sink_dir = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    for d in (src, sink_dir, ckpt):
        d.mkdir()
    batch1 = [rec("up", 1000 + i, float(i), job="n") for i in range(600)]
    batch1.append(rec("stale", 1, None))
    write_ndjson(str(src / "b1.json"), batch1)

    q = relay(
        read_record_stream(spark, str(src)),
        FilePutRecords(str(sink_dir)),
        checkpoint_dir=str(ckpt),
        available_now=True,
        max_entries=500,  # forces ≥2 chunks for 601 records
    )
    q.awaitTermination(120)
    got = read_sink(sink_dir)
    assert len(got) == 601
    by_name = {}
    for g in got:
        by_name.setdefault(g["name"], []).append(g)
    assert len(by_name["up"]) == 600
    assert by_name["stale"][0]["value"] is None  # explicit null survived
    assert os.listdir(ckpt)  # checkpoint exists (T4)

    # restart with a second file: only the new data is relayed (exactly-once
    # source accounting across restarts — supersedes ack-before-durable)
    write_ndjson(str(src / "b2.json"), [rec("up", 9999, 1.0)])
    q2 = relay(
        read_record_stream(spark, str(src)),
        FilePutRecords(str(sink_dir)),
        checkpoint_dir=str(ckpt),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert len(read_sink(sink_dir)) == 602


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


def test_dedup_stream(spark, tmp_path):
    """T9: retry-duplicated records (same name+labels+time) collapse."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    for d in (src, out, ckpt):
        d.mkdir()
    r = rec("up", 1_700_000_000_000, 1.0, job="n")
    write_ndjson(str(src / "b1.json"), [r, r, rec("up", 1_700_000_000_000, 1.0, job="m")])
    q = (
        dedup_stream(read_record_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    assert len(rows) == 2  # exact dup dropped; different label set kept


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
            idle_timeout_ms=None,  # drain-once: timers block availableNow exit
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
            idle_timeout_ms=None,
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
                idle_timeout_ms=None,  # drain-once: timers block availableNow exit
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


def test_incremental_rollup_sink(spark, tmp_path):
    """Continuous-aggregate upsert: two micro-batches (second updates a
    window the first already wrote) land in a parquet store that exactly
    equals the batch recomputation over all data."""
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        incremental_rollup_sink,
    )

    src = tmp_path / "src"
    store = str(tmp_path / "store")
    src.mkdir()
    m = 60_000
    # batch 1: two windows for m1, one for m2
    write_ndjson(
        str(src / "b1.json"),
        [rec("m1", 1 * m, 1.0), rec("m1", 6 * m, 2.0), rec("m2", 1 * m, 5.0)],
    )
    q = incremental_rollup_sink(
        read_record_stream(spark, str(src), max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    # batch 2 (new run, same checkpoint): updates m1's FIRST window and
    # adds a third one — the first window's partition must be rewritten,
    # m2's untouched partition must survive.
    write_ndjson(str(src / "b2.json"), [rec("m1", 2 * m, 10.0), rec("m1", 11 * m, 3.0)])
    q2 = incremental_rollup_sink(
        read_record_stream(spark, str(src), max_files_per_trigger=1),
        store,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(300)

    got = {
        (r["ws"], r["name"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(store).collect()
    }
    assert got == {
        (0, "m1"): (2, 11.0),       # updated in place by batch 2
        (5 * m, "m1"): (1, 2.0),    # from batch 1, untouched
        (10 * m, "m1"): (1, 3.0),   # new in batch 2
        (0, "m2"): (1, 5.0),        # sibling partition survived overwrite
    }


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
    src = tmp_path / "chop_src"
    src.mkdir()
    per = -(-len(rows) // n_files)
    now = time.time()
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
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
    samples it resets against."""
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
        streaming_rate(_chopped_stream(spark, tmp_path, rows, 4), idle_timeout_ms=None),
        "append",
    )
    got = {
        r["event_id"]: (r["rate_per_sec"], r["n_increases"]) for r in out.collect()
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
        holt_winters(_chopped_stream(spark, tmp_path, rows, 3), idle_timeout_ms=None),
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
    out = run_to_batch(gap_fill(stream, interval_ms=60_000, idle_timeout_ms=None), "append")
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
    out = run_to_batch(funnel_views(stream, idle_timeout_ms=None), "append")
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
    drained = run_to_batch(cohort_pairs(stream, idle_timeout_ms=None), "append")
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
    out = run_to_batch(interp_fill(stream, step_ms=step, idle_timeout_ms=None), "append")
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
    out = run_to_batch(interp_fill(stream, step_ms=1000, idle_timeout_ms=None), "append")
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


def test_slo_burn_watermark_eviction(spark, tmp_path):
    """t28s's production-bounded sibling (VERDICT r7 task #6): the
    watermark-EVICTED 5-minute bucket form must (a) hold only the open
    windows in state while hours of data stream past — bounded rows
    under a moving watermark, unlike the registered drain-time form's
    O(distinct samples) — and (b) reproduce t28's exact burn-rate
    arithmetic at a bucket-boundary eval point from the emitted buckets
    alone."""
    import datetime as dt

    from prometheus_remote_kinesis_spark.streaming.pipeline import slo_burn_buckets

    base = dt.datetime(2024, 1, 1, 0, 0, 30)
    rows = [
        (base + dt.timedelta(minutes=i), u, "error" if (i + u) % 3 == 0 else "view")
        for i in range(360)  # 6 hours, 1 sample/min/user
        for u in (1, 2)
    ]
    src = tmp_path / "src"
    src.mkdir()
    for h in range(6):
        chunk = [r for r in rows if r[0].hour == h]
        pdf = spark.createDataFrame(chunk, "ts timestamp, user_id long, event_type string")
        pdf.coalesce(1).write.parquet(str(src / f"h{h}.parquet"))
        # one file per hour, mtime-ordered so micro-batches replay in
        # event-time order (FileStreamSource picks oldest-first)
        for root, _dirs, files in os.walk(src / f"h{h}.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), (1_700_000_000 + h, 1_700_000_000 + h))

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "h*.parquet"))
    )
    q = (
        slo_burn_buckets(stream)
        .writeStream.format("memory")
        .queryName("burn_buckets")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    progresses = [json.loads(p.json) for p in q.recentProgress]
    state_rows = [
        so["numRowsTotal"] for p in progresses for so in p.get("stateOperators", [])
    ]

    # (a) bounded state: peak ≈ one hour of open windows (the batch
    # granularity) per user — never the 144 total windows of the run —
    # and the post-flush tail holds only the watermark horizon.
    assert max(state_rows) <= 2 * 16, state_rows
    assert state_rows[-1] <= 2 * 8, state_rows
    total_windows = 2 * 72
    assert max(state_rows) < total_windows / 4

    buckets = {
        (r.bucket_start, r.user_id): (r.n, r.err)
        for r in spark.table("burn_buckets").collect()
    }
    # every emitted bucket carries the exact batch counts
    expect_buckets = {}
    for ts, u, et in rows:
        b = ts.replace(minute=ts.minute - ts.minute % 5, second=0)
        n, err = expect_buckets.get((b, u), (0, 0))
        expect_buckets[(b, u)] = (n + 1, err + (et == "error"))
    for k, v in buckets.items():
        assert expect_buckets[k] == v
    assert len(buckets) > total_windows / 2  # most windows were finalized

    # (b) t28's arithmetic at T = the last finalized bucket boundary,
    # derived from buckets alone vs the naive per-sample fold
    t_end = max(b for (b, _u) in buckets)
    T = t_end + dt.timedelta(minutes=5)
    for u in (1, 2):
        n_5m = sum(n for (b, uu), (n, _e) in buckets.items() if uu == u and b == t_end)
        err_5m = sum(e for (b, uu), (_n, e) in buckets.items() if uu == u and b == t_end)
        n_1h = sum(
            n
            for (b, uu), (n, _e) in buckets.items()
            if uu == u and T - dt.timedelta(hours=1) <= b < T
        )
        err_1h = sum(
            e
            for (b, uu), (_n, e) in buckets.items()
            if uu == u and T - dt.timedelta(hours=1) <= b < T
        )
        naive = [r for r in rows if r[1] == u and T - dt.timedelta(hours=1) <= r[0] <= T]
        assert n_1h == len(naive)
        assert err_1h == sum(1 for r in naive if r[2] == "error")
        naive_5m = [r for r in naive if r[0] >= T - dt.timedelta(minutes=5)]
        assert n_5m == len(naive_5m)
        assert err_5m == sum(1 for r in naive_5m if r[2] == "error")


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


def test_exact_dedup_manifest_sink(spark, tmp_path):
    """l1s's production-bounded sibling (VERDICT r8 task #6): the
    manifest anti-join form must (a) keep ZERO rows in the streaming
    state store (the distinct set lives at rest), (b) admit exactly one
    representative per distinct document across waves — first-arriving
    wave wins, min doc_id within a wave — including across a RESTART
    (new query, same manifest), and (c) match batch l1's digest set."""
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        exact_dedup_manifest_sink,
    )

    waves = [
        # wave 0: docs 10, 11 (+ an in-wave duplicate of 10's text at 12)
        [(10, "alpha"), (11, "beta"), (12, "alpha")],
        # wave 1: re-crawl of alpha (id 1 < 10 — must NOT displace 10),
        # plus new gamma
        [(1, "alpha"), (13, "gamma")],
        # wave 2: NULL text (excluded), re-crawl of beta, new delta
        [(14, None), (15, "beta"), (16, "delta")],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for w, chunk in enumerate(waves):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / f"w{w}.parquet"))
        for root, _dirs, files in os.walk(src / f"w{w}.parquet"):
            for f in files:
                os.utime(
                    os.path.join(root, f),
                    (1_700_000_000 + w, 1_700_000_000 + w),
                )

    manifest = str(tmp_path / "manifest")
    out = str(tmp_path / "accepted")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "w*.parquet"))
    )
    q = exact_dedup_manifest_sink(
        stream, manifest, out, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    progresses = [json.loads(p.json) for p in q.recentProgress]
    # (a) zero streaming state: the foreachBatch plan has no stateful op
    assert all(
        so["numRowsTotal"] == 0
        for p in progresses
        for so in p.get("stateOperators", [])
    )

    got = {
        r.digest: r.rep_id for r in spark.read.parquet(out).collect()
    }
    # (b) one rep per distinct text; alpha kept its wave-0 min id 10
    # (in-wave dup 12 lost to 10; later re-crawl id 1 did not displace)
    import hashlib

    def d(t):
        return hashlib.sha256(t.encode()).hexdigest()

    assert got == {
        d("alpha"): 10,
        d("beta"): 11,
        d("gamma"): 13,
        d("delta"): 16,
    }

    # (c) restart with a 4th wave: manifest persists across queries
    spark.createDataFrame(
        [(2, "alpha"), (17, "epsilon")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "w3.parquet"))
    for root, _dirs, files in os.walk(src / "w3.parquet"):
        for f in files:
            os.utime(os.path.join(root, f), (1_700_000_004, 1_700_000_004))
    q2 = exact_dedup_manifest_sink(
        (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "w*.parquet"))
        ),
        manifest,
        out,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(300)
    got2 = {
        r.digest: r.rep_id for r in spark.read.parquet(out).collect()
    }
    assert got2 == {**got, d("epsilon"): 17}  # alpha STILL id 10
    # batch-l1 digest-set equality over all non-NULL docs
    all_docs = [r for w in waves for r in w] + [(2, "alpha"), (17, "epsilon")]
    assert set(got2) == {d(t) for _i, t in all_docs if t is not None}


def test_dedup_corpus_stats_manifest_bounded(spark, tmp_path):
    """s2e's production-bounded twin (VERDICT r9 task #6): the manifest
    form must (a) keep ZERO streaming-state rows — the distinct set
    lives at rest, unlike s2e's deliberate O(distinct docs) election
    state (the zero-state property itself is pinned by
    test_exact_dedup_manifest_sink's stateOperators assertion on the
    same sink) — and (b) produce the identical per-language corpus
    stats as the batch dedup→stats chain (s2e's oracle semantics)."""
    from tests.conftest import SF_SMOKE

    from prometheus_remote_kinesis_spark.llm.text import token_stats
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        dedup_corpus_stats_manifest,
    )

    sf_dir = SF_SMOKE
    got = dedup_corpus_stats_manifest(
        spark,
        sf_dir,
        str(tmp_path / "manifest"),
        str(tmp_path / "accepted"),
        str(tmp_path / "ckpt"),
    )
    # (b) equality vs the batch chain: min-doc_id rep per digest, then
    # the identical token_stats expression tree
    corpus = load_table(spark, sf_dir, "documents")
    reps = (
        corpus.filter(F.col("text").isNotNull())
        .groupBy(F.sha2("text", 256).alias("digest"))
        .agg(F.min("doc_id").alias("rep_id"))
        .select("rep_id")
    )
    exp = token_stats(corpus.join(reps, corpus.doc_id == reps.rep_id, "leftsemi"))
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(got.collect()) == key(exp.collect())


def test_exact_dedup_manifest_sink_replay_idempotent(spark, tmp_path):
    """The crash-replay guarantee (r9 ADVICE #2): out_dir is the single
    source of truth — a foreachBatch REPLAY of already-committed batches
    (simulated here by deleting the checkpoint and re-draining the same
    source) anti-joins against out_dir itself, recomputes fresh as
    empty, and appends nothing: no lost rows, no duplicates. Under the
    old manifest-anti-join design this replay would have found the
    digests already in the manifest and permanently dropped them from
    out_dir had the first run crashed between the two appends."""
    import shutil

    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        exact_dedup_manifest_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "w0.parquet"))

    manifest = str(tmp_path / "manifest")
    out = str(tmp_path / "accepted")

    def drain(ckpt: str) -> None:
        q = exact_dedup_manifest_sink(
            (
                spark.readStream.schema("doc_id long, text string")
                .parquet(str(src / "w*.parquet"))
            ),
            manifest,
            out,
            ckpt,
            available_now=True,
        )
        q.awaitTermination(300)

    drain(str(tmp_path / "ckpt"))
    first = sorted(
        (r.digest, r.rep_id) for r in spark.read.parquet(out).collect()
    )
    assert len(first) == 2  # alpha (rep 1), beta (rep 2)

    # Full replay: fresh checkpoint, same source → every batch re-runs.
    shutil.rmtree(tmp_path / "ckpt")
    drain(str(tmp_path / "ckpt2"))
    replayed = sorted(
        (r.digest, r.rep_id) for r in spark.read.parquet(out).collect()
    )
    assert replayed == first  # unchanged: no dupes, no losses


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
            _chopped_stream(spark, tmp_path, rows, 4), idle_timeout_ms=None
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
            _chopped_stream(spark, tmp_path, rows, 3), thr=50, idle_timeout_ms=None
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
            _chopped_stream(spark, tmp_path, rows, 2), thr=50, idle_timeout_ms=None
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
            idle_timeout_ms=None,
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


def test_ewma_reordered_bit_equals_in_order(spark, tmp_path):
    """ewma_halflife_reordered under REAL multi-batch chop with
    out-of-order arrival inside the reorder bound: the committed fold
    runs in global (ms, event_id) order regardless of arrival order, so
    the drained level is BIT-EQUAL to the in-order Python fold (the
    t20s op-order-identity argument, now robust to bounded disorder).
    NULLs skip; a sample arriving past its reorder horizon raises
    loudly instead of folding out of order."""
    import pytest

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        ewma_halflife_reordered,
    )

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
        ewma_halflife_reordered(
            _chopped_stream(spark, tmp_path, rows_arrival, 4),
            hl_ms=HL,
            reorder_ms=RO,
            idle_timeout_ms=None,
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
            ewma_halflife_reordered(
                _chopped_stream(spark, bad_dir, bad, 3),
                hl_ms=HL,
                reorder_ms=RO,
                idle_timeout_ms=None,
            ),
            "append",
        ).collect()


def test_ewma_reordered_boundary_displacement(spark, tmp_path):
    """A sample arriving displaced EXACTLY reorder_ms sits inside the
    contract (the late-arrival guard admits ms == hi - reorder_ms) and
    must fold bit-equal to the in-order recurrence: the commit cut is
    strictly-below-horizon (r11 ADVICE — committing ms <= hi - reorder_ms
    let a boundary arrival fold after its already-committed same-ms
    peers, breaking the documented (ms, event_id) fold order)."""
    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        ewma_halflife_reordered,
    )

    HL, RO = 600_000, 300_000
    seq = [(0, 10.0), (0, 12.0), (300_000, 8.0), (700_000, 20.0), (900_000, 4.0)]
    rows_sorted = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(seq)
    ]
    # arrival: eid1 (ms 0), eid2 (ms 300_000 → horizon reaches 0; the
    # pre-fix commit took eid1 here), THEN eid0 at ms 0 — displacement
    # exactly RO, admitted by the guard — then the in-order suffix;
    # one file per micro-batch so each arrival is its own commit point
    order = [1, 2, 0, 3, 4]
    out = run_to_batch(
        ewma_halflife_reordered(
            _chopped_stream(spark, tmp_path, [rows_sorted[i] for i in order], 5),
            hl_ms=HL,
            reorder_ms=RO,
            idle_timeout_ms=None,
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


def test_alert_for_duration_reordered_bit_equal(spark, tmp_path):
    """alert_for_duration_reordered under real multi-batch chop with
    bounded disorder (r12, VERDICT r11 task #5): the max-VERSION drain
    per (key, island_seq) reproduces the in-order island set exactly —
    including the SPLIT hazard the in-order max-n drain would get
    wrong: a speculative island is emitted spanning 200k–400k (n=2),
    then a LATE non-breaching sample lands inside it, splitting it into
    a closed 1-sample island and a new island — the stale n=2 row must
    lose. A sample past its reorder horizon raises loudly."""
    import pytest

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        alert_for_duration_reordered,
    )

    RO, THR = 300_000, 10.0
    seq = [
        (0, 20.0),        # island 1 opens
        (100_000, 5.0),   # closes island 1
        (200_000, 30.0),  # island 2 opens
        (250_000, 6.0),   # closes island 2 — ARRIVES LATE (the split)
        (400_000, 40.0),  # island 3 opens
        (600_000, 50.0),  # extends island 3
        (700_000, 4.0),   # closes island 3
        (900_000, 60.0),  # island 4 opens (provisional at drain)
    ]
    rows_sorted = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(seq)
    ]
    # the late non-breach (eid 3) arrives after the 400k breach was seen
    # and a speculative island 200k-400k (n=2) was already emitted;
    # displacement 150k < RO, inside the contract
    order = [0, 1, 2, 4, 3, 5, 6, 7]
    out = run_to_batch(
        alert_for_duration_reordered(
            _chopped_stream(spark, tmp_path, [rows_sorted[i] for i in order], 8),
            thr=THR,
            reorder_ms=RO,
            idle_timeout_ms=None,
        ),
        "append",
    )
    drained = out.collect()
    # the split hazard really occurred: some emission carried seq 2 with
    # n=2 (the stale pre-split speculative island)
    assert any(
        r["island_seq"] == 2 and r["n_samples"] == 2 for r in drained
    ), "test setup no longer exercises the split hazard"
    # drain: max-version row per island_seq
    best = {}
    for r in drained:
        k = r["island_seq"]
        if k not in best or r["version"] > best[k]["version"]:
            best[k] = r
    got = {
        k: (r["island_start"], r["island_end"], r["n_samples"])
        for k, r in best.items()
    }
    # in-order authority: the same fold over the SORTED sequence
    want, open_isl, s = {}, None, 0
    for t, v in seq:
        if v > THR:
            if open_isl is None:
                s += 1
                open_isl = [t, t, 1]
            else:
                open_isl[1], open_isl[2] = t, open_isl[2] + 1
        elif open_isl is not None:
            want[s] = tuple(open_isl)
            open_isl = None
    if open_isl is not None:
        want[s] = tuple(open_isl)
    assert got == want == {
        1: (0, 0, 1),
        2: (200_000, 200_000, 1),
        3: (400_000, 600_000, 2),
        4: (900_000, 900_000, 1),
    }
    # a sample past its horizon raises loudly (displacement > RO)
    bad = [rows_sorted[i] for i in [0, 1, 2, 4, 5, 3, 6, 7]]  # 250k after 600k
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    with pytest.raises(Exception, match="reorder horizon"):
        run_to_batch(
            alert_for_duration_reordered(
                _chopped_stream(spark, bad_dir, bad, 8),
                thr=THR,
                reorder_ms=RO,
                idle_timeout_ms=None,
            ),
            "append",
        ).collect()


def test_time_weighted_avg_reordered_integer_equal(spark, tmp_path):
    """time_weighted_avg_reordered under multi-batch chop with bounded
    disorder (incl. a displacement-exactly-reorder_ms arrival): the
    drained max-n accumulators are INTEGER-equal to the in-order
    trapezoidal fold — the last in-order-precondition op on the r11
    watch list gets its production twin. Past-horizon arrival raises."""
    import pytest

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _round_half_up,
        time_weighted_avg_reordered,
    )

    RO = 300_000
    seq = [
        (0, 10.5), (100_000, 12.25), (150_000, None), (400_000, 8.0),
        (700_000, 20.0), (900_000, 4.75), (1_200_000, 16.0),
    ]
    rows_sorted = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(seq)
    ]
    # eid0 (ms 0) arrives AFTER eid3 (ms 400k)? displacement would be
    # 400k > RO — instead: swap neighbors within the bound, plus one
    # boundary case (eid1 at 100k arrives when hi = 400k → displacement
    # exactly 300k, admitted)
    order = [0, 2, 3, 1, 4, 5, 6]
    out = run_to_batch(
        time_weighted_avg_reordered(
            _chopped_stream(spark, tmp_path, [rows_sorted[i] for i in order], 7),
            reorder_ms=RO,
            idle_timeout_ms=None,
        ),
        "append",
    )
    best = max(out.collect(), key=lambda r: r["n_samples"])
    n = m = lv = span = num = 0
    for t, v in seq:
        if v is None:
            continue
        v100 = int(_round_half_up(v * 100, 0))
        if n > 0:
            num += (lv + v100) * (t - m)
            span += t - m
        n += 1
        m, lv = t, v100
    assert best["n_samples"] == n == 6
    assert best["span_ms"] == span and best["num"] == num  # integer-equal
    # past the horizon → loud failure
    bad = [rows_sorted[i] for i in [0, 2, 3, 4, 1, 5, 6]]  # 100k after 700k
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    with pytest.raises(Exception, match="reorder horizon"):
        run_to_batch(
            time_weighted_avg_reordered(
                _chopped_stream(spark, bad_dir, bad, 7),
                reorder_ms=RO,
                idle_timeout_ms=None,
            ),
            "append",
        ).collect()


def test_holt_winters_reordered_bit_equal(spark, tmp_path):
    """holt_winters_reordered under multi-batch chop with bounded
    disorder (r13, VERDICT r12 task #6 — the op-order-identity kernel
    the VERDICT named as the interesting case): the committed sf/tf
    recurrence applies in global (ms, event_id) order regardless of
    arrival order, so the drained max-n row is BIT-EQUAL to the
    IN-ORDER twin's on the same samples — level, trend and forecast
    compared with ==, not approx. NULLs skip; same-ms peers exercise
    the event_id tiebreak; a past-horizon arrival raises loudly."""
    import pytest

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        holt_winters, holt_winters_reordered,
    )

    RO = 300_000
    seq = [
        (0, 5.0), (100_000, 6.25), (100_000, 4.5), (150_000, None),
        (400_000, 8.0), (650_000, 7.75), (900_000, 9.0),
        (1_100_000, 10.5), (1_150_000, 2.0), (1_400_000, 12.75),
    ]
    rows_sorted = [
        {"event_id": i, "event_type": "m", "user_id": 1, "time": t, "value": v}
        for i, (t, v) in enumerate(seq)
    ]
    # bounded disorder: displaced neighbors (incl. the same-ms pair 1/2
    # swapped) — every displacement under RO
    order = [2, 1, 0, 3, 4, 6, 5, 7, 8, 9]
    out_ro = run_to_batch(
        holt_winters_reordered(
            _chopped_stream(
                spark, tmp_path, [rows_sorted[i] for i in order], 4
            ),
            reorder_ms=RO,
            idle_timeout_ms=None,
        ),
        "append",
    ).collect()
    in_dir = tmp_path / "in_order"
    in_dir.mkdir()
    out_in = run_to_batch(
        holt_winters(
            _chopped_stream(spark, in_dir, rows_sorted, 4),
            idle_timeout_ms=None,
        ),
        "append",
    ).collect()
    auth_ro = max(out_ro, key=lambda r: r["n_samples"])
    auth_in = max(out_in, key=lambda r: r["n_samples"])
    assert auth_ro["n_samples"] == auth_in["n_samples"] == 9
    assert auth_ro["hw_level"] == auth_in["hw_level"]      # bit-exact
    assert auth_ro["hw_trend"] == auth_in["hw_trend"]      # bit-exact
    assert auth_ro["hw_forecast"] == auth_in["hw_forecast"]
    # past-horizon arrival (displacement > RO) raises loudly
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    bad = [rows_sorted[i] for i in [1, 2, 4, 5, 0, 6, 7, 8, 9]]
    with pytest.raises(Exception, match="reorder horizon"):
        run_to_batch(
            holt_winters_reordered(
                _chopped_stream(spark, bad_dir, bad, 3),
                reorder_ms=RO,
                idle_timeout_ms=None,
            ),
            "append",
        ).collect()


def test_streaming_rate_reordered_bit_equal(spark, tmp_path):
    """streaming_rate_reordered under multi-batch chop with bounded
    disorder (r13, task #6): the argmax(seen)-per-event_id drain pick
    reproduces the IN-ORDER twin's per-sample rows bit-exactly — a
    committed row is computed with exactly the in-order frame, and the
    final batch's speculative rows fold the whole suffix in sorted
    order. The drained set mixes committed and speculative rows (both
    paths exercised); a past-horizon arrival raises loudly."""
    import pytest

    from prometheus_remote_kinesis_spark.streaming.queries import run_to_batch
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        streaming_rate, streaming_rate_reordered,
    )

    RO = 130_000
    vals = [1.0, 2.5, 4.0, 7.5, 1.2, None, 3.0, 9.9, 12.4, 15.0, 20.25, 21.0]
    rows_sorted = [
        {
            "event_id": i, "event_type": "m", "user_id": 1,
            "time": i * 65_000, "value": v,
        }
        for i, v in enumerate(vals)
    ]
    order = [1, 0, 2, 4, 3, 5, 6, 8, 7, 9, 10, 11]  # displacement 65 s < RO
    out_ro = run_to_batch(
        streaming_rate_reordered(
            _chopped_stream(
                spark, tmp_path, [rows_sorted[i] for i in order], 5
            ),
            reorder_ms=RO,
            idle_timeout_ms=None,
        ),
        "append",
    ).collect()
    picked = {}
    for r in out_ro:
        if r["event_id"] not in picked or r["seen"] > picked[r["event_id"]]["seen"]:
            picked[r["event_id"]] = r
    flags = {r["committed"] for r in picked.values()}
    assert flags == {True, False}  # both paths exercised in the drain
    in_dir = tmp_path / "in_order"
    in_dir.mkdir()
    out_in = run_to_batch(
        streaming_rate(
            _chopped_stream(spark, in_dir, rows_sorted, 4),
            idle_timeout_ms=None,
        ),
        "append",
    ).collect()
    want = {r["event_id"]: (r["rate_per_sec"], r["n_increases"]) for r in out_in}
    got = {
        eid: (r["rate_per_sec"], r["n_increases"]) for eid, r in picked.items()
    }
    assert got == want and len(got) == 11  # NULL sample emits no row
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    bad = [rows_sorted[i] for i in [2, 3, 4, 0, 6, 7, 8, 9, 10, 11]]
    with pytest.raises(Exception, match="reorder horizon"):
        run_to_batch(
            streaming_rate_reordered(
                _chopped_stream(spark, bad_dir, bad, 3),
                reorder_ms=RO,
                idle_timeout_ms=None,
            ),
            "append",
        ).collect()
