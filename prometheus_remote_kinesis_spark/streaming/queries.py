"""Streaming-EXECUTED driver queries (SURVEY.md §2.8 T5/T6/T9/T10).

The T-family batch twins in ``operators/time_windows.py`` prove the window
semantics against the DuckDB oracle; these queries prove the same results
come out of the actual Structured Streaming execution path: a file
``readStream`` over the driver's parquet, the identical expression tree or
stateful operator, an ``availableNow`` trigger, and a memory sink. Each one
registers with the SAME oracle as its batch twin — the driver hash-compares
the streaming output against DuckDB, so the streaming engine itself is
inside the correctness gate, not just its batch shadow.

``availableNow`` drains the whole source then stops (the reference's
"consume the backlog and exit" shape); windowed aggregations run in
``complete`` output mode so no window is withheld behind the watermark at
stream end, making the result exactly the batch answer. Stateless dedup and
arbitrary-state operators emit in ``append`` mode as rows are processed.

At scale nothing here changes: the same queries run with
``trigger(processingTime=...)`` against a Kinesis/Kafka source and a real
sink; memory-sink materialization is a test-harness stand-in only.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prometheus_remote_kinesis_spark.operators.time_windows import (
    T5_ORACLE,
    T6_ORACLE,
    T7_ORACLE,
    T14_ORACLE,
    T15_ORACLE,
    T16_ORACLE,
    T18_ORACLE,
    T20_ORACLE,
    T21_ORACLE,
    T22_ORACLE,
    T23_ORACLE,
    T24_ORACLE,
    T25_ORACLE,
    T26_ORACLE,
    extrapolated_rate_1d,
    T27_ORACLE,
    T28_ORACLE,
    T30_ORACLE,
    T37_ORACLE,
    T39_FOR_MS,
    T39_ORACLE,
    T39_THR,
    T41_HL_MS,
    T41_ORACLE,
    sliding_rollup_10min,
    tumbling_rollup_5min,
    user_sessions,
)
from prometheus_remote_kinesis_spark.llm.dedup import (
    D14_ORACLE,
    L1_ORACLE,
    md5_band_keys,
)
from prometheus_remote_kinesis_spark.llm.multimodal import (
    L6B_ORACLE,
    extract_features,
    synthesize_media_mix,
)
from prometheus_remote_kinesis_spark.llm.pipeline import (
    D13_ORACLE,
    D17_ORACLE,
    explode_segments,
    reassemble_from_keepers,
    segment_keepers,
)
from prometheus_remote_kinesis_spark.llm.similarity import dot
from prometheus_remote_kinesis_spark.llm.text import L5_ORACLE, token_stats
from prometheus_remote_kinesis_spark.operators.aggregates import A3C_ORACLE, A14_ORACLE
from prometheus_remote_kinesis_spark.operators.relational import _M2_CDC
from prometheus_remote_kinesis_spark.registry import register
from prometheus_remote_kinesis_spark.sources.tables import (
    _NANOS_TS_COLUMNS,
    _normalize_timestamps,
    corpus_max_ms,
    load_table,
)

_qname_counter = itertools.count()


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` twin of ``sources.tables.load_table``: stream one
    driver parquet table as a file source.

    FileStreamSource wants a directory. When ``<name>.parquet`` IS a
    directory (the layout every Spark/production writer produces), it is
    the stream source directly; the driver's testdata instead ships each
    table as a single FILE, so there the sf dir is the base path and
    ``pathGlobFilter`` selects the one table file — without the isdir
    branch the glob matches zero part-files inside a directory table and
    the stream silently reads NOTHING. TIMESTAMP(NANOS) columns get the
    same nanosAsLong + µs conversion as the batch reader.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema  # footer-only read
    if os.path.isdir(path):
        df = spark.readStream.schema(schema).parquet(path)
    else:
        df = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return _normalize_timestamps(spark, df)


# Last drained query's progress events (dicts, one per micro-batch) —
# observability hook for tools/probe_stateful_scale.py: stateOperators[*]
# carries numRowsTotal / memoryUsedBytes, the measured (not designed)
# state-store footprint SCALE.md records. Overwritten per run_to_batch call.
last_run_progress: list[dict] = []


def run_to_batch(streaming_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) through a
    memory sink and return the materialized result as a batch DataFrame."""
    global last_run_progress
    name = f"stream_result_{next(_qname_counter)}"
    query = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skt_ckpt_"))
        .start()
    )
    query.awaitTermination()
    import json as _json

    last_run_progress = [_json.loads(p.json) for p in query.recentProgress]
    return streaming_df.sparkSession.table(name)


@register("t5s_tumbling_5min_stream", family="T5-stream", oracle=T5_ORACLE)
def t5s_tumbling_5min_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t5's tumbling rollup executed BY the streaming engine — identical
    expression tree (``tumbling_rollup_5min``), identical oracle."""
    return run_to_batch(tumbling_rollup_5min(stream_table(spark, sf_dir, "events")), "complete")


@register("t6s_sliding_10min_stream", family="T6-stream", oracle=T6_ORACLE)
def t6s_sliding_10min_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t6's sliding-window rollup executed by the streaming engine."""
    return run_to_batch(sliding_rollup_10min(stream_table(spark, sf_dir, "events")), "complete")


@register("t7s_user_sessions_stream", family="T7-stream", oracle=T7_ORACLE)
def t7s_user_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t7's session windows executed by the streaming engine — the
    stateful session-merge path (complete mode retains all session state,
    so no watermark is needed and the result equals the batch answer)."""
    return run_to_batch(user_sessions(stream_table(spark, sf_dir, "events")), "complete")


@register(
    "t9s_stream_dedup",
    family="T9",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def t9s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 streaming dedup, driver-checkable: the event stream unioned with
    itself (every row a duplicate — the reference's double-send-on-retry
    failure mode, kinesis.go:92,191-192) must dedup back to exactly the
    original table. ``dropDuplicatesWithinWatermark`` keeps per-key state
    only inside the watermark horizon — bounded state at 100 TB, unlike an
    unbounded ``dropDuplicates``."""
    events = stream_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    doubled = events.unionByName(events)
    deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return run_to_batch(deduped, "append")


@register(
    "t12s_stream_stream_join",
    family="T12",
    oracle="""
        SELECT l.event_id AS id_l, r.event_id AS id_r,
               l.user_id AS user_id,
               round(l.value - r.value, 6) AS value_gap
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND r.ts BETWEEN l.ts - INTERVAL 60 MINUTE AND l.ts
         AND l.event_id <> r.event_id
    """,
)
def t12s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join EXECUTED BY the streaming engine:
    every event pairs with the same user's events in the trailing hour —
    the correlate-two-live-streams shape (e.g. remote-write samples vs an
    alert stream). Both sides carry watermarks and the join condition
    carries the time interval, so Spark derives a state-retention bound
    for each side (state is evicted once the watermark passes the
    interval) — bounded state on unbounded streams, the only shape that
    survives at 100 TB/day. Inner joins emit in the micro-batch the match
    is found, so availableNow + append drains to exactly the batch
    answer; the oracle is the equivalent batch interval join."""
    left = stream_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id_l"),
        "user_id",
        F.col("ts").alias("ts_l"),
        F.col("value").alias("v_l"),
    )
    right = stream_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id_r"),
        F.col("user_id").alias("user_r"),
        F.col("ts").alias("ts_r"),
        F.col("value").alias("v_r"),
    )
    joined = (
        left.withWatermark("ts_l", "2 hours")
        .join(
            right.withWatermark("ts_r", "2 hours"),
            F.expr(
                "user_id = user_r"
                " AND ts_r BETWEEN ts_l - INTERVAL 60 MINUTES AND ts_l"
                " AND id_l != id_r"
            ),
        )
        .select(
            "id_l",
            "id_r",
            "user_id",
            F.round(F.col("v_l") - F.col("v_r"), 6).alias("value_gap"),
        )
    )
    return run_to_batch(joined, "append")


_T10_STREAM_ORACLE = """
    WITH d AS (
        SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS name,
               epoch_us(ts) // 1000 AS time, value,
               lag(value) OVER (PARTITION BY event_type, user_id ORDER BY ts) AS prev
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT name, time,
           round(value, 6) AS value,
           round(CASE WHEN prev IS NULL THEN NULL
                      WHEN value >= prev THEN value - prev
                      ELSE value END, 6) AS increase,
           CAST(sum(CASE WHEN prev IS NOT NULL AND value < prev
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY name ORDER BY time
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS resets
    FROM d
"""


def _event_series_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as RECORD_SCHEMA-shaped (name, time, value) series, streaming.
    (event_type, user_id, ms) is verified unique in the driver data, so no
    pre-collapse aggregation is needed — which matters because chaining a
    streaming aggregation before an arbitrary-state operator is not a
    supported stateful-operator composition."""
    return stream_table(spark, sf_dir, "events").select(
        F.concat_ws("/", "event_type", F.col("user_id").cast("string")).alias("name"),
        F.unix_millis("ts").alias("time"),
        "value",
    )


@register("t10s_counter_increase_stream", family="T10", oracle=_T10_STREAM_ORACLE)
def t10s_counter_increase_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful counter-increase operator (applyInPandasWithState)
    executed by the streaming engine and hash-checked against the SQL
    oracle — upgrading T10 from rows-only to oracle-checked."""
    from prometheus_remote_kinesis_spark.streaming.stateful import counter_increase

    out = counter_increase(_event_series_stream(spark, sf_dir))
    return run_to_batch(out, "append").select(
        "name",
        "time",
        F.round("value", 6).alias("value"),
        F.round("increase", 6).alias("increase"),
        "resets",
    )


_T17_STREAM_ORACLE = """
    WITH d AS (
        SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS name,
               epoch_us(ts) // 1000 AS time, value,
               CAST(round(value * 100) AS BIGINT) AS v100
        FROM events
        WHERE value IS NOT NULL
    ),
    s AS (
        SELECT name, time, value,
               count(*) OVER w       AS n,
               sum(v100) OVER w      AS sv,
               sum(v100 * v100) OVER w AS svv
        FROM d
        WINDOW w AS (PARTITION BY name ORDER BY time
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT name, time, round(value, 6) AS value,
           CASE WHEN n < 2 OR n * svv - sv * sv = 0 THEN NULL
                ELSE round((value - CAST(sv AS DOUBLE) / 100.0 / n)
                           / sqrt(CAST(n * svv - sv * sv AS DOUBLE)
                                  / (n * (n - 1)) / 10000.0), 4)
           END AS z,
           CAST(n AS BIGINT) AS n_prior
    FROM s
"""


@register("t17s_prefix_anomaly_stream", family="T10", oracle=_T17_STREAM_ORACLE)
def t17s_prefix_anomaly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-series anomaly detection (each sample z-scored
    against the running moments of its series' PRIOR samples) executed by
    the streaming engine via ``applyInPandasWithState`` and hash-checked
    against the batch SQL oracle. The state is three exact integers per
    series, so micro-batch boundaries can't perturb the output — the
    oracle equality IS the exactly-once/evolution-order test. Complements
    a11 (corpus-global moments, batch): this is the deployable
    alerting-path form — O(1) state, no lookback buffer, works on an
    unbounded stream."""
    from prometheus_remote_kinesis_spark.streaming.stateful import prefix_anomaly

    out = prefix_anomaly(_event_series_stream(spark, sf_dir))
    return run_to_batch(out, "append").select(
        "name",
        "time",
        F.round("value", 6).alias("value"),
        F.round("z", 4).alias("z"),
        "n_prior",
    )


_T17_BATCH_ORACLE = """
    WITH d AS (
        SELECT event_id, event_type, user_id, value,
               CAST(round(value * 100) AS BIGINT) AS v100, ts
        FROM events
        WHERE value IS NOT NULL
    ),
    s AS (
        SELECT event_id, event_type, user_id, value,
               count(*) OVER w         AS n,
               sum(v100) OVER w        AS sv,
               sum(v100 * v100) OVER w AS svv
        FROM d
        WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, user_id,
           CASE WHEN n < 2 OR n * svv - sv * sv = 0 THEN NULL
                ELSE round((value - CAST(sv AS DOUBLE) / 100.0 / n)
                           / sqrt(CAST(n * svv - sv * sv AS DOUBLE)
                                  / (n * (n - 1)) / 10000.0), 4)
           END AS z,
           CAST(n AS BIGINT) AS n_prior
    FROM s
"""


@register("t17_prefix_anomaly", family="T10", bench=True, oracle=_T17_BATCH_ORACLE)
def t17_prefix_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of t17s: the same prefix-moment z-scores written
    declaratively — one Window node of three integer prefix sums per
    series key, one shuffle. The imperative stateful form and this plan
    produce hash-identical output (shared oracle modulo key encoding),
    demonstrating the batch/streaming duality Spark's unified model
    promises — and giving the backfill path (reprocess history in batch,
    then hand the live tail to t17s with state carried forward)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type", "user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # NULL staleness markers excluded on all three paths (here, the
    # oracle's WHERE, prefix_anomaly's per-row skip) — r4-ADVICE alignment.
    d = events.filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        "user_id",
        "value",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("v100"),
    )
    s = d.select(
        "event_id",
        "event_type",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v100").over(w).alias("sv"),
        F.sum(F.col("v100") * F.col("v100")).over(w).alias("svv"),
    )
    num = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    mean = F.col("sv").cast("double") / 100.0 / F.col("n")
    var = num.cast("double") / (F.col("n") * (F.col("n") - 1)) / 10000.0
    return s.select(
        "event_id",
        "event_type",
        "user_id",
        F.when((F.col("n") < 2) | (num == 0), F.lit(None).cast("double"))
        .otherwise(F.round((F.col("value") - mean) / F.sqrt(var), 4))
        .alias("z"),
        F.col("n").alias("n_prior"),
    )


T19S_ORACLE = """
    SELECT c_mktsegment,
           count(*)                                                  AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN e.event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT)               AS n_purchases
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
"""


@register("t19s_stream_static_join", family="T19-stream", oracle=T19S_ORACLE)
def t19s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, STREAMING-EXECUTED: the event stream
    joins the static ``customer`` dimension (broadcast — the canonical
    "enrich a 100 TB stream with a small dim" shape; no state, no watermark,
    the static side is re-broadcast per micro-batch) and rolls up per market
    segment in complete mode. Distinct aggregates are unsupported on streams
    (Spark raises), so the rollup uses conditional counts; a3b's mergeable
    HLL partials are the streaming-safe distinct-count path. Oracle is the
    equivalent batch join+GROUP BY, so the streaming join operator itself
    sits inside the hash-match gate. The value rollup is emitted as integer
    cents (the v100 convention) — an all-integer output cannot hash-diverge
    on float-tie rounding.

    ROUND-5 ROOT CAUSE of the r3/r4 driver-red/local-green mystery: the
    oracle's ``sum(BIGINT)`` / ``sum(CASE...)`` returned DuckDB HUGEINT
    (int128). ``fetchall()`` (tools/verify_local.py) converts HUGEINT to a
    Python int → green locally; a harness materializing via pandas
    (``rel.df()`` → float64: ``8624653.0``) or Arrow (``rel.arrow()`` →
    decimal128(38,0)) hashes a different representation than Spark's
    BIGINT ``8624653`` → hash-red with rows 5/5 and schema ok, exactly
    CORRECTNESS_r03/r04. Fixed by ``CAST(sum(...) AS BIGINT)`` on every
    integer sum; tools/audit_oracle_types.py + the pinning pytest now
    forbid HUGEINT/DECIMAL/list outputs fleet-wide. The t19b/t19c probe
    variants (below) bisect the remaining layers per VERDICT r4 task #1."""
    events = stream_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
    )
    return run_to_batch(agg, "complete")


T19B_ORACLE = """
    SELECT c_mktsegment,
           count(*) AS n_events,
           CAST(sum(CASE WHEN e.event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
"""


@register("t19b_counts_only", family="T19-stream", oracle=T19B_ORACLE)
def t19b_counts_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t19s bisect probe (a), VERDICT r4 task #1: the IDENTICAL
    stream-static broadcast join and complete-mode rollup, but emitting
    ONLY counts — no value arithmetic of any kind. If this is green while
    t19s is red in the driver gate, the divergence lives in the value
    column's representation, not in streaming row membership. (Round-5
    analysis says t19s's real bug was the oracle's HUGEINT output type —
    this probe plus t19c confirms or refutes that in the driver's own
    environment.)"""
    events = stream_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
    )
    return run_to_batch(agg, "complete")


T19C_ORACLE = """
    SELECT c_mktsegment,
           CAST(sum(e.user_id) AS BIGINT) AS sum_uid
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
"""


@register("t19c_membership_probe", family="T19-stream", oracle=T19C_ORACLE)
def t19c_membership_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t19s bisect probe (b), VERDICT r4 task #1: same stream-static
    join, output = sum of the join key itself per segment — rounding-free
    integer math that is maximally sensitive to exactly WHICH event rows
    survive the streaming read + per-micro-batch broadcast join. Red here
    with t19b green would mean driver-side row membership differs;
    green+green localizes any remaining t19s red to the cents column."""
    events = stream_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(F.sum("user_id").alias("sum_uid"))
    return run_to_batch(agg, "complete")


@register("t20s_holt_winters_stream", family="T20-stream", oracle=T20_ORACLE)
def t20s_holt_winters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t20's Holt-Winters recurrence executed BY the streaming engine:
    ``applyInPandasWithState`` carries (n, level, trend) per series plus
    the reorder buffer (``stateful._reorder_fold`` at ``reorder_ms=0``:
    the samples at the series' highest ms), and the Python fold applies
    the recurrence in the identical operand order as the batch
    ``aggregate`` fold and the recursive-CTE oracle, over the identical
    (time, event_id) sample order — same IEEE doubles on all three paths.
    A sample below a series' highest ms in a later micro-batch raises
    instead of folding out of order. Each micro-batch emits one summary
    row per touched series, so under multi-batch chop the drain holds
    intermediate rows too; n_samples grows monotonically per series, so
    the FINAL state is the max-n row — a WindowGroupLimit-prunable top-1
    per series — and the filtered output registers directly against
    t20's recursive-CTE oracle (promoted from rows-only in round 4).
    Exact stream==batch equality is additionally pinned by
    test_holt_winters_stream_matches_batch."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import holt_winters

    records = stream_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = holt_winters(records)
    drained = run_to_batch(out, "append")
    w = Window.partitionBy("event_type", "user_id").orderBy(F.desc("n_samples"))
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "user_id",
            F.col("n_samples").cast("int").alias("n_samples"),
            F.round("hw_level", 6).alias("hw_level"),
            F.round("hw_trend", 6).alias("hw_trend"),
            F.round("hw_forecast", 6).alias("hw_forecast"),
        )
    )


@register("t37s_time_weighted_avg_stream", family="T14-stream", oracle=T37_ORACLE)
def t37s_time_weighted_avg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t37's trapezoidal time-weighted average MAINTAINED BY the
    streaming engine: ``applyInPandasWithState`` carries five integers
    per series (n, last_ms, last_v100, span_ms, num) plus the reorder
    buffer of ``stateful._reorder_fold`` at ``reorder_ms=0`` (the samples
    at the series' highest ms) — state independent of stream length,
    every update integer-exact, so a chop cannot move a bit (the t17s
    argument; t20s's float twin relies on op-order identity instead); a
    sample below a series' highest ms in a later micro-batch raises.
    Each micro-batch emits one summary row per touched series;
    n_samples grows monotonically, so the max-n row is authoritative
    (t20s's emission protocol, WindowGroupLimit-pruned top-1), zero-span
    series drop on both sides, and the drain applies
    t37's IDENTICAL divide-once + floor-truncate expression chain to the
    drained integers — registering directly against t37's oracle."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        time_weighted_avg,
    )

    records = stream_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = time_weighted_avg(records)
    drained = run_to_batch(out, "append")
    w = Window.partitionBy("event_type", "user_id").orderBy(F.desc("n_samples"))
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("span_ms") > 0))
        .select(
            "event_type",
            "user_id",
            "n_samples",
            "span_ms",
            (
                F.floor(
                    F.col("num").cast("double")
                    / F.col("span_ms").cast("double")
                    / 200.0
                    * 1e6
                )
                / 1e6
            ).alias("twa"),
        )
    )


@register("t39s_alert_for_duration_stream", family="T28-stream", oracle=T39_ORACLE)
def t39s_alert_for_duration_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t39's alert `for:` state machine EXECUTED BY the streaming engine
    — the form that actually pages someone: applyInPandasWithState keeps
    the ONE open island per alert key (a few integers) plus the reorder
    buffer of ``stateful._reorder_fold`` at ``reorder_ms=0`` (the samples
    at the key's highest ms; a sample below it in a later micro-batch
    raises). Committed closures emit once, final; each batch re-emits
    its speculative islands, every row stamped with ``version`` = samples
    seen for the key, and the drain keeps the max-version row per (key,
    island_seq) (the monotone sequence — not island_start — is the
    island identity, so two islands opening on the same truncated ms
    stay distinct). fired / fire_ms derive in the drain with t39's
    identical integer expressions — registers against t39's oracle.
    Where the batch form needs banded gaps-islands to avoid the
    low-cardinality-window disease, the streaming form is IMMUNE by
    construction: the state machine never buffers more than the open
    island and the samples at the key's highest ms."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        alert_for_duration,
    )

    records = stream_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = alert_for_duration(records, thr=T39_THR)
    drained = run_to_batch(out, "append")
    w = Window.partitionBy("event_type", "island_seq").orderBy(
        F.desc("version")
    )
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "island_start",
            "island_end",
            "n_samples",
            (F.col("island_end") - F.col("island_start") >= T39_FOR_MS).alias(
                "fired"
            ),
            F.when(
                F.col("island_end") - F.col("island_start") >= T39_FOR_MS,
                F.col("island_start") + T39_FOR_MS,
            )
            .cast("bigint")
            .alias("fire_ms"),
        )
    )


@register("t41s_ewma_halflife_stream", family="T20-stream", oracle=T41_ORACLE)
def t41s_ewma_halflife_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t41's half-life EWMA MAINTAINED BY the streaming engine:
    applyInPandasWithState carries (n, last_ms, level) per series — the
    exact chunk-handoff t41's docstring prescribes — plus the reorder
    buffer of ``stateful._reorder_fold`` at ``reorder_ms=0`` (the samples
    at the series' highest ms; a sample below it in a later micro-batch
    raises), and applies the identical dyadic-decay recurrence in the
    identical operand order (Python IEEE doubles ≡ the batch fold ≡ the
    recursive CTE; the decay 1/2^g is exact, so chop cannot move a bit).
    Max-n drain row per series is authoritative (t20s protocol); the
    floor-truncation applies in the drain expression — registers
    against t41's oracle."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import ewma_halflife

    records = stream_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = ewma_halflife(records, hl_ms=T41_HL_MS)
    drained = run_to_batch(out, "append")
    w = Window.partitionBy("event_type", "user_id").orderBy(F.desc("n_samples"))
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "user_id",
            "n_samples",
            (F.floor(F.col("ewma_raw") * 1e6) / 1e6).alias("ewma"),
        )
    )


PQS1_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
"""


@register("pqs1_promql_sum_over_time_stream", family="PQ-stream", oracle=PQS1_ORACLE)
def pqs1_promql_sum_over_time_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum_over_time(purchase[30d])`` EXECUTED BY the streaming
    engine — the live-dashboard form of the pq-family compiler's kernel:
    one complete-mode groupBy(user) holding exact integer cents plus the
    series' (min, max) ms — three mergeable partials, chop-invariant
    because integer sums are — and the drain applies the compiler's
    identical divide-once + floor finalize. The [30d] window covers the
    corpus only while its span stays under 30 d (true for the driver
    corpora, ~29.998 d); the drain VERIFIES that from the drained
    min/max partials and raises loudly instead of silently dropping the
    cut — and the oracle CARRIES the cut, so a grown corpus fails the
    hash gate red rather than green-by-accident."""
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.where(F.col("value").isNotNull())
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_millis("ts").alias("ms"),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("num"),
            F.min("ms").alias("lo"),
            F.max("ms").alias("hi"),
        )
    )
    drained = run_to_batch(agg, "complete")
    # Coverage guard: the oracle's window is (T−30d, T] with T = the
    # GLOBAL max event ms (the compiler's T, corpus_max_ms), so the uncut
    # streaming sum equals the oracle iff T − min(purchase ms) < 30d.
    # Purchase-only span is NOT sufficient: non-purchase events later
    # than the last purchase push T right and can cut early purchases
    # while a span check stays silent (r10 ADVICE).
    t_global = corpus_max_ms(spark, sf_dir)
    lo_min = drained.agg(F.min("lo").alias("lo")).collect()[0]["lo"]
    if lo_min is not None and t_global - lo_min >= 2592000000:
        raise RuntimeError(
            f"oldest purchase is {t_global - lo_min} ms before the global "
            "max event ts (>= the 30d window): the no-cut streaming form "
            "no longer covers the oracle's cut — add the t28s bucket-cut flip"
        )
    return drained.select(
        F.col("user_id").cast("bigint").alias("user"),
        (
            F.floor(F.col("num").cast("double") / F.lit(100).cast("double") * 1e6)
            / 1e6
        ).alias("value"),
    )


PQS2_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events)
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(count(*) AS DOUBLE) / CAST(1 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM events, b
    WHERE event_type = 'click' AND value IS NOT NULL
      AND regexp_full_match(CAST(user_id AS VARCHAR), '1.?')
      AND epoch_us(ts) // 1000 > t - 2592000000
      AND epoch_us(ts) // 1000 <= t
    GROUP BY 1
"""


@register("pqs2_promql_regex_count_stream", family="PQ-stream", oracle=PQS2_ORACLE)
def pqs2_promql_regex_count_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``count_over_time(click{user=~"1.?"}[30d])`` EXECUTED BY
    the streaming engine — pq9's regex-MATCHER scan predicate (the
    remote_read anchoring, ``rlike('^(?:1.?)$')``) applied inside a
    live stream, with pqs1's kernel shape: one complete-mode
    groupBy(user) holding (count, min ms) — two mergeable partials,
    chop-invariant because counts are — and the compiler's identical
    divide-once + floor finalize at drain. Coverage guard is pqs1's
    CORRECTED r11 form: the drained min(matched ms) is compared against
    the GLOBAL max event ts (the compiler's T, corpus_max_ms), so
    non-click events extending past the last matched click cannot slip
    the oracle's 30d cut past a silent guard."""
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.where(F.col("value").isNotNull())
        .where(F.col("event_type") == "click")
        .where(F.col("user_id").cast("string").rlike("^(?:1.?)$"))
        .select("user_id", F.unix_millis("ts").alias("ms"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("ms").alias("lo"),
        )
    )
    drained = run_to_batch(agg, "complete")
    t_global = corpus_max_ms(spark, sf_dir)
    lo_min = drained.agg(F.min("lo").alias("lo")).collect()[0]["lo"]
    if lo_min is not None and t_global - lo_min >= 2592000000:
        raise RuntimeError(
            f"oldest matched click is {t_global - lo_min} ms before the "
            "global max event ts (>= the 30d window): the no-cut streaming "
            "form no longer covers the oracle's cut — add the t28s "
            "bucket-cut flip"
        )
    return drained.select(
        F.col("user_id").cast("bigint").alias("user"),
        (
            F.floor(F.col("n").cast("double") / F.lit(1).cast("double") * 1e6)
            / 1e6
        ).alias("value"),
    )


@register(
    "t10bs_gap_fill_stream",
    family="T13-stream",
    oracle="""
    WITH s AS (
        SELECT event_type AS name, epoch_us(ts) // 1000 AS t, max(value) AS v
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    b AS (SELECT name, min(t) AS lo, max(t) AS hi FROM s GROUP BY name),
    g AS (SELECT name, unnest(range(lo, hi, 60000)) AS time FROM b)
    SELECT g.name, g.time, round(s.v, 6) AS value
    FROM g ASOF JOIN s ON g.name = s.name AND s.t <= g.time
    """,
)
def t10bs_gap_fill_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful LOCF gap-fill operator (applyInPandasWithState,
    O(1) state: last value + next pending grid time) EXECUTED BY the
    streaming engine and hash-checked against t10b's DuckDB ASOF-JOIN
    oracle — upgrading the grid-resample family from batch-only oracle
    coverage. Same text as ingest_queries.T10B_ORACLE (duplicated
    verbatim because oracles are registered at import time and this
    module imports before ingest_queries).

    Deterministic despite duplicate (name, ms) samples: the stateful op
    sorts each batch by (time, value) so the last value processed at a
    timestamp is the MAX — identical to the oracle's max(value) collapse
    — and a grid point is only emitted once a strictly later sample
    arrives, which reproduces the oracle's [lo, hi) range exactly on a
    completed (availableNow) drain."""
    from prometheus_remote_kinesis_spark.streaming.stateful import gap_fill

    records = stream_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("name"),
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = gap_fill(records, interval_ms=60_000)
    return run_to_batch(out, "append").select(
        "name", "time", F.round("value", 6).alias("value")
    )


@register("t23s_instant_vector_stream", family="T23-stream", oracle=T23_ORACLE)
def t23s_instant_vector_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t23's PromQL instant-vector selection EXECUTED BY the streaming
    engine. The eval time T (= corpus max) is unknowable until the
    stream drains, so the evaluation order flips: the stream keeps each
    series' LAST sample (complete-mode max/max_by — O(1) state per
    series, no window), and the drain applies the 5-minute staleness
    cut against the global max of those lasts. Equivalent to the batch
    filter-then-aggregate: a series' last-overall sample IS its
    last-in-window sample whenever it lies inside the window, and the
    global max over all samples equals the max over per-series lasts.
    Same oracle as batch t23."""
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.select(
            "event_type", "user_id", F.unix_millis("ts").alias("ms"), "value"
        )
        .groupBy("event_type", "user_id")
        .agg(
            F.max("ms").alias("sample_ms"),
            F.max_by("value", F.col("ms")).alias("value"),
        )
    )
    drained = run_to_batch(agg, "complete")
    t_eval = drained.agg(F.max("sample_ms").alias("eval_ms"))
    return (
        drained.crossJoin(F.broadcast(t_eval))
        .filter(F.col("sample_ms") >= F.col("eval_ms") - 300000)
        .select("event_type", "user_id", "sample_ms", "value", "eval_ms")
    )


@register("t27s_count_values_stream", family="T27-stream", oracle=T27_ORACLE)
def t27s_count_values_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t27's PromQL ``count_values`` EXECUTED BY the streaming engine.
    ``count(DISTINCT user_id)`` raises on a stream, so the distinct runs
    TWO-PHASE (a2b's pattern, streaming-executed): the complete-mode agg
    keys on the FINER (event_type, value_bucket, user_id) — map-side
    dedup of the series dimension — and the drain collapses to the
    bucket level where n_series counts the pre-deduped rows and
    n_samples sums their per-series counts. Exact (not HLL), one
    streaming pass; same oracle as the batch countDistinct form.

    NULL-user alignment is on the n_series dimension ONLY (r6 ADVICE):
    the oracle's count(*) n_samples COUNTS NULL-user samples while its
    count(DISTINCT user_id) n_series drops them, so NULL-user rows flow
    THROUGH the inner agg (they form their own per-bucket group, keeping
    n_samples complete) and the drain counts n_series with count(user_id)
    — SQL count-of-column skips NULLs, exactly countDistinct's NULL
    behavior after the inner dedup. Pinned on a NULL-user-injected corpus
    by tests/test_null_input.py::test_t27_family_null_users."""
    events = stream_table(spark, sf_dir, "events")
    inner = events.groupBy(
        "event_type", F.round("value", 0).alias("value_bucket"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    drained = run_to_batch(inner, "complete")
    return drained.groupBy("event_type", "value_bucket").agg(
        F.sum("n").cast("bigint").alias("n_samples"),
        F.count("user_id").alias("n_series"),
    )


@register("t24s_vector_matching_stream", family="T24-stream", oracle=T24_ORACLE)
def t24s_vector_matching_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t24's PromQL vector-to-vector binary ops EXECUTED BY the streaming
    engine — and the two-vector join COLLAPSED to one pass: a stream
    supports only one aggregation, so both instant vectors (errors,
    views) build as CONDITIONAL sums inside a single complete-mode
    groupBy(user) (the t19s trick), and PromQL's inner matching becomes
    the post-drain filter n_err > 0 AND n_view > 0 — series present in
    both vectors. The batch twin's two-aggregate join and this one-pass
    form register against the SAME oracle; the ratio/difference/compare
    arithmetic runs on exact integer counts, identical on both engines."""
    events = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "view")
    )
    agg = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
    )
    drained = run_to_batch(agg, "complete")
    return drained.filter((F.col("n_err") > 0) & (F.col("n_view") > 0)).select(
        "user_id",
        "n_err",
        "n_view",
        F.round(F.col("n_err").cast("double") / F.col("n_view"), 6).alias(
            "err_per_view"
        ),
        (F.col("n_err") - F.col("n_view")).alias("err_minus_view"),
        (F.col("n_err") > F.col("n_view")).alias("err_gt_view"),
    )


@register("t28s_slo_burn_alert_stream", family="T28-stream", oracle=T28_ORACLE)
def t28s_slo_burn_alert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t28's SRE multiwindow burn-rate alert EXECUTED BY the streaming
    engine (closes VERDICT r5 task #6 / r6 task #3). The eval point
    T = corpus max is unknowable until the stream drains and BOTH window
    predicates (1 h membership, 5 m membership) depend on it, so the
    t23s evaluation-order flip applies: the stream runs ONE complete-mode
    agg keyed on the finest distinguishing tuple (user_id, ms, is_err) —
    a map-side-combined count per (series, timestamp, class) — and the
    drain computes T = max(ms) over those partials, applies the two
    window cuts, and folds the four conditional sums weighted by the
    per-tuple counts. The drain arithmetic is t28's exactly (integer
    counts → one double division per ratio), so all three paths agree by
    construction; same oracle as batch t28.

    State bound: one row per distinct (user, timestamp, class) inside
    the retention horizon — the same O(distinct-samples) envelope as
    t9s's streaming dedup. A production deployment evaluates T as
    wall-clock per trigger and bounds this with a watermark-evicted
    sliding window; T-at-drain is what makes the result deterministic
    and oracle-checkable here."""
    events = stream_table(spark, sf_dir, "events")
    inner = (
        events.select(
            "user_id",
            F.unix_millis("ts").alias("ms"),
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
        .groupBy("user_id", "ms", "is_err")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = run_to_batch(inner, "complete")
    t_eval = drained.agg(F.max("ms").alias("t_eval"))
    s = drained.crossJoin(F.broadcast(t_eval)).filter(
        F.col("ms").between(F.col("t_eval") - 3600000, F.col("t_eval"))
    )
    in_short = (F.col("ms") >= F.col("t_eval") - 300000).cast("long")
    agg = s.groupBy("user_id").agg(
        F.sum(in_short * F.col("n")).alias("n_5m"),
        F.sum(F.col("is_err") * in_short * F.col("n")).alias("err_5m"),
        F.sum("n").alias("n_1h"),
        F.sum(F.col("is_err") * F.col("n")).alias("err_1h"),
    )
    ratio_5m = F.col("err_5m") * 1.0 / F.nullif(F.col("n_5m"), F.lit(0))
    ratio_1h = F.col("err_1h") * 1.0 / F.col("n_1h")
    return agg.select(
        "user_id",
        "n_5m",
        "err_5m",
        "n_1h",
        "err_1h",
        F.round(ratio_5m, 6).alias("ratio_5m"),
        F.round(ratio_1h, 6).alias("ratio_1h"),
        ((F.col("n_5m") > 0) & (ratio_5m >= 0.3) & (ratio_1h >= 0.3)).alias(
            "page_alert"
        ),
    )


@register("t26s_subquery_max_rate_stream", family="T26-stream", oracle=T26_ORACLE)
def t26s_subquery_max_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t26's PromQL subquery ``max_over_time(rate(m[5m])[1d:5m])``
    EXECUTED BY the streaming engine. The inner evaluation is a
    sequential per-series recurrence (reset-aware lag), which is exactly
    the stateful counter-increase operator t10s already runs — so the
    stream computes per-sample increases with applyInPandasWithState
    (O(1) state per series: last value + reset count) and the drain runs
    t26's two-level rollup (5 m bucket rates, then per-day max/min) on
    the emitted increases.

    Exactness bridge: values quantize to integer hundredths (t14g's
    measured property, max |value*100 − round| ≈ 4e-12), so the stream
    feeds the stateful op CENTS (round(value*100) — integer-exact in
    doubles) and the per-sample increases come out as exact integers.
    The drain sums cents per bucket, divides by 100.0 once (correctly
    rounded, identical to the oracle's DECIMAL→DOUBLE cast of the same
    exact rational), and applies the oracle's /300.0·1e6 floor-truncation
    — tie-free per CLAUDE.md. The oracle's first-sample CASE (prev IS
    NULL → 0.00) maps to coalesce(increase, 0) at the drain; reset
    semantics (v < prev → increase = v) are the operator's own. Same
    oracle as batch t26."""
    from prometheus_remote_kinesis_spark.streaming.stateful import counter_increase

    records = stream_table(spark, sf_dir, "events").select(
        F.concat_ws("/", "event_type", F.col("user_id").cast("string")).alias(
            "name"
        ),
        F.unix_millis("ts").alias("time"),
        F.round(F.col("value") * 100, 0).alias("value"),
    )
    out = counter_increase(records)
    drained = run_to_batch(out, "append").select(
        F.split_part(F.col("name"), F.lit("/"), F.lit(1)).alias("event_type"),
        F.split_part(F.col("name"), F.lit("/"), F.lit(2)).cast("bigint").alias(
            "user_id"
        ),
        (F.col("time") / F.lit(86400000)).cast("long").alias("day"),
        (F.col("time") / F.lit(300000)).cast("long").alias("bucket"),
        F.coalesce(F.col("increase"), F.lit(0.0)).alias("inc_cents"),
    )
    b = drained.groupBy("event_type", "user_id", "day", "bucket").agg(
        (
            F.floor(
                F.sum("inc_cents").cast("double") / 100.0 / 300.0 * 1e6
            )
            / 1e6
        ).alias("bucket_rate")
    )
    return b.groupBy("event_type", "user_id", "day").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_rate").alias("max_rate"),
        F.min("bucket_rate").alias("min_rate"),
    )


_T13S_ORACLE = """
    WITH s AS (
        SELECT event_type AS name, epoch_us(ts) // 1000 AS t, max(value) AS v
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    u AS (
        SELECT name, t AS ms, 1 AS side, v FROM s
        UNION ALL
        SELECT name, k * 3600000 AS ms, 0 AS side, NULL AS v FROM (
            SELECT name,
                   unnest(range((lo + 3599999) // 3600000,
                                hi // 3600000 + 1)) AS k
            FROM (SELECT name, min(t) AS lo, max(t) AS hi FROM s GROUP BY name)
            WHERE hi // 3600000 >= (lo + 3599999) // 3600000
        )
    ),
    w AS (
        SELECT name, ms, side,
               last_value(v IGNORE NULLS) OVER wp AS v0,
               last_value(CASE WHEN side = 1 THEN ms END IGNORE NULLS)
                   OVER wp AS t0,
               first_value(v IGNORE NULLS) OVER wf AS v1,
               first_value(CASE WHEN side = 1 THEN ms END IGNORE NULLS)
                   OVER wf AS t1
        FROM u
        WINDOW wp AS (PARTITION BY name ORDER BY ms, side DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY name ORDER BY ms, side DESC
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT name, ms AS time,
           CAST(floor(CASE WHEN t1 IS NULL OR t0 = ms THEN v0
                           ELSE v0 + (v1 - v0) * (ms - t0) / (t1 - t0)
                      END * 1e6) / 1e6 AS DOUBLE) AS value
    FROM w WHERE side = 0
"""


@register("t13s_resample_linear_stream", family="T13-stream", oracle=_T13S_ORACLE)
def t13s_resample_linear_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation grid resample EXECUTED BY the streaming
    engine (``interp_fill``: O(1) per-series state — last sample + next
    pending grid time; each grid point emits the moment its bracketing
    right sample arrives) — t13's semantics as the alerting-path form,
    completing the T13 family's streaming pair next to t10bs's LOCF.
    Registered against its own union+window oracle over deduped non-NULL
    samples (t13's CTE structure, keyed by event_type, max-collapse on
    duplicate timestamps, floor-truncated output): the op's exact-hit
    short-circuit and operand order mirror the oracle term-for-term, so
    the IEEE doubles agree bit-for-bit."""
    from prometheus_remote_kinesis_spark.streaming.stateful import interp_fill

    records = stream_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("name"),
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = interp_fill(records, step_ms=3_600_000)
    return run_to_batch(out, "append")


@register("t15s_funnel_stream", family="T15-stream", oracle=T15_ORACLE)
def t15s_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t15's view→purchase funnel EXECUTED BY the streaming engine
    (``funnel_views``: per-user pending-view state, first-purchase
    resolution) and hash-checked against t15's correlated-EXISTS oracle
    — equivalent because the FIRST purchase at-or-after a view is inside
    the 1-hour window iff ANY purchase is. The stateful op's emission
    protocol is chop-invariant (unresolved emission superseded by the
    resolved one), so the registered query takes the authoritative row
    per (user, view) — top-1 on resolved DESC, the t20s drain-then-filter
    shape — then rolls up per day. A view never followed by any purchase
    keeps its unresolved conv=0 row, matching the batch's NULL
    next-purchase."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import funnel_views

    records = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        F.unix_millis("ts").alias("time"),
        (F.col("event_type") == "purchase").cast("int").alias("side"),
    )
    out = funnel_views(records, convert_ms=3_600_000)
    drained = run_to_batch(out, "append")
    w = Window.partitionBy("user_id", "view_ms").orderBy(F.desc("resolved"))
    per_view = (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select((F.col("view_ms") / 86400000).cast("long").alias("day"), "conv")
    )
    return per_view.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum("conv").cast("bigint").alias("n_converted"),
    )


@register("t16s_retention_cohorts_stream", family="T16-stream", oracle=T16_ORACLE)
def t16s_retention_cohorts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t16's cohort-retention triangle fed BY the streaming engine:
    ``cohort_pairs`` (applyInPandasWithState, one pass over the stream)
    emits each user's distinct activity weeks once plus their
    running-minimum signup week; the drain then assembles exactly t16's
    batch plan — min-cohort per user (order-insensitive, absorbs the
    re-emission protocol), broadcast join against the deduped
    (user, week) pairs, count per (cohort_week, week_offset). Registered
    against t16's own DuckDB oracle, so the streaming dedup + state
    carry-over sit inside the hash gate. The week expression is
    IDENTICAL to the batch twin's (double division then cast — exact:
    boundary multiples divide exactly, non-boundaries sit ≥1.65e-12
    relative from an integer vs ~1e-13 double epsilon)."""
    from prometheus_remote_kinesis_spark.streaming.stateful import cohort_pairs

    records = stream_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_millis("ts") / 604800000).cast("long").alias("wk"),
        (F.col("event_type") == "signup").cast("int").alias("is_signup"),
    )
    drained = run_to_batch(cohort_pairs(records), "append")
    # Both sides project the same drained table — rename the cohort key so
    # the self-join doesn't carry conflicting `user_id` attributes.
    cohorts = (
        drained.filter(F.col("is_cohort") == 1)
        .groupBy(F.col("user_id").alias("cu"))
        .agg(F.min("wk").alias("cw"))
    )
    weeks = drained.filter(F.col("is_cohort") == 0).select(
        "user_id", F.col("wk").alias("w")
    )
    return (
        weeks.join(F.broadcast(cohorts), F.col("user_id") == F.col("cu"))
        .filter(F.col("w") >= F.col("cw"))
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register("t18s_absent_gaps_stream", family="T18-stream", oracle=T18_ORACLE)
def t18s_absent_gaps_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t18's absent_over_time gap scan with the heavy step EXECUTED BY the
    streaming engine: the distinct-(series, bucket) collapse — the only
    part that touches event volume — runs as Spark's built-in streaming
    ``dropDuplicates`` (JVM-side state, no Python), and the drain derives
    gaps-and-islands over the observed buckets exactly as the batch twin
    (lag + non-adjacent filter, O(observed buckets) — the post-drain
    window is over the tiny deduped set, not the stream). Registered
    against t18's own oracle. Chop-invariant by construction: the deduped
    union over any micro-batch partitioning is the same set. State here
    is unbounded over all history to match the batch answer exactly; a
    live deployment uses ``dropDuplicatesWithinWatermark`` (t9s) since a
    bucket stops receiving events once the watermark passes it."""
    from prometheus_remote_kinesis_spark.operators.time_windows import (
        absent_gaps_from_buckets,
    )

    events = stream_table(spark, sf_dir, "events")
    b = events.select(
        "event_type",
        (F.unix_millis("ts") / F.lit(300000)).cast("long").alias("bucket"),
    ).dropDuplicates(["event_type", "bucket"])
    return absent_gaps_from_buckets(run_to_batch(b, "append"))


@register("t21s_promql_vector_ops_stream", family="T21-stream", oracle=T21_ORACLE)
def t21s_promql_vector_ops_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t21's PromQL instant-vector surface with the volume-touching step
    EXECUTED BY the streaming engine: the per-(bucket, series)
    decimal-exact average runs as a streaming complete-mode aggregation
    (``avg_vector_5min``, the identical expression tree as batch t21);
    the drain then applies the shared ``vector_ops_from_avg`` stage
    (topk/clamp/label_replace) over the tiny pre-aggregated vector —
    the t18s shape: stream the heavy collapse, post-process the small
    result, one home for each twin's arithmetic. Registered against
    t21's own oracle."""
    from prometheus_remote_kinesis_spark.operators.time_windows import (
        avg_vector_5min,
        vector_ops_from_avg,
    )

    events = stream_table(spark, sf_dir, "events")
    drained = run_to_batch(avg_vector_5min(events), "complete")
    return vector_ops_from_avg(drained)


@register("t14s_rate_5m_stream", family="T14-stream", oracle=T14_ORACLE)
def t14s_rate_5m_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``rate(m[5m])`` EXECUTED BY the streaming engine: per-series
    state = last sample + the trailing window's (timestamp, increase)
    pairs + the reorder buffer of ``stateful._reorder_fold`` at
    ``reorder_ms=0`` (streaming/stateful.py::streaming_rate), the
    alerting-path form of t14's batch RANGE frame. A sample at a series'
    highest ms stays buffered and is re-emitted speculatively each batch
    until a later ms commits it; every row carries ``seen`` (samples seen
    for its series), so the drain keeps the argmax(``seen``) row per
    event_id. Registers with t14's own DuckDB oracle — the streaming
    engine's rate output is hash-compared directly. Exact batch equality
    is additionally pinned by
    tests/test_streaming.py::test_streaming_rate_matches_batch."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import streaming_rate

    records = stream_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("time"),
        "value",
    )
    drained = run_to_batch(streaming_rate(records), "append")
    w = Window.partitionBy("event_id").orderBy(F.desc("seen"))
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "event_type", "user_id", "rate_per_sec", "n_increases")
    )


@register("t25s_rate_extrapolated_stream", family="T25-stream", oracle=T25_ORACLE)
def t25s_rate_extrapolated_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t25's Prometheus boundary-extrapolated ``rate(m[1d])`` EXECUTED BY
    the streaming engine. The window anchor (corpus max) is a drain-time
    fact, so the stateful layer (``trailing_day_buffer``) retains each
    series' samples within 1 day of its OWN running max — a provable
    superset of the final global window (series_max <= global_max) with
    the O(window) state ANY faithful 1d-range evaluation needs — and the
    drain takes the authoritative max-seq emission per series, then runs
    the IDENTICAL batch tree (``extrapolated_rate_1d``: same decimal
    increase sums, same operand order, same floor truncation) over the
    residue. Registers against the SAME oracle as batch t25."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        trailing_day_buffer,
    )

    records = stream_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = trailing_day_buffer(records, window_ms=86_400_000)
    drained = run_to_batch(out, "append")
    w = Window.partitionBy("event_type", "user_id")
    resid = (
        drained.withColumn("max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("max_seq"))
        .select("event_type", "user_id", "ms", "value")
    )
    return extrapolated_rate_1d(resid)


@register(
    "t22s_downsample_retention_stream", family="T22-stream", oracle=T22_ORACLE
)
def t22s_downsample_retention_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t22's retention downsampling EXECUTED BY the streaming engine —
    refuting t22's former no-streaming-twin argument (VERDICT r6 task #3
    lineage). The stateful layer (``downsample_buffer``) keeps each
    series' trailing day raw (the t25s buffer: a provable superset of
    the drain-time raw branch, since series_max <= global_max) and folds
    every evicted sample into mergeable per-hour rollup partials (count,
    non-NULL count, integer-cents sum, min, max) — each sample lives in
    exactly one of {buffer, rollup}. The drain takes the authoritative
    max-seq emission per series, computes the true cutoff g-1d (g = max
    over buffered samples — each series' max is never evicted, so the
    global max is always in view), splits the buffer residue at it,
    merges the sub-cutoff residue into the rollup partials, and emits
    batch t22's exact arithmetic: the raw branch verbatim, the old
    branch's avg as the oracle's DECIMAL-sum-cast-double over count(*)
    (cents/100 in double is the identical correctly-rounded value).
    Same oracle as batch t22; state is O(output) per series."""
    from pyspark.sql import Window

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        downsample_buffer,
    )

    records = stream_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("time"),
        "value",
    )
    out = downsample_buffer(
        records, window_ms=86_400_000, bucket_ms=3_600_000
    )
    drained = run_to_batch(out, "append")
    w = Window.partitionBy("event_type", "user_id")
    latest = (
        drained.withColumn("max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("max_seq"))
        .drop("max_seq", "seq")
    )
    t_max = latest.filter(F.col("kind") == "raw").agg(
        F.max("ms").alias("t_max")
    )
    lat = latest.crossJoin(F.broadcast(t_max))
    cutoff = F.col("t_max") - 86400000
    recent = (
        lat.filter((F.col("kind") == "raw") & (F.col("ms") > cutoff))
        .select(
            "event_type",
            "user_id",
            F.col("ms").alias("bucket_ms"),
            F.lit(1).cast("long").alias("n"),
            F.round(F.col("value").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("v_avg"),
            F.col("value").alias("v_min"),
            F.col("value").alias("v_max"),
        )
    )
    old_sing = lat.filter(
        (F.col("kind") == "raw") & (F.col("ms") <= cutoff)
    ).select(
        "event_type",
        "user_id",
        ((F.col("ms") / F.lit(3600000)).cast("long") * 3600000).alias(
            "bucket_ms"
        ),
        F.lit(1).cast("long").alias("n"),
        F.col("value").isNotNull().cast("long").alias("nv"),
        F.coalesce(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
            F.lit(0),
        ).alias("cents"),
        F.col("value").alias("v_min"),
        F.col("value").alias("v_max"),
    )
    old_part = lat.filter(F.col("kind") == "agg").select(
        "event_type",
        "user_id",
        F.col("ms").alias("bucket_ms"),
        "n",
        "nv",
        "cents",
        "v_min",
        "v_max",
    )
    old = (
        old_sing.unionByName(old_part)
        .groupBy("event_type", "user_id", "bucket_ms")
        .agg(
            F.sum("n").alias("n"),
            F.sum("nv").alias("nv"),
            F.sum("cents").alias("cents"),
            F.min("v_min").alias("v_min"),
            F.max("v_max").alias("v_max"),
        )
        .select(
            "event_type",
            "user_id",
            "bucket_ms",
            "n",
            F.when(
                F.col("nv") > 0,
                F.round(
                    F.col("cents").cast("double") / F.lit(100.0) / F.col("n"),
                    4,
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("v_avg"),
            "v_min",
            "v_max",
        )
    )
    return recent.unionByName(old)


@register("l1s_exact_dedup_stream", family="L1-stream", oracle=L1_ORACLE)
def l1s_exact_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l1's exact document dedup EXECUTED BY the streaming engine — the
    training-data ingest shape where a document stream (crawl output,
    upload queue) is deduplicated AS IT ARRIVES rather than by a nightly
    batch job. Identical expression tree: group on the sha2-256 content
    digest, count copies, keep the min-id representative; the shuffle
    and the state store carry 32-byte digests, never text (l1's 100 TB
    rule — here it is also what keeps the streaming STATE small: one
    (digest, count, min_id) row per distinct document). Complete-mode
    agg + availableNow drain makes the result exactly the batch answer
    against the SAME oracle.

    At scale the state is O(distinct documents) — for an unbounded
    ingest you bound it with the d13 manifest pattern (anti-join the
    stream against the at-rest digest manifest, keep only the recent
    horizon in streaming state) or t9s's watermarked
    dropDuplicatesWithinWatermark when re-crawls cluster in time; the
    unbounded form here is what makes the drain equal batch l1 exactly.
    NULL text digests to NULL and forms the same NULL group on both
    engines (pinned corpus-wide by test_null_input's text families)."""
    docs = stream_table(spark, sf_dir, "documents")
    agg = docs.groupBy(F.sha2("text", 256).alias("doc_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("rep_id"),
    )
    return run_to_batch(agg, "complete")


@register(
    "d13s_incremental_dedup_stream", family="L7-stream", oracle=D13_ORACLE
)
def d13s_incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d13's incremental crawl dedup EXECUTED BY the streaming engine —
    the true production shape of the incremental-ingest triad: the
    incoming crawl batch arrives AS A STREAM and is deduplicated against
    the at-rest digest manifest via a stream-STATIC left anti-join
    (stateless per micro-batch: the static side is the broadcast-able
    manifest, the stream never waits on it), then self-deduped to min-id
    representatives with a complete-mode digest agg. The manifest is the
    batch-built digest table of the prior snapshot (even doc_ids, d13's
    simulation); the stream is the doc_id % 3 = 0 crawl. Shuffles and
    state carry 32-byte digests, never text; same oracle as batch d13.

    At 100 TB the anti-join side is the ~3 TB digest-only manifest —
    too big to broadcast whole, so the production join is digest-
    bucketed (the stream micro-batch shuffles on digest against the
    bucketed manifest); state stays O(distinct fresh digests in the
    batch), which is exactly the op's output."""
    docs = stream_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    static = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0))
        .select(F.sha2(F.col("text"), 256).alias("digest"))
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang", F.sha2(F.col("text"), 256).alias("digest")
    )
    fresh = incoming.join(static, "digest", "left_anti")
    agg = fresh.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", F.col("doc_id")).alias("lang"),
        F.count(F.lit(1)).alias("n_in_batch"),
    )
    return run_to_batch(agg, "complete")


@register("l6s_media_features_stream", family="L6-stream", oracle=L6B_ORACLE)
def l6s_media_features_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l6b's full multimodal pipeline EXECUTED BY the streaming engine —
    the L6 family's first streaming representative, covering the ingest
    shape where media documents arrive continuously (upload queue, crawl
    firehose) and are decoded/featurized on arrival instead of by a
    nightly batch: document stream → ``synthesize_media_mix`` (real
    PNG/BMP/WAV blobs) → ``mapInPandas`` feature extraction through the
    REAL ``decode_media`` mime dispatcher. Both stages are STATELESS
    ``mapInPandas`` row transforms, so the streaming plan needs no
    state store at all — append mode, zero watermark, per-micro-batch
    Arrow-batched decode — and the drain equals batch l6b exactly
    against the SAME oracle (one output row per input row regardless of
    micro-batch chopping; every feature is an integer-sum / count
    quotient, so chunking cannot perturb the doubles).

    At 100 TB this is the preferred decode topology: decode work is
    embarrassingly parallel and CPU-bound, so the streaming executor
    fleet sizes on decode throughput alone — no shuffle, no state, and
    backpressure comes from micro-batch admission (maxFilesPerTrigger)
    rather than any operator buffer."""
    docs = stream_table(spark, sf_dir, "documents")
    out = extract_features(synthesize_media_mix(docs)).select(
        "doc_id", "mime", "feature"
    )
    return run_to_batch(out, "append")


L4S_ORACLE = """
    WITH qs AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        FROM embeddings WHERE vec_id < 100
    ),
    scored AS (
        SELECT qs.qid, e.vec_id AS nn_id,
               round(list_dot_product(e.embedding::DOUBLE[], qs.qe)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qs.qe, qs.qe))), 6) AS cos_sim
        FROM embeddings e CROSS JOIN qs
        WHERE e.vec_id <> qs.qid
    )
    SELECT qid, nn_id, cos_sim
    FROM (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY cos_sim DESC, nn_id) AS rn
          FROM scored)
    WHERE rn = 1
"""


@register("l4s_knn_top1_stream", family="L4-stream", oracle=L4S_ORACLE)
def l4s_knn_top1_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING nearest-neighbor tracking — the similarity family's
    first streaming representative: a set of STANDING query vectors
    (vec_id < 100, the static side) watches the corpus STREAM past and
    maintains each query's best cosine match incrementally — the
    "alert me when something similar arrives" serving shape that batch
    l4 cannot express (it recomputes the full KNN each run).

    Plan: stream-static inner join against the broadcast query side
    (stateless per micro-batch — exactly batch l4's broadcast topology,
    with per-side norms projected BELOW the join so each corpus row's
    |dim|-element norm fold runs once, not once per query), then a
    complete-mode groupBy(qid) keeping max(struct(cos_sim, -nn_id)):
    lexicographic struct max is the deterministic argmax — highest
    similarity, ties to the LOWEST neighbor id — matching the oracle's
    ``ORDER BY cos_sim DESC, nn_id`` rank exactly. State is ONE struct
    per standing query — O(|Q|), independent of corpus size — so at
    100 TB the state store holds 100 rows while the corpus streams
    through unbounded; this is the scale-defining difference from a
    streaming top-k via collect_list (O(corpus) state, forbidden).
    Rounding to 6 dp happens BEFORE the max, so the comparison operates
    on the identical IEEE doubles the oracle ranks on."""
    emb = stream_table(spark, sf_dir, "embeddings")
    qs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("qnorm"),
        )
    )
    corpus = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("enorm"),
    )
    sim = F.round(
        dot(F.col("embedding"), F.col("qe")) / (F.col("enorm") * F.col("qnorm")),
        6,
    )
    scored = corpus.join(F.broadcast(qs), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("nn_id"), sim.alias("cos_sim")
    )
    agg = scored.groupBy("qid").agg(
        F.max(
            F.struct(
                F.col("cos_sim"), (-F.col("nn_id")).alias("neg_id")
            )
        ).alias("best")
    )
    return run_to_batch(
        agg.select(
            "qid",
            (-F.col("best.neg_id")).alias("nn_id"),
            F.col("best.cos_sim").alias("cos_sim"),
        ),
        "complete",
    )


L4KS_ORACLE = """
    WITH qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
                FROM embeddings WHERE vec_id < 100)
    SELECT qid, nn_id, cos_sim, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT qs.qid, e.vec_id AS nn_id,
               round(list_dot_product(e.embedding::DOUBLE[], qs.qe)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qs.qe, qs.qe))), 6) AS cos_sim,
               row_number() OVER (
                   PARTITION BY qs.qid
                   ORDER BY round(list_dot_product(e.embedding::DOUBLE[], qs.qe)
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                    e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(qs.qe, qs.qe))), 6) DESC,
                           e.vec_id) AS rn
        FROM embeddings e CROSS JOIN qs
        WHERE e.vec_id <> qs.qid
    )
    WHERE rn <= 3
"""


@register("l4ks_knn_topk_stream", family="L4-stream", oracle=L4KS_ORACLE)
def l4ks_knn_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING top-K nearest-neighbor serving — l4s's bounded-state
    multi-k upgrade (VERDICT r8 task #5): the standing query vectors
    (vec_id < 100) each maintain their current top-3 cosine matches as
    the corpus streams past, the production recommendation/retrieval
    shape (l4s tracks top-1 only; real serving returns k).

    Plan: stream-static inner join against the broadcast query side
    with per-side norms projected BELOW the join (batch l4's exact
    topology — each corpus row's norm fold runs once, not once per
    query), cos rounded to 6 dp BEFORE ranking, then the
    ``knn_topk_buffer`` stateful op (applyInPandasWithState keyed on
    qid): state = the current top-k (cos_sim DESC, nn_id ASC) list —
    **O(|Q|·k) rows total, independent of corpus size** (measured 100
    queries × 3 at 1× and 16× input; the t25s-style collect-everything
    alternative would be O(corpus) and is the forbidden shape). Each
    micro-batch emits the running top-k under an incrementing seq; the
    drain keeps the max-seq (authoritative) emission per query — the
    t25s protocol — which equals batch l4_knn_join's rows exactly, so
    it registers against the same-shape oracle (rn <= 3, INTEGER rank).
    Merge order cannot perturb the result: ranking compares the
    identical rounded IEEE doubles on every path, ties broken by
    nn_id, and top-k-of-union == top-k-of-(top-k ∪ batch) — the
    associativity that makes the state bound sound (chop-invariance
    hypothesis-tested in tests/test_stateful_props.py)."""
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        knn_topk_buffer,
    )

    emb = stream_table(spark, sf_dir, "embeddings")
    qs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("qnorm"),
        )
    )
    corpus = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("enorm"),
    )
    sim = F.round(
        dot(F.col("embedding"), F.col("qe")) / (F.col("enorm") * F.col("qnorm")),
        6,
    )
    scored = corpus.join(F.broadcast(qs), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("nn_id"), sim.alias("cos_sim")
    )
    drained = run_to_batch(knn_topk_buffer(scored), "append")
    w = Window.partitionBy("qid")
    return (
        drained.withColumn("max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("max_seq"))
        .select("qid", "nn_id", "cos_sim", "rn")
    )


@register("l5s_token_stats_stream", family="L5-stream", oracle=L5_ORACLE)
def l5s_token_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l5's per-language corpus statistics EXECUTED BY the streaming
    engine — the text-analysis family's first streaming representative:
    live corpus monitoring (tokens/docs/chars per language updating as
    the crawl streams in) instead of a nightly recount. Identical
    expression tree via the shared ``token_stats`` (complete-mode
    groupBy(lang)); every aggregate is an exact integer sum — avg
    included, which divides the exact token sum once at drain — so
    micro-batch chopping and state-merge order cannot perturb a single
    bit vs the batch answer. State is O(|lang|) rows of four counters —
    constant in corpus size; the shuffle carries per-batch partial
    counts, never text. Same oracle as batch l5; NULL text contributes
    NULL token counts that both engines' sums skip while count(*) keeps
    the row (pinned corpus-wide by the NULL-text gate)."""
    return run_to_batch(
        token_stats(stream_table(spark, sf_dir, "documents")), "complete"
    )


@register(
    "d14s_incremental_neardup_stream", family="L7-stream", oracle=D14_ORACLE
)
def d14s_incremental_neardup_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """d14's incremental NEAR-dup screening EXECUTED BY the streaming
    engine — completing the incremental-ingest triad's streaming story
    (d13s covers the exact leg): the incoming crawl batch arrives AS A
    STREAM, is shingled/MinHashed/banded per micro-batch (every stage in
    ``md5_band_keys`` is a stateless projection — shingle transform,
    signature fold, band explode — so it runs unchanged on a streaming
    DataFrame), probes the prior snapshot's static LSH band-key manifest
    via a stream-static LEFT join (stateless: the static side is the
    broadcast-able DISTINCT (band, key) table), and folds the 4 band
    verdicts per doc with a complete-mode groupBy(doc_id). State is one
    (n_bands_hit) counter per incoming doc — O(batch), the operator's
    own output, never the corpus; a live deployment watermark-evicts
    docs once their 4 bands have arrived. Shuffles carry band digests,
    never text or signatures; same oracle as batch d14."""
    banded = md5_band_keys(
        stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 3 == 0
        )
    )
    manifest = (
        md5_band_keys(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % 2 == 0
            )
        )
        .select("band", "key")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
    agg = (
        banded.join(manifest, ["band", "key"], "left")
        .groupBy("doc_id")
        .agg(n_hits.alias("n_bands_hit"))
    )
    return run_to_batch(
        agg.select(
            "doc_id", "n_bands_hit", (F.col("n_bands_hit") > 0).alias("is_candidate")
        ),
        "complete",
    )


A4S_ORACLE = """
    WITH b AS (
        SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, bucket
    ),
    c AS (
        SELECT event_type, bucket, cnt,
               coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM b
    ),
    e AS (
        SELECT event_type, q.qi,
               CAST(bucket AS DOUBLE)
               + (ceil((q.qi * n) / 100.0) - cb) / cnt AS est
        FROM c, (VALUES (50), (90), (99)) q(qi)
        WHERE cb < ceil((q.qi * n) / 100.0)
          AND ceil((q.qi * n) / 100.0) <= cb + cnt
    )
    SELECT event_type,
           max(CASE WHEN qi = 50 THEN est END) AS p50_sketch,
           max(CASE WHEN qi = 90 THEN est END) AS p90_sketch,
           max(CASE WHEN qi = 99 THEN est END) AS p99_sketch
    FROM e GROUP BY event_type
"""


@register("a4s_quantile_sketch_stream", family="A4-stream", oracle=A4S_ORACLE)
def a4s_quantile_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantiles — the A4 family's first streaming
    representative, built the only way unbounded-stream quantiles can
    be: a MERGEABLE sketch, not the exact order statistic (Spark
    forbids percentile on streams, and rightly — exact quantiles need
    the full multiset). The sketch is a fixed-width histogram: bucket =
    floor(value), one (event_type, bucket) count in complete-mode state
    — integer partials, mergeable across micro-batches in any order, so
    chop-invariance is free. Drain-time reconstruction (batch, over the
    ~2 k-row sketch) ranks r = ceil(q·n), finds the bucket whose
    cumulative range covers r, and interpolates uniformly within it:
    est = bucket + (r − cum_before)/cnt. Every input to the estimator
    is an integer (bucket, counts, rank), so Spark and DuckDB derive
    the identical IEEE doubles — the ORACLE recomputes the SAME sketch
    estimator, making a deliberately-approximate operator hash-exact
    (a4b's GK sketch stays rows-only; this is the oracle-backed
    streaming quantile). NULL values (staleness markers) are excluded
    identically on both engines.

    At 100 TB: state is O(types × value-range/width) — bounded by the
    DOMAIN, not the stream; this is the classic monitoring-system
    trade (Prometheus le-histograms, a10's shape) where accuracy is
    the bucket width and memory never grows with volume."""
    events = stream_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    sketch = run_to_batch(
        events.groupBy(
            "event_type", F.floor("value").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("cnt")),
        "complete",
    )
    w_before = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = sketch.select(
        "event_type",
        "bucket",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_before), F.lit(0)).alias("cb"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    e = c.select(
        "event_type",
        "bucket",
        "cnt",
        "cb",
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("qi"),
        F.ceil((F.col("qi") * F.col("n")) / F.lit(100.0)).alias("r"),
    ).filter((F.col("cb") < F.col("r")) & (F.col("r") <= F.col("cb") + F.col("cnt")))
    est = F.col("bucket").cast("double") + (F.col("r") - F.col("cb")) / F.col("cnt")
    return (
        e.select("event_type", "qi", est.alias("est"))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("qi") == 50, F.col("est"))).alias("p50_sketch"),
            F.max(F.when(F.col("qi") == 90, F.col("est"))).alias("p90_sketch"),
            F.max(F.when(F.col("qi") == 99, F.col("est"))).alias("p99_sketch"),
        )
    )


@register("m2s_cdc_apply_stream", family="ETL-stream", oracle=_M2_CDC)
def m2s_cdc_apply_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m2's CDC apply with the change feed arriving AS A STREAM — the
    lakehouse streaming-upsert shape (Kafka/CDC topic → continuously
    maintained last-writer-wins image): versioned upserts/deletes stream
    in and a complete-mode groupBy(key) keeps
    max(struct(version, o_orderkey, op, new_val)) — lexicographic struct
    max IS last-writer-wins with m2's exact tie order (version DESC then
    orderkey DESC picks the same winner as the oracle's row_number), and
    the op/new_val fields ride along since (version, orderkey) is unique.
    State is ONE struct per changed key — O(churned keys), independent
    of change-stream length, and merge-order-invariant so micro-batch
    chopping cannot flip a winner. The drained change image then applies
    to the base snapshot exactly as batch m2: one outer join, U rewrites,
    D drops, untouched keys pass through. Same oracle as m2; at scale
    the drained image is ≪ the snapshot and broadcasts, so the snapshot
    never shuffles — the same topology a foreachBatch MERGE sink runs
    per micro-batch."""
    changes = (
        stream_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("date"))
        )
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("version"),
            "o_orderkey",
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("o_totalprice").alias("new_val"),
        )
    )
    agg = changes.groupBy("k").agg(
        F.max(F.struct("version", "o_orderkey", "op", "new_val")).alias("b")
    )
    last = run_to_batch(agg, "complete").select(
        "k", F.col("b.op").alias("op"), F.col("b.new_val").alias("new_val")
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(last, cust.c_custkey == last.k, "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "c_custkey",
            F.round(
                F.when(F.col("op") == "U", F.col("new_val")).otherwise(
                    F.col("c_acctbal")
                ),
                2,
            ).alias("balance"),
            F.coalesce(F.col("op"), F.lit("N")).alias("last_op"),
        )
    )


L2S_ORACLE = """
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
                   CASE WHEN len(string_split(text, ' ')) >= 3
                        THEN list_transform(
                               range(1, len(string_split(text, ' ')) - 1),
                               i -> string_split(text, ' ')[i] || ' ' ||
                                    string_split(text, ' ')[i+1] || ' ' ||
                                    string_split(text, ' ')[i+2])
                        ELSE [text] END)) AS shingle
        FROM documents
        WHERE text IS NOT NULL
    ),
    h AS (
        SELECT doc_id, p.i AS perm,
               min(('0x' || substring(md5(shingle || ':' || p.i), 1, 15))::BIGINT)
                   AS mh
        FROM sh, range(8) p(i)
        GROUP BY doc_id, p.i
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY perm) AS sig FROM h GROUP BY doc_id),
    bands AS (
        SELECT doc_id, b.i AS band,
               CAST(sig[b.i*2 + 1] AS VARCHAR) || '|' ||
               CAST(sig[b.i*2 + 2] AS VARCHAR) AS key
        FROM sig, range(4) b(i)
    )
    SELECT band, key,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id)              AS first_doc
    FROM bands
    GROUP BY band, key
    HAVING count(*) >= 2
"""


@register("l2s_band_collision_stream", family="L2-stream", oracle=L2S_ORACLE)
def l2s_band_collision_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream LSH band-collision monitor — the near-dup family's
    WITHIN-stream representative (d14s covers stream-vs-manifest): as
    documents arrive they are shingled/MinHashed/banded per micro-batch
    (``md5_band_keys``, all stateless projections) and a complete-mode
    groupBy(band, key) counts collisions — any band key reaching 2+
    docs is a near-dup candidate GROUP surfaced with its first-seen
    representative, the alerting half of l2's batch pair pipeline
    (pairwise Jaccard verification then routes through d14's path).
    State is one (count, min_id) row per DISTINCT band key — ~4 short
    digest rows per distinct document, the same order as the d13/d14
    manifests, and the shuffle carries band digests, never text or
    signatures. For an unbounded ingest the key domain is bounded the
    same way as l1s: age out via the at-rest manifest (d14's probe) or
    a watermarked horizon; unbounded here so the drain equals the batch
    banding exactly, against a DuckDB re-derivation of the whole
    MinHash pipeline (same md5 hash family as l2h/d14)."""
    agg = (
        md5_band_keys(stream_table(spark, sf_dir, "documents"))
        .groupBy("band", "key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )
    return run_to_batch(agg, "complete").filter(F.col("n_docs") >= 2)


@register("d17s_segment_dedup_stream", family="L7-stream", oracle=D17_ORACLE)
def d17s_segment_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d17's paragraph-level dedup EXECUTED BY the streaming engine — the
    crawl-ingest shape where sub-document boilerplate is deduplicated AS
    DOCUMENTS ARRIVE: each micro-batch segments its documents statelessly
    (``explode_segments``, the d11 projection mechanism), and the keeper
    election runs as a complete-mode agg over segment DIGESTS
    (``segment_keepers`` — min of the packed (doc_id, seg_idx) key, a
    mergeable aggregate, so the drained result is chop-invariant and
    exactly the batch election). Reassembly is post-drain work over the
    keeper table and the STATIC documents corpus (the t23s/t25s drain-
    projection pattern): keeper positions fold to one int-array row per
    doc and the text re-splits in a projection — identical code path and
    identical oracle as batch d17.

    State and shuffle carry (32-byte digest, packed BIGINT) rows — one
    per DISTINCT segment, never segment text (l1s's discipline, one
    granularity finer). For an unbounded ingest, bound the state with
    the d13 manifest pattern (anti-join arriving segment digests against
    the at-rest keeper manifest) — unbounded here so drain == batch.
    NULL text is excluded BEFORE segmentation on both engines (d17's
    convention, pinned by the NULL-text corpus gate)."""
    docs = stream_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    keep = run_to_batch(segment_keepers(explode_segments(docs)), "complete")
    static_docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return reassemble_from_keepers(static_docs, keep)


@register("a3cs_kmv_distinct_stream", family="A3-stream", oracle=A3C_ORACLE)
def a3cs_kmv_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a3c's KMV cardinality sketch EXECUTED BY the streaming engine —
    the live-dashboard shape where per-type distinct-user estimates
    update as events arrive. The stream runs ONE complete-mode stateful
    agg: groupBy(event_type, kmv_hash(user_id)) — the two-phase
    streaming-distinct form (t27s's pattern), whose state is one integer
    row per DISTINCT (type, 56-bit hash), i.e. the t9s/l1s streaming-
    distinct envelope, digests only. The sketch tail (banded top-K,
    exact-BIGINT estimate, exact fallback) runs POST-DRAIN over the
    drained distinct set through the SAME ``kmv_summary`` code path as
    batch a3c — same oracle, chop-invariant because set union is.

    The honest scale note: this twin carries the exact-distinct state
    because the shared oracle also reports the exact count. A production
    KMV stream that needs ONLY the estimate keeps just the K-smallest
    array per type (O(K) state — the whole point of the sketch): on
    every micro-batch, merge-sort the batch's candidate hashes into the
    K-array. That variant's output is a strict subset of this one's
    (drop n_distinct), so this twin is the stronger check."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        kmv_hash,
        kmv_summary,
    )

    events = stream_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    dh_agg = events.groupBy(
        "event_type", kmv_hash(F.col("user_id")).alias("h")
    ).count()
    dh = run_to_batch(dh_agg, "complete").select("event_type", "h")
    return kmv_summary(dh)


@register("t30s_dod_sizing_stream", family="S9-stream", oracle=T30_ORACLE)
def t30s_dod_sizing_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t30's Gorilla-style chunk sizing EXECUTED BY the streaming engine —
    the ingest-time form where the archive writer accounts compressed
    bits as samples arrive instead of re-scanning the archive. The
    sequential per-series fold runs as an O(1) stateful op
    (``stateful.dod_sizing``: five integers per series; each micro-batch
    emits one (series, n, bits) increment computed from the carried
    boundary, so the drained sum is chop-invariant for in-order
    arrival). The drain projection re-derives t30's exact output —
    n_samples, raw_bits, dod_bits, truncated-PPM ratio — via one tiny
    groupBy over the per-batch increments; same oracle as batch t30."""
    from prometheus_remote_kinesis_spark.streaming.stateful import dod_sizing

    events = stream_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    d = events.select(
        "event_type",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
        "event_id",
    )
    drained = run_to_batch(dod_sizing(d), "append")
    return drained.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_samples"),
        (F.sum("n") * 128).cast("bigint").alias("raw_bits"),
        F.sum("bits").cast("bigint").alias("dod_bits"),
        F.expr("CAST((sum(n) * 128 * 1000000) DIV sum(bits) AS BIGINT)").alias(
            "ratio_ppm"
        ),
    )


@register("s1e_relay_rollup_stream_e2e", family="E2E-stream", oracle=T5_ORACLE)
def s1e_relay_rollup_stream_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PRODUCTION TOPOLOGY as one hash-checked streaming
    plan (VERDICT r7 task #7 — the streaming d16): wire-format ingest →
    streaming dedup → event-time tumbling rollup, composed in a SINGLE
    Structured Streaming query instead of three individually-verified
    pieces (r4 + t9s + t5s, each driver-green on its own).

    Stage 0 (setup, executor-side): events become snappy(prompb
    WriteRequest) spool bodies via the archival ``format("prompb")``
    writer — written TWICE, the reference's double-send-on-retry failure
    mode (kinesis.go:92,191-192), plus one far-future watermark-sentinel
    body (name ``__wm_sentinel__``, filtered out downstream) so every
    real 5-minute window finalizes before the availableNow drain stops.

    Stage 1 (ONE streaming query): ``read_prompb_record_stream``
    decodes on executors (S1–S3), ``dropDuplicatesWithinWatermark`` on
    the wire identity (name, user label, ms timestamp — unique in this
    corpus; state bounded by the 10-minute watermark horizon, never the
    stream) collapses the double-send, and the SAME
    ``tumbling_rollup_5min`` expression tree as t5/t5s aggregates in
    APPEND mode — chained stateful operators (dedup → windowed agg),
    where only watermark-finalized windows emit, exactly the rows a
    production sink would have received. The sentinel advances the
    watermark past every real window; the engine's standard no-data
    micro-batch then flushes them — the spool is read by Spark's own
    file source, so ``availableNow`` runs that flush batch before it
    stops. Oracle = T5's: the whole wire → dedup → rollup chain must be
    byte-lossless and exactly-once for the hash to match.

    At 100 TB nothing changes shape: the spool is an object-store prefix
    or Kinesis shard set, the sentinel is wall-clock watermark advance,
    and dedup state stays O(keys inside the horizon) per executor."""
    from prometheus_remote_kinesis_spark.schema import RECORD_SCHEMA
    from prometheus_remote_kinesis_spark.sources.prompb_datasource import (
        register_prompb_source,
    )

    register_prompb_source(spark)
    events = load_table(spark, sf_dir, "events")
    wire = events.select(
        F.col("event_type").alias("name"),
        F.unix_millis("ts").alias("time"),
        F.col("value").cast("double").alias("value"),
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("user")),
            F.array(F.col("event_type"), F.col("user_id").cast("string")),
        ).alias("labels"),
    )
    spool = tempfile.mkdtemp(prefix="s1e_spool_")
    wire.write.format("prompb").mode("append").save(spool)
    wire.write.format("prompb").mode("append").save(spool)  # double send
    max_ms = events.agg(F.max(F.unix_millis("ts"))).first()[0]  # 1-row scalar
    if max_ms is not None:
        sentinel = spark.createDataFrame(
            [("__wm_sentinel__", max_ms + 86_400_000, 0.0, {"__name__": "__wm_sentinel__"})],
            RECORD_SCHEMA,
        )
        sentinel.coalesce(1).write.format("prompb").mode("append").save(spool)

    return run_to_batch(relay_rollup_plan(spark, spool), "append")


def relay_rollup_plan(spark: SparkSession, spool: str) -> DataFrame:
    """s1e's single-query streaming plan over an existing prompb spool:
    wire decode → watermark → double-send dedup → sentinel filter →
    t5's tumbling rollup, append mode. Exposed separately so the
    chop-invariance test can feed the SAME plan a spool that grows in
    event-time-ordered waves across micro-batches."""
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        read_prompb_record_stream,
    )

    recs = (
        read_prompb_record_stream(spark, spool)
        .select(
            F.col("name").alias("event_type"),
            F.element_at("labels", "user").alias("user"),
            "time",
            F.timestamp_millis("time").alias("ts"),
            "value",
        )
        .withWatermark("ts", "10 minutes")
    )
    deduped = recs.dropDuplicatesWithinWatermark(["event_type", "user", "time"])
    clean = deduped.where(F.col("event_type") != "__wm_sentinel__")
    return tumbling_rollup_5min(clean)


@register("a14s_count_min_stream", family="A12-stream", oracle=A14_ORACLE)
def a14s_count_min_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a14's Count-Min sketch with the cells aggregated IN-STREAM — and
    the best state bound in the streaming fleet: the complete-mode agg
    keys on (row, bucket), so state is EXACTLY the d×w = 256 sketch
    cells no matter how long the stream runs (not O(users) like the
    two-phase distinct twins, not O(samples) — the sketch IS the state,
    which is the entire point of CMS at ingest). The probe/compare tail
    (exact per-user counts, min-cell estimate) runs post-drain against
    the static table through the same expressions as batch a14.

    Registers a14's oracle (the t5s/t14s shared-oracle convention), so
    the streaming cell aggregation itself sits inside the hash gate;
    `test_count_min_stream_matches_batch` additionally pins stream ==
    batch row-for-row."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        CMS_DEPTH,
        CMS_WIDTH,
    )

    def bucket(user, i):
        h = F.conv(
            F.substring(
                F.md5(F.concat(user.cast("string"), F.lit(":"), i.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return h % CMS_WIDTH

    depth = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("i")
    events = stream_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cells_agg = (
        events.select(F.col("user_id"), depth)
        .select("i", bucket(F.col("user_id"), F.col("i")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cells = run_to_batch(cells_agg, "complete")

    exact = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    probes = exact.select("user_id", "n_exact", depth).select(
        "user_id", "n_exact", "i", bucket(F.col("user_id"), F.col("i")).alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(
            F.min("c").cast("bigint").alias("cms_est"),
            (F.min("c") - F.col("n_exact")).cast("bigint").alias("overcount"),
        )
    )


_S2E_ORACLE = """
    WITH reps AS (
        SELECT min(doc_id) AS rep_id
        FROM documents WHERE text IS NOT NULL
        GROUP BY sha256(text)
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           round(avg(len(string_split(text, ' '))), 4)       AS avg_tokens,
           CAST(sum(n_chars) AS BIGINT)                      AS total_chars
    FROM documents d JOIN reps r ON d.doc_id = r.rep_id
    GROUP BY lang
"""


@register("s2e_dedup_corpus_stats_stream", family="E2E-stream", oracle=_S2E_ORACLE)
def s2e_dedup_corpus_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DOCUMENTS-side streaming composite (s1e's sibling for the
    training-data pipeline): a document stream is exact-deduplicated AS
    IT ARRIVES (l1s's complete-mode keeper election — state carries
    32-byte digests + the min doc_id, never text), and the drained
    keeper set drives per-language corpus statistics over the at-rest
    corpus (l5's exact-integer-sum token stats) — the ingest→dedup→
    report chain a corpus build runs nightly, here as ONE hash check
    instead of two individually-green stages. NULL-text docs are
    excluded BEFORE digesting on both engines (the d17 convention).

    Scale shape: the streaming stage's exchange and state carry digests
    only (O(distinct documents) — bounded live by the d13 manifest
    anti-join); the stats stage semi-joins the corpus on doc_id (no
    text in the join exchange' build side — rep ids only) and
    aggregates with exact integer sums, one divide per group."""
    docs = stream_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    election = docs.groupBy(F.sha2("text", 256).alias("doc_hash")).agg(
        F.min("doc_id").alias("rep_id")
    )
    reps = run_to_batch(election, "complete").select("rep_id")
    corpus = load_table(spark, sf_dir, "documents")
    deduped = corpus.join(
        reps, corpus.doc_id == reps.rep_id, "leftsemi"
    )
    return token_stats(deduped)


_T31S_ORACLE = """
    WITH a AS (
        SELECT event_type, user_id,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(epoch_us(ts) // 1000 AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(epoch_us(ts) // 1000 AS HUGEINT)
                        * CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sxy,
               CAST(sum(CAST(epoch_us(ts) // 1000 AS HUGEINT)
                        * CAST(epoch_us(ts) // 1000 AS BIGINT)) AS HUGEINT) AS sxx
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_type, user_id, CAST(n AS BIGINT) AS n,
           floor((CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) * 1000 * 1e6) / 1e6
               AS slope_cents_per_s
    FROM a
    WHERE n * sxx - sx * sx > 0
"""


@register("t31s_trend_stream", family="T14-stream", oracle=_T31S_ORACLE)
def t31s_trend_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series least-squares TREND computed BY the streaming engine —
    the live capacity-planning dashboard (t31's sibling over the FULL
    series history; t31's trailing-day window needs T = corpus max,
    unknowable mid-stream). The enabling algebra: the five regression
    sums are MERGEABLE PARTIALS (one complete-mode agg; micro-batch
    order cannot matter because addition is the only fold), and the
    slope num = n·Σxy − Σx·Σy / den = n·Σx² − (Σx)² is SHIFT-INVARIANT
    in x — so raw epoch-ms x needs no rebasing: the drained exact sums
    give the identical slope the rebased batch fold would.

    Exactness across engines: x·y per-term fits int64, x² does NOT
    (ms² ≈ 3e24), so per-term products and the sums run as
    decimal(38,0) in Spark and HUGEINT in DuckDB — both exact integer
    arithmetic; num and den convert to double ONCE (same
    round-to-nearest of the same integer on both engines) and divide in
    identical order; output truncates via tie-free floor (the f8 rule).
    Streaming state: five numbers per series — O(1), the t17 envelope."""
    events = stream_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = F.unix_millis("ts").cast("decimal(38,0)")
    y = F.round(F.col("value") * 100).cast("long")
    agg = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y.cast("decimal(38,0)")).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * F.unix_millis("ts")).alias("sxx"),
    )
    drained = run_to_batch(agg, "complete")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return (
        drained.where(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
        )
        .select(
            "event_type",
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            (F.floor((num / den) * 1000 * 1e6) / 1e6).alias("slope_cents_per_s"),
        )
    )


def _w6s_oracle() -> str:
    from prometheus_remote_kinesis_spark.operators.windows import W6_ORACLE

    return W6_ORACLE


@register(
    "w6s_event_pattern_stream",
    family="W2-stream",
    oracle=_w6s_oracle(),
)
def w6s_event_pattern_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w6's MATCH_RECOGNIZE-lite pattern EXECUTED BY the streaming engine
    — the CEP alerting shape (detect view→click→purchase the moment the
    purchase lands, not in a nightly batch): per-user state is ONLY the
    trailing two (event_type, ms) rows plus the order-guard boundary —
    O(1) per user forever, the fixed-length-pattern NFA's whole memory —
    and each match row emits with its closing micro-batch
    (``stateful.event_pattern_stream``, the dod_sizing order-guard +
    chunk-concat discipline). The drain folds match rows through the
    IDENTICAL hash agg as batch w6 (count / min open-ms / min span, all
    exact BIGINT), registering against the SAME oracle; carrying the
    k−1-row tail across batches is exactly what makes emission
    chop-invariant for in-order arrival (hypothesis-pinned by
    tests/test_stateful_props.py::test_event_pattern_chop_invariance_property).

    At 100 TB this is the operator you deploy instead of w6: state is
    2 tuples × |active users|, matches stream out as they close, and
    re-running the batch query nightly only re-derives what the stream
    already emitted."""
    from prometheus_remote_kinesis_spark.operators.windows import W6_WITHIN_MS
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        event_pattern_stream,
    )

    events = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ms"),
        "event_id",
    )
    matches = run_to_batch(
        event_pattern_stream(events, within_ms=W6_WITHIN_MS), "append"
    )
    return matches.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.min("ms").cast("bigint").alias("first_match_ms"),
        F.min("span").cast("bigint").alias("min_span_ms"),
    )


def _a3ds_oracle() -> str:
    from prometheus_remote_kinesis_spark.operators.aggregates import A3D_ORACLE

    return A3D_ORACLE


@register(
    "a3ds_kmv_set_ops_stream",
    family="A3-stream",
    oracle=_a3ds_oracle(),
)
def a3ds_kmv_set_ops_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a3d's KMV set algebra EXECUTED BY the streaming engine — the
    live audience-overlap dashboard (per type pair: union/intersection
    user-count estimates updating as events arrive). The a3c→a3cs split
    applied to set operations: the stream runs ONE complete-mode
    stateful agg on (event_type, kmv_hash(user_id)) — the two-phase
    streaming-distinct form, digest-only state, one integer row per
    distinct (type, hash) — and the ENTIRE pair algebra (pair
    construction, broadcast membership join, banded bottom-K, exact
    counts, both Beyer estimates) runs POST-DRAIN through the SAME
    ``kmv_pair_summary`` code path as batch a3d. Same oracle;
    chop-invariant because set union is associative/idempotent, and the
    estimates are pure functions of the drained distinct set.

    At 100 TB the estimate-only deployment composes with r9's
    ``kmv_topk_sketch`` (O(K)-state per type): union/intersection need
    only each type's K-array + pairwise shared counts — O(K·|types|)
    state total — since the union's bottom-k is computable from the two
    per-set bottom-k arrays (Beyer et al.'s closure property); this
    registered form keeps the exact-distinct state because the shared
    oracle also reports exact n_union/n_inter."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        kmv_hash,
        kmv_pair_summary,
    )

    events = stream_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    dh_agg = events.groupBy(
        "event_type", kmv_hash(F.col("user_id")).alias("h")
    ).count()
    dh = run_to_batch(dh_agg, "complete").select("event_type", "h")
    return kmv_pair_summary(dh)


def _w7s_oracle() -> str:
    from prometheus_remote_kinesis_spark.operators.windows import W7_ORACLE

    return W7_ORACLE


@register(
    "w7s_pattern_quantified_stream",
    family="W2-stream",
    oracle=_w7s_oracle(),
)
def w7s_pattern_quantified_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w7's quantified pattern EXECUTED BY the streaming engine — w6s's
    sibling for the one-or-more quantifier, closing the CEP pair: per
    user the OPEN view-run (count + first ms) plus the previous event
    type is the ENTIRE state — O(1) however long the run, because a V+
    quantifier's NFA only accumulates — and each (run, purchase) match
    emits with its closing micro-batch carrying the SQL:2016 MEASURES
    (run length, span). Drain folds matches through batch w7's identical
    hash agg against the SAME oracle; chop-invariance (a run split
    across micro-batches must bridge) is hypothesis-pinned by
    tests/test_stateful_props.py::test_quantified_pattern_chop_invariance_property."""
    from prometheus_remote_kinesis_spark.operators.windows import W6_WITHIN_MS
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        quantified_pattern_stream,
    )

    events = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ms"),
        "event_id",
    )
    matches = run_to_batch(
        quantified_pattern_stream(events, within_ms=W6_WITHIN_MS), "append"
    )
    return matches.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.max("n_views").cast("bigint").alias("max_run_views"),
        F.min("first_ms").cast("bigint").alias("first_match_ms"),
        F.min("span").cast("bigint").alias("min_span_ms"),
    )


def _a10cs_oracle() -> str:
    from prometheus_remote_kinesis_spark.operators.aggregates import A10C_ORACLE

    return A10C_ORACLE


@register(
    "a10cs_histogram_fraction_stream",
    family="A10-stream",
    oracle=_a10cs_oracle(),
)
def a10cs_histogram_fraction_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a10c's ``histogram_fraction`` with the le-bucket counters
    maintained BY the streaming engine — the live SLO panel ("what
    fraction of requests landed in (5, 50] right now?"): ONE
    complete-mode groupBy(event_type) holding n + the nine cumulative
    bucket counters — conditional integer sums, mergeable across
    micro-batches in any order, **state = |types| rows of ten integers,
    PERIOD** (the a14s constant-state class; a streaming
    histogram_quantile/fraction never needs the samples, only the
    counters). The drain applies a10c's identical build-time-resolved
    interpolation expressions to the drained wide row — same oracle,
    chop-invariant because integer sums are."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        _HIST_BOUNDS,
        _hf_alias,
        _hf_frac_sql,
        A10C_RANGES,
    )

    events = stream_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum((F.col("value") <= b).cast("long")).alias(f"c{i}")
            for i, b in enumerate(_HIST_BOUNDS)
        ],
    )
    drained = run_to_batch(agg, "complete")
    return drained.select(
        "event_type",
        "n",
        *[
            F.expr(_hf_frac_sql(lo, hi)).alias(_hf_alias(lo, hi))
            for lo, hi in A10C_RANGES
        ],
    )


def _dq2s_oracle() -> str:
    from prometheus_remote_kinesis_spark.operators.relational import DQ2_ORACLE

    return DQ2_ORACLE


@register(
    "dq2s_freshness_audit_stream",
    family="P6-stream",
    oracle=_dq2s_oracle(),
)
def dq2s_freshness_audit_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dq2's per-day completeness audit maintained BY the streaming
    engine — the live ingest-health panel. Distinct aggregates raise on
    streaming DataFrames (CLAUDE.md), so the two-phase streaming-
    distinct form (t27s's pattern) keys the ONE complete-mode agg on
    (day, hour, type) — the finest granularity any output column needs;
    state is bounded by the CALENDAR × type space (24·|types| rows per
    day, ~3.6 k here), never by event volume. The drain re-derives
    every dq2 column exactly: n_rows/NULL counts sum the cell partials,
    hour/type coverage are two-phase distincts over the cell keys, and
    the day-gap lag runs over the |days|-row drained aggregate — same
    oracle."""
    events = stream_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day_idx"),
        F.expr("unix_micros(ts) div 3600000000").alias("hour_idx"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").isNull().cast("long")).cast("bigint").alias("n_null"),
    )
    drained = run_to_batch(cells, "complete")
    per_day = drained.groupBy("day_idx").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.countDistinct("hour_idx").cast("bigint").alias("n_hours"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.sum("n_null").cast("bigint").alias("n_null_values"),
    )
    w = Window.orderBy("day_idx")
    return per_day.select(
        F.col("day_idx").cast("bigint").alias("day_idx"),
        "n_rows",
        "n_hours",
        "n_types",
        "n_null_values",
        (F.col("day_idx") - F.lag("day_idx").over(w)).cast("bigint").alias(
            "gap_days"
        ),
    )


def _a10ds_oracle() -> str:
    from prometheus_remote_kinesis_spark.operators.aggregates import A10D_ORACLE

    return A10D_ORACLE


@register(
    "a10ds_histogram_stddev_stream",
    family="A10-stream",
    oracle=_a10ds_oracle(),
)
def a10ds_histogram_stddev_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a10d's ``histogram_avg``/``histogram_stddev`` moments maintained
    BY the streaming engine — the live latency panel: ONE complete-mode
    groupBy(event_type) holding (n, Σc·mid2, Σc·mid2²) — three integer
    partials, mergeable across micro-batches in any order, state =
    |types| rows of three BIGINTs, PERIOD (the a14s/a10cs
    constant-state class; streaming moments never need the samples,
    only the sums). The drain applies a10d's identical
    divide-once + floor-truncate expressions to the drained partials —
    same oracle, chop-invariant because integer sums are."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        _HIST_BOUNDS,
        A10D_MID2,
    )

    events = stream_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    v = F.col("value")
    mid2 = F.when(v <= _HIST_BOUNDS[0], F.lit(A10D_MID2[0]))
    for i in range(1, len(_HIST_BOUNDS)):
        mid2 = mid2.when(
            (v > _HIST_BOUNDS[i - 1]) & (v <= _HIST_BOUNDS[i]),
            F.lit(A10D_MID2[i]),
        )
    mid2 = mid2.otherwise(F.lit(A10D_MID2[-1]))
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(mid2).cast("bigint").alias("s1"),
        F.sum(mid2 * mid2).cast("bigint").alias("s2"),
    )
    drained = run_to_batch(agg, "complete")
    avg = F.col("s1").cast("double") / (2 * F.col("n"))
    return drained.select(
        "event_type",
        "n",
        (F.floor(avg * 1e6) / 1e6).alias("est_avg"),
        (
            F.floor(
                F.sqrt(
                    F.col("s2").cast("double") / (4 * F.col("n")) - avg * avg
                )
                * 1e6
            )
            / 1e6
        ).alias("est_stddev"),
    )


def _t36s_oracle() -> str:
    from prometheus_remote_kinesis_spark.operators.aggregates import T36_ORACLE

    return T36_ORACLE


@register(
    "t36s_histogram_quantile_windowed_stream",
    family="A10-stream",
    oracle=_t36s_oracle(),
)
def t36s_histogram_quantile_windowed_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t36's p99-over-time panel maintained BY the streaming engine —
    the LIVE form of the `histogram_quantile(rate(bucket[5m]))` idiom:
    one complete-mode groupBy on (type, 5-min window index) holding
    n + the nine cumulative bucket counters — ten mergeable integer
    partials per cell, state = |types|·|active windows| rows (grows
    with retention ONLY if windows are never evicted; the t28
    watermark-evicted twin pattern bounds it in production — here
    complete mode keeps every window so the drain equals batch t36
    against the shared oracle). Quantile interpolation runs post-drain
    on the wide rows — a10b's expressions verbatim, chop-invariant
    because integer sums are."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        _HIST_BOUNDS,
        _HQ_PHIS,
        T36_WINDOW_MS,
        _hq_quantile_sql,
    )

    events = stream_table(spark, sf_dir, "events")
    per_cell = events.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {T36_WINDOW_MS * 1000}")
        .cast("bigint")
        .alias("win_idx"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("value") <= b).cast("long")).alias(f"c{i}")
            for i, b in enumerate(_HIST_BOUNDS)
        ],
    )
    drained = run_to_batch(per_cell, "complete")
    cums = F.array(*[F.col(f"c{i}") for i in range(len(_HIST_BOUNDS))])
    bounds = F.array(*[F.lit(b) for b in _HIST_BOUNDS])

    def quantile(phi: float) -> Column:
        rank = F.lit(phi) * F.col("n")
        idx = F.size(F.filter(cums, lambda c: c < rank))
        lower = F.coalesce(F.get(bounds, idx - 1), F.lit(0.0))
        cum_lower = F.coalesce(F.get(cums, idx - 1), F.lit(0)).cast("double")
        upper = F.get(bounds, idx)
        cum_upper = F.get(cums, idx).cast("double")
        return F.round(
            F.when(idx >= F.size(bounds), F.element_at(bounds, -1)).otherwise(
                lower
                + (upper - lower) * (rank - cum_lower) / (cum_upper - cum_lower)
            ),
            4,
        )

    return drained.select(
        "event_type",
        "win_idx",
        F.col("n").cast("bigint").alias("n"),
        *[quantile(p).alias(f"p{int(p * 100)}") for p in _HQ_PHIS],
    )
