"""T-family batch equivalents: event-time windows (SURVEY.md §2.8 T5-T7).

The same ``window()`` / ``session_window()`` expressions run unchanged under
``readStream`` (streaming/pipeline.py adds triggers + watermarks); here they
run as batch queries so the driver's DuckDB oracle can check them exactly.

Spark aligns tumbling/sliding windows to the 1970-01-01 UTC epoch; DuckDB
``time_bucket`` aligns to 2000-01-03 — a whole number of days apart, so for
divisor-of-a-day widths (5 m / 10 m) the grids coincide exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prometheus_remote_kinesis_spark.registry import register
from prometheus_remote_kinesis_spark.sources.tables import load_table, max_ms_frame

T5_ORACLE = """
    SELECT time_bucket(INTERVAL '5 minutes', ts)                        AS window_start,
           time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
           event_type,
           count(*)              AS n,
           round(sum(value), 2)  AS sum_value,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4)  AS avg_value
    FROM events
    GROUP BY 1, 2, 3
"""


def tumbling_rollup_5min(events: DataFrame) -> DataFrame:
    """Shared t5 aggregation body — the SAME expression tree runs as a
    batch query (t5, DuckDB-oracle-checked) and under ``readStream``
    (streaming/queries.py t5s), which is the point of Structured
    Streaming's unified model."""
    return (
        events.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            # r13: exact accumulator = LONG sum of cents instead of a
            # decimal(18,2) sum buffer (a1's mechanism — see its
            # docstring for the probed per-row equivalence and the
            # overflow envelope; decimal buffers measured 60% of the
            # per-row agg compute). sum_cents/100.0 / n rounds the
            # identical rational to the identical double.
            F.round(
                (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0))
                / F.count(F.lit(1)),
                4,
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
            "avg_value",
        )
    )


@register("t5_tumbling_5min", family="T5", bench=True, oracle=T5_ORACLE)
def t5_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric 5-minute tumbling rollup — the canonical downstream
    query of the reference's stream (README.rst:6), and the engine's
    flagship/entry query.

    avg is computed as exact-decimal sum ÷ count (one double division),
    not double avg: the source values are 2-decimal quantized, so a true
    average can land exactly ON a round-half boundary at 4 decimals, where
    double accumulation ORDER (which differs between engines and between
    partition counts) decides the rounded cell. The decimal sum is exact
    and order-independent in both engines, so the divided double — and its
    rounding — is bit-identical. (Observed: 1 cell in 39k rows at sf0.1.)
    round(sum, 2) needs no such treatment: accumulated double error
    (~1e-8) cannot reach the 0.005 boundary distance of 2-decimal data."""
    return tumbling_rollup_5min(load_table(spark, sf_dir, "events"))


T6_ORACLE = """
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value
        FROM events
    )
    SELECT window_start,
           window_start + INTERVAL '10 minutes' AS window_end,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM assigned
    GROUP BY 1, 2
"""


def sliding_rollup_10min(events: DataFrame) -> DataFrame:
    """Shared t6 aggregation body (batch t6 + streaming t6s)."""
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "sum_value",
        )
    )


@register("t6_sliding_10min", family="T6", oracle=T6_ORACLE)
def t6_sliding_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 m width / 5 m slide) — every event lands in
    exactly two windows; the oracle materializes that assignment as a
    two-way UNION ALL of shifted 5-minute buckets."""
    return sliding_rollup_10min(load_table(spark, sf_dir, "events"))


T7_ORACLE = """
        WITH flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               min(ts)                          AS session_start,
               max(ts) + INTERVAL '30 minutes'  AS session_end,
               count(*)                         AS n_events,
               round(sum(value), 2)             AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
"""


def user_sessions(events: DataFrame) -> DataFrame:
    """Shared t7 sessionization body (batch t7 + streaming t7s)."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register("t7_user_sessions", family="T7", bench=True, oracle=T7_ORACLE)
def t7_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) via ``session_window``.

    Boundary semantics, probed empirically and pinned by
    test_session_window_boundary_semantics: Spark merges an event at gap
    == EXACTLY 30 m into the previous session (inclusive merge; a new
    session needs gap > 30 m); session end = last event + gap. The
    oracle's lag/cumulative-sum sessionization uses the matching
    strictly-greater split — through round 3 it used ``>=``, a latent
    divergence the driver data never exposed (no exact-gap ties at ms
    resolution) but adversarial data would."""
    return user_sessions(load_table(spark, sf_dir, "events"))


_T13_STEP_MS = 3_600_000  # 1-hour resample grid


T13_ORACLE = f"""
    WITH s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, value FROM events
    ),
    b AS (
        SELECT user_id, min(ms) AS lo, max(ms) AS hi FROM s GROUP BY user_id
    ),
    g AS (
        SELECT user_id, k * {_T13_STEP_MS} AS ms
        FROM (
            SELECT user_id,
                   unnest(range((lo + {_T13_STEP_MS - 1}) // {_T13_STEP_MS},
                                hi // {_T13_STEP_MS} + 1)) AS k
            FROM b
            WHERE hi // {_T13_STEP_MS} >= (lo + {_T13_STEP_MS - 1}) // {_T13_STEP_MS}
        )
    ),
    u AS (
        SELECT user_id, ms, 1 AS side, value FROM s
        UNION ALL
        SELECT user_id, ms, 0 AS side, NULL AS value FROM g
    ),
    w AS (
        SELECT user_id, ms, side,
               last_value(value IGNORE NULLS) OVER wp AS v0,
               last_value(CASE WHEN side = 1 THEN ms END IGNORE NULLS) OVER wp AS t0,
               first_value(value IGNORE NULLS) OVER wf AS v1,
               first_value(CASE WHEN side = 1 THEN ms END IGNORE NULLS) OVER wf AS t1
        FROM u
        WINDOW wp AS (PARTITION BY user_id ORDER BY ms, side DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY ms, side DESC
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ms AS grid_ms,
           round(CASE WHEN t1 IS NULL OR t1 = t0 THEN v0
                      ELSE v0 + (v1 - v0) * (ms - t0) / (t1 - t0) END, 6)
               AS value_interp
    FROM w WHERE side = 0
"""


@register("t13_resample_linear", family="T13", oracle=T13_ORACLE)
def t13_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series resampling onto a regular 1-hour grid with linear
    interpolation between the bracketing samples — the align-then-combine
    primitive behind every multi-series metrics expression (PromQL
    evaluates range vectors on exactly such a grid; record.go:10's ms
    axis is the input).

    No nested-loop time join: samples and grid probes UNION into one
    relation ordered (ms, side DESC) per series, so a single window pass
    yields the last-sample-at-or-before and first-sample-after each
    probe — j6's as-of trick, both directions at once. Two shuffles
    total (per-user bounds, then the window), both keyed on user_id.
    Grid points lie inside [min, max] of each series by construction, so
    both neighbors exist; an exact-hit probe (t0 = t) short-circuits to
    v0. The interpolation arithmetic is per-row IEEE ops — no
    accumulation, engine-deterministic."""
    step = _T13_STEP_MS
    events = load_table(spark, sf_dir, "events")
    s = events.select("user_id", F.unix_millis("ts").alias("ms"), "value")
    b = s.groupBy("user_id").agg(F.min("ms").alias("lo"), F.max("ms").alias("hi"))
    g = (
        b.select(
            "user_id",
            ((F.col("lo") + step - 1) / step).cast("long").alias("k0"),
            (F.col("hi") / step).cast("long").alias("k1"),
        )
        .filter(F.col("k1") >= F.col("k0"))
        .select("user_id", F.explode(F.sequence("k0", "k1")).alias("k"))
        .select("user_id", (F.col("k") * step).alias("ms"))
    )
    u = s.select("user_id", "ms", F.lit(1).alias("side"), "value").unionByName(
        g.select("user_id", "ms", F.lit(0).alias("side"), F.lit(None).cast("double").alias("value"))
    )
    from pyspark.sql import Window

    wp = (
        Window.partitionBy("user_id")
        .orderBy("ms", F.desc("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ms", F.desc("side"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    sample_ms = F.when(F.col("side") == 1, F.col("ms"))
    w = u.select(
        "user_id",
        "ms",
        "side",
        F.last("value", ignorenulls=True).over(wp).alias("v0"),
        F.last(sample_ms, ignorenulls=True).over(wp).alias("t0"),
        F.first("value", ignorenulls=True).over(wf).alias("v1"),
        F.first(sample_ms, ignorenulls=True).over(wf).alias("t1"),
    )
    interp = F.when(
        F.col("t1").isNull() | (F.col("t1") == F.col("t0")), F.col("v0")
    ).otherwise(
        F.col("v0")
        + (F.col("v1") - F.col("v0")) * (F.col("ms") - F.col("t0")) / (F.col("t1") - F.col("t0"))
    )
    return (
        w.filter(F.col("side") == 0)
        .select(
            "user_id",
            F.col("ms").alias("grid_ms"),
            F.round(interp, 6).alias("value_interp"),
        )
    )


T14_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, event_id, epoch_us(ts) // 1000 AS ms,
               CAST(round(value * 100) AS BIGINT) AS v100,
               lag(CAST(round(value * 100) AS BIGINT))
                   OVER (PARTITION BY event_type, user_id
                         ORDER BY ts, event_id) AS prev
        FROM events
        WHERE value IS NOT NULL
    ),
    i AS (
        SELECT event_type, user_id, event_id, ms,
               CASE WHEN prev IS NULL THEN NULL
                    WHEN v100 >= prev THEN v100 - prev
                    ELSE v100 END AS inc
        FROM d
    )
    SELECT event_id, event_type, user_id,
           floor(CAST(sum(inc) OVER w AS DOUBLE) / 100.0 / 300.0 * 1e6) / 1e6
               AS rate_per_sec,
           count(inc) OVER w                 AS n_increases
    FROM i
    WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ms
                 RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
"""


@register("t14_rate_5m", family="T14", bench=True, oracle=T14_ORACLE)
def t14_rate_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``rate(m[5m])``: reset-aware per-sample increases (counter
    reset ⇒ the new value IS the increase — t10's semantics,
    prometheus counter model) summed over a trailing 5-minute RANGE frame
    and divided by the window length.

    Composition of two already-pinned shapes: w2's lag per series and
    w3's epoch-ms range frame, partitioned by the high-cardinality
    (event_type, user_id) series key — one shuffle, state bounded per
    series; w3b's bucket decomposition applies unchanged if a deployment
    has few series. Increases are integer cents (the v100 pattern), so
    the frame sum is EXACT on any accumulation order; the single
    cents→rate quotient is then the identical IEEE double on both
    engines and floor-truncation (tie-free on identical doubles) makes
    the hash safe BY CONSTRUCTION — no 'float error below the rounding
    boundary' argument left (that argument is what bit t19s in r3)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    # lag orders by (ms, event_id) — ms is injective in ts, so this equals
    # the oracle's (ts, event_id) ordering, and the RANGE window's [ms]
    # requirement is a PREFIX of the sort, so Spark plans ONE Sort for both
    # Window nodes instead of re-sorting between them.
    # NULL samples are PromQL staleness markers: excluded identically on
    # all three paths (this filter, the oracle's WHERE, and the stateful
    # streaming_rate's per-row skip) so lag() chains across them the same
    # way everywhere — the r4-ADVICE alignment.
    d0 = events.filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v100"),
    )
    wlag = Window.partitionBy("event_type", "user_id").orderBy("ms", "event_id")
    d = d0.withColumn("prev", F.lag("v100").over(wlag))
    inc = (
        F.when(F.col("prev").isNull(), F.lit(None).cast("long"))
        .when(F.col("v100") >= F.col("prev"), F.col("v100") - F.col("prev"))
        .otherwise(F.col("v100"))
    )
    wrange = (
        Window.partitionBy("event_type", "user_id")
        .orderBy("ms")
        .rangeBetween(-300000, 0)
    )
    i = d.select("event_id", "event_type", "user_id", "ms", inc.alias("inc"))
    return i.select(
        "event_id",
        "event_type",
        "user_id",
        (
            F.floor(
                F.sum("inc").over(wrange).cast("double") / 100.0 / 300.0 * 1e6
            )
            / 1e6
        ).alias("rate_per_sec"),
        F.count("inc").over(wrange).alias("n_increases"),
    )


T14B_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, event_id, epoch_us(ts) // 1000 AS ms,
               value
        FROM events
    )
    SELECT event_id, event_type, user_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / count(value) OVER w, 6)                        AS avg_ot,
           min(value) OVER w                                      AS min_ot,
           max(value) OVER w                                      AS max_ot,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
                                                                  AS sum_ot,
           count(value) OVER w                                    AS count_ot
    FROM d
    WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ms
                 RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
"""


@register("t14b_over_time_5m", family="T14", oracle=T14B_ORACLE)
def t14b_over_time_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``*_over_time(m[5m])`` range-vector aggregations —
    avg/min/max/sum/count over the trailing 5-minute frame per series —
    evaluated at every sample (t14's frame, gauge semantics instead of
    counter-rate). ONE shuffle on the high-cardinality series key
    computes all five aggregates in a single Window node; min/max/count
    are exact, avg and sum go through decimal-exact sums so the frame's
    accumulation order can't move a rounded value (SCALE.md
    floats-vs-oracle note)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    wrange = (
        Window.partitionBy("event_type", "user_id")
        .orderBy("ms")
        .rangeBetween(-300000, 0)
    )
    # r13: exact accumulator = LONG sum of cents in the window frame, not
    # a decimal(18,2) sum (a1's mechanism / t14c's oracle idiom; see
    # a1_pricing_summary for the probed per-row equivalence).
    # sum_cents/100.0 is the identical double as decimal.doubleValue().
    c_sum = F.sum(F.round(F.col("value") * 100).cast("long")).over(wrange)
    return events.select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "value",
    ).select(
        "event_id",
        "event_type",
        "user_id",
        F.round((c_sum / F.lit(100.0)) / F.count("value").over(wrange), 6).alias(
            "avg_ot"
        ),
        F.min("value").over(wrange).alias("min_ot"),
        F.max("value").over(wrange).alias("max_ot"),
        F.round(c_sum / F.lit(100.0), 2).alias("sum_ot"),
        F.count("value").over(wrange).alias("count_ot"),
    )


T14C_ORACLE = """
    WITH base AS (SELECT min(epoch_us(ts) // 1000000) AS t0 FROM events),
    d AS (
        SELECT event_type, user_id, event_id,
               epoch_us(ts) // 1000000 - t0          AS t,
               CAST(round(value * 100) AS BIGINT)    AS v100
        FROM events, base
    ),
    s AS (
        SELECT event_id, event_type, user_id, t, v100,
               count(*) OVER w          AS n,
               sum(t) OVER w            AS st,
               sum(v100) OVER w         AS sv,
               sum(t * t) OVER w        AS stt,
               sum(t * v100) OVER w     AS stv
        FROM d
        WINDOW w AS (PARTITION BY event_type, user_id ORDER BY t
                     RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, user_id,
           CASE WHEN n * stt - st * st = 0 THEN NULL
                ELSE round(CAST(n * stv - st * sv AS DOUBLE)
                           / CAST(n * stt - st * st AS DOUBLE) / 100.0, 6)
           END AS deriv_per_sec,
           CASE WHEN n * stt - st * st = 0 THEN NULL
                ELSE round(CAST(sv AS DOUBLE) / 100.0 / n
                           + CAST(n * stv - st * sv AS DOUBLE)
                             / CAST(n * stt - st * st AS DOUBLE) / 100.0
                             * (t + 600 - CAST(st AS DOUBLE) / n), 6)
           END AS predict_10m
    FROM s
"""


@register("t14c_deriv_predict", family="T14", oracle=T14C_ORACLE)
def t14c_deriv_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``deriv(m[5m])`` (least-squares slope of the trailing
    5-minute range vector) and ``predict_linear(m[5m], 600)`` (the
    regression line extrapolated 10 minutes past the sample), per series
    at every sample.

    Cross-engine float determinism for a REGRESSION: the five sufficient
    statistics (n, Σt, Σv, Σt², Σtv) are summed as exact BIGINTs —
    timestamps rebased to integer seconds since the table's min (keeps
    n·Σt² within int64), values quantized to integer hundredths (exact:
    the corpus is 2-decimal) — so both engines hold bit-identical sums
    and the one floating-point division at the end is the identical
    expression. Same single-shuffle Window shape as t14/t14b; the rebase
    min is a broadcast scalar, not a second shuffle of the fact table."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    base = events.agg(
        F.expr("min(unix_millis(ts)) div 1000").alias("t0")
    )
    d = events.crossJoin(F.broadcast(base)).select(
        "event_id",
        "event_type",
        "user_id",
        (F.expr("unix_millis(ts) div 1000") - F.col("t0")).alias("t"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v100"),
    )
    w = (
        Window.partitionBy("event_type", "user_id")
        .orderBy("t")
        .rangeBetween(-300, 0)
    )
    s = d.select(
        "event_id",
        "event_type",
        "user_id",
        "t",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("t").over(w).alias("st"),
        F.sum("v100").over(w).alias("sv"),
        F.sum(F.col("t") * F.col("t")).over(w).alias("stt"),
        F.sum(F.col("t") * F.col("v100")).over(w).alias("stv"),
    )
    den = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    slope = (
        (F.col("n") * F.col("stv") - F.col("st") * F.col("sv")).cast("double")
        / den.cast("double")
        / 100.0
    )
    predict = (
        F.col("sv").cast("double") / 100.0 / F.col("n")
        + slope * (F.col("t") + 600 - F.col("st").cast("double") / F.col("n"))
    )
    return s.select(
        "event_id",
        "event_type",
        "user_id",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("deriv_per_sec"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(predict, 6))
        .alias("predict_10m"),
    )


T14D_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, event_id, epoch_us(ts) // 1000 AS ms,
               value,
               lag(value) OVER (PARTITION BY event_type, user_id
                                ORDER BY ts, event_id) AS prev
        FROM events
    ),
    f AS (
        SELECT event_type, user_id, event_id, ms,
               CASE WHEN prev IS NOT NULL AND value <> prev
                    THEN 1 ELSE 0 END AS chg,
               CASE WHEN prev IS NOT NULL AND value < prev
                    THEN 1 ELSE 0 END AS rst
        FROM d
    )
    SELECT event_id, event_type, user_id,
           CAST(sum(chg) OVER w AS BIGINT) AS changes_5m,
           CAST(sum(rst) OVER w AS BIGINT) AS resets_5m
    FROM f
    WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ms
                 RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
"""


@register("t14d_changes_resets", family="T14", oracle=T14D_ORACLE)
def t14d_changes_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``changes(m[5m])`` and ``resets(m[5m])``: per-sample 0/1
    flags from w2's lag pass (value differs from / dropped below its
    predecessor), summed over t14's trailing RANGE frame. Completes the
    range-vector function family (rate t14, *_over_time t14b,
    deriv/predict t14c). All-integer arithmetic — engine-exact; one
    shuffle on the series key shared by BOTH window passes, and one Sort:
    the lag orders by (ms, event_id) — ms is injective in ts, so semantics
    match the oracle — and the RANGE window's [ms] requirement is a prefix
    of that sort order (t14's single-sort shape)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    d0 = events.select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "value",
    )
    wlag = Window.partitionBy("event_type", "user_id").orderBy("ms", "event_id")
    d = d0.withColumn("prev", F.lag("value").over(wlag))
    chg = (F.col("prev").isNotNull() & (F.col("value") != F.col("prev"))).cast("long")
    rst = (F.col("prev").isNotNull() & (F.col("value") < F.col("prev"))).cast("long")
    wrange = (
        Window.partitionBy("event_type", "user_id")
        .orderBy("ms")
        .rangeBetween(-300000, 0)
    )
    f = d.select(
        "event_id", "event_type", "user_id", "ms",
        chg.alias("chg"), rst.alias("rst"),
    )
    return f.select(
        "event_id",
        "event_type",
        "user_id",
        F.sum("chg").over(wrange).alias("changes_5m"),
        F.sum("rst").over(wrange).alias("resets_5m"),
    )


T15_ORACLE = """
    WITH v AS (
        SELECT event_id, user_id, epoch_us(ts) // 1000 AS ms
        FROM events WHERE event_type = 'view'
    )
    SELECT ms // 86400000 AS day,
           count(*) AS n_views,
           CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM events p
               WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                 AND epoch_us(p.ts) // 1000 BETWEEN v.ms AND v.ms + 3600000
           ) THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM v
    GROUP BY 1
"""


@register("t15_funnel_conversion", family="T15", oracle=T15_ORACLE)
def t15_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step: per day, how many 'view' events were followed by a
    'purchase' from the same user within an hour — sequential-pattern
    analytics over the event stream.

    NOT a view×purchase pair join (pair volume is quadratic in per-user
    activity): both event kinds union into one per-user ordered pass and
    a single ``first(purchase_ms) over (current row → ∞)`` window gives
    each view its next purchase — j6's as-of shape again, one shuffle on
    user_id, no pair explosion, then a day-keyed count. The oracle's
    correlated EXISTS decorrelates to the same semantics. Day = integer
    epoch-ms division — no timezone in play."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    ev = events.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        (F.col("event_type") == "purchase").cast("int").alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "side")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    nxt = ev.select(
        "user_id",
        "ms",
        "side",
        F.first(F.when(F.col("side") == 1, F.col("ms")), ignorenulls=True)
        .over(w)
        .alias("next_purchase_ms"),
    )
    views = nxt.filter(F.col("side") == 0).select(
        (F.col("ms") / 86400000).cast("long").alias("day"),
        (
            (F.col("next_purchase_ms") - F.col("ms") <= 3600000)
            & F.col("next_purchase_ms").isNotNull()
        )
        .cast("int")
        .alias("conv"),
    )
    return views.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum("conv").cast("bigint").alias("n_converted"),
    )


T16_ORACLE = """
    WITH su AS (
        SELECT user_id, min(epoch_us(ts) // 1000) // 604800000 AS cw
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 1000 // 604800000 AS w
        FROM events
    )
    SELECT cw AS cohort_week, w - cw AS week_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM su JOIN act a USING (user_id)
    WHERE w >= cw
    GROUP BY 1, 2
"""


@register("t16_retention_cohorts", family="T16", oracle=T16_ORACLE)
def t16_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-signup week,
    counted distinct in each later activity week — the other canonical
    event-stream analytics shape next to the funnel (t15).

    Cohort assignment is one groupBy over signup events (tiny), broadcast
    back over the distinct (user, week) activity pairs; weeks are integer
    epoch-ms divisions, every output an integer count. At 100 TB the
    activity dedup (user, week) is the heavy step — a map-side-combined
    distinct keyed on the pair, shrinking the stream ~|events/user/week|×
    before the join."""
    events = load_table(spark, sf_dir, "events")
    week = lambda c: (F.unix_millis(c) / 604800000).cast("long")  # noqa: E731
    su = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(week(F.col("ts"))).alias("cw"))
    )
    act = events.select("user_id", week(F.col("ts")).alias("w")).distinct()
    return (
        act.join(F.broadcast(su), "user_id")
        .filter(F.col("w") >= F.col("cw"))
        .groupBy(F.col("cw").alias("cohort_week"), (F.col("w") - F.col("cw")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


T15B_ORACLE = """
    WITH v AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms
        FROM events WHERE event_type = 'view'
    ),
    conv AS (
        SELECT v.ms // 86400000 AS day,
               (SELECT min(epoch_us(p.ts) // 1000) FROM events p
                WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                  AND epoch_us(p.ts) // 1000 >= v.ms) - v.ms AS delay_ms
        FROM v
    )
    SELECT day,
           count(*) AS n_converted,
           round(quantile_cont(delay_ms, 0.5), 4) AS p50_delay_ms,
           round(quantile_cont(delay_ms, 0.9), 4) AS p90_delay_ms
    FROM conv
    WHERE delay_ms IS NOT NULL AND delay_ms <= 3600000
    GROUP BY day
"""


@register("t15b_time_to_convert", family="T15", oracle=T15B_ORACLE)
def t15b_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-delay distribution: per day, exact p50/p90 of the
    view→next-purchase latency (within the hour) — t15's as-of window
    shape feeding a percentile aggregate. Delays are integer epoch-ms
    differences, so the interpolated percentiles derive from identical
    integers on both engines (the a4 percentile/quantile_cont parity).
    Same scale posture as t15: one per-user window pass, no pair join,
    then a day-keyed aggregate."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    ev = events.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        (F.col("event_type") == "purchase").cast("int").alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ms", "side")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    nxt = ev.select(
        "user_id",
        "ms",
        "side",
        F.first(F.when(F.col("side") == 1, F.col("ms")), ignorenulls=True)
        .over(w)
        .alias("next_purchase_ms"),
    )
    conv = (
        nxt.filter(F.col("side") == 0)
        .select(
            (F.col("ms") / 86400000).cast("long").alias("day"),
            (F.col("next_purchase_ms") - F.col("ms")).alias("delay_ms"),
        )
        .filter(F.col("delay_ms").isNotNull() & (F.col("delay_ms") <= 3600000))
    )
    return conv.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("delay_ms", 0.5), 4).alias("p50_delay_ms"),
        F.round(F.percentile("delay_ms", 0.9), 4).alias("p90_delay_ms"),
    )


T14E_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, event_id, epoch_us(ts) // 1000 AS ms, value,
               lag(value) OVER w AS prev_v,
               lag(epoch_us(ts) // 1000) OVER w AS prev_ms
        FROM events
        WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts, event_id)
    )
    SELECT event_id, event_type, user_id,
           CASE WHEN prev_ms IS NULL OR ms <= prev_ms THEN NULL
                ELSE floor((CASE WHEN value >= prev_v THEN value - prev_v
                                 ELSE value END) * 1000.0 / (ms - prev_ms) * 1e6) / 1e6
           END AS irate_per_sec,
           round(value - prev_v, 2) AS idelta
    FROM d
"""


@register("t14e_irate_idelta", family="T14", oracle=T14E_ORACLE)
def t14e_irate_idelta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``irate(m[..])`` / ``idelta(m[..])``: instantaneous rate and
    delta from the LAST TWO samples of each series — the fast-moving-counter
    companions to t14's windowed ``rate``. One lag window per series key
    (same single shuffle as t14); counter resets make the new value the
    increase (reference NaN/monotonicity model, prometheus.go:28-32 family);
    duplicate-timestamp neighbors yield NULL rate rather than a division by
    zero. Values are 2-decimal-quantized so irate's quotient is identical on
    both engines before round(…,6)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    d = events.select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "value",
        F.lag("value").over(w).alias("prev_v"),
        F.lag(F.unix_millis("ts")).over(w).alias("prev_ms"),
    )
    inc = F.when(F.col("value") >= F.col("prev_v"), F.col("value") - F.col("prev_v")).otherwise(
        F.col("value")
    )
    return d.select(
        "event_id",
        "event_type",
        "user_id",
        F.when(
            F.col("prev_ms").isNull() | (F.col("ms") <= F.col("prev_ms")),
            F.lit(None).cast("double"),
        )
        # floor-truncated, not rounded: the quotient is an arbitrary double
        # (tie-prone under round — CLAUDE.md convention).
        .otherwise(F.floor(inc * 1000.0 / (F.col("ms") - F.col("prev_ms")) * 1e6) / 1e6)
        .alias("irate_per_sec"),
        F.round(F.col("value") - F.col("prev_v"), 2).alias("idelta"),
    )


T14F_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, event_id, epoch_us(ts) // 1000 AS ms, value
        FROM events
    )
    SELECT event_id, event_type, user_id,
           round(quantile_cont(value, 0.5) OVER w, 4) AS p50_ot,
           round(quantile_cont(value, 0.9) OVER w, 4) AS p90_ot
    FROM d
    WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ms
                 RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
"""


@register("t14f_quantile_over_time", family="T14", oracle=T14F_ORACLE)
def t14f_quantile_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``quantile_over_time(φ, m[5m])``: exact interpolated
    percentiles of each series' trailing 5-minute range vector, evaluated at
    every sample. Same one-shuffle RANGE frame as t14b with a percentile
    aggregate in the frame (a4's percentile/quantile_cont linear-interpolation
    parity); inputs are 2-decimal-quantized so the interpolation arithmetic
    agrees bit-for-bit before round(…,4)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    wrange = (
        Window.partitionBy("event_type", "user_id").orderBy("ms").rangeBetween(-300000, 0)
    )
    return events.select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "value",
    ).select(
        "event_id",
        "event_type",
        "user_id",
        F.round(F.percentile("value", 0.5).over(wrange), 4).alias("p50_ot"),
        F.round(F.percentile("value", 0.9).over(wrange), 4).alias("p90_ot"),
    )


T18_ORACLE = """
    WITH b AS (
        SELECT DISTINCT event_type, epoch_us(ts) // 1000 // 300000 AS bucket
        FROM events
    ),
    d AS (
        SELECT event_type, bucket,
               lag(bucket) OVER (PARTITION BY event_type ORDER BY bucket) AS prev
        FROM b
    )
    SELECT event_type,
           (prev + 1) * 300000   AS gap_start_ms,
           bucket * 300000       AS gap_end_ms,
           bucket - prev - 1     AS missing_buckets
    FROM d
    WHERE prev IS NOT NULL AND bucket - prev > 1
"""


def absent_gaps_from_buckets(b: DataFrame) -> DataFrame:
    """Gaps-and-islands derivation over a deduped (event_type, bucket)
    set: lag per series, keep runs between non-adjacent neighbors. The
    ONE home for the gap arithmetic — shared by the batch t18, the
    streaming t18s drain, and their tests, so a boundary fix cannot
    update one twin and silently leave the other on old semantics."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bucket")
    d = b.select("event_type", "bucket", F.lag("bucket").over(w).alias("prev"))
    return d.filter(
        F.col("prev").isNotNull() & (F.col("bucket") - F.col("prev") > 1)
    ).select(
        "event_type",
        ((F.col("prev") + 1) * 300000).alias("gap_start_ms"),
        (F.col("bucket") * 300000).alias("gap_end_ms"),
        (F.col("bucket") - F.col("prev") - 1).alias("missing_buckets"),
    )


@register("t18_absent_gaps", family="T18", oracle=T18_ORACLE)
def t18_absent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``absent_over_time`` analog: contiguous runs of empty
    5-minute buckets per series, found by gaps-and-islands over the
    OBSERVED buckets (distinct → lag → run between non-adjacent
    neighbors). Deliberately never materializes the dense time grid: cost
    is O(observed buckets), not O(span) — the difference between a
    groupBy over real data and exploding a sequence() per series over a
    year of 100 TB history. All-integer arithmetic."""
    events = load_table(spark, sf_dir, "events")
    b = events.select(
        "event_type", (F.unix_millis("ts") / F.lit(300000)).cast("long").alias("bucket")
    ).distinct()
    return absent_gaps_from_buckets(b)


T20_ORACLE = """
    WITH RECURSIVE s AS (
        SELECT event_type, user_id, CAST(value AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) AS i,
               count(*) OVER (PARTITION BY event_type, user_id) AS n
        FROM events
        WHERE value IS NOT NULL
    ),
    hw AS (
        SELECT event_type, user_id, i, n, v AS l, CAST(0.0 AS DOUBLE) AS t
        FROM s WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.user_id, s.i, s.n,
               0.3 * s.v + 0.7 * (hw.l + hw.t),
               0.1 * ((0.3 * s.v + 0.7 * (hw.l + hw.t)) - hw.l) + 0.9 * hw.t
        FROM hw
        JOIN s ON s.event_type = hw.event_type AND s.user_id = hw.user_id
              AND s.i = hw.i + 1
    )
    SELECT event_type, user_id,
           CAST(n AS INTEGER)  AS n_samples,
           round(l, 6)         AS hw_level,
           round(t, 6)         AS hw_trend,
           round(l + t, 6)     AS hw_forecast
    FROM hw WHERE i = n
"""


@register("t20_holt_winters", family="T20", oracle=T20_ORACLE)
def t20_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``holt_winters(v[..], 0.3, 0.1)``: double exponential
    smoothing per series — an inherently SEQUENTIAL recurrence, expressed
    as an order-stable left fold: Spark runs the ``aggregate`` higher-order
    function over the time-sorted sample array (no Python in the path);
    the oracle is a recursive CTE applying the identical recurrence (NOT
    DuckDB ``list_reduce``: its struct accumulator evaluates fields
    sequentially, so the trend arm reads the already-updated level —
    verified wrong on a 3-element probe). Both sides apply bit-identical
    IEEE ops in identical order, so the hash gate covers a stateful
    recurrence no window frame can express — the declarative alternative
    to a Python loop in applyInPandas (T10).

    Scale: one shuffle (the groupBy); per-series arrays stay executor-side
    and bounded by series length. For unbounded series, chunk by calendar
    period and carry (level, trend) across chunks — the same
    state-handoff shape as t17's prefix moments."""
    events = load_table(spark, sf_dir, "events")
    # NULL staleness markers excluded on all three paths (filter here,
    # WHERE in the recursive-CTE oracle, per-row skip in the stateful
    # holt_winters) so n_samples and the recurrence agree everywhere.
    s = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "ts", "event_id", F.col("value").cast("double").alias("value")
                    )
                )
            ).alias("samples")
        )
    )
    vals = F.transform("samples", lambda r: r["value"])

    def step(acc, x):
        level = F.lit(0.3) * x + F.lit(0.7) * (acc["l"] + acc["t"])
        return F.struct(
            level.alias("l"),
            (F.lit(0.1) * (level - acc["l"]) + F.lit(0.9) * acc["t"]).alias("t"),
        )

    init = F.struct(
        F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("t")
    )
    folded = F.aggregate(F.slice(vals, F.lit(2), F.size(vals) - 1), init, step)
    return s.select(
        "event_type",
        "user_id",
        F.size(vals).alias("n_samples"),
        F.round(folded["l"], 6).alias("hw_level"),
        F.round(folded["t"], 6).alias("hw_trend"),
        F.round(folded["l"] + folded["t"], 6).alias("hw_forecast"),
    )


T21_ORACLE = """
    WITH v AS (
        SELECT (epoch_us(ts) // 1000 // 300000) * 300000 AS bucket_ms,
               event_type,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     / count(*), 4) AS avg_value
        FROM events
        GROUP BY 1, 2
    ),
    r AS (
        SELECT bucket_ms, event_type, avg_value,
               row_number() OVER (PARTITION BY bucket_ms
                                  ORDER BY avg_value DESC, event_type) AS rk
        FROM v
    )
    SELECT bucket_ms, event_type, rk,
           CASE WHEN avg_value < 0 THEN 0.0
                WHEN avg_value > 50 THEN 50.0
                ELSE avg_value END AS clamped_avg,
           regexp_replace(event_type, '^(err|sign)(.*)$', 'alert_\\1') AS sev_label
    FROM r
    WHERE rk <= 2
"""


def avg_vector_5min(events: DataFrame) -> DataFrame:
    """Per-(5-minute bucket, series) decimal-exact average — the
    instant-vector evaluation both t21 (batch) and t21s (streaming
    complete-mode agg) run; one home so the two twins can't drift."""
    return events.groupBy(
        ((F.unix_millis("ts") / F.lit(300000)).cast("long") * 300000).alias(
            "bucket_ms"
        ),
        "event_type",
    ).agg(
        # r13: cents-long exact sum (a1's mechanism) instead of a
        # decimal(18,2) buffer; identical double out.
        F.round(
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0))
            / F.count(F.lit(1)),
            4,
        ).alias("avg_value")
    )


def vector_ops_from_avg(v: DataFrame) -> DataFrame:
    """topk(2) + clamp + label_replace over a pre-aggregated
    (bucket_ms, event_type, avg_value) vector — shared by t21/t21s
    (the absent_gaps_from_buckets pattern: one home for the operator
    arithmetic)."""
    from pyspark.sql import Window

    w = Window.partitionBy("bucket_ms").orderBy(F.desc("avg_value"), "event_type")
    r = v.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 2)
    return r.select(
        "bucket_ms",
        "event_type",
        "rk",
        F.when(F.col("avg_value") < 0, F.lit(0.0))
        .when(F.col("avg_value") > 50, F.lit(50.0))
        .otherwise(F.col("avg_value"))
        .alias("clamped_avg"),
        F.regexp_replace("event_type", r"^(err|sign)(.*)$", r"alert_$1").alias(
            "sev_label"
        ),
    )


@register("t21_promql_vector_ops", family="T21", oracle=T21_ORACLE)
def t21_promql_vector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL instant-vector operator surface in one query:
    ``topk(2, avg by (name) (v))`` per 5-minute evaluation bucket,
    ``clamp(v, 0, 50)``, and ``label_replace(v, "sev", "alert_$1",
    "name", "^(err|sign)(.*)$")``. The topk is w4's WindowGroupLimit
    shape over the PRE-AGGREGATED per-(bucket, name) vector — ranking
    5 rows per bucket, never raw samples; clamp/label_replace are pure
    projections. Decimal-exact averages (t5's avg rule) keep the rank
    order and the clamp branch engine-identical."""
    events = load_table(spark, sf_dir, "events")
    return vector_ops_from_avg(avg_vector_5min(events))


T22_ORACLE = """
    WITH bounds AS (SELECT max(epoch_us(ts) // 1000) AS t_max FROM events),
    s AS (
        SELECT event_type, user_id, epoch_us(ts) // 1000 AS ms, value, t_max
        FROM events, bounds
    )
    SELECT event_type, user_id,
           ms AS bucket_ms, 1 AS n,
           round(CAST(value AS DECIMAL(18,2)), 2) AS v_avg,
           value AS v_min, value AS v_max
    FROM s WHERE ms > t_max - 86400000
    UNION ALL
    SELECT event_type, user_id,
           (ms // 3600000) * 3600000 AS bucket_ms,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS v_avg,
           min(value) AS v_min,
           max(value) AS v_max
    FROM s WHERE ms <= t_max - 86400000
    GROUP BY event_type, user_id, (ms // 3600000) * 3600000
"""


@register("t22_downsample_retention", family="T22", oracle=T22_ORACLE)
def t22_downsample_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention downsampling (the Thanos/M3 compaction shape): samples
    younger than 24 h of the corpus max stay raw; older samples collapse
    to per-(series, 1 h bucket) avg/min/max/count rollups. One scan fans
    into a filter branch (no shuffle) and a pre-aggregated branch (one
    shuffle on the growing (series, bucket) key); the 24 h cutoff is a
    broadcast scalar from a max() aggregate, not a wall-clock read —
    deterministic and oracle-checkable. At 100 TB this is the compaction
    job that turns an append-only metrics lake into bounded storage with
    full-resolution recency.

    STREAMING TWIN: ``t22s_downsample_retention_stream``
    (streaming/queries.py), which REFUTES the impossibility argument
    this docstring carried through r6 ("any sample may end up in the raw
    branch, so nothing can ever be summarized"). The t25s trailing-day
    buffer breaks it: a sample lands in the final raw branch only if it
    lies within 1 d of the GLOBAL max, and series_max <= global_max, so
    anything older than 1 d relative to the series' OWN running max is
    provably in the old branch and folds into a mergeable per-bucket
    rollup partial (count / non-NULL count / integer-cents sum / min /
    max) at eviction time. State is O(the operator's own output) per
    series — the trailing raw day plus hour-bucket partials — and the
    drain reproduces this exact arithmetic against the same oracle. (In
    production the cutoff is wall-clock and downsampling can still run
    as the Thanos-style periodic compaction job; the twin shows the
    at-ingest form is ALSO available, with output-bounded state.)"""
    events = load_table(spark, sf_dir, "events")
    s = events.select(
        "event_type", "user_id", F.unix_millis("ts").alias("ms"), "value"
    )
    t_max = max_ms_frame(spark, sf_dir, "t_max")
    s = s.crossJoin(F.broadcast(t_max))
    recent = s.filter(F.col("ms") > F.col("t_max") - 86400000).select(
        "event_type",
        "user_id",
        F.col("ms").alias("bucket_ms"),
        F.lit(1).cast("long").alias("n"),
        # round(double, 2) ≡ cast-to-decimal(18,2)-then-double: both are
        # BigDecimal.valueOf(v).setScale(2, HALF_UP).doubleValue() (r13).
        F.round(F.col("value"), 2).alias("v_avg"),
        F.col("value").alias("v_min"),
        F.col("value").alias("v_max"),
    )
    old = (
        s.filter(F.col("ms") <= F.col("t_max") - 86400000)
        .groupBy(
            "event_type",
            "user_id",
            ((F.col("ms") / F.lit(3600000)).cast("long") * 3600000).alias("bucket_ms"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # r13: cents-long exact sum (a1's mechanism).
            F.round(
                (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0))
                / F.count(F.lit(1)),
                4,
            ).alias("v_avg"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
    )
    return recent.unionByName(old)


T23_ORACLE = """
    WITH bounds AS (SELECT max(epoch_us(ts) // 1000) AS t_eval FROM events),
    s AS (
        SELECT event_type, user_id, epoch_us(ts) // 1000 AS ms, value, t_eval
        FROM events, bounds
        WHERE epoch_us(ts) // 1000 BETWEEN t_eval - 300000 AND t_eval
    )
    SELECT event_type, user_id,
           max(ms)                                  AS sample_ms,
           arg_max(value, ms)                       AS value,
           max(t_eval)                              AS eval_ms
    FROM s
    GROUP BY event_type, user_id
"""


@register("t23_instant_vector", family="T23", oracle=T23_ORACLE)
def t23_instant_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL instant-vector selection: evaluate `m` at time T (= corpus
    max, deterministic) — each series contributes its LAST sample within
    the 5-minute staleness lookback; series with no sample in the window
    are absent (staleness, the complement of t18's gap detection). One
    filter + one max_by aggregation — no window, no sort; the lookback
    filter prunes the scan before the shuffle. (event_type, user_id, ms)
    is unique in the corpus, so max_by's tie behavior is never exercised
    and both engines pick the identical sample."""
    events = load_table(spark, sf_dir, "events")
    s = events.select(
        "event_type", "user_id", F.unix_millis("ts").alias("ms"), "value"
    )
    t_eval = max_ms_frame(spark, sf_dir, "t_eval")
    s = s.crossJoin(F.broadcast(t_eval)).filter(
        F.col("ms").between(F.col("t_eval") - 300000, F.col("t_eval"))
    )
    return s.groupBy("event_type", "user_id").agg(
        F.max("ms").alias("sample_ms"),
        F.max_by("value", F.col("ms")).alias("value"),
        F.max("t_eval").alias("eval_ms"),
    )


T24_ORACLE = """
    WITH errors AS (
        SELECT user_id, count(*) AS n_err,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_err
        FROM events WHERE event_type = 'error' GROUP BY user_id
    ),
    views AS (
        SELECT user_id, count(*) AS n_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    )
    SELECT e.user_id,
           e.n_err, v.n_view,
           round(CAST(e.n_err AS DOUBLE) / v.n_view, 6) AS err_per_view,
           e.n_err - v.n_view                           AS err_minus_view,
           (e.n_err > v.n_view)                         AS err_gt_view
    FROM errors e JOIN views v ON e.user_id = v.user_id
"""


@register("t24_vector_matching", family="T24", oracle=T24_ORACLE)
def t24_vector_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL vector-to-vector binary operations with label matching:
    ``errors / on(user) views`` (plus ``-`` and the ``>`` filter-style
    comparison) — two instant vectors aggregated from the same stream,
    joined on their shared label set. PromQL's default matching (series
    present in BOTH vectors) is an inner equi-join of two pre-aggregated
    vectors: both sides shuffle ~#series rows, never raw samples, and at
    scale the smaller vector broadcasts. The arithmetic runs on exact
    integers (counts), so ratios divide identically on both engines."""
    events = load_table(spark, sf_dir, "events")
    errors = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_err"),
            # r13: cents-long exact sum (a1's mechanism).
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0), 2
            ).alias("sum_err"),
        )
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_view"))
    )
    j = errors.join(views, "user_id")
    return j.select(
        "user_id",
        "n_err",
        "n_view",
        F.round(F.col("n_err").cast("double") / F.col("n_view"), 6).alias(
            "err_per_view"
        ),
        (F.col("n_err") - F.col("n_view")).alias("err_minus_view"),
        (F.col("n_err") > F.col("n_view")).alias("err_gt_view"),
    )


T25_ORACLE = """
    WITH bounds AS (SELECT max(epoch_us(ts) // 1000) AS t_eval FROM events),
    s AS (
        SELECT event_type, user_id, epoch_us(ts) // 1000 AS ms, value, t_eval
        FROM events, bounds
        WHERE epoch_us(ts) // 1000 BETWEEN t_eval - 86400000 AND t_eval
    ),
    d AS (
        SELECT event_type, user_id, ms, value, t_eval,
               lag(value) OVER (PARTITION BY event_type, user_id
                                ORDER BY ms) AS prev
        FROM s
    ),
    g AS (
        SELECT event_type, user_id,
               count(*)                           AS n,
               min(ms)                            AS first_ms,
               max(ms)                            AS last_ms,
               max(t_eval)                        AS t_eval,
               CAST(sum(CASE WHEN prev IS NULL THEN CAST(0.00 AS DECIMAL(18,2))
                             WHEN value >= prev
                               THEN CAST(value AS DECIMAL(18,2))
                                    - CAST(prev AS DECIMAL(18,2))
                             ELSE CAST(value AS DECIMAL(18,2)) END)
                    AS DOUBLE)                    AS inc
        FROM d
        GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, CAST(n AS BIGINT) AS n,
           round(inc, 2) AS increase_raw,
           floor(inc * ((CAST(last_ms - first_ms AS DOUBLE)
                 + CASE WHEN CAST(first_ms - (t_eval - 86400000) AS DOUBLE)
                             < 1.1 * (CAST(last_ms - first_ms AS DOUBLE) / (n - 1))
                        THEN CAST(first_ms - (t_eval - 86400000) AS DOUBLE)
                        ELSE (CAST(last_ms - first_ms AS DOUBLE) / (n - 1)) / 2 END
                 + CASE WHEN CAST(t_eval - last_ms AS DOUBLE)
                             < 1.1 * (CAST(last_ms - first_ms AS DOUBLE) / (n - 1))
                        THEN CAST(t_eval - last_ms AS DOUBLE)
                        ELSE (CAST(last_ms - first_ms AS DOUBLE) / (n - 1)) / 2 END)
                 / CAST(last_ms - first_ms AS DOUBLE)) / 86400.0 * 1e6) / 1e6 AS rate_per_sec
    FROM g
    WHERE n >= 2 AND last_ms > first_ms
"""


@register("t25_rate_extrapolated", family="T25", oracle=T25_ORACLE)
def t25_rate_extrapolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``rate(m[1d])`` with Prometheus's REAL boundary
    extrapolation (promql/functions.go extrapolatedRate): the
    reset-adjusted increase over the samples inside the window is scaled
    out to the window edges — by the actual gap when the edge gap is
    < 1.1× the average sample spacing, else by half a spacing — then
    divided by the window length. t14 is the textbook frame-sum rate;
    this is the semantic Prometheus actually ships, evaluated at T =
    corpus max (t23's deterministic eval point). The range is 1 day, not
    the classic 5 m: this corpus is ~30 days at minutes-apart per-series
    samples, so a 5 m lookback at corpus end holds no series with ≥2
    samples and the oracle check was VACUOUS (0 == 0 rows; r5 vacuity
    audit) — at [1d] the extrapolation arithmetic actually executes
    (~47/~580 series at sf0.01/sf0.1).

    One lookback filter → one lag pass → one hash agg per series; the
    increase sums 2-decimal deltas as exact decimals, and every
    extrapolation term is written in the identical operand order on both
    engines so the doubles agree bit-for-bit before round(…,6)."""
    events = load_table(spark, sf_dir, "events")
    s = events.select(
        "event_type", "user_id", F.unix_millis("ts").alias("ms"), "value"
    )
    return extrapolated_rate_1d(s, max_ms_frame(spark, sf_dir, "t_eval"))


def extrapolated_rate_1d(s: DataFrame, t_eval_frame: DataFrame | None = None) -> DataFrame:
    """t25's whole expression tree after the (event_type, user_id, ms,
    value) projection — factored out so the streaming twin t25s applies
    the IDENTICAL computation (same operand order, same decimal sums,
    same floor truncation) to its drained trailing-buffer residue and
    registers against the SAME oracle."""
    from pyspark.sql import Window

    # r13: the batch caller passes the footer-stats eval anchor; the
    # streaming twin (whose input is the drained residue, not a parquet
    # table) keeps the in-stream max — identical value by construction.
    t_eval = (
        t_eval_frame
        if t_eval_frame is not None
        else s.agg(F.max("ms").alias("t_eval"))
    )
    s = s.crossJoin(F.broadcast(t_eval)).filter(
        F.col("ms").between(F.col("t_eval") - 86400000, F.col("t_eval"))
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("ms")
    d = s.withColumn("prev", F.lag("value").over(w))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    inc_term = (
        F.when(F.col("prev").isNull(), F.lit(0.00).cast("decimal(18,2)"))
        .when(F.col("value") >= F.col("prev"), dec("value") - dec("prev"))
        .otherwise(dec("value"))
    )
    g = d.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ms").alias("first_ms"),
        F.max("ms").alias("last_ms"),
        F.max("t_eval").alias("t_eval"),
        F.sum(inc_term).cast("double").alias("inc"),
    )
    g = g.filter((F.col("n") >= 2) & (F.col("last_ms") > F.col("first_ms")))
    sampled = (F.col("last_ms") - F.col("first_ms")).cast("double")
    avg_dur = sampled / (F.col("n") - 1)
    dur_start = (F.col("first_ms") - (F.col("t_eval") - 86400000)).cast("double")
    dur_end = (F.col("t_eval") - F.col("last_ms")).cast("double")
    extra = (
        sampled
        + F.when(dur_start < 1.1 * avg_dur, dur_start).otherwise(avg_dur / 2)
        + F.when(dur_end < 1.1 * avg_dur, dur_end).otherwise(avg_dur / 2)
    )
    return g.select(
        "event_type",
        "user_id",
        F.col("n").alias("n"),
        F.round(F.col("inc"), 2).alias("increase_raw"),
        # Floor-truncation, not round(): the extrapolation factor is an
        # arbitrary double quotient, the half-tie class where Spark and
        # DuckDB round() can split a representable .5 differently (CLAUDE.md
        # convention, the f8 fix). floor(q*1e6)/1e6 is tie-free because both
        # engines hold the identical IEEE quotient.
        (F.floor(F.col("inc") * (extra / sampled) / 86400.0 * 1e6) / 1e6).alias(
            "rate_per_sec"
        ),
    )


T26_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, epoch_us(ts) // 1000 AS ms, value,
               lag(value) OVER (PARTITION BY event_type, user_id
                                ORDER BY ts, event_id) AS prev
        FROM events
        WHERE value IS NOT NULL
    ),
    i AS (
        SELECT event_type, user_id,
               ms // 86400000 AS day,
               ms // 300000   AS bucket,
               CASE WHEN prev IS NULL THEN CAST(0.00 AS DECIMAL(18,2))
                    WHEN value >= prev THEN CAST(value AS DECIMAL(18,2))
                                            - CAST(prev AS DECIMAL(18,2))
                    ELSE CAST(value AS DECIMAL(18,2)) END AS inc
        FROM d
    ),
    b AS (
        SELECT event_type, user_id, day, bucket,
               floor(CAST(sum(inc) AS DOUBLE) / 300.0 * 1e6) / 1e6 AS bucket_rate
        FROM i
        GROUP BY event_type, user_id, day, bucket
    )
    SELECT event_type, user_id, day,
           CAST(count(*) AS BIGINT)      AS n_buckets,
           max(bucket_rate)              AS max_rate,
           min(bucket_rate)              AS min_rate
    FROM b
    GROUP BY event_type, user_id, day
"""


@register("t26_subquery_max_rate", family="T26", oracle=T26_ORACLE)
def t26_subquery_max_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL subquery shape ``max_over_time(rate(m[5m])[1d:5m])`` on the
    tumbling evaluation grid: per-series reset-aware increases roll into
    5-minute bucket rates (inner evaluation), and each day takes the
    max/min over its buckets (outer range aggregation). Two-level
    aggregation after one lag pass — the second groupBy collapses keys of
    the first, so AQE reuses the (series)-hashed exchange and the outer
    level shuffles ONE ROW PER (series, day, bucket), not samples.
    Increases are exact decimals; each bucket rate is one double division
    rounded before the outer max/min, so both engines compare identical
    values. NULL samples (staleness markers) are excluded on all three
    paths — batch filter, oracle WHERE, and the streaming twin's stateful
    op (which skips them natively) — per the repo's PromQL-staleness
    alignment convention (r7, with the t26s twin; the t14 precedent)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("ms", "event_id")
    d = events.select(
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "value",
        "event_id",
    ).withColumn("prev", F.lag("value").over(w))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    inc = (
        F.when(F.col("prev").isNull(), F.lit(0.00).cast("decimal(18,2)"))
        .when(F.col("value") >= F.col("prev"), dec("value") - dec("prev"))
        .otherwise(dec("value"))
    )
    i = d.select(
        "event_type",
        "user_id",
        (F.col("ms") / F.lit(86400000)).cast("long").alias("day"),
        (F.col("ms") / F.lit(300000)).cast("long").alias("bucket"),
        inc.alias("inc"),
    )
    b = i.groupBy("event_type", "user_id", "day", "bucket").agg(
        # floor-truncated (tie-free), matching the oracle — see CLAUDE.md.
        (F.floor(F.sum("inc").cast("double") / 300.0 * 1e6) / 1e6).alias(
            "bucket_rate"
        )
    )
    return b.groupBy("event_type", "user_id", "day").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_rate").alias("max_rate"),
        F.min("bucket_rate").alias("min_rate"),
    )


T27_ORACLE = """
    SELECT event_type,
           round(value, 0) AS value_bucket,
           count(*)        AS n_samples,
           count(DISTINCT user_id) AS n_series
    FROM events
    GROUP BY event_type, round(value, 0)
"""


@register("t27_count_values", family="T27", oracle=T27_ORACLE)
def t27_count_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``count_values("v", m)``: the distribution of sample VALUES
    — group by the value itself (unit-rounded here, PromQL stringifies
    exact values) and count samples and contributing series per bucket.
    One hash aggregate; the group key's cardinality is the value domain,
    not the series count, so partial aggregation collapses hard at scale.
    Complements a10's fixed `le`-bucket histogram: count_values is the
    exact/dynamic-bucket form."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        "event_type", F.round("value", 0).alias("value_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.countDistinct("user_id").alias("n_series"),
    )


T28_ORACLE = """
    WITH bounds AS (SELECT max(epoch_us(ts) // 1000) AS t_eval FROM events),
    s AS (
        SELECT user_id,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
               CASE WHEN epoch_us(ts) // 1000 >= t_eval - 300000
                    THEN 1 ELSE 0 END AS in_short
        FROM events, bounds
        WHERE epoch_us(ts) // 1000 BETWEEN t_eval - 3600000 AND t_eval
    )
    SELECT user_id,
           CAST(sum(in_short) AS BIGINT)                    AS n_5m,
           CAST(sum(is_err * in_short) AS BIGINT)           AS err_5m,
           CAST(count(*) AS BIGINT)                         AS n_1h,
           CAST(sum(is_err) AS BIGINT)                      AS err_1h,
           round(sum(is_err * in_short) * 1.0
                 / nullif(sum(in_short), 0), 6)             AS ratio_5m,
           round(sum(is_err) * 1.0 / count(*), 6)           AS ratio_1h,
           (sum(in_short) > 0
            AND sum(is_err * in_short) * 1.0 / nullif(sum(in_short), 0) >= 0.3
            AND sum(is_err) * 1.0 / count(*) >= 0.3)        AS page_alert
    FROM s
    GROUP BY user_id
"""


@register("t28_slo_burn_alert", family="T28", oracle=T28_ORACLE)
def t28_slo_burn_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE-workbook multiwindow burn-rate alert: per series, the error
    ratio over a SHORT (5 m) and a LONG (1 h) window must BOTH exceed the
    burn threshold to page — the short window gives fast detection, the
    long one suppresses blips (Google SRE workbook ch. 5 shape, the
    canonical production consumer of a metrics stream). One lookback scan
    computes both windows as conditional sums in a single hash aggregate
    — no second pass, no join of two windowed queries; integer counts
    make the ratios engine-exact. Evaluated at T = corpus max (t23's
    deterministic eval-point pattern)."""
    events = load_table(spark, sf_dir, "events")
    s = events.select("user_id", "event_type", F.unix_millis("ts").alias("ms"))
    t_eval = max_ms_frame(spark, sf_dir, "t_eval")
    s = s.crossJoin(F.broadcast(t_eval)).filter(
        F.col("ms").between(F.col("t_eval") - 3600000, F.col("t_eval"))
    )
    is_err = (F.col("event_type") == "error").cast("long")
    in_short = (F.col("ms") >= F.col("t_eval") - 300000).cast("long")
    g = s.select("user_id", is_err.alias("is_err"), in_short.alias("in_short"))
    agg = g.groupBy("user_id").agg(
        F.sum("in_short").alias("n_5m"),
        F.sum(F.col("is_err") * F.col("in_short")).alias("err_5m"),
        F.count(F.lit(1)).alias("n_1h"),
        F.sum("is_err").alias("err_1h"),
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


T14G_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, event_id, epoch_us(ts) // 1000 AS ms,
               CAST(round(value * 100) AS BIGINT) AS v100
        FROM events
    ),
    s AS (
        SELECT event_type, user_id, event_id,
               count(*) OVER w         AS n,
               sum(v100) OVER w        AS sv,
               sum(v100 * v100) OVER w AS svv
        FROM d
        WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ms
                     RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, user_id,
           CAST(n AS BIGINT) AS n_ot,
           round(CAST(n * svv - sv * sv AS DOUBLE) / (n * n) / 10000.0, 6)
               AS stdvar_ot,
           round(sqrt(CAST(n * svv - sv * sv AS DOUBLE) / (n * n) / 10000.0), 6)
               AS stddev_ot
    FROM s
"""


@register("t14g_stddev_over_time", family="T14", oracle=T14G_ORACLE)
def t14g_stddev_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``stddev_over_time`` / ``stdvar_over_time`` (population
    moments of the trailing range vector) — completes t14b's over_time
    family. Values quantize to integer hundredths, so the frame's count
    and both moment sums are EXACT integers (t17's sufficient-statistics
    trick applied to a window frame); n·Σv² − (Σv)² is the n²-scaled
    variance computed in integer arithmetic, with exactly one double
    division + sqrt per row — identical on both engines before
    round(…,6). One Window node, one shuffle on the series key."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    d = events.select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v100"),
    )
    w = (
        Window.partitionBy("event_type", "user_id").orderBy("ms").rangeBetween(-300000, 0)
    )
    s = d.select(
        "event_id",
        "event_type",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v100").over(w).alias("sv"),
        F.sum(F.col("v100") * F.col("v100")).over(w).alias("svv"),
    )
    num = (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")).cast("double")
    stdvar = num / (F.col("n") * F.col("n")) / 10000.0
    return s.select(
        "event_id",
        "event_type",
        "user_id",
        F.col("n").alias("n_ot"),
        F.round(stdvar, 6).alias("stdvar_ot"),
        F.round(F.sqrt(stdvar), 6).alias("stddev_ot"),
    )


T30_ORACLE = """
    WITH d AS (
        SELECT event_type, epoch_us(ts) // 1000 AS ms,
               CAST(round(value * 100) AS BIGINT) AS v100, event_id
        FROM events WHERE value IS NOT NULL
    ),
    lagged AS (
        SELECT event_type, ms, v100,
               row_number() OVER w AS rn,
               ms   - lag(ms)   OVER w AS dt,
               v100 - lag(v100) OVER w AS dv,
               (ms - lag(ms) OVER w)
                   - (lag(ms) OVER w - lag(ms, 2) OVER w) AS dod,
               (v100 - lag(v100) OVER w)
                   - (lag(v100) OVER w - lag(v100, 2) OVER w) AS dvv
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY ms, event_id)
    ),
    costed AS (
        SELECT event_type,
               CASE WHEN rn = 1 THEN 128
                    WHEN rn = 2 THEN
                        length(bin(CASE WHEN dt >= 0 THEN 2 * dt
                                        ELSE -2 * dt - 1 END)) + 1
                      + length(bin(CASE WHEN dv >= 0 THEN 2 * dv
                                        ELSE -2 * dv - 1 END)) + 1
                    ELSE
                        length(bin(CASE WHEN dod >= 0 THEN 2 * dod
                                        ELSE -2 * dod - 1 END)) + 1
                      + length(bin(CASE WHEN dvv >= 0 THEN 2 * dvv
                                        ELSE -2 * dvv - 1 END)) + 1
               END AS bits
        FROM lagged
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(count(*) * 128 AS BIGINT) AS raw_bits,
           CAST(sum(bits) AS BIGINT) AS dod_bits,
           CAST((count(*) * 128 * 1000000) // sum(bits) AS BIGINT)
               AS ratio_ppm
    FROM costed
    GROUP BY event_type
"""


@register("t30_dod_storage_sizing", family="S9", oracle=T30_ORACLE)
def t30_dod_storage_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-style (Pelkonen et al. 2015, public paper) delta-of-delta
    storage sizing for the metrics archive: per series, estimate the
    compressed footprint of (timestamp, value) under second-order delta
    encoding vs the raw 128-bit row — the capacity-planning query a TSDB
    runs before choosing chunk encodings (S9's archival sink is the
    consumer). The estimator is EXACT integer accounting shared verbatim
    by both engines: per sample, zigzag(x) = 2x / −2x−1, cost =
    bitlength(zigzag) + 1 tag bit for each of the time and value deltas
    (headers: 128 bits for the first sample, first-order deltas for the
    second) — bitlength computed as ``length(bin(z))``, a STRING length,
    because floor(log2) floats can land on power-of-two boundaries where
    the two engines' log rounding could differ, while both engines print
    the identical minimal binary string for a positive BIGINT. Values
    quantize to integer cents (t14's convention, exact on this 2-decimal
    corpus); NULL staleness markers are excluded on both engines; the
    compression ratio ships as truncated PPM via integer division (the
    f8 tie-free rule).

    Scale shape — BUCKET-DECOMPOSED (r9, VERDICT r8 task #3: the naive
    per-series lag window measured 4.8× time at 16× — parallelism
    capped at |event_type|, per-task sort growing with the whole series
    — the same disease t32's decomposition cured 127×). Delta-of-delta
    costs are computed WITHIN (series, 1 h bucket) — key count grows
    with the data — and the ≤2 boundary rows per bucket are re-costed
    from a tiny per-bucket relation: a row with bucket-rank ≥ 3 has both
    predecessors in its own bucket, so only each bucket's FIRST TWO rows
    carry bucket-local costs (128-bit header / first-order delta) that
    differ from the global sequence's (dod against the previous
    bucket's tail). The correction window runs over |buckets| rows per
    series, not |samples|, and the two-sample lookback is BOUNDED:
    prev-1 is always the previous bucket's last sample, prev-2 is the
    previous bucket's second-to-last when it has ≥2 rows, else the last
    sample of the bucket before it (every bucket row is non-empty, so
    lag(…, 2) suffices — no recurrence). Series-first buckets keep
    their local header costs, exactly matching the oracle's direct lag
    form. Boundary semantics pinned on engineered single-sample-bucket
    edges by test_operators.py::test_dod_bucket_boundary_recost."""
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = events.select(
        "event_type",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
        "event_id",
        F.expr("unix_millis(ts) div 3600000").alias("b"),  # 1 h buckets
    )

    def zz_bits(c: Column) -> Column:
        z = F.when(c >= 0, 2 * c).otherwise(-2 * c - 1)
        return F.length(F.bin(z)) + 1

    w_in = Window.partitionBy("event_type", "b").orderBy("ms", "event_id")
    # last / second-to-last flags via lead() on the SAME window node as
    # the lags (an unbounded-following count frame would add a second
    # Window node buffering every bucket — measured 2× at sf0.1).
    in_bucket = d.select(
        "event_type",
        "b",
        "ms",
        "v100",
        F.row_number().over(w_in).alias("rn_in"),
        F.lead("ms").over(w_in).isNull().alias("is_last"),
        (
            F.lead("ms", 2).over(w_in).isNull()
            & F.lead("ms").over(w_in).isNotNull()
        ).alias("is_2nd_last"),
        (F.col("ms") - F.lag("ms").over(w_in)).alias("dt"),
        (F.col("v100") - F.lag("v100").over(w_in)).alias("dv"),
        (
            (F.col("ms") - F.lag("ms").over(w_in))
            - (F.lag("ms").over(w_in) - F.lag("ms", 2).over(w_in))
        ).alias("dod"),
        (
            (F.col("v100") - F.lag("v100").over(w_in))
            - (F.lag("v100").over(w_in) - F.lag("v100", 2).over(w_in))
        ).alias("dvv"),
    )
    # Bucket-LOCAL cost (first row = header, second = first-order delta,
    # rest = dod — the naive formula applied inside the bucket).
    local_bits = (
        F.when(F.col("rn_in") == 1, F.lit(128))
        .when(F.col("rn_in") == 2, zz_bits(F.col("dt")) + zz_bits(F.col("dv")))
        .otherwise(zz_bits(F.col("dod")) + zz_bits(F.col("dvv")))
    )
    # Boundary samples as PLAIN long conditional aggregates (a struct
    # max would kick the agg out of hash aggregation / codegen); each
    # condition selects exactly one row per bucket, so max == that row.
    per_bucket = in_bucket.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.sum(local_bits).cast("bigint").alias("bits_in"),
        F.max(F.when(F.col("rn_in") == 1, F.col("ms"))).alias("f1ms"),
        F.max(F.when(F.col("rn_in") == 1, F.col("v100"))).alias("f1v"),
        F.max(F.when(F.col("rn_in") == 2, F.col("ms"))).alias("f2ms"),
        F.max(F.when(F.col("rn_in") == 2, F.col("v100"))).alias("f2v"),
        F.max(F.when(F.col("is_last"), F.col("ms"))).alias("l1ms"),
        F.max(F.when(F.col("is_last"), F.col("v100"))).alias("l1v"),
        F.max(F.when(F.col("is_2nd_last"), F.col("ms"))).alias("l2ms"),
        F.max(F.when(F.col("is_2nd_last"), F.col("v100"))).alias("l2v"),
    )
    w_b = Window.partitionBy("event_type").orderBy("b")
    prev_has_two = F.lag("n_in").over(w_b) >= 2
    ctx = per_bucket.select(
        "event_type",
        "n_in",
        "bits_in",
        "f1ms",
        "f1v",
        "f2ms",
        "f2v",
        F.lag("l1ms").over(w_b).alias("p1ms"),
        F.lag("l1v").over(w_b).alias("p1v"),
        # prev-2 sample of the global sequence: previous bucket's
        # second-to-last when it has >=2 rows, else the bucket before
        # it contributes its last sample (bounded 2-bucket lookback).
        F.when(prev_has_two, F.lag("l2ms").over(w_b))
        .otherwise(F.lag("l1ms", 2).over(w_b))
        .alias("p2ms"),
        F.when(prev_has_two, F.lag("l2v").over(w_b))
        .otherwise(F.lag("l1v", 2).over(w_b))
        .alias("p2v"),
    )
    f1ms, f1v = F.col("f1ms"), F.col("f1v")
    f2ms, f2v = F.col("f2ms"), F.col("f2v")
    p1ms, p1v = F.col("p1ms"), F.col("p1v")
    p2ms, p2v = F.col("p2ms"), F.col("p2v")
    # True global cost of the bucket's first row: dod vs (p1, p2) when
    # both exist, first-order delta when it is the series' 2nd sample.
    true1 = F.when(
        p2ms.isNotNull(),
        zz_bits((f1ms - p1ms) - (p1ms - p2ms)) + zz_bits((f1v - p1v) - (p1v - p2v)),
    ).otherwise(zz_bits(f1ms - p1ms) + zz_bits(f1v - p1v))
    # True global cost of the bucket's second row (global rank >= 3
    # whenever a previous bucket exists): dod vs (f1, p1).
    true2 = zz_bits((f2ms - f1ms) - (f1ms - p1ms)) + zz_bits(
        (f2v - f1v) - (f1v - p1v)
    )
    local2 = zz_bits(f2ms - f1ms) + zz_bits(f2v - f1v)
    delta = F.when(
        p1ms.isNotNull(),
        (true1 - F.lit(128))
        + F.when(f2ms.isNotNull(), true2 - local2).otherwise(F.lit(0)),
    ).otherwise(F.lit(0))
    agg = ctx.groupBy("event_type").agg(
        F.sum("n_in").cast("bigint").alias("n_samples"),
        (F.sum("n_in") * 128).cast("bigint").alias("raw_bits"),
        (F.sum("bits_in") + F.sum(delta)).cast("bigint").alias("dod_bits"),
    )
    return agg.select(
        "event_type",
        "n_samples",
        "raw_bits",
        "dod_bits",
        # non-negative operands, so Spark DIV == DuckDB // (truncation)
        F.expr("CAST((n_samples * 128 * 1000000) DIV dod_bits AS BIGINT)").alias(
            "ratio_ppm"
        ),
    )


T31_ORACLE = """
    WITH t AS (SELECT max(epoch_us(ts) // 1000) AS tmax FROM events),
    s AS (
        SELECT event_type, user_id,
               (epoch_us(ts) // 1000 - (t.tmax - 86400000)) // 1000 AS x,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events, t
        WHERE value IS NOT NULL
          AND epoch_us(ts) // 1000 >= t.tmax - 86400000
    ),
    a AS (
        SELECT event_type, user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM s GROUP BY 1, 2
    )
    SELECT event_type, user_id, n,
           floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e6) / 1e6
               AS slope_cents_per_s,
           floor(((CAST(sy AS DOUBLE)
                   - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                  + ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 90000) * 1e3)
               / 1e3 AS pred_cents
    FROM a
    WHERE n * sxx - sx * sx > 0
"""


@register("t31_predict_linear", family="T14", oracle=T31_ORACLE)
def t31_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``predict_linear(v[1d], 3600)`` — least-squares trend per
    series over the trailing day at T = corpus max, predicting one hour
    ahead (the capacity-planning alert: "disk full in N hours"). The
    PromQL function family's regression member, next to rate/deriv
    (t14b–g); the reference relays these series so downstream Prometheus
    can run exactly this.

    Hash-match strategy (the t14/f8 conventions combined): the FIVE
    regression sums accumulate as exact BIGINTs — x is window-relative
    whole SECONDS (≤ 86 400, non-negative so `div` == floor-div on both
    engines), y is exact integer cents — so n·Σxy − Σx·Σy and
    n·Σx² − (Σx)² are identical int64 on both engines (bounded ~1e13 at
    the 64× probe scale, inside the 2⁵³ exact-double window), the
    slope/intercept doubles divide in the IDENTICAL expression order,
    and the outputs truncate via tie-free floor (both engines hold the
    same IEEE quotient; round() could split a half-way tie, CLAUDE.md's
    f8 rule). Series with a singular design matrix (n < 2 or all samples
    in one second) are excluded by den > 0 on both sides.

    Scale shape: one broadcast 1-row scalar (tmax) prunes the scan to
    the window, then a single map-side-combined hash agg keyed on
    (event_type, user_id) — the key space grows with the corpus, sums
    are 5 integers per series, and no window function or sort appears
    anywhere. The same plan at 100 TB shards by series exactly like a1."""
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    tmax = events.agg(F.max(F.unix_millis("ts")).alias("tmax"))
    s = (
        events.crossJoin(F.broadcast(tmax))
        .where(F.unix_millis("ts") >= F.col("tmax") - 86400000)
        .select(
            "event_type",
            "user_id",
            F.expr("(unix_millis(ts) - (tmax - 86400000)) div 1000").alias("x"),
            F.round(F.col("value") * 100).cast("long").alias("y"),
        )
    )
    a = s.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    pred = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n") + slope * F.lit(90000)
    return a.where(den > 0).select(
        "event_type",
        "user_id",
        "n",
        (F.floor(slope * 1e6) / 1e6).alias("slope_cents_per_s"),
        (F.floor(pred * 1e3) / 1e3).alias("pred_cents"),
    )


T32_ORACLE = """
    WITH s AS (
        SELECT event_type, user_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY epoch_us(ts), event_id
               ) AS rn,
               lag(user_id) OVER (
                   PARTITION BY event_type
                   ORDER BY epoch_us(ts), event_id
               ) AS prev_user
        FROM events WHERE user_id IS NOT NULL
    ),
    agg AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS d,
               CAST(sum(CASE WHEN prev_user IS NULL
                             OR prev_user <> user_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM s GROUP BY 1
    )
    SELECT event_type, n, d, runs,
           CAST(n * 64 AS BIGINT) AS raw_bits,
           CAST(d * 64 + n * length(bin(d - 1)) AS BIGINT) AS dict_bits,
           CAST(runs * 96 AS BIGINT) AS rle_bits,
           CAST((n * 64 * 1000000)
                // (d * 64 + n * length(bin(d - 1))) AS BIGINT)
               AS dict_ratio_ppm,
           CAST((n * 64 * 1000000) // (runs * 96) AS BIGINT)
               AS rle_ratio_ppm
    FROM agg
"""


@register("t32_dict_rle_sizing", family="S9", oracle=T32_ORACLE)
def t32_dict_rle_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary- and RLE-encoding capacity planning for the archive's
    ID columns — t30's sibling for the non-numeric axis (t30 sizes the
    (timestamp, value) Gorilla chunks; this sizes the user_id column
    under the two parquet encodings the archival sink's (name, time)
    clustering enables). Per event_type partition, exact integer bit
    accounting: dictionary = 64 bits per distinct id + ⌈log₂ d⌉ index
    bits per row (index width via ``length(bin(d−1))`` — string length,
    the t30 trick, because floor(log2) floats can split on power-of-2
    boundaries); RLE = one (value, run-length) pair per run of the
    time-ordered column, runs counted with a lag flag over the archive's
    exact sort order (ts, event_id — the tie-break makes run counts
    deterministic). Ratios ship as truncated PPM by integer division
    (non-negative, so Spark DIV ≡ DuckDB //).

    Scale shape — BUCKET-DECOMPOSED run counting (the w3b treatment,
    applied the moment the first probe caught the naive form): a lag
    window partitioned by the 5-key series alone is the w3 disease
    (measured 1.27 s → 8.4 s for 16×→64×, 6.6× time for 4× data —
    parallelism capped at |series|, per-task sort growing with the whole
    series), so runs count WITHIN (series, 1 h bucket) — key count grows
    with the data — and bucket-boundary merges are subtracted from a
    tiny per-bucket (first_user, last_user) relation whose window runs
    over |buckets| rows per series, not |samples|:
    runs = Σ_buckets runs_in(bucket) − Σ [last(bucket i) = first(bucket i+1)]
    NULL user_ids are FILTERED identically on both sides (the fleet NULL
    convention, r8 ADVICE): the boundary-merge predicate is non-NULL
    equality, but the oracle's direct lag form treats non-NULL→NULL as
    run *continuation* (prev <> NULL is NULL → flag 0), so a NULL user
    opening a bucket would count one extra run in Spark — excluding
    NULLs up front makes the two formulations provably identical.
    Decomposed form re-probed FLAT:
    0.08 / 0.05 / 0.07 s at 1×/16×/64× — 127× faster than the naive lag
    at 64×. distinct-d is a plain two-phase distinct agg (keys grow).
    No floats anywhere. Boundary semantics pinned on engineered edges by
    test_operators.py::test_dict_rle_bucket_boundary_merges."""
    events = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    us = F.unix_micros("ts")
    s = events.select(
        "event_type",
        "user_id",
        us.alias("us"),
        "event_id",
        F.expr("unix_micros(ts) div 3600000000").alias("b"),  # 1 h buckets
    )
    w_in = Window.partitionBy("event_type", "b").orderBy("us", "event_id")
    flagged = s.select(
        "event_type",
        "b",
        "user_id",
        F.lag("user_id").over(w_in).alias("prev_user"),
        F.struct("us", "event_id").alias("ord"),
    )
    run_flag = F.when(
        F.col("prev_user").isNull() | (F.col("prev_user") != F.col("user_id")), 1
    ).otherwise(0)
    per_bucket = flagged.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.sum(run_flag).cast("bigint").alias("runs_in"),
        F.min_by("user_id", F.col("ord")).alias("first_user"),
        F.max_by("user_id", F.col("ord")).alias("last_user"),
    )
    w_b = Window.partitionBy("event_type").orderBy("b")
    merged = per_bucket.select(
        "event_type",
        "n_in",
        "runs_in",
        "first_user",
        F.lag("last_user").over(w_b).alias("prev_last"),
    )
    boundary_merge = F.when(
        F.col("prev_last") == F.col("first_user"), 1
    ).otherwise(0)
    d_agg = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("d")
    )
    agg = (
        merged.groupBy("event_type")
        .agg(
            F.sum("n_in").cast("bigint").alias("n"),
            (F.sum("runs_in") - F.sum(boundary_merge)).cast("bigint").alias("runs"),
        )
        .join(d_agg, "event_type")
    )
    idx_bits = F.length(F.bin(F.col("d") - 1))
    return agg.select(
        "event_type",
        "n",
        "d",
        "runs",
        (F.col("n") * 64).cast("bigint").alias("raw_bits"),
        (F.col("d") * 64 + F.col("n") * idx_bits).cast("bigint").alias("dict_bits"),
        (F.col("runs") * 96).cast("bigint").alias("rle_bits"),
        F.expr(
            "CAST((n * 64 * 1000000) DIV (d * 64 + n * length(bin(d - 1))) AS BIGINT)"
        ).alias("dict_ratio_ppm"),
        F.expr("CAST((n * 64 * 1000000) DIV (runs * 96) AS BIGINT)").alias(
            "rle_ratio_ppm"
        ),
    )


T33_K_CENTS = 50  # CUSUM allowance k: 0.5 value-units, in cents
T33_H_CENTS = 500  # alert threshold h: 5 value-units, in cents

T33_ORACLE = f"""
    WITH RECURSIVE s AS (
        SELECT event_type, user_id,
               CAST(round(value * 100) AS BIGINT) AS x,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) AS i,
               CAST(count(*) OVER (PARTITION BY event_type, user_id)
                    AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                    PARTITION BY event_type, user_id) AS BIGINT) AS tot
        FROM events WHERE value IS NOT NULL
    ),
    c AS (
        SELECT event_type, user_id, i, n, tot,
               greatest(CAST(0 AS BIGINT),
                        n * x - tot - n * {T33_K_CENTS}) AS cs,
               greatest(CAST(0 AS BIGINT),
                        n * x - tot - n * {T33_K_CENTS}) AS smax,
               CASE WHEN greatest(CAST(0 AS BIGINT),
                                  n * x - tot - n * {T33_K_CENTS})
                         > n * {T33_H_CENTS}
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS alerts
        FROM s WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.user_id, s.i, s.n, s.tot,
               greatest(CAST(0 AS BIGINT),
                        c.cs + s.n * s.x - s.tot - s.n * {T33_K_CENTS}),
               greatest(c.smax,
                        greatest(CAST(0 AS BIGINT),
                                 c.cs + s.n * s.x - s.tot
                                 - s.n * {T33_K_CENTS})),
               c.alerts + CASE WHEN greatest(CAST(0 AS BIGINT),
                                   c.cs + s.n * s.x - s.tot
                                   - s.n * {T33_K_CENTS})
                              > s.n * {T33_H_CENTS}
                          THEN 1 ELSE 0 END
        FROM c JOIN s ON s.event_type = c.event_type
                     AND s.user_id = c.user_id AND s.i = c.i + 1
    )
    SELECT event_type, user_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(cs // n AS BIGINT) AS cusum_cents,
           CAST(smax // n AS BIGINT) AS max_drift_cents,
           CAST(alerts AS BIGINT) AS n_alerts
    FROM c WHERE i = n
"""


@register("t33_cusum_drift", family="T17", oracle=T33_ORACLE)
def t33_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection per series (Page 1954 — the classic
    upward-drift control chart, next to t17's z-score anomalies): the
    sequential recurrence s_i = max(0, s_{i-1} + (x_i − μ − k)) with the
    series' own mean μ as reference, alerting when s exceeds h. Made
    HASH-VERIFIABLE the t20 way (sequential fold vs a recursive-CTE
    oracle) and integer-EXACT the l4h way: μ = Σx/n is rational, so the
    whole recurrence multiplies through by n —
    s'_i = max(0, s'_{i-1} + (n·x_i − Σx − n·k)), alert iff s' > n·h —
    pure BIGINT, no float ever (bounded: |n·x| ≤ 8.5e7 per step, s' ≤
    n·max ≈ 7e10 at the 64× probe scale). Emits final and max drift as
    per-sample cents (s' DIV n, non-negative so DIV ≡ //) plus the
    alert count.

    Spark side: ONE groupBy per series collects (n, Σx, the time-sorted
    sample array) and the fold runs JVM-side via ``aggregate`` over a
    struct accumulator — built fresh each step, so Spark has no
    DuckDB-list_reduce-style sequential-field hazard (CLAUDE.md's t20
    rule; the oracle uses the recursive CTE for exactly that reason).
    Scale: the exchange carries per-series partials keyed by
    (type, user) — keys grow with the corpus — and each series' array is
    bounded by its own sample count (the t20/t25 per-series envelope)."""
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    x = F.round(F.col("value") * 100).cast("long")
    g = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("tot"),
        F.sort_array(
            F.collect_list(F.struct(F.unix_micros("ts").alias("us"),
                                    F.col("event_id").alias("eid"),
                                    x.alias("x")))
        ).alias("arr"),
    )
    zero = F.lit(0).cast("bigint")
    acc0 = F.struct(
        zero.alias("cs"), zero.alias("smax"), zero.alias("alerts")
    )

    def step(a, e):
        ns = F.greatest(
            zero,
            a["cs"] + F.col("n") * e["x"] - F.col("tot")
            - F.col("n") * F.lit(T33_K_CENTS),
        )
        return F.struct(
            ns.alias("cs"),
            F.greatest(a["smax"], ns).alias("smax"),
            (
                a["alerts"]
                + F.when(ns > F.col("n") * F.lit(T33_H_CENTS), 1).otherwise(0)
            ).cast("bigint").alias("alerts"),
        )

    fold = F.aggregate(F.col("arr"), acc0, step)
    return g.select(
        "event_type",
        "user_id",
        F.col("n").alias("n_samples"),
        fold.getField("cs").alias("_cs"),
        fold.getField("smax").alias("_smax"),
        fold.getField("alerts").cast("bigint").alias("n_alerts"),
    ).select(
        "event_type",
        "user_id",
        "n_samples",
        F.expr("CAST(_cs DIV n_samples AS BIGINT)").alias("cusum_cents"),
        F.expr("CAST(_smax DIV n_samples AS BIGINT)").alias("max_drift_cents"),
        "n_alerts",
    )


T34_ORACLE = """
    WITH t AS (SELECT max(epoch_us(ts) // 1000) AS tmax FROM events),
    s AS (
        SELECT event_type,
               ((epoch_us(ts) // 1000) % 86400000) // 3600000 AS hod,
               CASE WHEN epoch_us(ts) // 1000 >  t.tmax - 86400000
                    THEN 1 ELSE 0 END AS in_cur,
               CASE WHEN epoch_us(ts) // 1000 <= t.tmax - 604800000
                     AND epoch_us(ts) // 1000 >  t.tmax - 691200000
                    THEN 1 ELSE 0 END AS in_off,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events, t WHERE value IS NOT NULL
    ),
    a AS (
        SELECT event_type, hod,
               CAST(sum(in_cur) AS BIGINT) AS n_cur,
               CAST(sum(in_off) AS BIGINT) AS n_off,
               CAST(sum(in_cur * y) AS BIGINT) AS s_cur,
               CAST(sum(in_off * y) AS BIGINT) AS s_off
        FROM s GROUP BY 1, 2
    )
    SELECT event_type, CAST(hod AS BIGINT) AS hour_of_day, n_cur, n_off,
           floor((CAST(s_cur AS DOUBLE) / n_cur) * 1e4) / 1e4 AS avg_cur_cents,
           floor((CAST(s_off AS DOUBLE) / n_off) * 1e4) / 1e4 AS avg_off_cents,
           CAST(CASE WHEN s_cur * n_off - s_off * n_cur >= 0
                THEN ((s_cur * n_off - s_off * n_cur) * 1000000)
                     // (s_off * n_cur)
                ELSE -((-(s_cur * n_off - s_off * n_cur)) * 1000000
                       // (s_off * n_cur)) END AS BIGINT) AS delta_ppm
    FROM a
    WHERE n_cur > 0 AND n_off > 0 AND s_off > 0
"""


@register("t34_offset_compare", family="T14", oracle=T34_ORACLE)
def t34_offset_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL's ``offset`` modifier — week-over-week seasonal comparison
    (``avg_over_time(m[1d])`` vs ``avg_over_time(m[1d] offset 7d)``),
    the is-today-different-from-last-week dashboard query the T-family
    lacked. Both windows anchor at T = corpus max and bucket by hour of
    day; the comparison runs in ONE pass over the scan: both window
    memberships become conditional flags inside a single hash agg (the
    t24s one-pass trick — no self-join, no second scan), so the
    exchange carries four integer partials per (series, hour).

    Exactness: integer-cents sums; the per-window averages divide once
    as doubles in identical order and truncate tie-free (f8 rule); the
    relative delta is EXACT rational arithmetic — (s_cur·n_off −
    s_off·n_cur)·1e6 over s_off·n_cur, integer DIV with the
    sign-splitting treatment because the numerator can be negative
    (Spark DIV truncates toward zero, DuckDB // floors — they agree
    only on non-negatives). Hours with either window empty are
    excluded on both sides.

    Scale: one broadcast 1-row scalar (tmax), one map-side-combined
    agg, keys = series × 24. At 100 TB the scan prunes to the two
    1-day bands via partition/row-group stats (the S9 layout)."""
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    tmax = events.agg(F.max(F.unix_millis("ts")).alias("tmax"))
    ms = F.unix_millis("ts")
    s = events.crossJoin(F.broadcast(tmax)).select(
        "event_type",
        ((ms % 86400000) / 3600000).cast("long").alias("hod"),
        (ms > F.col("tmax") - 86400000).cast("long").alias("in_cur"),
        (
            (ms <= F.col("tmax") - 604800000)
            & (ms > F.col("tmax") - 691200000)
        ).cast("long").alias("in_off"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    a = s.groupBy("event_type", "hod").agg(
        F.sum("in_cur").cast("bigint").alias("n_cur"),
        F.sum("in_off").cast("bigint").alias("n_off"),
        F.sum(F.col("in_cur") * F.col("y")).cast("bigint").alias("s_cur"),
        F.sum(F.col("in_off") * F.col("y")).cast("bigint").alias("s_off"),
    )
    num = F.col("s_cur") * F.col("n_off") - F.col("s_off") * F.col("n_cur")
    den = F.col("s_off") * F.col("n_cur")
    delta = F.when(
        num >= 0, F.expr("(s_cur * n_off - s_off * n_cur) * 1000000 div (s_off * n_cur)")
    ).otherwise(
        -F.expr("(-(s_cur * n_off - s_off * n_cur)) * 1000000 div (s_off * n_cur)")
    )
    return (
        a.where((F.col("n_cur") > 0) & (F.col("n_off") > 0) & (F.col("s_off") > 0))
        .select(
            "event_type",
            F.col("hod").cast("bigint").alias("hour_of_day"),
            "n_cur",
            "n_off",
            (F.floor((F.col("s_cur").cast("double") / F.col("n_cur")) * 1e4) / 1e4).alias("avg_cur_cents"),
            (F.floor((F.col("s_off").cast("double") / F.col("n_off")) * 1e4) / 1e4).alias("avg_off_cents"),
            delta.cast("bigint").alias("delta_ppm"),
        )
    )


T35_ORACLE = """
    WITH cells AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000) % 24 AS hod,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events WHERE value IS NOT NULL
    ),
    base AS (
        SELECT event_type, hod,
               CAST(count(*) AS BIGINT) AS n,
               sum(v) AS s
        FROM cells GROUP BY 1, 2
    )
    SELECT b.event_type, CAST(b.hod AS BIGINT) AS hod, b.n,
           floor(CAST(b.s AS DOUBLE) / b.n * 1e4) / 1e4 AS baseline_avg,
           CAST(sum(CASE WHEN c.v * b.n > 2 * b.s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_2x
    FROM cells c
    JOIN base b ON b.event_type = c.event_type AND b.hod = c.hod
    GROUP BY 1, 2, 3, floor(CAST(b.s AS DOUBLE) / b.n * 1e4) / 1e4
"""


@register("t35_seasonal_baseline", family="T17", oracle=T35_ORACLE)
def t35_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day SEASONAL baseline + seasonality-aware anomaly count —
    the diurnal-pattern layer the t-family's anomaly detectors lacked
    (t11/t17 z-score against a global or trailing window; a metric with
    a daily cycle needs its 3 AM samples judged against the 3 AM
    baseline, the seasonal decomposition every alerting stack grows):
    per (series, hour-of-day 0-23) the mean over ALL days is the
    seasonal component, and a sample is flagged when it exceeds 2× its
    own cell's baseline.

    Cross-engine exactness: the baseline mean's numerator accumulates
    as DECIMAL(18,2) (the t5 rule — order-independent), the flag
    comparison is written MULTIPLIED THROUGH as v·n > 2·s (pure decimal
    arithmetic, no division, so a knife-edge sample can never flip on a
    double rounding), and the reported baseline divides once and
    floor-truncates at 1e-4 (f8 tie-free rule). NULL staleness markers
    excluded identically on both sides.

    Scale shape: one hash agg keyed (type, hod) — ≤ 24·|types| cells —
    then the flag pass BROADCASTS those cells back onto the fact scan
    (tiny build side by construction) into a second map-side-combinable
    agg on the same key; no window over fact rows, no self-join on
    inequality. At 100 TB both passes are single fact scans; the
    baseline relation stays |types|·24 regardless of volume."""
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cells = events.select(
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hod"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    base = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("s"),
    )
    joined = cells.join(
        F.broadcast(base.withColumnRenamed("event_type", "b_et").withColumnRenamed("hod", "b_hod")),
        (F.col("event_type") == F.col("b_et")) & (F.col("hod") == F.col("b_hod")),
    )
    return (
        joined.groupBy(
            "event_type",
            F.col("hod").cast("bigint").alias("hod"),
            "n",
            (F.floor(F.col("s").cast("double") / F.col("n") * 1e4) / 1e4).alias(
                "baseline_avg"
            ),
        )
        .agg(
            F.sum(
                (F.col("v") * F.col("n") > 2 * F.col("s")).cast("long")
            )
            .cast("bigint")
            .alias("n_above_2x")
        )
        .select("event_type", "hod", "n", "baseline_avg", "n_above_2x")
    )


T37_ORACLE = """
    WITH d AS (
        SELECT event_type, user_id, event_id,
               epoch_us(ts) // 1000 AS ms,
               CAST(round(value * 100, 0) AS BIGINT) AS v100
        FROM events WHERE value IS NOT NULL
    ),
    seg AS (
        SELECT event_type, user_id,
               ms - lag(ms) OVER w AS dt,
               v100 + lag(v100) OVER w AS vsum
        FROM d
        WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ms, event_id)
    ),
    a AS (
        SELECT event_type, user_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(dt) AS BIGINT) AS span_ms,
               sum(CAST(vsum AS DECIMAL(38,0)) * dt) AS num
        FROM seg GROUP BY 1, 2
    )
    SELECT event_type, user_id, n_samples, span_ms,
           floor(CAST(num AS DOUBLE) / CAST(span_ms AS DOUBLE)
                 / 200.0 * 1e6) / 1e6 AS twa
    FROM a WHERE span_ms > 0
"""


@register("t37_time_weighted_avg", family="T14", oracle=T37_ORACLE)
def t37_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average per series — trapezoidal integration of the
    gauge between samples, ∑ (vᵢ₋₁+vᵢ)/2 · Δtᵢ / ∑ Δtᵢ (the TimescaleDB
    ``time_weight('linear')`` idiom). PromQL's ``avg_over_time`` (t14b)
    is SAMPLE-weighted: a gauge polled every 1 s during a spike and
    every 60 s while idle reports a wildly inflated mean; the
    time-weighted form is the billing/SLA-correct answer on irregular
    samples, and it is a different mechanism from every t14 member —
    the aggregate's weights come from the DELTA of the ordering column,
    not from the rows.

    Hash-match strategy: values are exact integer cents (the t14 v100
    pattern) and segment lengths are exact integer ms, so each trapezoid
    term 2·area = (v100ᵢ₋₁+v100ᵢ)·Δt is an exact integer; terms
    accumulate as DECIMAL(38,0) ≡ HUGEINT (t31s precedent — exact on
    both engines in ANY accumulation order), the numerator converts to
    double ONCE, and the single num/span/200 quotient chain runs in the
    identical expression order, floor-truncated at 1e-6 (f8 tie-free
    rule). NULL staleness markers are excluded identically on both
    sides BEFORE lag, so segments bridge gaps the same way (the
    r4-ADVICE alignment). Σdt telescopes to max(ms)−min(ms) per series;
    single-sample and zero-span series are excluded by span_ms > 0 on
    both engines. Lag ties break on (ms, event_id) — the t30/w5 ms
    convention — on both sides.

    Scale shape: ONE Sort+Exchange on the high-cardinality series key
    feeds the lag window, and the following hash agg groups by the SAME
    key, so the planner reuses the partitioning (no second exchange);
    state per series is three integers. No RANGE frame, no global
    window — this is the t14 envelope with a cheaper tail."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    d = events.where(F.col("value").isNotNull()).select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ms"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v100"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("ms", "event_id")
    seg = d.select(
        "event_type",
        "user_id",
        (F.col("ms") - F.lag("ms").over(w)).alias("dt"),
        (F.col("v100") + F.lag("v100").over(w)).alias("vsum"),
    )
    a = seg.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum("dt").cast("bigint").alias("span_ms"),
        F.sum(
            F.col("vsum").cast("decimal(19,0)") * F.col("dt").cast("decimal(19,0)")
        ).alias("num"),
    )
    return a.where(F.col("span_ms") > 0).select(
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


T39_THR = 50  # alert condition: value > THR (dollars)
T39_FOR_MS = 600_000  # Prometheus `for:` hold duration (10 min)
T39_BUCKET_MS = 3_600_000  # decomposition bucket (1 h)

T39_ORACLE = f"""
    WITH d AS (
        SELECT event_type, epoch_us(ts) // 1000 AS ms, event_id,
               (value > {T39_THR}) AS cond
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT *, CASE WHEN cond AND NOT coalesce(lag(cond) OVER w, FALSE)
                       THEN 1 ELSE 0 END AS new_island
        FROM d WINDOW w AS (PARTITION BY event_type ORDER BY ms, event_id)
    ),
    i AS (
        SELECT *, sum(new_island) OVER (
            PARTITION BY event_type ORDER BY ms, event_id
        ) AS isl
        FROM m
    )
    SELECT event_type,
           CAST(min(ms) AS BIGINT) AS island_start,
           CAST(max(ms) AS BIGINT) AS island_end,
           CAST(count(*) AS BIGINT) AS n_samples,
           (max(ms) - min(ms) >= {T39_FOR_MS}) AS fired,
           CAST(CASE WHEN max(ms) - min(ms) >= {T39_FOR_MS}
                     THEN min(ms) + {T39_FOR_MS} END AS BIGINT) AS fire_ms
    FROM i WHERE cond
    GROUP BY event_type, isl
"""


@register("t39_alert_for_duration", family="T28", oracle=T39_ORACLE)
def t39_alert_for_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus alerting's `for:` hold-duration state machine — an
    alert whose condition (value > {T39_THR}) must hold CONTINUOUSLY for
    {T39_FOR_MS} ms before it transitions pending→firing (the
    Alertmanager semantics every `rate > x FOR 10m` rule runs on; t28's
    burn-rate alert is the threshold side, this is the temporal side):
    one row per maximal run of consecutive breaching samples with its
    span, sample count, whether it fired, and the pending→firing
    transition time start + FOR.

    Scale shape — BANDED GAPS-ISLANDS, a new composition: w5's islands
    machinery partitioned by the ALERT KEY alone is the w3 disease (the
    key space is |types|, constant, so per-partition window state grows
    with data). Here runs are found within (event_type, 1 h bucket) —
    key count grows with retention, the w3b axis — and only EDGE runs
    (those containing their bucket's first or last sample, ≤ 2 per
    bucket per type — growing with time, never with sample density) go
    through the per-type stitch window; interior runs finalize without
    any low-cardinality exchange. The stitch merges an edge run into
    its predecessor iff it starts its bucket, the predecessor ends ITS
    bucket, and that predecessor's bucket is the immediately preceding
    NON-EMPTY bucket (sample adjacency, not time adjacency — an
    all-quiet bucket in between breaks nothing if it is empty, but a
    non-cond sample anywhere does). Bucket-first/last flags come from
    lag()/lead() NULLs, not count frames (the t30 lesson). All outputs
    are integers/booleans — no floats anywhere, hash-safe by
    construction; NULL staleness markers excluded identically.

    Ref: the reference relays these series for EXACTLY this kind of
    downstream Prometheus rule evaluation (SURVEY §0)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    d = events.where(F.col("value").isNotNull()).select(
        "event_type",
        F.unix_millis("ts").alias("ms"),
        "event_id",
        (F.col("value") > T39_THR).alias("cond"),
    ).withColumn("bucket", F.expr(f"ms div {T39_BUCKET_MS}"))
    wb = Window.partitionBy("event_type", "bucket").orderBy("ms", "event_id")
    m = (
        d.withColumn(
            "new_island",
            (
                F.col("cond")
                & ~F.coalesce(F.lag("cond").over(wb), F.lit(False))
            ).cast("int"),
        )
        .withColumn("isl", F.sum("new_island").over(wb))
        .withColumn("is_first", F.lag("ms").over(wb).isNull())
        .withColumn("is_last", F.lead("ms").over(wb).isNull())
    )
    runs = (
        m.where("cond")
        .groupBy("event_type", "bucket", "isl")
        .agg(
            F.min("ms").alias("s"),
            F.max("ms").alias("e"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max(F.col("is_first").cast("int")).alias("touch_start"),
            F.max(F.col("is_last").cast("int")).alias("touch_end"),
        )
    )
    interior = runs.where("touch_start = 0 AND touch_end = 0")
    edge = runs.where("touch_start = 1 OR touch_end = 1")
    # previous NON-EMPTY bucket per (type, bucket): |types|·|buckets| rows,
    # growing with retention only — the w1c band-size argument.
    wt = Window.partitionBy("event_type").orderBy("bucket")
    bprev = (
        d.select("event_type", "bucket")
        .distinct()
        .withColumn("prev_bucket", F.lag("bucket").over(wt))
    )
    e2 = edge.join(bprev, ["event_type", "bucket"])
    we = Window.partitionBy("event_type").orderBy("bucket", "isl")
    chained = (
        e2.withColumn("p_touch_end", F.lag("touch_end").over(we))
        .withColumn("p_bucket", F.lag("bucket").over(we))
        .withColumn(
            "new_chain",
            F.when(
                (F.col("touch_start") == 1)
                & (F.coalesce(F.col("p_touch_end"), F.lit(0)) == 1)
                & (F.col("p_bucket") == F.col("prev_bucket")),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        .withColumn("chain", F.sum("new_chain").over(we))
    )
    merged = chained.groupBy("event_type", "chain").agg(
        F.min("s").alias("s"), F.max("e").alias("e"), F.sum("n").alias("n")
    )
    islands = interior.select("event_type", "s", "e", "n").unionByName(
        merged.select("event_type", "s", "e", "n")
    )
    return islands.select(
        "event_type",
        F.col("s").cast("bigint").alias("island_start"),
        F.col("e").cast("bigint").alias("island_end"),
        F.col("n").cast("bigint").alias("n_samples"),
        (F.col("e") - F.col("s") >= T39_FOR_MS).alias("fired"),
        F.when(
            F.col("e") - F.col("s") >= T39_FOR_MS,
            F.col("s") + T39_FOR_MS,
        )
        .cast("bigint")
        .alias("fire_ms"),
    )


T41_HL_MS = 600_000  # decay half-life (10 min): weight halves per idle HL

T41_ORACLE = f"""
    WITH RECURSIVE s AS (
        SELECT event_type, user_id, CAST(value AS DOUBLE) AS v,
               epoch_us(ts) // 1000 AS ms,
               row_number() OVER (PARTITION BY event_type, user_id
                                  ORDER BY ts, event_id) AS i,
               count(*) OVER (PARTITION BY event_type, user_id) AS n
        FROM events WHERE value IS NOT NULL
    ),
    e AS (
        SELECT event_type, user_id, i, n, v AS l, ms AS m
        FROM s WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.user_id, s.i, s.n,
               s.v + (e.l - s.v)
                     * (1.0 / CAST((CAST(1 AS BIGINT) << CAST(least(
                           (s.ms - e.m) // {T41_HL_MS}, 62) AS INTEGER))
                        AS DOUBLE)),
               s.ms
        FROM e
        JOIN s ON s.event_type = e.event_type AND s.user_id = e.user_id
              AND s.i = e.i + 1
    )
    SELECT event_type, user_id,
           CAST(n AS BIGINT) AS n_samples,
           floor(l * 1e6) / 1e6 AS ewma
    FROM e WHERE i = n
"""


@register("t41_ewma_halflife", family="T20", oracle=T41_ORACLE)
def t41_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-AWARE exponential smoothing on IRREGULAR samples — the
    half-life EWMA every metrics store offers next to holt_winters
    (t20), whose fixed α silently assumes equal spacing: here the old
    level's weight halves per {T41_HL_MS} ms of idle time,
    level' = v + (level − v)·2^(−⌊Δt/HL⌋), so a series polled sparsely
    decays correctly and a burst doesn't over-weight the past.

    Hash-match strategy: the decay factor is an EXACT DYADIC —
    1.0 / CAST(1 << min(Δt div HL, 62) AS DOUBLE), an exact integer
    power of two divided once (both exactly representable; no exp/pow
    library call anywhere — the cross-libm hazard that forced d18 to
    rational TV distance is avoided by quantizing the exponent to
    integer halvings); the recurrence applies bit-identical IEEE ops in
    identical operand order on both engines (the t20 discipline: Spark
    runs an order-stable ``aggregate`` fold over the time-sorted sample
    array, the oracle a recursive CTE — NOT list_reduce, whose struct
    accumulator is sequential); output floor-truncates at 1e-6
    (tie-free on identical doubles). NULL staleness markers excluded on
    both paths before the fold.

    Scale: one shuffle (the groupBy); per-series arrays bounded by
    series length, chunkable with (level, last_ms) handoff exactly like
    t20 — which is what the streaming twin t41s does with O(1) state."""
    events = load_table(spark, sf_dir, "events")
    s = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_millis("ts").alias("ms"),
                        "event_id",
                        F.col("value").cast("double").alias("v"),
                    )
                )
            ).alias("samples")
        )
    )

    def step(acc, x):
        # integer div: operands non-negative (samples sorted by ms)
        g = F.floor((x["ms"] - acc["m"]) / F.lit(T41_HL_MS)).cast("int")
        g = F.least(g, F.lit(62))
        decay = F.lit(1.0) / F.call_function(
            "shiftleft", F.lit(1).cast("long"), g
        ).cast("double")
        return F.struct(
            (x["v"] + (acc["l"] - x["v"]) * decay).alias("l"),
            x["ms"].alias("m"),
        )

    first = F.element_at("samples", 1)
    init = F.struct(first["v"].alias("l"), first["ms"].alias("m"))
    folded = F.aggregate(F.slice("samples", 2, F.size("samples")), init, step)
    return s.select(
        "event_type",
        "user_id",
        F.size("samples").cast("bigint").alias("n_samples"),
        (F.floor(folded["l"] * 1e6) / 1e6).alias("ewma"),
    )
