"""T10: custom stateful per-series streaming operators
(``applyInPandasWithState``) — the one Spark surface where imperative
per-key state is the right tool (SURVEY.md §2.10 U5).

Two PromQL-flavored operators over the record model:

- ``counter_increase``: per-series monotonic-counter delta with reset
  detection (a counter that drops restarts from ~0; PromQL ``increase``
  semantics: on reset the post-reset value IS the increase).
- ``gap_fill``: emits per-interval carried-forward samples between
  observed points (staleness-bounded last-observation-carried-forward).

State per key is O(1) (last value/timestamp), so a 1000-executor cluster
shards series across state stores with no unbounded growth; eviction via
GroupStateTimeout on idle series.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from decimal import ROUND_HALF_UP, Decimal


def _round_half_up(x: float, digits: int) -> float:
    """Spark-compatible double rounding. Spark's ``round()`` on a double is
    BigDecimal.valueOf(x) (shortest decimal repr, like Python ``repr``)
    quantized with HALF_UP; Python's builtin ``round`` is banker's
    (half-to-even) on the binary value — a representable halfway quotient
    would make a stateful operator diverge from the batch twin and the
    shared oracle it registers against. This mirrors Spark exactly."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


INCREASE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("time", LongType()),
        StructField("value", DoubleType()),
        StructField("increase", DoubleType()),
        StructField("resets", LongType()),
    ]
)

_STATE_SCHEMA = "last_value double, last_time long, resets long"


def _make_increase_fn(idle_timeout_ms: int | None):
    def _increase_fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        if state.exists:
            last_value, last_time, resets = state.get
        else:
            last_value, last_time, resets = None, None, 0

        rows: list[dict[str, Any]] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("time")
            for _, r in pdf.iterrows():
                t, v = int(r["time"]), r["value"]
                if v is None or pd.isna(v):
                    continue  # stale markers (NULL after NaN coercion) skipped
                if last_value is None:
                    inc = None  # first sample: no increase defined
                elif v >= last_value:
                    inc = v - last_value
                else:  # counter reset: post-reset value is the increase
                    inc = v
                    resets += 1
                rows.append(
                    {"name": name, "time": t, "value": v, "increase": inc, "resets": resets}
                )
                last_value, last_time = v, t

        state.update((last_value, last_time, resets))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in INCREASE_SCHEMA.fields])

    return _increase_fn


def counter_increase(
    records: DataFrame, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Per-series counter increase with reset detection over a STREAMING
    records DataFrame (RECORD_SCHEMA). Output mode: append.

    ``idle_timeout_ms`` evicts idle-series state (ProcessingTimeTimeout) —
    the right posture for a long-running service. Pass ``None`` for
    drain-once runs (``availableNow``): processing-time timers keep the
    MultiBatchExecutor scheduling micro-batches waiting for expiry, so an
    availableNow query with timers NEVER self-terminates (measured: epoch
    144 and climbing on a single-file source); NoTimeout lets it stop
    after the data batch."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("name").applyInPandasWithState(
        _make_increase_fn(idle_timeout_ms),
        outputStructType=INCREASE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def counter_increase_batch(records: DataFrame) -> DataFrame:
    """Batch twin of ``counter_increase`` (same semantics, window
    functions instead of state) — used to cross-check the stateful
    operator in tests and to run the analysis over data at rest."""
    from pyspark.sql import Window

    w = Window.partitionBy("name").orderBy("time")
    prev = F.lag("value").over(w)
    inc = (
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .when(F.col("value") >= prev, F.col("value") - prev)
        .otherwise(F.col("value"))
    )
    reset = F.when(prev.isNotNull() & (F.col("value") < prev), 1).otherwise(0)
    return (
        records.filter(F.col("value").isNotNull())
        .select(
            "name",
            "time",
            "value",
            inc.alias("increase"),
            F.sum(reset).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("resets"),
        )
    )


def gap_fill_batch(records: DataFrame, interval_ms: int) -> DataFrame:
    """Batch gap fill: per-series fixed-interval grid over [first, last)
    sample time, value = last observation carried forward (LOCF — the
    Prometheus lookback semantic, at-or-before with latest-wins).

    Same union+window shape as the as-of join (operators/joins.py j6):
    tag samples side=0 and grid points side=1, one window pass per series
    ordered by (time, side) with ``last(value, ignorenulls)`` — a single
    shuffle on the series key, linear in samples+grid rows. The grid is
    generated distributed (per-series ``sequence`` + ``explode``), never
    on the driver.

    Input: RECORD_SCHEMA-shaped (name, time, value), value non-null,
    at most one sample per (name, time) — pre-aggregate first.
    """
    from pyspark.sql import Window

    bounds = records.groupBy("name").agg(
        F.min("time").alias("lo"), F.max("time").alias("hi")
    )
    # Empty grid when hi <= lo (single-sample series): Spark's `sequence`
    # rejects start > stop, so gate it — explode of an empty array drops
    # the series, same as DuckDB's empty `range(lo, lo, step)`.
    grid = bounds.select(
        "name",
        F.explode(
            F.when(
                F.col("hi") > F.col("lo"),
                F.sequence(F.col("lo"), F.col("hi") - 1, F.lit(interval_ms)),
            ).otherwise(F.array())
        ).alias("time"),
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("value"),
    )
    samples = records.select(
        "name", "time", F.lit(0).alias("side"), F.col("value").cast("double")
    )
    w = (
        Window.partitionBy("name")
        .orderBy("time", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        samples.unionByName(grid)
        .withColumn("filled", F.last("value", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("name", "time", F.col("filled").alias("value"))
    )


GAPFILL_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("time", LongType()),
        StructField("value", DoubleType()),
    ]
)

_GF_STATE_SCHEMA = "last_value double, next_grid long"


def gap_fill(
    records: DataFrame, interval_ms: int, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Streaming gap fill: per-series LOCF grid emission with O(1) state
    (last value + next pending grid time).

    Emission rule: a grid point is emitted when the first LATER sample
    arrives — grid points in (prev_sample, t) carry prev's value, a grid
    point equal to a sample time carries that sample's value (at-or-
    before), and nothing at/after the newest sample is emitted yet. For a
    completed stream this reproduces ``gap_fill_batch``'s [first, last)
    grid exactly (cross-checked in tests/test_streaming.py).

    ``idle_timeout_ms=None`` for drain-once (availableNow) runs — see
    ``counter_increase``: processing-time timers block self-termination.
    """

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        if state.exists:
            last_value, next_grid = state.get
        else:
            last_value, next_grid = None, None

        rows: list[dict[str, Any]] = []
        for pdf in pdfs:
            # (time, value) sort so duplicate-timestamp samples resolve
            # max-wins WITHIN a batch (the last processed value at a ts
            # is the max), matching the batch form's max(value) collapse
            # and the t10bs oracle. Across micro-batches later-batch-wins
            # applies — the availableNow drains the registered query
            # runs are single-batch, where the equivalence is exact.
            pdf = pdf.sort_values(["time", "value"])
            for t, v in zip(pdf["time"], pdf["value"]):
                if v is None or pd.isna(v):
                    continue
                t = int(t)
                if next_grid is None:
                    next_grid = t  # grid anchors at the first sample
                while next_grid < t:
                    rows.append({"name": name, "time": next_grid, "value": last_value})
                    next_grid += interval_ms
                last_value = float(v)

        state.update((last_value, next_grid))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in GAPFILL_SCHEMA.fields])

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("name").applyInPandasWithState(
        fn,
        outputStructType=GAPFILL_SCHEMA,
        stateStructType=_GF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


ANOMALY_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("time", LongType()),
        StructField("value", DoubleType()),
        StructField("z", DoubleType()),
        StructField("n_prior", LongType()),
    ]
)

# Prefix moments as EXACT integers (values quantized to hundredths), so
# the running state is bit-identical no matter how the stream is chopped
# into micro-batches — the property that makes the streaming output equal
# to the batch twin and the SQL oracle.
_ANOM_STATE_SCHEMA = "n long, sv long, svv long"


def prefix_anomaly(
    records: DataFrame, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Per-series streaming anomaly detection: each sample's z-score
    against the running moments of all PRIOR samples of its series
    (applyInPandasWithState; state = three integers per key).

    Quantizes values to integer hundredths (exact — the corpus is
    2-decimal) and keeps (n, Σv, Σv²) as Python/int64 integers, so
    cross-batch accumulation has no float order-dependence; the one
    floating-point division per row is the identical expression the
    DuckDB oracle runs. z is NULL until a series has ≥2 priors with
    nonzero variance. Same timeout posture as ``counter_increase``
    (NoTimeout for availableNow drains)."""

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        n, sv, svv = state.get if state.exists else (0, 0, 0)

        rows: list[dict[str, Any]] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("time")
            for _, r in pdf.iterrows():
                t, v = int(r["time"]), r["value"]
                if v is None or pd.isna(v):
                    continue
                num = n * svv - sv * sv  # n² × variance, exact
                if n < 2 or num == 0:
                    z = None
                else:
                    mean = sv / 100.0 / n
                    var = num / (n * (n - 1)) / 10000.0
                    z = (v - mean) / var**0.5
                rows.append(
                    {"name": name, "time": t, "value": v, "z": z, "n_prior": n}
                )
                v100 = int(_round_half_up(v * 100, 0))
                n, sv, svv = n + 1, sv + v100, svv + v100 * v100
        state.update((n, sv, svv))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in ANOMALY_SCHEMA.fields])

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("name").applyInPandasWithState(
        fn,
        outputStructType=ANOMALY_SCHEMA,
        stateStructType=_ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


HW_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("hw_level", DoubleType()),
        StructField("hw_trend", DoubleType()),
        StructField("hw_forecast", DoubleType()),
    ]
)

_HW_STATE_SCHEMA = "n long, l double, t double"


def holt_winters(
    records: DataFrame,
    sf: float = 0.3,
    tf: float = 0.1,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Streaming twin of t20's Holt-Winters fold: (level, trend) carried
    as per-series state across micro-batches, one summary row emitted per
    (series, batch). The recurrence is written with EXACTLY the operand
    order of the batch fold and the recursive-CTE oracle — Python floats
    are the same IEEE doubles, so all three forms agree bit-for-bit.
    State is O(1) per series; unlike the prefix-moment operator (t17s)
    this state is a float pair, so its exactness argument is op-order
    identity, not integer arithmetic."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        n, level, trend = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            # (time, event_id) — the exact batch/oracle sample order; a
            # time-only sort would leave equal-timestamp neighbors in
            # arrival order and the fold is order-sensitive.
            sort_keys = (
                ["time", "event_id"] if "event_id" in pdf.columns else ["time"]
            )
            pdf = pdf.sort_values(sort_keys)
            for v in pdf["value"]:
                if v is None or pd.isna(v):
                    continue  # staleness marker (NaN→NULL) — the batch
                    # fold's collect_list skips nulls identically
                x = float(v)
                if n == 0:
                    level, trend = x, 0.0
                else:
                    s = sf * x + (1.0 - sf) * (level + trend)
                    trend = tf * (s - level) + (1.0 - tf) * trend
                    level = s
                n += 1
        state.update((n, level, trend))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "user_id": user_id,
                    "n_samples": n,
                    "hw_level": level,
                    "hw_trend": trend,
                    "hw_forecast": level + trend,
                }
            ]
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=HW_SCHEMA,
        stateStructType=_HW_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


RATE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("rate_per_sec", DoubleType()),
        StructField("n_increases", LongType()),
    ]
)

# trailing-window buffer: parallel arrays of increase timestamps/values
# (integer cents — exact, see streaming_rate), plus the previous sample's
# cents for the next delta
_RATE_STATE_SCHEMA = "last_v100 long, inc_ms array<long>, inc_v array<long>"


def streaming_rate(
    records: DataFrame,
    window_ms: int = 300_000,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Streaming PromQL ``rate(m[5m])``: per-series state carries the last
    sample plus the (timestamp, increase) pairs inside the trailing window
    — O(window) state per series, evicted as the window slides, the
    alerting-path form of t14's batch RANGE frame.

    Emits one row per sample with the reset-aware increase sum over the
    trailing frame / window seconds — the exact t14 semantics, so it
    registers with the SAME DuckDB oracle (T14_ORACLE) and the streaming
    engine's output is hash-compared against it. Increases are INTEGER
    CENTS (the v100 pattern, matching t14 batch and oracle): the frame
    sum is exact on any accumulation/batching order, the one cents→rate
    quotient is the identical IEEE double on all three paths, and
    floor-truncation is tie-free on identical doubles — hash-safe by
    construction."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        event_type, user_id = key
        if state.exists:
            last_v100, inc_ms, inc_v = state.get
            inc_ms, inc_v = list(inc_ms), list(inc_v)
        else:
            last_v100, inc_ms, inc_v = None, [], []
        rows: list[dict[str, Any]] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["time", "event_id"])
            for _, r in pdf.iterrows():
                if r["value"] is None or pd.isna(r["value"]):
                    continue  # staleness marker — contributes no increase
                t = int(r["time"])
                v100 = int(_round_half_up(float(r["value"]) * 100, 0))
                if last_v100 is None:
                    inc = None
                elif v100 >= last_v100:
                    inc = v100 - last_v100
                else:
                    inc = v100  # counter reset: the new value IS the increase
                if inc is not None:
                    inc_ms.append(t)
                    inc_v.append(inc)
                last_v100 = v100
                lo = t - window_ms
                while inc_ms and inc_ms[0] < lo:
                    inc_ms.pop(0)
                    inc_v.pop(0)
                in_frame = [x for m, x in zip(inc_ms, inc_v) if m >= lo]
                if in_frame:
                    # identical operand order as t14 batch / the oracle:
                    # cast exact cents sum to double, /100.0, /300.0, then
                    # tie-free floor truncation at 6 decimals
                    q = float(sum(in_frame)) / 100.0 / (window_ms / 1000.0)
                    rate = math.floor(q * 1e6) / 1e6
                else:
                    rate = None
                rows.append(
                    {
                        "event_id": int(r["event_id"]),
                        "event_type": event_type,
                        "user_id": user_id,
                        "rate_per_sec": rate,
                        "n_increases": len(in_frame),
                    }
                )
        state.update((last_v100, inc_ms, inc_v))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in RATE_SCHEMA.fields])

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=RATE_SCHEMA,
        stateStructType=_RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


_IF_STATE_SCHEMA = "t_prev long, v_prev double, next_g long"


def interp_fill(
    records: DataFrame, step_ms: int, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Streaming LINEAR-interpolation resample (t13's semantics as a
    stateful op; gap_fill is the LOCF sibling): per series, each grid
    point g in (prev_sample, curr_sample] emits
    ``v_prev + (v - v_prev) · (g - t_prev)/(t - t_prev)`` the moment its
    bracketing RIGHT sample arrives — O(1) state (last sample + next
    pending grid time). A grid point equal to a sample time emits that
    sample's value (the formula degenerates to v), and the first sample
    emits its own grid point when it sits exactly on the grid. Output is
    floor-truncated at 1e-6 (the f8 convention — the interpolation ratio
    is an arbitrary quotient, round()'s half-tie class).

    NULL values (staleness markers) are skipped; duplicate (name, time)
    samples collapse max-wins WITHIN a batch via the (time, value) sort
    — both aligned with the registered oracle (t10bs's conventions).
    Across micro-batches later-batch-wins applies to same-ms duplicates;
    the availableNow drains the registered query runs are single-batch,
    where the oracle equivalence is exact. Emitted grid points cover
    exactly [ceil(lo/step)·step, hi] — a tail grid point past the last
    sample has no right bracket and is never emitted, matching the
    batch [lo, hi] bound."""
    import math

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        if state.exists:
            t_prev, v_prev, next_g = state.get
        else:
            t_prev, v_prev, next_g = None, None, None
        rows: list[dict[str, Any]] = []
        # The group's micro-batch arrives as an ITERATOR of Arrow chunks;
        # a per-chunk dedup would degrade to later-chunk-wins when one
        # timestamp's duplicates straddle a chunk boundary, so the chunks
        # are concatenated FIRST and deduped once per (group, micro-batch).
        # Memory bound: one group's batch slice, the same bound the sort
        # below already implies.
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            # NULLs (staleness markers) filtered FIRST — pandas sorts NaN
            # last, so a keep-last dedup would otherwise shadow the real
            # max with a NaN. Then (time, value) sort + keep-last =
            # max-wins per timestamp, collapsed BEFORE the loop so an
            # exact-hit grid point at a duplicated ts emits the max (the
            # oracle's max(value)), not whichever duplicate came first.
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = (
                pdf[pdf["value"].notna()]
                .sort_values(["time", "value"])
                .drop_duplicates(subset=["time"], keep="last")
            )
            for t, v in zip(pdf["time"], pdf["value"]):
                t, v = int(t), float(v)
                if t_prev is None:
                    next_g = -(-t // step_ms) * step_ms  # ceil to grid
                    if next_g == t:
                        rows.append(
                            {
                                "name": name,
                                "time": t,
                                "value": math.floor(v * 1e6) / 1e6,
                            }
                        )
                        next_g += step_ms
                else:
                    while next_g <= t:
                        # exact hit short-circuits to v: the oracle's
                        # bracketing makes the sample the LEFT endpoint
                        # (ratio exactly 0 → v), while this op's ratio
                        # would be 1 and v_prev + (v - v_prev) is NOT
                        # guaranteed to round back to v in IEEE.
                        if next_g == t:
                            x = v
                        else:
                            x = v_prev + (v - v_prev) * (next_g - t_prev) / (
                                t - t_prev
                            )
                        rows.append(
                            {
                                "name": name,
                                "time": next_g,
                                "value": math.floor(x * 1e6) / 1e6,
                            }
                        )
                        next_g += step_ms
                t_prev, v_prev = t, v
        state.update((t_prev, v_prev, next_g))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in GAPFILL_SCHEMA.fields])

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("name").applyInPandasWithState(
        fn,
        outputStructType=GAPFILL_SCHEMA,
        stateStructType=_IF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


COHORT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("is_cohort", IntegerType()),
        StructField("wk", LongType()),
    ]
)

_COHORT_STATE_SCHEMA = "cw long, weeks array<long>"


def _make_cohort_fn(idle_timeout_ms: int | None):
    """Module-level so the pure state-transition logic is property-testable
    against a fake GroupState without a Spark streaming query (the
    _make_increase_fn pattern)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            cw, weeks = state.get
            seen = set(weeks)
        else:
            cw, seen = None, set()
        rows: list[dict[str, Any]] = []
        for pdf in pdfs:
            for wk, sg in zip(pdf["wk"], pdf["is_signup"]):
                wk = int(wk)
                if sg == 1 and (cw is None or wk < cw):
                    cw = wk
                    rows.append({"user_id": user_id, "is_cohort": 1, "wk": wk})
                if wk not in seen:
                    seen.add(wk)
                    rows.append({"user_id": user_id, "is_cohort": 0, "wk": wk})
        state.update((cw, sorted(seen)))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in COHORT_SCHEMA.fields])

    return fn


def cohort_pairs(
    records: DataFrame, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Streaming feed for cohort retention (T16's single-pass form): per
    user, emit each activity week ONCE (is_cohort=0 rows — a stateful
    dedup of (user, week)) and the user's signup-cohort week whenever the
    known minimum improves (is_cohort=1 rows). One traversal of the
    stream produces both sides of t16's join.

    Chop-invariance: week rows are emitted exactly once (the state's seen
    set carries across micro-batches); cohort rows re-emit only when a
    strictly EARLIER signup arrives in a later batch, so the
    authoritative cohort is min(wk) over the is_cohort=1 rows — an
    order-insensitive batch aggregate downstream, no supersede protocol
    needed. State per user = cohort week + the distinct activity weeks
    (bounded by the retention span in weeks — 53/year — not by event
    volume; a live deployment additionally ages out weeks behind the
    watermark horizon).

    Input: (user_id, wk, is_signup) with wk an integer week number and
    is_signup 1 on signup events (signup events also count as activity,
    matching t16's act CTE which scans ALL events)."""
    fn = _make_cohort_fn(idle_timeout_ms)
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=COHORT_SCHEMA,
        stateStructType=_COHORT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_ms", LongType()),
        StructField("conv", IntegerType()),
        StructField("resolved", IntegerType()),
    ]
)

_FUNNEL_STATE_SCHEMA = "pending array<long>"


def funnel_views(
    records: DataFrame,
    convert_ms: int = 3_600_000,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Streaming funnel step (T15's alerting-path form): per user, every
    'view' is resolved by the FIRST later-or-simultaneous 'purchase' —
    conv = (purchase_ms − view_ms ≤ convert_ms) — exactly t15's
    next-purchase window semantics.

    Emission protocol makes the output CHOP-INVARIANT without an
    end-of-stream hook: a view emits immediately as (conv=0, resolved=0)
    and stays in state; the first purchase re-emits every pending view as
    (conv, resolved=1) and clears them. The authoritative row per
    (user_id, view_ms) is the resolved one when it exists, else the
    unresolved conv=0 row (a view no purchase ever follows) — a
    WindowGroupLimit top-1 on resolved DESC downstream, the same
    drain-then-filter shape as t20s. State = pending view timestamps:
    bounded by views-between-purchases; a live deployment bounds it
    further with the event-time horizon (a view older than convert_ms
    can be resolved conv=0 eagerly — not done here so the drain matches
    the batch window exactly).

    Input: (user_id, time, side) with side 0=view / 1=purchase; per-batch
    order (time, side) so a same-ms purchase resolves the view
    (matching t15's window ORDER BY (ms, side))."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        pending: list[int] = list(state.get[0]) if state.exists else []
        rows: list[dict[str, Any]] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["time", "side"])
            for t, side in zip(pdf["time"], pdf["side"]):
                t = int(t)
                if side == 0:
                    pending.append(t)
                    rows.append(
                        {"user_id": user_id, "view_ms": t, "conv": 0, "resolved": 0}
                    )
                else:
                    for v in pending:
                        rows.append(
                            {
                                "user_id": user_id,
                                "view_ms": v,
                                "conv": 1 if t - v <= convert_ms else 0,
                                "resolved": 1,
                            }
                        )
                    pending = []
        state.update((pending,))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(rows, columns=[f.name for f in FUNNEL_SCHEMA.fields])

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


# t25s trailing-day sample buffer: per-series retained samples within 1 day
# of the series' own running max, emitted wholesale each micro-batch under
# a seq number (the t15s superseded-emission protocol: the drain keeps only
# the max-seq emission per series).
T25_BUFFER_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("ms", LongType()),
        StructField("value", DoubleType()),
        StructField("seq", LongType()),
    ]
)

_T25_STATE_SCHEMA = "ms array<long>, v array<double>, seq long"


def _make_trailing_buffer_fn(window_ms: int, idle_timeout_ms: int | None):
    """State-transition factory for ``trailing_day_buffer`` — module-level
    so the chop-invariance property test can drive it with a fake
    GroupState (the ``_make_cohort_fn`` pattern)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        if state.exists:
            ms, vs, seq = state.get
            ms, vs = list(ms), list(vs)
        else:
            ms, vs, seq = [], [], 0
        hi = max(ms) if ms else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["time", "event_id"])
            for _, r in pdf.iterrows():
                t = int(r["time"])
                v = None if pd.isna(r["value"]) else float(r["value"])
                if hi is not None and t < hi - window_ms:
                    continue  # below the retention horizon: unreachable
                ms.append(t)
                vs.append(v)
                if hi is None or t > hi:
                    hi = t
                    lo = hi - window_ms
                    # Eviction is a MEMORY bound, not a correctness gate
                    # (the drain re-filters to the true global window), so
                    # an O(1) head check per advance is enough — stale
                    # out-of-order stragglers behind a fresh head get
                    # swept the next time the head itself goes stale.
                    if ms[0] < lo:
                        kept = [(m, x) for m, x in zip(ms, vs) if m >= lo]
                        ms = [m for m, _ in kept]
                        vs = [x for _, x in kept]
        seq += 1
        state.update((ms, vs, seq))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "event_type": event_type,
                "user_id": user_id,
                "ms": pd.Series(ms, dtype="int64"),
                "value": pd.Series(vs, dtype="float64"),
                "seq": seq,
            },
            columns=[f.name for f in T25_BUFFER_SCHEMA.fields],
        )

    return fn


def trailing_day_buffer(
    records: DataFrame,
    window_ms: int = 86_400_000,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Per-series trailing-window sample buffer — the state layer under
    the streaming form of Prometheus's extrapolated ``rate(m[1d])``
    (t25s). The window anchor (= the DRAIN-time corpus max) is
    unknowable mid-stream, so the op keeps every sample within
    ``window_ms`` of the series' OWN running max: for any series,
    series_max <= global_max, hence series_max - window <= global_max -
    window, hence every sample inside the final global window [g-1d, g]
    also lies inside [series_max-1d, series_max] — the retained set is a
    provable superset of the in-window set, and the drain applies t25's
    exact batch tree (``extrapolated_rate_1d``) to the small residue.
    Samples already below the retention horizon on arrival are dropped
    immediately (t < hi-window <= g-window: outside any possible final
    window), which also makes the buffer chop-invariant.

    State is O(samples-in-1d) per series — the same memory ANY faithful
    1d-range PromQL evaluation needs — evicted as the series' max
    advances; NULL (staleness-marker) samples are retained because batch
    t25's n/first_ms/last_ms count them (NaN<->NULL crossing the Arrow
    boundary both ways). Emission is the whole buffer per micro-batch
    under an incrementing seq — O(buffer) per trigger, the price of a
    drain-anchored semantic; the max-seq emission is authoritative."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        _make_trailing_buffer_fn(window_ms, idle_timeout_ms),
        outputStructType=T25_BUFFER_SCHEMA,
        stateStructType=_T25_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


# t22s downsample-at-ingest state: the trailing-day raw buffer (t25s's
# protocol) PLUS per-hour-bucket rollup partials that absorb every sample
# the buffer evicts. A sample is in EXACTLY ONE of {buffer, rollup} at all
# times, so the drain's split at the (drain-time) global cutoff is exact.
T22_DOWNSAMPLE_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("kind", StringType()),  # 'raw' | 'agg'
        StructField("ms", LongType()),  # sample time | bucket_ms
        StructField("value", DoubleType()),  # raw only
        StructField("n", LongType()),  # agg only: all rows (NULLs counted)
        StructField("nv", LongType()),  # agg only: non-NULL rows
        StructField("cents", LongType()),  # agg only: sum(round(value*100))
        StructField("v_min", DoubleType()),
        StructField("v_max", DoubleType()),
        StructField("seq", LongType()),
    ]
)

_T22_STATE_SCHEMA = (
    "ms array<long>, v array<double>, b array<long>, n array<long>, "
    "nv array<long>, c array<long>, mn array<double>, mx array<double>, "
    "seq long"
)


def _cents(val: float) -> int:
    """Integer hundredths of a 2-decimal-representable double, via the
    same HALF_UP rule as Spark's ``cast(value AS DECIMAL(18,2)) * 100``
    (exact for the corpus: values quantize to hundredths, t14g's
    measured property)."""
    return int(
        (Decimal(repr(val)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
    )


def _make_downsample_fn(window_ms: int, bucket_ms: int, idle_timeout_ms: int | None):
    """State-transition factory for ``downsample_buffer`` — module-level
    so the chop-invariance property test can drive it with a fake
    GroupState (the ``_make_trailing_buffer_fn`` pattern)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        if state.exists:
            ms, vs, b, n, nv, c, mn, mx, seq = state.get
            ms, vs = list(ms), list(vs)
            roll = {
                bk: [n[i], nv[i], c[i], mn[i], mx[i]]
                for i, bk in enumerate(b)
            }
        else:
            ms, vs, roll, seq = [], [], {}, 0
        hi = max(ms) if ms else None

        def fold(t: int, v: float | None) -> None:
            bk = (t // bucket_ms) * bucket_ms
            r = roll.setdefault(bk, [0, 0, 0, None, None])
            r[0] += 1
            if v is not None:
                r[1] += 1
                r[2] += _cents(v)
                r[3] = v if r[3] is None else min(r[3], v)
                r[4] = v if r[4] is None else max(r[4], v)

        for pdf in pdfs:
            pdf = pdf.sort_values(["time", "event_id"])
            for _, r in pdf.iterrows():
                t = int(r["time"])
                v = None if pd.isna(r["value"]) else float(r["value"])
                if hi is not None and t < hi - window_ms:
                    # Below the retention horizon on arrival: provably in
                    # the drain's OLD branch (t < hi-W <= g-W) — fold
                    # straight into the rollup, never buffered.
                    fold(t, v)
                    continue
                ms.append(t)
                vs.append(v)
                if hi is None or t > hi:
                    hi = t
                    lo = hi - window_ms
                    # Lazy head-check eviction (t25s) — but evicted
                    # samples are FOLDED, not dropped: ms < hi-W <= g-W
                    # puts them in the drain's old branch with certainty.
                    if ms[0] < lo:
                        kept_ms, kept_vs = [], []
                        for m, x in zip(ms, vs):
                            if m >= lo:
                                kept_ms.append(m)
                                kept_vs.append(x)
                            else:
                                fold(m, x)
                        ms, vs = kept_ms, kept_vs
        seq += 1
        bks = sorted(roll)
        state.update(
            (
                ms,
                vs,
                bks,
                [roll[k][0] for k in bks],
                [roll[k][1] for k in bks],
                [roll[k][2] for k in bks],
                [roll[k][3] for k in bks],
                [roll[k][4] for k in bks],
                seq,
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        n_raw, n_agg = len(ms), len(bks)
        yield pd.DataFrame(
            {
                "event_type": event_type,
                "user_id": user_id,
                "kind": ["raw"] * n_raw + ["agg"] * n_agg,
                "ms": pd.Series(ms + bks, dtype="int64"),
                "value": pd.Series(
                    vs + [None] * n_agg, dtype="float64"
                ),
                "n": pd.Series(
                    [None] * n_raw + [roll[k][0] for k in bks],
                    dtype="Int64",
                ),
                "nv": pd.Series(
                    [None] * n_raw + [roll[k][1] for k in bks],
                    dtype="Int64",
                ),
                "cents": pd.Series(
                    [None] * n_raw + [roll[k][2] for k in bks],
                    dtype="Int64",
                ),
                "v_min": pd.Series(
                    [None] * n_raw + [roll[k][3] for k in bks],
                    dtype="float64",
                ),
                "v_max": pd.Series(
                    [None] * n_raw + [roll[k][4] for k in bks],
                    dtype="float64",
                ),
                "seq": seq,
            },
            columns=[f.name for f in T22_DOWNSAMPLE_SCHEMA.fields],
        )

    return fn


def downsample_buffer(
    records: DataFrame,
    window_ms: int = 86_400_000,
    bucket_ms: int = 3_600_000,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """Per-series downsample-at-ingest state — the streaming form of
    retention downsampling (t22s), REFUTING t22's former impossibility
    note. The argument there was that any sample might land in the raw
    branch (the cutoff is a drain-time fact), so nothing could ever be
    summarized. The trailing-day buffer (t25s) breaks that: a sample can
    only be in the final raw branch if it lies within ``window_ms`` of
    the GLOBAL max, and series_max <= global_max, so anything older than
    ``window_ms`` relative to the series' OWN running max is provably in
    the old branch — it can be folded into its (series, bucket) rollup
    partial (count / non-NULL count / integer-cents sum / min / max, all
    mergeable) and FORGOTTEN as a raw sample. State is O(samples-in-1d +
    buckets-in-horizon) per series: exactly the operator's own OUTPUT
    size, the floor for any faithful evaluation.

    Each sample lives in exactly one of {buffer, rollup}; the drain
    (t22s) takes the max-seq emission, splits the buffer residue at the
    true global cutoff, merges the sub-cutoff residue into the rollup
    partials, and emits batch t22's exact arithmetic. NULL (staleness)
    samples are buffered/counted (batch t22's count(*) counts them; its
    sum/min/max skip them — nv tracks the split). Values are summed as
    integer cents (HALF_UP hundredths, exact for the corpus) so the
    drain's avg reproduces the oracle's DECIMAL sum bit-for-bit."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        _make_downsample_fn(window_ms, bucket_ms, idle_timeout_ms),
        outputStructType=T22_DOWNSAMPLE_SCHEMA,
        stateStructType=_T22_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


DOD_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("bits", LongType()),
    ]
)

_DOD_STATE_SCHEMA = (
    "rn long, last_ms long, last_dt long, last_v long, last_dv long, last_eid long"
)


def dod_sizing(records: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Streaming delta-of-delta bit accounting (t30's per-series fold as
    an O(1) stateful op): state = five integers per series (sample rank,
    last timestamp, last time-delta, last value, last value-delta); each
    micro-batch emits ONE (series, n, bits) increment computed from the
    carried boundary, so a post-drain sum equals the batch total for ANY
    chop of the stream into in-order batches. Bit costs use Python
    ``int.bit_length`` with a floor of 1 — identical to the engines'
    ``length(bin(z))`` string length including z=0 ('0', length 1).

    The in-order assumption is ENFORCED, not assumed (r7 ADVICE): state
    carries the max (ms, event_id) consumed per series, and a batch whose
    minimum key precedes that boundary raises ``ValueError`` — a
    misordered source surfaces as a loud query failure instead of a
    silent hash mismatch against the shared batch oracle."""

    return records.groupBy("event_type").applyInPandasWithState(
        _make_dod_fn(idle_timeout_ms),
        outputStructType=DOD_SCHEMA,
        stateStructType=_DOD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def _dod_bits(x: int) -> int:
    z = 2 * x if x >= 0 else -2 * x - 1
    return max(z.bit_length(), 1) + 1


def _make_dod_fn(idle_timeout_ms: int | None):
    _bits = _dod_bits

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        rn, last_ms, last_dt, last_v, last_dv, last_eid = (
            state.get if state.exists else (0, 0, 0, 0, 0, -1)
        )
        n = bits = 0
        # Concatenate the group's Arrow chunks BEFORE sorting: a large
        # group spans multiple ~10k-row chunks within one micro-batch and
        # arrives in arbitrary shuffle order across them, so a per-chunk
        # sort (the pre-r8 form) folds a different sequence than the
        # batch oracle whenever chunk boundaries interleave timestamps —
        # exposed by the 4x replication probe the moment the order guard
        # landed. One batch = one sorted sequence; the in-order contract
        # applies BETWEEN micro-batches only.
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ms", "event_id"]
            )
            if rn > 0:
                first = (int(pdf["ms"].iloc[0]), int(pdf["event_id"].iloc[0]))
                if first < (last_ms, last_eid):
                    raise ValueError(
                        f"dod_sizing: misordered source for series {etype!r}: "
                        f"batch min key {first} precedes consumed boundary "
                        f"({last_ms}, {last_eid}) — the per-series fold "
                        "requires in-order (ms, event_id) micro-batches"
                    )
            for ms, eid, v in zip(
                pdf["ms"].astype(int),
                pdf["event_id"].astype(int),
                pdf["v100"].astype(int),
            ):
                rn += 1
                if rn == 1:
                    bits += 128
                elif rn == 2:
                    last_dt, last_dv = ms - last_ms, v - last_v
                    bits += _bits(last_dt) + _bits(last_dv)
                else:
                    dt, dv = ms - last_ms, v - last_v
                    bits += _bits(dt - last_dt) + _bits(dv - last_dv)
                    last_dt, last_dv = dt, dv
                last_ms, last_v, last_eid = ms, v, eid
                n += 1
        state.update((rn, last_ms, last_dt, last_v, last_dv, last_eid))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [{"event_type": etype, "n": n, "bits": bits}],
            columns=[f.name for f in DOD_SCHEMA.fields],
        )

    return fn


L4KS_K = 3  # matches batch l4_knn_join's top-3 (and its oracle's rn <= 3)

L4KS_TOPK_SCHEMA = StructType(
    [
        StructField("qid", LongType()),
        StructField("rn", IntegerType()),
        StructField("nn_id", LongType()),
        StructField("cos_sim", DoubleType()),
        StructField("seq", LongType()),
    ]
)

_L4KS_STATE_SCHEMA = "sims array<double>, ids array<long>, seq long"


def _make_knn_topk_fn(k: int, idle_timeout_ms: int | None):
    """State-transition factory for ``knn_topk_buffer`` — module-level so
    the chop-invariance property test can drive it with a fake GroupState
    (the ``_make_cohort_fn`` pattern). State per standing query is the
    CURRENT top-k only: a k-length descending (cos_sim, nn_id) list,
    merged with each micro-batch's scored candidates and re-truncated —
    O(k) per key forever, however much corpus streams past."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (qid,) = key
        if state.exists:
            sims, ids, seq = state.get
            top = list(zip(list(sims), list(ids)))
        else:
            top, seq = [], 0
        for pdf in pdfs:
            for sim, nid in zip(pdf["cos_sim"], pdf["nn_id"]):
                top.append((float(sim), int(nid)))
        # l4's exact ordering convention: cos_sim DESC, nn_id ASC —
        # sims are already rounded to 6 dp upstream, so sorting the
        # identical IEEE doubles ranks exactly like the oracle.
        top.sort(key=lambda t: (-t[0], t[1]))
        del top[k:]
        seq += 1
        state.update(([s for s, _ in top], [i for _, i in top], seq))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "qid": qid,
                "rn": pd.Series(range(1, len(top) + 1), dtype="int32"),
                "nn_id": pd.Series([i for _, i in top], dtype="int64"),
                "cos_sim": pd.Series([s for s, _ in top], dtype="float64"),
                "seq": seq,
            },
            columns=[f.name for f in L4KS_TOPK_SCHEMA.fields],
        )

    return fn


def knn_topk_buffer(
    scored: DataFrame, k: int = L4KS_K, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Streaming top-k nearest-neighbor tracking per standing query
    (VERDICT r8 task #5 — l4s's bounded-state multi-k upgrade): input is
    the scored (qid, nn_id, cos_sim) stream (stream-static broadcast
    join, norms below the join — batch l4's exact topology), state is
    each query's current top-k sorted struct list — O(|Q|·k) total,
    independent of corpus size — and every micro-batch emits the
    current top-k under an incrementing seq; the max-seq emission is
    authoritative (the t25s protocol), giving exactly batch
    l4_knn_join's rows."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return scored.groupBy("qid").applyInPandasWithState(
        _make_knn_topk_fn(k, idle_timeout_ms),
        outputStructType=L4KS_TOPK_SCHEMA,
        stateStructType=_L4KS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


A3CP_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("k_actual", LongType()),
        StructField("h_k", LongType()),
        StructField("kmv_estimate", LongType()),
        StructField("seq", LongType()),
    ]
)

_A3CP_STATE_SCHEMA = "hs array<long>, seq long"


def _make_kmv_topk_fn(k: int, bits: int, idle_timeout_ms: int | None):
    """State-transition factory for ``kmv_topk_sketch`` — module-level so
    tests can drive it with a fake GroupState. State per type is ONLY
    the K smallest DISTINCT hashes (sorted ascending) — the O(K) bound
    that is the sketch's whole point; when fewer than K distinct hashes
    have been seen the array IS the exact distinct set, so the exact-
    count fallback stays exact."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        if state.exists:
            hs_raw, seq = state.get
            hs = list(hs_raw)
        else:
            hs, seq = [], 0
        seen = set(hs)
        # Admission threshold frozen at batch start (hs is sorted from
        # the previous update): once k distinct hashes <= thr exist, no
        # h >= thr can ever re-enter the bottom-k, so rejecting against
        # the stale bound is safe and keeps the transient list small.
        thr = hs[-1] if len(hs) >= k else None
        for pdf in pdfs:
            for h in pdf["h"]:
                h = int(h)
                if h in seen or (thr is not None and h >= thr):
                    continue
                seen.add(h)
                hs.append(h)
        hs.sort()
        if len(hs) > k:
            for dead in hs[k:]:
                seen.discard(dead)
            del hs[k:]
        seq += 1
        state.update((hs, seq))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        k_actual = len(hs)
        h_k = hs[-1] if hs else None
        est = k_actual if k_actual < k else ((k - 1) * (2**bits)) // h_k
        yield pd.DataFrame(
            [
                {
                    "event_type": etype,
                    "k_actual": k_actual,
                    "h_k": h_k,
                    "kmv_estimate": est,
                    "seq": seq,
                }
            ],
            columns=[f.name for f in A3CP_SCHEMA.fields],
        )

    return fn


def kmv_topk_sketch(
    hashed: DataFrame,
    k: int | None = None,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """The PRODUCTION-BOUNDED form of a3cs's KMV cardinality stream
    (VERDICT r8 task #6): a3cs keeps one state row per DISTINCT (type,
    hash) — O(distinct keys), carried deliberately because its shared
    oracle also reports the exact count — while a deployment that needs
    ONLY the estimate keeps just the K-smallest-distinct-hash array per
    type: **O(K) state, PERIOD**, however many distinct keys stream
    past. Input is the (event_type, h) stream (``kmv_hash`` upstream);
    each micro-batch merges its candidates into the per-type K-array
    (set union is associative/idempotent → chop- and duplicate-
    invariant); every batch emits the current (k_actual, h_k,
    kmv_estimate) under an incrementing seq, max-seq authoritative.
    The estimate expression is bit-identical to batch a3c's:
    (K−1)·2⁵⁶ // h_K in exact integer arithmetic, exact count below K.
    The a3cs registered form stays as-is for oracle-checkability; this
    twin is pytest-verified against batch a3c's output
    (tests/test_streaming.py::test_kmv_topk_sketch_production_state)."""
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        KMV_BITS,
        KMV_K,
    )

    kk = KMV_K if k is None else k
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return hashed.groupBy("event_type").applyInPandasWithState(
        _make_kmv_topk_fn(kk, KMV_BITS, idle_timeout_ms),
        outputStructType=A3CP_SCHEMA,
        stateStructType=_A3CP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


W6S_MATCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ms", LongType()),
        StructField("span", LongType()),
    ]
)

_W6S_STATE_SCHEMA = (
    "cnt long, p2_et string, p2_ms long, p1_et string, p1_ms long, "
    "last_ms long, last_eid long"
)


def _make_pattern_fn(within_ms: int, idle_timeout_ms: int | None):
    """State-transition factory for ``event_pattern_stream`` — the CEP
    (complex-event-processing) form of w6's fixed-length row pattern:
    state per user is ONLY the trailing two rows (event_type, ms) plus
    the order-guard boundary — O(1) forever — and a match row
    (user, opening ms, span) is emitted the moment its closing row
    arrives. Carrying the k−1-row tail across micro-batches is exactly
    what makes the emission chop-invariant for in-order arrival."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cnt, p2_et, p2_ms, p1_et, p1_ms, last_ms, last_eid = (
            state.get if state.exists else (0, None, 0, None, 0, 0, -1)
        )
        out_ms: list[int] = []
        out_span: list[int] = []
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ms", "event_id"]
            )
            if cnt > 0:
                first = (int(pdf["ms"].iloc[0]), int(pdf["event_id"].iloc[0]))
                if first < (last_ms, last_eid):
                    raise ValueError(
                        f"event_pattern_stream: misordered source for user "
                        f"{user_id!r}: batch min key {first} precedes the "
                        f"consumed boundary ({last_ms}, {last_eid})"
                    )
            for et, ms, eid in zip(
                pdf["event_type"], pdf["ms"].astype(int), pdf["event_id"].astype(int)
            ):
                if (
                    cnt >= 2
                    and p2_et == "view"
                    and p1_et == "click"
                    and et == "purchase"
                    and ms - p2_ms <= within_ms
                ):
                    out_ms.append(p2_ms)
                    out_span.append(ms - p2_ms)
                cnt += 1
                p2_et, p2_ms = p1_et, p1_ms
                p1_et, p1_ms = et, ms
                last_ms, last_eid = ms, eid
        state.update((cnt, p2_et, p2_ms, p1_et, p1_ms, last_ms, last_eid))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "ms": pd.Series(out_ms, dtype="int64"),
                "span": pd.Series(out_span, dtype="int64"),
            },
            columns=[f.name for f in W6S_MATCH_SCHEMA.fields],
        )

    return fn


def event_pattern_stream(
    records: DataFrame, within_ms: int, idle_timeout_ms: int | None = None
) -> DataFrame:
    """w6's MATCH_RECOGNIZE-lite pattern as a STREAMING CEP operator:
    matches emit as their closing row arrives (the alerting shape —
    Flink's CEP bread-and-butter, here as ``applyInPandasWithState``),
    state = the trailing 2 rows per user (O(1), independent of history
    length), in-order arrival ENFORCED by the dod_sizing order guard.
    Input columns: user_id, event_type, ms, event_id."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("user_id").applyInPandasWithState(
        _make_pattern_fn(within_ms, idle_timeout_ms),
        outputStructType=W6S_MATCH_SCHEMA,
        stateStructType=_W6S_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


W7S_MATCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_views", LongType()),
        StructField("first_ms", LongType()),
        StructField("span", LongType()),
    ]
)

_W7S_STATE_SCHEMA = (
    "run_n long, run_first_ms long, prev_et string, last_ms long, last_eid long"
)


def _make_quantified_pattern_fn(within_ms: int, idle_timeout_ms: int | None):
    """State-transition factory for ``quantified_pattern_stream`` — the
    CEP form of w7's ``PATTERN (view+ purchase)``: state per user is the
    OPEN view-run (count + first timestamp) plus the previous event type
    and the order-guard boundary — O(1) however long the run grows,
    because a one-or-more quantifier's NFA only accumulates, never
    back-tracks. view extends the run; purchase with a view predecessor
    closes it (emit when the span fits); anything else resets it."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        run_n, run_first_ms, prev_et, last_ms, last_eid = (
            state.get if state.exists else (0, 0, None, 0, -1)
        )
        out: list[tuple[int, int, int]] = []
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ms", "event_id"]
            )
            if prev_et is not None or last_eid >= 0:
                first = (int(pdf["ms"].iloc[0]), int(pdf["event_id"].iloc[0]))
                if last_eid >= 0 and first < (last_ms, last_eid):
                    raise ValueError(
                        f"quantified_pattern_stream: misordered source for "
                        f"user {user_id!r}: batch min key {first} precedes "
                        f"the consumed boundary ({last_ms}, {last_eid})"
                    )
            for et, ms, eid in zip(
                pdf["event_type"], pdf["ms"].astype(int), pdf["event_id"].astype(int)
            ):
                if et == "view":
                    if run_n == 0:
                        run_first_ms = ms
                    run_n += 1
                else:
                    if (
                        et == "purchase"
                        and prev_et == "view"
                        and run_n > 0
                        and ms - run_first_ms <= within_ms
                    ):
                        out.append((run_n, run_first_ms, ms - run_first_ms))
                    run_n, run_first_ms = 0, 0
                prev_et = et
                last_ms, last_eid = ms, eid
        state.update((run_n, run_first_ms, prev_et, last_ms, last_eid))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "n_views": pd.Series([n for n, _f, _s in out], dtype="int64"),
                "first_ms": pd.Series([f for _n, f, _s in out], dtype="int64"),
                "span": pd.Series([s for _n, _f, s in out], dtype="int64"),
            },
            columns=[f.name for f in W7S_MATCH_SCHEMA.fields],
        )

    return fn


def quantified_pattern_stream(
    records: DataFrame, within_ms: int, idle_timeout_ms: int | None = None
) -> DataFrame:
    """w7's quantified pattern as a STREAMING CEP operator (w6s's sibling
    for one-or-more quantifiers): matches emit as their closing purchase
    arrives; state = the open view-run + previous event type per user —
    O(1) regardless of run length. Input: user_id, event_type, ms,
    event_id; in-order arrival enforced by the dod_sizing order guard."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("user_id").applyInPandasWithState(
        _make_quantified_pattern_fn(within_ms, idle_timeout_ms),
        outputStructType=W7S_MATCH_SCHEMA,
        stateStructType=_W7S_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


TWA_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("span_ms", LongType()),
        StructField("num", LongType()),
    ]
)

_TWA_STATE_SCHEMA = "n long, last_ms long, last_v100 long, span_ms long, num long"


def time_weighted_avg(
    records: DataFrame, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Streaming twin of t37's trapezoidal time-weighted average: per
    series the state is FIVE integers — (n, last_ms, last_v100, span_ms,
    num) where num = Σ (v100ᵢ₋₁+v100ᵢ)·Δt — O(1) regardless of stream
    length (the t20s class, but integer-exact like t17s: every update is
    integer adds/multiplies, so chop cannot move a bit). Each micro-batch
    emits one summary row per touched series; n grows monotonically, so
    the max-n row per series is the authoritative drain row (t20s's
    emission protocol). The num→twa conversion happens OUTSIDE the
    stream, in the drain's Spark expressions, with t37's identical
    divide-once + floor-truncate chain. NaN staleness markers skip
    identically to the batch filter; within-batch order is
    (time, event_id) — in-order arrival across batches is the relay's
    property, the same assumption t14s/t20s/t31's streams already pin.
    Out-of-order deployment recipe: wrap the fold in the bounded
    reorder buffer ``ewma_halflife_reordered`` demonstrates (commit
    only past max-seen-ms − reorder_ms, in (ms, event_id) order; raise
    past the horizon) — the trapezoid fold slots into the same _fold
    seam, r11 task #6. Python ints are unbounded but state stores
    int64: at 100 TB num splits into decimal partials exactly as t31s
    does (docstring note; per-series num is ~1e11 at the 64× probe,
    7 orders inside int64)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        n, last_ms, last_v100, span_ms, num = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        for pdf in pdfs:
            sort_keys = (
                ["time", "event_id"] if "event_id" in pdf.columns else ["time"]
            )
            pdf = pdf.sort_values(sort_keys)
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                v100 = int(_round_half_up(float(v) * 100, 0))
                if n > 0:
                    dt = ms - last_ms
                    num += (last_v100 + v100) * dt
                    span_ms += dt
                n += 1
                last_ms, last_v100 = ms, v100
        state.update((n, last_ms, last_v100, span_ms, num))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "user_id": user_id,
                    "n_samples": n,
                    "span_ms": span_ms,
                    "num": num,
                }
            ]
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=TWA_SCHEMA,
        stateStructType=_TWA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


ALERT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("island_seq", LongType()),
        StructField("island_start", LongType()),
        StructField("island_end", LongType()),
        StructField("n_samples", LongType()),
    ]
)

_ALERT_STATE_SCHEMA = "open_s long, open_e long, open_n long, seq long"


def alert_for_duration(
    records: DataFrame, thr: float, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Streaming twin of t39's alert `for:` state machine: per alert key
    the state is the ONE open island (start, end, n) plus a monotone
    island SEQUENCE number — O(1) regardless of stream length. A
    breaching sample opens/extends the island (opening increments the
    sequence); a non-breaching sample CLOSES it (emitted once, final);
    batch end emits the still-open island as a provisional row that
    later batches supersede with a larger n at the same island_seq — so
    the max-n row per (key, island_seq) is authoritative on drain (the
    t20s protocol, keyed by island IDENTITY). The sequence — not
    island_start — is the identity: two distinct islands of the same
    type can START at the same truncated millisecond (the partition key
    is event_type alone, so a close + reopen can land on one ms), and
    a start-keyed drain would collapse them to one max-n row. All state
    and emissions are integers; NaN staleness markers skip identically
    to the batch filter; within-batch order is (time, event_id) —
    in-order arrival ACROSS batches is a precondition (a late breach
    would reopen a closed island); the out-of-order deployment recipe
    is ``ewma_halflife_reordered``'s bounded reorder buffer with the
    island transition as the committed fold (r11 task #6)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        open_s, open_e, open_n, seq = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        out: list[tuple[int, int, int, int]] = []
        for pdf in pdfs:
            sort_keys = (
                ["time", "event_id"] if "event_id" in pdf.columns else ["time"]
            )
            pdf = pdf.sort_values(sort_keys)
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                if float(v) > thr:
                    if open_n == 0:
                        seq += 1
                        open_s, open_e, open_n = ms, ms, 1
                    else:
                        open_e, open_n = ms, open_n + 1
                elif open_n > 0:
                    out.append((seq, open_s, open_e, open_n))  # closed: final
                    open_s, open_e, open_n = 0, 0, 0
        state.update((open_s, open_e, open_n, seq))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        if open_n > 0:
            out.append((seq, open_s, open_e, open_n))  # provisional
        yield pd.DataFrame(
            {
                "event_type": pd.Series([event_type] * len(out), dtype="object"),
                "island_seq": pd.Series([q for q, _s, _e, _n in out], dtype="int64"),
                "island_start": pd.Series([s for _q, s, _e, _n in out], dtype="int64"),
                "island_end": pd.Series([e for _q, _s, e, _n in out], dtype="int64"),
                "n_samples": pd.Series([n for _q, _s, _e, n in out], dtype="int64"),
            },
            columns=[f.name for f in ALERT_SCHEMA.fields],
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=ALERT_SCHEMA,
        stateStructType=_ALERT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


EWMA_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("ewma_raw", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = "n long, m long, l double"


def ewma_halflife(
    records: DataFrame, hl_ms: int, idle_timeout_ms: int | None = 3_600_000
) -> DataFrame:
    """Streaming twin of t41's half-life EWMA: per series the state is
    (n, last_ms, level) — the exact (level, last_ms) chunk-handoff the
    batch docstring prescribes, O(1) for any stream length. Every
    update is level' = v + (level − v)·(1 / float(1 << g)) with
    g = min(Δt // hl, 62) — Python ints and IEEE doubles applying the
    IDENTICAL operand order as the batch ``aggregate`` fold and the
    recursive-CTE oracle (the t20s op-order-identity argument; the
    dyadic decay is exact, so even the multiply inputs are bit-equal).
    One summary row per touched series per batch; max-n drain row is
    authoritative (t20s protocol); the floor-truncation happens in the
    drain's Spark expression, not here."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        n, m, l = state.get if state.exists else (0, 0, 0.0)  # noqa: E741
        for pdf in pdfs:
            sort_keys = (
                ["time", "event_id"] if "event_id" in pdf.columns else ["time"]
            )
            pdf = pdf.sort_values(sort_keys)
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                x = float(v)
                if n == 0:
                    l = x  # noqa: E741
                else:
                    # clamp at 0: an out-of-order sample (possible under
                    # replayed/overlapping inputs; in-order arrival is the
                    # batch-equivalence precondition, as for t20s) decays
                    # by zero halvings instead of crashing the shift
                    g = min(max((ms - m) // hl_ms, 0), 62)
                    l = x + (l - x) * (1.0 / float(1 << g))  # noqa: E741
                m, n = ms, n + 1
        state.update((n, m, l))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "user_id": user_id,
                    "n_samples": n,
                    "ewma_raw": l,
                }
            ]
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


_TWA_RO_STATE_SCHEMA = (
    "n long, last_ms long, last_v100 long, span_ms long, num long, "
    "hi long, bms array<long>, bid array<long>, bv array<double>"
)


def time_weighted_avg_reordered(
    records: DataFrame,
    reorder_ms: int,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """The PRODUCTION twin of ``time_weighted_avg`` for out-of-order
    streams (r12 — the last in-order-precondition op on the r11 watch
    list): the bounded reorder buffer rides in state, the trapezoidal
    integer fold COMMITS samples strictly below (max event ms) −
    reorder_ms in (ms, event_id) order, and each batch emits the
    speculative summary (committed state + buffered suffix folded in
    sorted order). Because every update is INTEGER arithmetic, the
    committed accumulators are exactly — not just bit-for-bit-by-
    op-order — the sorted-stream fold; n_samples stays monotone, so the
    drain keeps the plain max-n protocol (unlike the alert twin, no
    island identity exists to split). A sample past its horizon raises
    loudly (the watermark contract)."""

    def _fold(n, m, lv, span, num, rows):
        for ms, _eid, v in rows:
            v100 = int(_round_half_up(v * 100, 0))
            if n > 0:
                dt = ms - m
                num += (lv + v100) * dt
                span += dt
            n += 1
            m, lv = ms, v100
        return n, m, lv, span, num

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        if state.exists:
            n, m, lv, span, num, hi, bms, bid, bv = state.get
            buf = list(zip(list(bms), list(bid), list(bv)))
        else:
            n = m = lv = span = num = 0
            hi, buf = -(1 << 62), []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                if ms < hi - reorder_ms:
                    raise RuntimeError(
                        f"sample at {ms} arrived past its reorder horizon "
                        f"(max seen {hi}, bound {reorder_ms} ms): the "
                        "watermark contract is violated — widen reorder_ms"
                    )
                eid = int(r["event_id"]) if "event_id" in pdf.columns else 0
                buf.append((ms, eid, float(v)))
                if ms > hi:
                    hi = ms
        buf.sort()
        wm = hi - reorder_ms
        cut = 0
        while cut < len(buf) and buf[cut][0] < wm:  # strictly below
            cut += 1
        n, m, lv, span, num = _fold(n, m, lv, span, num, buf[:cut])
        buf = buf[cut:]
        state.update(
            (
                n, m, lv, span, num, hi,
                [b[0] for b in buf],
                [b[1] for b in buf],
                [b[2] for b in buf],
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        sn, _sm, _slv, sspan, snum = _fold(n, m, lv, span, num, buf)
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "user_id": user_id,
                    "n_samples": sn,
                    "span_ms": sspan,
                    "num": snum,
                }
            ]
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=TWA_SCHEMA,
        stateStructType=_TWA_RO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


ALERT_RO_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("island_seq", LongType()),
        StructField("island_start", LongType()),
        StructField("island_end", LongType()),
        StructField("n_samples", LongType()),
        StructField("version", LongType()),
    ]
)

_ALERT_RO_STATE_SCHEMA = (
    "open_s long, open_e long, open_n long, seq long, n_seen long, "
    "hi long, bms array<long>, bid array<long>, bv array<double>"
)


def alert_for_duration_reordered(
    records: DataFrame,
    thr: float,
    reorder_ms: int,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """The PRODUCTION twin of ``alert_for_duration`` for out-of-order
    streams (r12, VERDICT r11 task #5 — alerting is where late data has
    operational consequences: a late breach can open an island that
    should page, a late non-breach can close one that shouldn't). The
    recipe is ``ewma_halflife_reordered``'s bounded reorder buffer with
    the island transition as the committed fold: samples buffer in
    state, and the state machine only COMMITS samples strictly below
    (max event ms) − reorder_ms in (ms, event_id) order, so any arrival
    pattern with displacement ≤ reorder_ms folds in exactly the global
    sort order (committed islands are bit-equal to the in-order fold;
    a later arrival raises loudly — the watermark contract).

    EMISSION PROTOCOL — why the in-order max-n drain is NOT reused:
    a late NON-breaching sample can SPLIT a previously-emitted
    speculative island (its n SHRINKS at the same seq), so max-n per
    (key, seq) would resurrect the stale pre-split row. Instead every
    row carries ``version`` = total samples seen for the key (strictly
    monotone across emissions), each batch re-emits the ENTIRE
    speculative fold (committed open state + sorted buffer), and the
    drain keeps the max-version row per (key, island_seq). Islands
    never MERGE (samples are only ever added and a separating
    non-breach persists), so the island count per prefix is monotone
    and no once-used seq is ever abandoned — every stale row has a
    fresh same-seq successor or is a committed closure (emitted once,
    final: the guard proves no sample can land below the commit cut).
    State is O(rate × reorder_ms) per alert key — constant in stream
    length, the alert_for_duration property kept under disorder."""

    def _fold(open_s, open_e, open_n, seq, rows):
        closed: list[tuple[int, int, int, int]] = []
        for ms, _eid, v in rows:
            if v > thr:
                if open_n == 0:
                    seq += 1
                    open_s, open_e, open_n = ms, ms, 1
                else:
                    open_e, open_n = ms, open_n + 1
            elif open_n > 0:
                closed.append((seq, open_s, open_e, open_n))
                open_s, open_e, open_n = 0, 0, 0
        return open_s, open_e, open_n, seq, closed

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            open_s, open_e, open_n, seq, n_seen, hi, bms, bid, bv = state.get
            buf = list(zip(list(bms), list(bid), list(bv)))
        else:
            open_s = open_e = open_n = seq = n_seen = 0
            hi, buf = -(1 << 62), []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                if ms < hi - reorder_ms:
                    raise RuntimeError(
                        f"sample at {ms} arrived past its reorder horizon "
                        f"(max seen {hi}, bound {reorder_ms} ms): the "
                        "watermark contract is violated — widen reorder_ms"
                    )
                eid = int(r["event_id"]) if "event_id" in pdf.columns else 0
                buf.append((ms, eid, float(v)))
                n_seen += 1
                if ms > hi:
                    hi = ms
        buf.sort()
        wm = hi - reorder_ms
        # strictly below the horizon — the ewma_halflife_reordered
        # boundary rule (a displacement-exactly-reorder_ms arrival is
        # admitted by the guard, so same-ms peers must not pre-commit)
        cut = 0
        while cut < len(buf) and buf[cut][0] < wm:
            cut += 1
        open_s, open_e, open_n, seq, closed = _fold(
            open_s, open_e, open_n, seq, buf[:cut]
        )
        buf = buf[cut:]
        state.update(
            (
                open_s, open_e, open_n, seq, n_seen, hi,
                [b[0] for b in buf],
                [b[1] for b in buf],
                [b[2] for b in buf],
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        # speculative fold: committed open state + the whole buffer
        s_s, s_e, s_n, s_seq, spec = _fold(open_s, open_e, open_n, seq, buf)
        rows_out = closed + spec
        if s_n > 0:
            rows_out.append((s_seq, s_s, s_e, s_n))
        yield pd.DataFrame(
            {
                "event_type": pd.Series(
                    [event_type] * len(rows_out), dtype="object"
                ),
                "island_seq": pd.Series(
                    [q for q, _s, _e, _n in rows_out], dtype="int64"
                ),
                "island_start": pd.Series(
                    [s for _q, s, _e, _n in rows_out], dtype="int64"
                ),
                "island_end": pd.Series(
                    [e for _q, _s, e, _n in rows_out], dtype="int64"
                ),
                "n_samples": pd.Series(
                    [n for _q, _s, _e, n in rows_out], dtype="int64"
                ),
                "version": pd.Series(
                    [n_seen] * len(rows_out), dtype="int64"
                ),
            },
            columns=[f.name for f in ALERT_RO_SCHEMA.fields],
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=ALERT_RO_SCHEMA,
        stateStructType=_ALERT_RO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


_EWMA_RO_STATE_SCHEMA = (
    "n long, m long, l double, hi long, "
    "bms array<long>, bid array<long>, bv array<double>"
)


def ewma_halflife_reordered(
    records: DataFrame,
    hl_ms: int,
    reorder_ms: int,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """The PRODUCTION twin of ``ewma_halflife`` for out-of-order streams
    (r11, VERDICT r10 task #6): ``ewma_halflife`` documents in-order
    arrival as its batch-equivalence precondition (an out-of-order
    sample clamps to zero halvings — correct-ish, but not the batch
    fold). This twin makes the precondition a CONTRACT instead: a
    bounded reorder buffer rides in the state — the watermark idea
    applied inside the operator — and the fold only COMMITS samples
    older than (max event ms seen) − reorder_ms, in (ms, event_id)
    order. Any arrival pattern whose displacement stays under
    ``reorder_ms`` therefore folds in exactly the global sort order:
    the committed recurrence is BIT-EQUAL to the in-order fold (pinned
    by test_ewma_reordered_bit_equals_in_order). A sample arriving
    later than its reorder horizon raises loudly (the watermark
    contract violated — the caller chose the bound) rather than folding
    out of order silently.

    Each batch emits a SPECULATIVE summary: the committed state plus
    the still-buffered suffix folded in sorted order — so the drain's
    max-n row (t20s protocol) reflects every sample, exactly as if the
    stream had ended and the watermark advanced past the buffer. State
    is (n, last_ms, level) + the bounded buffer: O(rate × reorder_ms)
    per series, the price of tolerating disorder — constant in stream
    LENGTH, the property that matters at 100 TB."""

    def _fold(n: int, m: int, l: float, rows) -> tuple[int, int, float]:
        for ms, _eid, x in rows:
            if n == 0:
                l = x  # noqa: E741
            else:
                g = min(max((ms - m) // hl_ms, 0), 62)
                l = x + (l - x) * (1.0 / float(1 << g))  # noqa: E741
            m, n = ms, n + 1
        return n, m, l

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        if state.exists:
            n, m, l, hi, bms, bid, bv = state.get  # noqa: E741
            buf = list(zip(list(bms), list(bid), list(bv)))
        else:
            n, m, l, hi, buf = 0, 0, 0.0, -(1 << 62), []  # noqa: E741
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                if ms < hi - reorder_ms:
                    raise RuntimeError(
                        f"sample at {ms} arrived past its reorder horizon "
                        f"(max seen {hi}, bound {reorder_ms} ms): the "
                        "watermark contract is violated — widen reorder_ms"
                    )
                eid = int(r["event_id"]) if "event_id" in pdf.columns else 0
                buf.append((ms, eid, float(v)))
                if ms > hi:
                    hi = ms
        buf.sort()
        wm = hi - reorder_ms
        # Commit strictly BELOW the horizon (r11 ADVICE): the late-arrival
        # guard above admits ms == hi - reorder_ms (displacement exactly
        # reorder_ms), so samples AT the horizon must stay buffered — were
        # they committed (<=), a same-ms peer arriving at the boundary
        # would fold after them, breaking the (ms, event_id) fold order.
        cut = 0
        while cut < len(buf) and buf[cut][0] < wm:
            cut += 1
        n, m, l = _fold(n, m, l, buf[:cut])  # noqa: E741
        buf = buf[cut:]
        state.update(
            (
                n, m, l, hi,
                [b[0] for b in buf],
                [b[1] for b in buf],
                [b[2] for b in buf],
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        sn, _sm, sl = _fold(n, m, l, buf)  # speculative: buffer folded, not committed
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "user_id": user_id,
                    "n_samples": sn,
                    "ewma_raw": sl,
                }
            ]
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_RO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


_HW_RO_STATE_SCHEMA = (
    "n long, level double, trend double, hi long, "
    "bms array<long>, bid array<long>, bv array<double>"
)


def holt_winters_reordered(
    records: DataFrame,
    reorder_ms: int,
    sf: float = 0.3,
    tf: float = 0.1,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """The PRODUCTION twin of ``holt_winters`` for out-of-order streams
    (r13, VERDICT r12 task #6): holt_winters' float recurrence relies
    on OP-ORDER IDENTITY with the batch fold — the most order-fragile
    kernel of the family, which is exactly why the in-order
    precondition deserved the contract upgrade. The recipe is
    ``ewma_halflife_reordered``'s bounded reorder buffer verbatim:
    samples commit strictly below (max event ms) − reorder_ms in
    (ms, event_id) order, so any arrival pattern with displacement ≤
    reorder_ms applies sf/tf updates in EXACTLY the global sort order —
    the committed (level, trend) is bit-equal to the in-order fold by
    the fold order alone (no integer-arithmetic escape hatch exists
    here, making this the interesting case the VERDICT named). Each
    batch emits the SPECULATIVE summary (committed state + buffered
    suffix folded sorted) so the max-n drain row reflects every sample;
    a past-horizon arrival raises loudly. State O(rate × reorder_ms)
    per series — constant in stream length."""

    def _fold(n: int, level: float, trend: float, rows):
        for _ms, _eid, x in rows:
            if n == 0:
                level, trend = x, 0.0
            else:
                s = sf * x + (1.0 - sf) * (level + trend)
                trend = tf * (s - level) + (1.0 - tf) * trend
                level = s
            n += 1
        return n, level, trend

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        if state.exists:
            n, level, trend, hi, bms, bid, bv = state.get
            buf = list(zip(list(bms), list(bid), list(bv)))
        else:
            n, level, trend, hi, buf = 0, 0.0, 0.0, -(1 << 62), []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                if ms < hi - reorder_ms:
                    raise RuntimeError(
                        f"sample at {ms} arrived past its reorder horizon "
                        f"(max seen {hi}, bound {reorder_ms} ms): the "
                        "watermark contract is violated — widen reorder_ms"
                    )
                eid = int(r["event_id"]) if "event_id" in pdf.columns else 0
                buf.append((ms, eid, float(v)))
                if ms > hi:
                    hi = ms
        buf.sort()
        wm = hi - reorder_ms
        # strictly below the horizon — the ewma_halflife_reordered
        # boundary rule (a same-ms peer may still arrive AT the horizon)
        cut = 0
        while cut < len(buf) and buf[cut][0] < wm:
            cut += 1
        n, level, trend = _fold(n, level, trend, buf[:cut])
        buf = buf[cut:]
        state.update(
            (
                n, level, trend, hi,
                [b[0] for b in buf],
                [b[1] for b in buf],
                [b[2] for b in buf],
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        sn, sl, st = _fold(n, level, trend, buf)  # speculative suffix
        yield pd.DataFrame(
            [
                {
                    "event_type": event_type,
                    "user_id": user_id,
                    "n_samples": sn,
                    "hw_level": sl,
                    "hw_trend": st,
                    "hw_forecast": sl + st,
                }
            ]
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=HW_SCHEMA,
        stateStructType=_HW_RO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


RATE_RO_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("rate_per_sec", DoubleType()),
        StructField("n_increases", LongType()),
        StructField("seen", LongType()),
        StructField("committed", BooleanType()),
    ]
)

_RATE_RO_STATE_SCHEMA = (
    "last_v100 long, inc_ms array<long>, inc_v array<long>, n_c long, "
    "hi long, bms array<long>, bid array<long>, bv array<double>"
)


def streaming_rate_reordered(
    records: DataFrame,
    reorder_ms: int,
    window_ms: int = 300_000,
    idle_timeout_ms: int | None = 3_600_000,
) -> DataFrame:
    """The PRODUCTION twin of ``streaming_rate`` for out-of-order
    streams (r13, VERDICT r12 task #6): the bounded reorder buffer
    rides in state and the per-sample trailing-frame fold COMMITS
    strictly below (max event ms) − reorder_ms in (ms, event_id) order
    — a committed sample's rate row is computed with exactly the
    in-order twin's frame (integer-cents sum, identical quotient order),
    so it is bit-equal to the in-order output. Unlike the summary-row
    twins this op emits PER-SAMPLE rows, so the buffered suffix also
    emits SPECULATIVE rows each batch (the sorted-suffix fold over a
    COPY of the committed frame); every row carries (seen, committed)
    and the drain picks argmax(seen) per event_id — a committed row's
    seen strictly exceeds any speculative row's for the same sample
    (commits only happen when a new arrival advances the horizon), and
    the final batch's speculative rows equal the in-order values
    because the whole suffix folds in sorted order. A past-horizon
    arrival raises loudly. State O(window + rate × reorder_ms) per
    series — constant in stream length."""

    def _fold(last_v100, inc_ms, inc_v, rows, committed, seen_total, out):
        import math

        for ms, eid, v in rows:
            v100 = int(_round_half_up(v * 100, 0))
            if last_v100 is None:
                inc = None
            elif v100 >= last_v100:
                inc = v100 - last_v100
            else:
                inc = v100  # counter reset: the new value IS the increase
            if inc is not None:
                inc_ms.append(ms)
                inc_v.append(inc)
            last_v100 = v100
            lo = ms - window_ms
            while inc_ms and inc_ms[0] < lo:
                inc_ms.pop(0)
                inc_v.pop(0)
            in_frame = [x for m2, x in zip(inc_ms, inc_v) if m2 >= lo]
            if in_frame:
                # identical operand order as streaming_rate / t14 batch
                q = float(sum(in_frame)) / 100.0 / (window_ms / 1000.0)
                rate = math.floor(q * 1e6) / 1e6
            else:
                rate = None
            out.append(
                {
                    "event_id": eid,
                    "event_type": None,  # stamped by the caller
                    "user_id": None,
                    "rate_per_sec": rate,
                    "n_increases": len(in_frame),
                    "seen": seen_total,
                    "committed": committed,
                }
            )
        return last_v100

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        event_type, user_id = key
        if state.exists:
            last_v100, inc_ms, inc_v, n_c, hi, bms, bid, bv = state.get
            inc_ms, inc_v = list(inc_ms), list(inc_v)
            buf = list(zip(list(bms), list(bid), list(bv)))
        else:
            last_v100, inc_ms, inc_v, n_c = None, [], [], 0
            hi, buf = -(1 << 62), []
        for pdf in pdfs:
            for _, r in pdf.iterrows():
                v = r["value"]
                if v is None or pd.isna(v):
                    continue  # staleness marker — batch filter parity
                ms = int(r["time"])
                if ms < hi - reorder_ms:
                    raise RuntimeError(
                        f"sample at {ms} arrived past its reorder horizon "
                        f"(max seen {hi}, bound {reorder_ms} ms): the "
                        "watermark contract is violated — widen reorder_ms"
                    )
                eid = int(r["event_id"]) if "event_id" in pdf.columns else 0
                buf.append((ms, eid, float(v)))
                if ms > hi:
                    hi = ms
        buf.sort()
        wm = hi - reorder_ms
        cut = 0
        while cut < len(buf) and buf[cut][0] < wm:  # strictly below
            cut += 1
        seen_total = n_c + len(buf)
        rows: list[dict[str, Any]] = []
        last_v100 = _fold(
            last_v100, inc_ms, inc_v, buf[:cut], True, seen_total, rows
        )
        n_c += cut
        buf = buf[cut:]
        state.update(
            (
                last_v100, inc_ms, inc_v, n_c, hi,
                [b[0] for b in buf],
                [b[1] for b in buf],
                [b[2] for b in buf],
            )
        )
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        # speculative suffix over COPIES of the committed frame
        _fold(
            last_v100, list(inc_ms), list(inc_v), buf, False, seen_total,
            rows,
        )
        for row in rows:
            row["event_type"] = event_type
            row["user_id"] = user_id
        yield pd.DataFrame(
            rows, columns=[f.name for f in RATE_RO_SCHEMA.fields]
        )

    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return records.groupBy("event_type", "user_id").applyInPandasWithState(
        fn,
        outputStructType=RATE_RO_SCHEMA,
        stateStructType=_RATE_RO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
