"""T10: custom stateful per-series streaming operators
(``applyInPandasWithState``) — the one Spark surface where imperative
per-key state is the right tool (SURVEY.md §2.10 U5).

Every operator here is a per-key state transition run through
``_apply_with_state`` with no state timeout: a key's state lives as long
as the query, bounded by the operator's window or horizon. A kernel that
folds in order reads its key's micro-batch through ``_ordered`` (the
chunks concatenated and sorted once). The families:

- PromQL-flavored per-series folds: ``counter_increase`` (monotonic
  counter delta with reset detection), ``gap_fill`` / ``interp_fill``
  (grid resampling), ``prefix_anomaly`` (z-score against prior moments).
- Order-sensitive recurrences — ``holt_winters``, ``streaming_rate``,
  ``time_weighted_avg``, ``alert_for_duration``, ``ewma_halflife`` —
  each a ``fold``/``emit`` pair over ``_reorder_fold``, the one bounded
  reorder buffer: samples up to ``reorder_ms`` late fold in
  (ms, event_id) order, and a later one raises.
- Buffers, sketches and pattern matchers behind the t15s/t16s/t22s/
  t25s/t30s/l4s/a3cs/w6s/w7s streams.

State per key is bounded by the operator's own window or horizon, never
by stream length, so a 1000-executor cluster shards series across state
stores with no unbounded growth.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from collections.abc import Callable, Iterator
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


def _apply_with_state(
    frame: DataFrame,
    keys: list[str],
    fn: Callable[[tuple, Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]],
    out_schema: StructType,
    state_schema: str,
) -> DataFrame:
    """``fn`` per key of ``frame`` as an append-mode
    ``applyInPandasWithState`` with ``GroupStateTimeout.NoTimeout``: keys
    are never evicted, and ``fn`` is only called for a key with rows in
    the micro-batch. A processing-time timeout would keep an
    ``availableNow`` query scheduling micro-batches to wait for expiry, so
    the query would never stop (measured: epoch 144 and climbing on a
    single-file source)."""
    return frame.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _ordered(
    pdfs: Iterator[pd.DataFrame],
    by: list[str],
    boundary: tuple | None = None,
    who: str = "",
) -> pd.DataFrame:
    """One key's micro-batch as one frame sorted by ``by``.

    ``applyInPandasWithState`` hands over a key's rows as Arrow chunks of
    at most ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, in no
    order, so sorting each chunk on its own folds the wrong sequence once
    a key spans two chunks: the chunks are concatenated, then sorted once.
    ``boundary`` is the last ``by`` key an earlier micro-batch consumed
    (``None`` for a new key). A batch whose first key sorts below it
    raises ``ValueError`` naming ``who``: the fold would run out of order,
    and a loud failure beats a silent mismatch against the batch form."""
    chunks = list(pdfs)
    pdf = pd.concat(
        [c for c in chunks if len(c)] or chunks, ignore_index=True
    ).sort_values(by)
    if boundary is not None and len(pdf):
        first = tuple(pdf[by].iloc[0].tolist())
        if first < boundary:
            raise ValueError(
                f"{who}: misordered source: batch min key {first} precedes "
                f"the consumed boundary {boundary}; the fold requires "
                f"in-order {tuple(by)} micro-batches"
            )
    return pdf


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


def _make_increase_fn():
    def _increase_fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        if state.exists:
            last_value, last_time, resets = state.get
        else:
            last_value, last_time, resets = None, None, 0

        pdf = _ordered(
            pdfs,
            ["time"],
            None if last_time is None else (last_time,),
            f"counter_increase series {name!r}",
        )
        rows: list[dict[str, Any]] = []
        for t, v in zip(pdf["time"].tolist(), pdf["value"].tolist()):
            t = int(t)
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
        yield pd.DataFrame(rows, columns=[f.name for f in INCREASE_SCHEMA.fields])

    return _increase_fn


def counter_increase(records: DataFrame) -> DataFrame:
    """Per-series counter increase with reset detection over a STREAMING
    records DataFrame (RECORD_SCHEMA). Output mode: append. A sample older
    than the series' last sample of an earlier micro-batch raises
    ``ValueError`` (``_ordered``'s guard) instead of folding a made-up
    increase and reset."""
    return _apply_with_state(
        records, ["name"], _make_increase_fn(), INCREASE_SCHEMA, _STATE_SCHEMA
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


def gap_fill(records: DataFrame, interval_ms: int) -> DataFrame:
    """Streaming gap fill: per-series LOCF grid emission with O(1) state
    (last value + next pending grid time).

    Emission rule: a grid point is emitted when the first LATER sample
    arrives — grid points in (prev_sample, t) carry prev's value, a grid
    point equal to a sample time carries that sample's value (at-or-
    before), and nothing at/after the newest sample is emitted yet. For a
    completed stream this reproduces ``gap_fill_batch``'s [first, last)
    grid exactly (cross-checked in tests/test_streaming.py).
    """

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        if state.exists:
            last_value, next_grid = state.get
        else:
            last_value, next_grid = None, None

        # (time, value) order so duplicate-timestamp samples resolve
        # max-wins WITHIN a batch (the last processed value at a ts is the
        # max), matching the batch form's max(value) collapse and the
        # t10bs oracle. Across micro-batches later-batch-wins applies —
        # the availableNow drains the registered query runs are
        # single-batch, where the equivalence is exact.
        pdf = _ordered(pdfs, ["time", "value"])
        rows: list[dict[str, Any]] = []
        for t, v in zip(pdf["time"].tolist(), pdf["value"].tolist()):
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
        yield pd.DataFrame(rows, columns=[f.name for f in GAPFILL_SCHEMA.fields])

    return _apply_with_state(records, ["name"], fn, GAPFILL_SCHEMA, _GF_STATE_SCHEMA)


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


def prefix_anomaly(records: DataFrame) -> DataFrame:
    """Per-series streaming anomaly detection: each sample's z-score
    against the running moments of all PRIOR samples of its series
    (applyInPandasWithState; state = three integers per key).

    Quantizes values to integer hundredths (exact — the corpus is
    2-decimal) and keeps (n, Σv, Σv²) as Python/int64 integers, so
    cross-batch accumulation has no float order-dependence; the one
    floating-point division per row is the identical expression the
    DuckDB oracle runs. z is NULL until a series has ≥2 priors with
    nonzero variance."""

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        n, sv, svv = state.get if state.exists else (0, 0, 0)

        pdf = _ordered(pdfs, ["time"])
        rows: list[dict[str, Any]] = []
        for t, v in zip(pdf["time"].tolist(), pdf["value"].tolist()):
            t = int(t)
            if v is None or pd.isna(v):
                continue
            num = n * svv - sv * sv  # n² × variance, exact
            if n < 2 or num == 0:
                z = None
            else:
                mean = sv / 100.0 / n
                var = num / (n * (n - 1)) / 10000.0
                z = (v - mean) / var**0.5
            rows.append({"name": name, "time": t, "value": v, "z": z, "n_prior": n})
            v100 = int(_round_half_up(v * 100, 0))
            n, sv, svv = n + 1, sv + v100, svv + v100 * v100
        state.update((n, sv, svv))
        yield pd.DataFrame(rows, columns=[f.name for f in ANOMALY_SCHEMA.fields])

    return _apply_with_state(records, ["name"], fn, ANOMALY_SCHEMA, _ANOM_STATE_SCHEMA)


# The reorder buffer every order-sensitive recurrence below carries after
# its own accumulator: the highest event ms seen plus the samples not yet
# committed, as parallel (ms, event_id, value) arrays.
_REORDER_STATE_SCHEMA = "hi long, bms array<long>, bid array<long>, bv array<double>"


def _reorder_fold(
    records: DataFrame,
    keys: list[str],
    init: tuple,
    fold: Callable[[tuple, list, list], tuple],
    emit: Callable[[tuple, tuple, list, list], pd.DataFrame],
    out_schema: StructType,
    state_schema: str,
    reorder_ms: int,
) -> DataFrame:
    """Run an order-sensitive per-key recurrence over a stream whose
    samples may arrive up to ``reorder_ms`` late — Structured Streaming's
    event-time watermark, applied inside the operator.

    ``fold(acc, rows, out)`` returns the accumulator tuple ``acc`` (``init``
    for a new key, stored under ``state_schema``) advanced over ``rows``:
    (ms, event_id, value) tuples of plain Python numbers in (ms, event_id)
    order, NULL values already skipped. A fold that emits per-sample or
    per-island rows appends them to ``out``. ``emit(key, acc, done,
    spec)`` builds the batch's output frame from the speculative
    accumulator and the rows the committed (``done``) and speculative
    (``spec``) folds appended.

    Per key and micro-batch:

    - NULL values (staleness markers) skip, as the batch forms' filters do.
    - The batch's samples are admitted as one set, so their order inside
      the batch never matters. A sample more than ``reorder_ms`` below the
      highest ms of EARLIER batches raises: folding it would run the
      recurrence out of order, and dropping it would lose data silently.
    - The buffer is sorted by (ms, event_id) and every sample strictly
      below (highest ms) − ``reorder_ms`` is COMMITTED into the stored
      accumulator. Strictly: a sample exactly ``reorder_ms`` late is
      admitted, so its same-ms peers must still be buffered when it
      arrives.
    - The output folds the still-buffered suffix on top of the committed
      accumulator without storing it, so each batch's rows reflect every
      sample seen, as if the stream ended there.

    Any arrival whose displacement stays within ``reorder_ms`` therefore
    folds in exactly the global (ms, event_id) order: the output is
    bit-equal to the in-order fold. With ``reorder_ms=0`` the buffer holds
    only the samples at the highest ms seen. State is the accumulator plus
    O(rate × reorder_ms) buffered samples per key, constant in stream
    length."""
    width = len(init)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            saved = state.get
            acc, (hi, bms, bid, bv) = saved[:width], saved[width:]
            buf = list(zip(bms, bid, bv))
        else:
            acc, hi, buf = init, -(1 << 62), []
        new = []
        for pdf in pdfs:
            ms_col = pdf["time"].tolist()
            eids = (
                pdf["event_id"].tolist()
                if "event_id" in pdf.columns
                else [0] * len(ms_col)
            )
            for ms, eid, v in zip(ms_col, eids, pdf["value"].tolist()):
                if v is not None and v == v:  # NaN/NULL staleness markers skip
                    new.append((ms, eid, v))
        if new:
            late = min(new)[0]
            if late < hi - reorder_ms:
                raise RuntimeError(
                    f"sample at {late} arrived past its reorder horizon "
                    f"(max seen {hi}, bound {reorder_ms} ms): the "
                    "watermark contract is violated — widen reorder_ms"
                )
            hi = max(hi, max(new)[0])
            buf = sorted(buf + new)
        # (wm,) sorts before every (wm, event_id, value): the cut is the
        # first sample AT the horizon, so only samples strictly below commit
        cut = bisect_left(buf, (hi - reorder_ms,))
        done: list = []
        acc = fold(acc, buf[:cut], done)
        buf = buf[cut:]
        state.update(
            (*acc, hi, [b[0] for b in buf], [b[1] for b in buf], [b[2] for b in buf])
        )
        spec: list = []
        yield emit(key, fold(acc, buf, spec), done, spec)

    return _apply_with_state(
        records, keys, fn, out_schema, f"{state_schema}, {_REORDER_STATE_SCHEMA}"
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
    reorder_ms: int = 0,
) -> DataFrame:
    """Streaming twin of t20's Holt-Winters fold: (level, trend) carried
    as per-series state across micro-batches, one summary row emitted per
    (series, batch). The recurrence is written with EXACTLY the operand
    order of the batch fold and the recursive-CTE oracle — Python floats
    are the same IEEE doubles, so all three forms agree bit-for-bit.
    Unlike the prefix-moment operator (t17s) this state is a float pair,
    so its exactness argument is op-order identity, not integer
    arithmetic — which is why the fold runs through ``_reorder_fold``:
    samples up to ``reorder_ms`` late still fold in (ms, event_id) order,
    and a later one raises. n_samples grows monotonically, so the max-n
    row per series is authoritative on drain."""

    def fold(acc, rows, _out):
        n, level, trend = acc
        for _ms, _eid, x in rows:
            if n == 0:
                level, trend = x, 0.0
            else:
                s = sf * x + (1.0 - sf) * (level + trend)
                trend = tf * (s - level) + (1.0 - tf) * trend
                level = s
            n += 1
        return n, level, trend

    def emit(key, acc, _done, _spec):
        event_type, user_id = key
        n, level, trend = acc
        return pd.DataFrame(
            [(event_type, user_id, n, level, trend, level + trend)],
            columns=HW_SCHEMA.fieldNames(),
        )

    return _reorder_fold(
        records, ["event_type", "user_id"], (0, 0.0, 0.0), fold, emit,
        HW_SCHEMA, _HW_STATE_SCHEMA, reorder_ms,
    )


RATE_SCHEMA = StructType(
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

# trailing-window buffer: parallel arrays of increase timestamps/values
# (integer cents — exact, see streaming_rate), plus the previous sample's
# cents for the next delta and the count of samples folded
_RATE_STATE_SCHEMA = (
    "last_v100 long, inc_ms array<long>, inc_v array<long>, n long"
)


def streaming_rate(
    records: DataFrame,
    window_ms: int = 300_000,
    reorder_ms: int = 0,
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
    construction.

    Emission protocol (``_reorder_fold``): a sample's row is emitted
    ``committed`` once it falls below the reorder horizon, and
    speculatively, with ``committed`` false, each batch while it is still
    buffered. Every row carries ``seen``, the samples seen for its series
    so far; the drain keeps the argmax(``seen``) row per event_id. A
    commit only happens when a new arrival advances the horizon, so a
    committed row's ``seen`` exceeds every earlier row's for its sample,
    and the last speculative rows fold the whole buffer in sorted order."""

    def fold(acc, rows, out):
        last_v100, inc_ms, inc_v, n = acc
        # copies: the speculative fold must leave the committed frame alone
        inc_ms, inc_v = list(inc_ms), list(inc_v)
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
            if inc_v:
                # identical operand order as t14 batch / the oracle:
                # cast exact cents sum to double, /100.0, /300.0, then
                # tie-free floor truncation at 6 decimals
                q = float(sum(inc_v)) / 100.0 / (window_ms / 1000.0)
                rate = math.floor(q * 1e6) / 1e6
            else:
                rate = None
            out.append((eid, rate, len(inc_v)))
            n += 1
        return last_v100, inc_ms, inc_v, n

    def emit(key, acc, done, spec):
        event_type, user_id = key
        seen = acc[3]
        return pd.DataFrame(
            [(eid, event_type, user_id, r, k, seen, True) for eid, r, k in done]
            + [(eid, event_type, user_id, r, k, seen, False) for eid, r, k in spec],
            columns=RATE_SCHEMA.fieldNames(),
        )

    return _reorder_fold(
        records, ["event_type", "user_id"], (None, [], [], 0), fold, emit,
        RATE_SCHEMA, _RATE_STATE_SCHEMA, reorder_ms,
    )


_IF_STATE_SCHEMA = "t_prev long, v_prev double, next_g long"


def interp_fill(records: DataFrame, step_ms: int) -> DataFrame:
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
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (name,) = key
        if state.exists:
            t_prev, v_prev, next_g = state.get
        else:
            t_prev, v_prev, next_g = None, None, None
        # NULLs (staleness markers) dropped BEFORE the dedup — pandas
        # sorts NaN last, so a keep-last dedup would otherwise shadow the
        # real max with a NaN. (time, value) order + keep-last = max-wins
        # per timestamp over the whole batch, collapsed before the loop so
        # an exact-hit grid point at a duplicated ts emits the max (the
        # oracle's max(value)), not whichever duplicate came first.
        pdf = _ordered(pdfs, ["time", "value"])
        pdf = pdf[pdf["value"].notna()].drop_duplicates(subset=["time"], keep="last")
        rows: list[dict[str, Any]] = []
        for t, v in zip(pdf["time"].tolist(), pdf["value"].tolist()):
            t, v = int(t), float(v)
            if t_prev is None:
                next_g = -(-t // step_ms) * step_ms  # ceil to grid
                if next_g == t:
                    rows.append(
                        {"name": name, "time": t, "value": math.floor(v * 1e6) / 1e6}
                    )
                    next_g += step_ms
            else:
                while next_g <= t:
                    # exact hit short-circuits to v: the oracle's
                    # bracketing makes the sample the LEFT endpoint (ratio
                    # exactly 0 → v), while this op's ratio would be 1 and
                    # v_prev + (v - v_prev) is NOT guaranteed to round back
                    # to v in IEEE.
                    if next_g == t:
                        x = v
                    else:
                        x = v_prev + (v - v_prev) * (next_g - t_prev) / (t - t_prev)
                    rows.append(
                        {"name": name, "time": next_g, "value": math.floor(x * 1e6) / 1e6}
                    )
                    next_g += step_ms
            t_prev, v_prev = t, v
        state.update((t_prev, v_prev, next_g))
        yield pd.DataFrame(rows, columns=[f.name for f in GAPFILL_SCHEMA.fields])

    return _apply_with_state(records, ["name"], fn, GAPFILL_SCHEMA, _IF_STATE_SCHEMA)


COHORT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("is_cohort", IntegerType()),
        StructField("wk", LongType()),
    ]
)

_COHORT_STATE_SCHEMA = "cw long, weeks array<long>"


def _make_cohort_fn():
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
        yield pd.DataFrame(rows, columns=[f.name for f in COHORT_SCHEMA.fields])

    return fn


def cohort_pairs(records: DataFrame) -> DataFrame:
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
    return _apply_with_state(
        records, ["user_id"], _make_cohort_fn(), COHORT_SCHEMA, _COHORT_STATE_SCHEMA
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
        pdf = _ordered(pdfs, ["time", "side"])
        rows: list[dict[str, Any]] = []
        for t, side in zip(pdf["time"].tolist(), pdf["side"].tolist()):
            t = int(t)
            if side == 0:
                pending.append(t)
                rows.append({"user_id": user_id, "view_ms": t, "conv": 0, "resolved": 0})
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
        yield pd.DataFrame(rows, columns=[f.name for f in FUNNEL_SCHEMA.fields])

    return _apply_with_state(
        records, ["user_id"], fn, FUNNEL_SCHEMA, _FUNNEL_STATE_SCHEMA
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


def _make_trailing_buffer_fn(window_ms: int):
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
        pdf = _ordered(pdfs, ["time", "event_id"])
        for t, v in zip(pdf["time"].tolist(), pdf["value"].tolist()):
            t = int(t)
            v = None if pd.isna(v) else float(v)
            if hi is not None and t < hi - window_ms:
                continue  # below the retention horizon: unreachable
            ms.append(t)
            vs.append(v)
            if hi is None or t > hi:
                hi = t
                lo = hi - window_ms
                # Eviction is a MEMORY bound, not a correctness gate (the
                # drain re-filters to the true global window), so an O(1)
                # head check per advance is enough — stale out-of-order
                # stragglers behind a fresh head get swept the next time
                # the head itself goes stale.
                if ms[0] < lo:
                    kept = [(m, x) for m, x in zip(ms, vs) if m >= lo]
                    ms = [m for m, _ in kept]
                    vs = [x for _, x in kept]
        seq += 1
        state.update((ms, vs, seq))
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
    return _apply_with_state(
        records,
        ["event_type", "user_id"],
        _make_trailing_buffer_fn(window_ms),
        T25_BUFFER_SCHEMA,
        _T25_STATE_SCHEMA,
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


def _make_downsample_fn(window_ms: int, bucket_ms: int):
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

        pdf = _ordered(pdfs, ["time", "event_id"])
        for t, v in zip(pdf["time"].tolist(), pdf["value"].tolist()):
            t = int(t)
            v = None if pd.isna(v) else float(v)
            if hi is not None and t < hi - window_ms:
                # Below the retention horizon on arrival: provably in the
                # drain's OLD branch (t < hi-W <= g-W) — fold straight
                # into the rollup, never buffered.
                fold(t, v)
                continue
            ms.append(t)
            vs.append(v)
            if hi is None or t > hi:
                hi = t
                lo = hi - window_ms
                # Lazy head-check eviction (t25s) — but evicted samples
                # are FOLDED, not dropped: ms < hi-W <= g-W puts them in
                # the drain's old branch with certainty.
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
    return _apply_with_state(
        records,
        ["event_type", "user_id"],
        _make_downsample_fn(window_ms, bucket_ms),
        T22_DOWNSAMPLE_SCHEMA,
        _T22_STATE_SCHEMA,
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


def dod_sizing(records: DataFrame) -> DataFrame:
    """Streaming delta-of-delta bit accounting (t30's per-series fold as
    an O(1) stateful op): state = five integers per series (sample rank,
    last timestamp, last time-delta, last value, last value-delta); each
    micro-batch emits ONE (series, n, bits) increment computed from the
    carried boundary, so a post-drain sum equals the batch total for ANY
    chop of the stream into in-order batches. Bit costs use Python
    ``int.bit_length`` with a floor of 1 — identical to the engines'
    ``length(bin(z))`` string length including z=0 ('0', length 1).

    The in-order assumption is ENFORCED, not assumed: state carries the
    max (ms, event_id) consumed per series, and a batch whose minimum key
    precedes that boundary raises ``ValueError`` (``_ordered``'s guard).
    One micro-batch is one sorted sequence, however many Arrow chunks it
    spans; the in-order contract applies BETWEEN micro-batches only."""

    return _apply_with_state(
        records, ["event_type"], _make_dod_fn(), DOD_SCHEMA, _DOD_STATE_SCHEMA
    )


def _dod_bits(x: int) -> int:
    z = 2 * x if x >= 0 else -2 * x - 1
    return max(z.bit_length(), 1) + 1


def _make_dod_fn():
    _bits = _dod_bits

    def fn(
        key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        rn, last_ms, last_dt, last_v, last_dv, last_eid = (
            state.get if state.exists else (0, 0, 0, 0, 0, -1)
        )
        n = bits = 0
        pdf = _ordered(
            pdfs,
            ["ms", "event_id"],
            (last_ms, last_eid) if rn > 0 else None,
            f"dod_sizing series {etype!r}",
        )
        for ms, eid, v in zip(
            pdf["ms"].tolist(), pdf["event_id"].tolist(), pdf["v100"].tolist()
        ):
            ms, eid, v = int(ms), int(eid), int(v)
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


def _make_knn_topk_fn(k: int):
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


def knn_topk_buffer(scored: DataFrame, k: int = L4KS_K) -> DataFrame:
    """Streaming top-k nearest-neighbor tracking per standing query
    (VERDICT r8 task #5 — l4s's bounded-state multi-k upgrade): input is
    the scored (qid, nn_id, cos_sim) stream (stream-static broadcast
    join, norms below the join — batch l4's exact topology), state is
    each query's current top-k sorted struct list — O(|Q|·k) total,
    independent of corpus size — and every micro-batch emits the
    current top-k under an incrementing seq; the max-seq emission is
    authoritative (the t25s protocol), giving exactly batch
    l4_knn_join's rows."""
    return _apply_with_state(
        scored,
        ["qid"],
        _make_knn_topk_fn(k),
        L4KS_TOPK_SCHEMA,
        _L4KS_STATE_SCHEMA,
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


def _make_kmv_topk_fn(k: int, bits: int):
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
    return _apply_with_state(
        hashed,
        ["event_type"],
        _make_kmv_topk_fn(kk, KMV_BITS),
        A3CP_SCHEMA,
        _A3CP_STATE_SCHEMA,
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


def _make_pattern_fn(within_ms: int):
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
        pdf = _ordered(
            pdfs,
            ["ms", "event_id"],
            (last_ms, last_eid) if cnt > 0 else None,
            f"event_pattern_stream user {user_id!r}",
        )
        for et, ms, eid in zip(
            pdf["event_type"].tolist(), pdf["ms"].tolist(), pdf["event_id"].tolist()
        ):
            ms, eid = int(ms), int(eid)
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
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "ms": pd.Series(out_ms, dtype="int64"),
                "span": pd.Series(out_span, dtype="int64"),
            },
            columns=[f.name for f in W6S_MATCH_SCHEMA.fields],
        )

    return fn


def event_pattern_stream(records: DataFrame, within_ms: int) -> DataFrame:
    """w6's MATCH_RECOGNIZE-lite pattern as a STREAMING CEP operator:
    matches emit as their closing row arrives (the alerting shape —
    Flink's CEP bread-and-butter, here as ``applyInPandasWithState``),
    state = the trailing 2 rows per user (O(1), independent of history
    length), in-order arrival ENFORCED by ``_ordered``'s guard.
    Input columns: user_id, event_type, ms, event_id."""
    return _apply_with_state(
        records,
        ["user_id"],
        _make_pattern_fn(within_ms),
        W6S_MATCH_SCHEMA,
        _W6S_STATE_SCHEMA,
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


def _make_quantified_pattern_fn(within_ms: int):
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
        pdf = _ordered(
            pdfs,
            ["ms", "event_id"],
            (last_ms, last_eid) if last_eid >= 0 else None,
            f"quantified_pattern_stream user {user_id!r}",
        )
        for et, ms, eid in zip(
            pdf["event_type"].tolist(), pdf["ms"].tolist(), pdf["event_id"].tolist()
        ):
            ms, eid = int(ms), int(eid)
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


def quantified_pattern_stream(records: DataFrame, within_ms: int) -> DataFrame:
    """w7's quantified pattern as a STREAMING CEP operator (w6s's sibling
    for one-or-more quantifiers): matches emit as their closing purchase
    arrives; state = the open view-run + previous event type per user —
    O(1) regardless of run length. Input: user_id, event_type, ms,
    event_id; in-order arrival enforced by ``_ordered``'s guard."""
    return _apply_with_state(
        records,
        ["user_id"],
        _make_quantified_pattern_fn(within_ms),
        W7S_MATCH_SCHEMA,
        _W7S_STATE_SCHEMA,
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
    records: DataFrame,
    reorder_ms: int = 0,
) -> DataFrame:
    """Streaming twin of t37's trapezoidal time-weighted average: per
    series the state is FIVE integers — (n, last_ms, last_v100, span_ms,
    num) where num = Σ (v100ᵢ₋₁+v100ᵢ)·Δt — plus ``_reorder_fold``'s
    buffer (the t20s class, but integer-exact like t17s: every update is
    integer adds/multiplies, so chop cannot move a bit, and a sample up
    to ``reorder_ms`` late still folds in (ms, event_id) order). Each
    micro-batch emits one summary row per touched series; n grows
    monotonically, so the max-n row per series is the authoritative drain
    row (t20s's emission protocol). The num→twa conversion happens
    OUTSIDE the stream, in the drain's Spark expressions, with t37's
    identical divide-once + floor-truncate chain. NaN staleness markers
    skip identically to the batch filter. Python ints are unbounded but
    state stores int64: at 100 TB num splits into decimal partials
    exactly as t31s does (docstring note; per-series num is ~1e11 at the
    64× probe, 7 orders inside int64)."""

    def fold(acc, rows, _out):
        n, last_ms, last_v100, span_ms, num = acc
        for ms, _eid, v in rows:
            v100 = int(_round_half_up(v * 100, 0))
            if n > 0:
                dt = ms - last_ms
                num += (last_v100 + v100) * dt
                span_ms += dt
            n += 1
            last_ms, last_v100 = ms, v100
        return n, last_ms, last_v100, span_ms, num

    def emit(key, acc, _done, _spec):
        event_type, user_id = key
        n, _last_ms, _last_v100, span_ms, num = acc
        return pd.DataFrame(
            [(event_type, user_id, n, span_ms, num)], columns=TWA_SCHEMA.fieldNames()
        )

    return _reorder_fold(
        records, ["event_type", "user_id"], (0, 0, 0, 0, 0), fold, emit,
        TWA_SCHEMA, _TWA_STATE_SCHEMA, reorder_ms,
    )


ALERT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("island_seq", LongType()),
        StructField("island_start", LongType()),
        StructField("island_end", LongType()),
        StructField("n_samples", LongType()),
        StructField("version", LongType()),
    ]
)

_ALERT_STATE_SCHEMA = "open_s long, open_e long, open_n long, seq long, n long"


def alert_for_duration(
    records: DataFrame,
    thr: float,
    reorder_ms: int = 0,
) -> DataFrame:
    """Streaming twin of t39's alert `for:` state machine: per alert key
    the state is the ONE open island (start, end, n), a monotone island
    SEQUENCE number and the samples seen, plus ``_reorder_fold``'s
    buffer. A breaching sample opens/extends the island (opening
    increments the sequence); a non-breaching sample CLOSES it. The
    sequence — not island_start — is the identity: two distinct islands
    of the same type can START at the same truncated millisecond (the
    partition key is event_type alone, so a close + reopen can land on
    one ms). All state and emissions are integers; NaN staleness markers
    skip identically to the batch filter.

    Late data is where alerting has operational consequences: a late
    breach can open an island that should page, a late non-breach can
    SPLIT one. Samples up to ``reorder_ms`` late still fold in
    (ms, event_id) order, and a later one raises. EMISSION PROTOCOL: a
    committed closure is emitted once, final; each batch re-emits the
    whole speculative fold (closures over the buffer and the open
    island), and every row carries ``version`` = samples seen for the
    key, strictly larger at each batch that adds one. The drain keeps the
    max-version row per (key, island_seq) — max-n would resurrect a
    split island's stale row, whose n SHRINKS at the same seq. Islands
    never merge (samples are only added, and a separating non-breach
    persists), so no once-used seq is abandoned: every stale row has a
    fresh same-seq successor or is a committed closure."""

    def fold(acc, rows, out):
        open_s, open_e, open_n, seq, n = acc
        for ms, _eid, v in rows:
            if v > thr:
                if open_n == 0:
                    seq += 1
                    open_s, open_e, open_n = ms, ms, 1
                else:
                    open_e, open_n = ms, open_n + 1
            elif open_n > 0:
                out.append((seq, open_s, open_e, open_n))  # closed: final
                open_s, open_e, open_n = 0, 0, 0
            n += 1
        return open_s, open_e, open_n, seq, n

    def emit(key, acc, done, spec):
        open_s, open_e, open_n, seq, n = acc
        islands = done + spec
        if open_n > 0:
            islands.append((seq, open_s, open_e, open_n))  # provisional
        return pd.DataFrame(
            [(key[0], *isl, n) for isl in islands], columns=ALERT_SCHEMA.fieldNames()
        ).astype({f: "int64" for f in ALERT_SCHEMA.fieldNames()[1:]})

    return _reorder_fold(
        records, ["event_type"], (0, 0, 0, 0, 0), fold, emit,
        ALERT_SCHEMA, _ALERT_STATE_SCHEMA, reorder_ms,
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
    records: DataFrame,
    hl_ms: int,
    reorder_ms: int = 0,
) -> DataFrame:
    """Streaming twin of t41's half-life EWMA: per series the state is
    (n, last_ms, level) — the exact (level, last_ms) chunk-handoff the
    batch docstring prescribes — plus ``_reorder_fold``'s buffer. Every
    update is level' = v + (level − v)·(1 / float(1 << g)) with
    g = min(Δt // hl, 62) — Python ints and IEEE doubles applying the
    IDENTICAL operand order as the batch ``aggregate`` fold and the
    recursive-CTE oracle (the t20s op-order-identity argument; the
    dyadic decay is exact, so even the multiply inputs are bit-equal).
    Samples up to ``reorder_ms`` late still fold in (ms, event_id) order,
    so Δt is never negative; a later one raises. One summary row per
    touched series per batch; max-n drain row is authoritative (t20s
    protocol); the floor-truncation happens in the drain's Spark
    expression, not here."""

    def fold(acc, rows, _out):
        n, m, l = acc  # noqa: E741
        for ms, _eid, x in rows:
            if n == 0:
                l = x  # noqa: E741
            else:
                g = min((ms - m) // hl_ms, 62)
                l = x + (l - x) * (1.0 / float(1 << g))  # noqa: E741
            m, n = ms, n + 1
        return n, m, l

    def emit(key, acc, _done, _spec):
        event_type, user_id = key
        n, _m, l = acc  # noqa: E741
        return pd.DataFrame(
            [(event_type, user_id, n, l)], columns=EWMA_SCHEMA.fieldNames()
        )

    return _reorder_fold(
        records, ["event_type", "user_id"], (0, 0, 0.0), fold, emit,
        EWMA_SCHEMA, _EWMA_STATE_SCHEMA, reorder_ms,
    )
