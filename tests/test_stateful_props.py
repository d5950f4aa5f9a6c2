"""Property-based checks (SURVEY.md §5.4) for the stateful-family batch
twins: counter_increase_batch and gap_fill_batch vs naive pure-Python
references over random series."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings

# Hypothesis property batteries (many Spark jobs per test, ~1 min total):
# slow lane; deterministic example-based coverage of the same operators
# stays in the fast lane via test_streaming.py / test_operators.py.
pytestmark = pytest.mark.slow
from hypothesis import strategies as st

from prometheus_remote_kinesis_spark.streaming.stateful import (
    counter_increase_batch,
    gap_fill_batch,
)

# Unique, sorted sample times with bounded float values (no NaN/inf —
# NaN→NULL happens upstream in ingest; these operators see clean records).
series_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda tv: tv[0],
)


def _mk_df(spark, series):
    return spark.createDataFrame(
        [("s", int(t), float(v)) for t, v in sorted(series)],
        "name string, time long, value double",
    )


@given(series=series_st)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_counter_increase_matches_naive(spark, series):
    series = sorted(series)
    out = {
        r["time"]: (r["increase"], r["resets"])
        for r in counter_increase_batch(_mk_df(spark, series)).collect()
    }
    prev, resets = None, 0
    for t, v in series:
        if prev is None:
            exp_inc = None
        elif v >= prev:
            exp_inc = v - prev
        else:
            exp_inc = v
            resets += 1
        got_inc, got_resets = out[t]
        assert got_resets == resets
        if exp_inc is None:
            assert got_inc is None
        else:
            assert abs(got_inc - exp_inc) < 1e-9
        prev = v


asof_left_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key — few keys → dense ties
        st.integers(min_value=0, max_value=50),  # ts — small domain → equal-ts cases
    ),
    min_size=1,
    max_size=15,
)
asof_right_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=-1000, max_value=1000),  # payload
    ),
    min_size=0,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),  # unique (key, ts) — the helper's contract
)


@given(left=asof_left_st, right=asof_right_st)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_naive(spark, left, right):
    """The generic union+window as-of join (operators/joins.py::asof_join,
    j6's core) vs the obvious quadratic reference: for each left row the
    payload of the latest right row at-or-before its ts within the key —
    including equal-ts (right wins), no-predecessor (NULL), duplicate left
    rows, and keys present on only one side."""
    from prometheus_remote_kinesis_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, ts long, rowid long"
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for k, t, v in right], "k long, rts long, payload long"
    )
    got = {
        r["rowid"]: r["payload"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts", payload=["payload"]
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, v) for rk, rt, v in right if rk == k and rt <= t]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, (i, k, t, got[i], expected)


def test_session_window_boundary_semantics(spark):
    """Spark ``session_window`` merges an event at gap == EXACTLY the gap
    duration into the previous session (inclusive); a new session needs a
    STRICTLY greater gap. Pinned because t7's oracle encoded `>=`-splits
    through round 3 — a latent hash divergence the driver data never
    exposed (ms-resolution timestamps, no exact-gap ties)."""
    import datetime

    from prometheus_remote_kinesis_spark.operators.time_windows import user_sessions

    base = datetime.datetime(2024, 1, 1)
    m = datetime.timedelta(minutes=1)
    df = spark.createDataFrame(
        [
            (1, base, 1.0),
            (1, base + 30 * m, 2.0),  # exact 30-min gap → merges
            (1, base + 60 * m + datetime.timedelta(seconds=1), 3.0),  # > gap → splits
        ],
        "user_id long, ts timestamp, value double",
    )
    out = sorted(
        (r["session_start"], r["n_events"]) for r in user_sessions(df).collect()
    )
    assert out == [(base, 2), (base + 60 * m + datetime.timedelta(seconds=1), 1)]


session_events_st = st.lists(
    st.integers(min_value=0, max_value=200),  # minutes — small domain forces
    min_size=1,                               # exact-gap ties and dense merges
    max_size=14,
    unique=True,
)


@given(minutes=session_events_st)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_session_window_matches_naive(spark, minutes):
    """Spark session_window vs the naive gap-merge reference (new session
    iff gap > 30 minutes, end = last event + 30 m) over random minute
    grids — including exact-30-minute gaps, the boundary class above."""
    import datetime

    from prometheus_remote_kinesis_spark.operators.time_windows import user_sessions

    base = datetime.datetime(2024, 1, 1)
    one_m = datetime.timedelta(minutes=1)
    df = spark.createDataFrame(
        [(1, base + t * one_m, float(t)) for t in minutes],
        "user_id long, ts timestamp, value double",
    )
    got = sorted(
        (r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in user_sessions(df).collect()
    )
    expected = []
    cur: list[int] = []
    for t in sorted(minutes):
        if cur and t - cur[-1] > 30:
            expected.append(cur)
            cur = []
        cur.append(t)
    expected.append(cur)
    expected = sorted(
        (
            base + s[0] * one_m,
            base + (s[-1] + 30) * one_m,
            len(s),
            round(float(sum(s)), 2),
        )
        for s in expected
    )
    assert got == expected


@given(series=series_st, interval=st.sampled_from([7, 100, 999]))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_gap_fill_matches_naive(spark, series, interval):
    series = sorted(series)
    out = {
        r["time"]: r["value"]
        for r in gap_fill_batch(_mk_df(spark, series), interval).collect()
    }
    lo, hi = series[0][0], series[-1][0]
    expected = {}
    g = lo
    while g < hi:
        # LOCF: value of the latest sample at-or-before g
        expected[g] = next(v for t, v in reversed(series) if t <= g)
        g += interval
    assert set(out) == set(expected)
    for g, v in expected.items():
        assert abs(out[g] - v) < 1e-9


def test_asof_join_mixed_types_widen_not_truncate(spark):
    """r4-ADVICE: the helper used to cast left_ts to right_ts's type — a
    silent NARROWING when the right key is coarser (timestamp→date). Now
    both sides widen to the common supertype. The test pins the widening
    with a case where narrowing gives the WRONG answer: right carries one
    date-day D and one timestamp-ish later day; a left row at D 23:00
    must match day D (both semantics agree), while a left row at D-1
    23:00 (no right row at-or-before) must be NULL — under truncation of
    right-to-left instead (the reversed bug) it would differ. Also pins
    int/long widening and the incompatible-type TypeError."""
    import datetime

    from pyspark.sql import functions as F  # noqa: F401
    from prometheus_remote_kinesis_spark.operators.joins import asof_join

    D = datetime.date(2024, 3, 2)
    ldf = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 3, 2, 23, 0), 10),
            (1, datetime.datetime(2024, 3, 1, 23, 0), 11),
            (1, datetime.datetime(2024, 3, 2, 0, 0), 12),  # equal-ts: right wins
        ],
        "k long, ts timestamp, rowid long",
    )
    rdf = spark.createDataFrame([(1, D, 77)], "k long, rts date, payload long")
    got = {
        r["rowid"]: r["payload"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts", payload=["payload"]
        ).collect()
    }
    assert got == {10: 77, 11: None, 12: 77}, got

    # numeric ladder: int left vs long right widens to long, values intact
    ldf2 = spark.createDataFrame([(1, 5, 0)], "k long, ts int, rowid long")
    rdf2 = spark.createDataFrame(
        [(1, 5, 1), (1, 6, 2)], "k long, rts long, payload long"
    )
    got2 = asof_join(
        ldf2, rdf2, on="k", left_ts="ts", right_ts="rts", payload=["payload"]
    ).collect()
    assert got2[0]["payload"] == 1

    # outside both ladders → explicit error, not a silent cast
    ldf3 = spark.createDataFrame([(1, "a", 0)], "k long, ts string, rowid long")
    import pytest as _pytest

    with _pytest.raises(TypeError, match="common wider type"):
        asof_join(ldf3, rdf2, on="k", left_ts="ts", right_ts="rts", payload=["payload"])


@given(
    st.lists(
        st.integers(min_value=0, max_value=8).flatmap(
            lambda k: st.sampled_from(
                # exactly ON a 5-minute edge, 1 ms before, 1 ms after
                [k * 300_000, k * 300_000 - 1, k * 300_000 + 1]
            )
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_tumbling_window_boundary_semantics(spark, offsets_ms):
    """Spark ``window(ts, '5 minutes')`` is start-INCLUSIVE / end-
    EXCLUSIVE: an event at exactly hh:m5:00.000 belongs to the window
    STARTING there, never the one ending there. t7's `>=`-vs-`>` latent
    oracle bug (fixed r4) showed boundary semantics are where drift
    hides; this pins t5's tumbling assignment against a naive floor-
    bucket reference on adversarial edge/edge±1ms timestamps (the driver
    data never lands on an exact edge, so only a property test sees
    this)."""
    import datetime

    from prometheus_remote_kinesis_spark.operators.time_windows import (
        tumbling_rollup_5min,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(milliseconds=max(0, ms)), "m", 1.0)
        for ms in offsets_ms
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    got = {
        (r["window_start"], r["window_end"]): r["n"]
        for r in tumbling_rollup_5min(df).collect()
    }
    expected: dict = {}
    for ts, _, _ in rows:
        ems = int((ts - base).total_seconds() * 1000)
        start = ems // 300_000 * 300_000  # floor bucket == [start, end)
        key = (
            base + datetime.timedelta(milliseconds=start),
            base + datetime.timedelta(milliseconds=start + 300_000),
        )
        expected[key] = expected.get(key, 0) + 1
    assert got == expected


@given(
    st.lists(
        st.integers(min_value=0, max_value=6).flatmap(
            lambda k: st.sampled_from(
                [k * 300_000, k * 300_000 - 1, k * 300_000 + 1]
            )
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_sliding_window_boundary_semantics(spark, offsets_ms):
    """t6's sliding window (10 m / 5 m slide): every event belongs to
    EXACTLY the two windows whose half-open [start, start+10m) span
    contains it — an edge event enters the window starting at its own
    timestamp and the one starting 5 m earlier, never the one ending at
    its timestamp."""
    import datetime

    from prometheus_remote_kinesis_spark.operators.time_windows import (
        sliding_rollup_10min,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(milliseconds=max(0, ms)), 1.0)
        for ms in offsets_ms
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {
        (r["window_start"], r["window_end"]): r["n"]
        for r in sliding_rollup_10min(df).collect()
    }
    expected: dict = {}
    for ts, _ in rows:
        ems = int((ts - base).total_seconds() * 1000)
        bucket = ems // 300_000 * 300_000
        for start in (bucket, bucket - 300_000):  # the two covering slides
            key = (
                base + datetime.timedelta(milliseconds=start),
                base + datetime.timedelta(milliseconds=start + 600_000),
            )
            expected[key] = expected.get(key, 0) + 1
    assert got == expected


def test_asof_join_int_float_pair_raises(spark):
    """r5 code-review: the numeric 'widening' ladder must not rank float
    above long — long→double is value-lossy past 2^53 (int→float past
    2^24) and can flip an as-of boundary match. Integer-vs-float key
    pairs raise instead of silently casting."""
    import pytest as _pytest

    from prometheus_remote_kinesis_spark.operators.joins import asof_join

    ldf = spark.createDataFrame([(1, 16777216, 0)], "k long, ts int, rowid long")
    rdf = spark.createDataFrame([(1, 2.0, 1)], "k long, rts float, payload long")
    with _pytest.raises(TypeError, match="common wider type"):
        asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="rts", payload=["payload"])


class _FakeGroupState:
    """Minimal GroupState stand-in for driving stateful fns outside a
    streaming query: exists/get/update."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


cohort_events_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # user
        st.integers(min_value=0, max_value=10),  # week
        st.integers(min_value=0, max_value=1),   # is_signup
    ),
    min_size=1,
    max_size=20,
)


@given(
    events=cohort_events_st,
    n_chops=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_cohort_pairs_chop_invariance_property(events, n_chops, data):
    """The cohort_pairs state transition is chop-invariant: for ANY event
    sequence and ANY micro-batch partitioning, the assembled result
    (min over emitted cohort rows, the emitted week set) equals the naive
    whole-sequence computation, and week rows are emitted exactly once.
    Drives the pure fn with a fake GroupState — no Spark query needed, so
    hypothesis can afford 200 random chops."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import _make_cohort_fn

    # random chop points -> n_chops batches (possibly empty)
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(events)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches = []
    lo = 0
    for c in [*cuts, len(events)]:
        batches.append(events[lo:c])
        lo = c

    fn = _make_cohort_fn()
    states: dict[int, _FakeGroupState] = {}
    emitted = []
    for batch in batches:
        by_user: dict[int, list] = {}
        for u, wk, sg in batch:
            by_user.setdefault(u, []).append((wk, sg))
        for u, rows in by_user.items():
            pdf = pd.DataFrame(rows, columns=["wk", "is_signup"])
            state = states.setdefault(u, _FakeGroupState())
            for out in fn((u,), iter([pdf]), state):
                emitted.extend(out.to_dict("records"))

    # naive whole-sequence reference
    exp_cohort: dict[int, int] = {}
    exp_weeks: dict[int, set] = {}
    for u, wk, sg in events:
        if sg == 1:
            exp_cohort[u] = min(exp_cohort.get(u, wk), wk)
        exp_weeks.setdefault(u, set()).add(wk)

    week_rows = [(r["user_id"], r["wk"]) for r in emitted if r["is_cohort"] == 0]
    assert len(week_rows) == len(set(week_rows))  # exactly-once emission
    got_weeks: dict[int, set] = {}
    for u, wk in week_rows:
        got_weeks.setdefault(u, set()).add(wk)
    assert got_weeks == exp_weeks

    got_cohort: dict[int, int] = {}
    for r in emitted:
        if r["is_cohort"] == 1:
            u = r["user_id"]
            got_cohort[u] = min(got_cohort.get(u, r["wk"]), r["wk"])
    assert got_cohort == exp_cohort


trailing_events_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),          # time
        st.one_of(st.none(), st.floats(min_value=-5, max_value=5,
                                       allow_nan=False)),  # value (None = stale)
    ),
    min_size=1,
    max_size=24,
)


@given(
    events=trailing_events_st,
    n_chops=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_trailing_buffer_chop_invariance_property(events, n_chops, data):
    """trailing_day_buffer's state transition is chop-invariant where it
    matters: for ANY sample sequence (incl. out-of-order times and NULL
    staleness markers) and ANY micro-batch chopping, the authoritative
    (max-seq) emission — after the drain's own [G-W, G] re-filter — is
    EXACTLY the naive whole-sequence in-window multiset, NULLs preserved.
    (The raw buffer may lazily hold stale out-of-order stragglers; the
    drain filter is part of the operator contract, so the property is
    asserted post-filter.)"""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _make_trailing_buffer_fn,
    )

    W = 10  # small window so eviction actually triggers
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(events)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches = []
    lo = 0
    for c in [*cuts, len(events)]:
        batches.append(events[lo:c])
        lo = c

    fn = _make_trailing_buffer_fn(W)
    state = _FakeGroupState()
    emissions = []
    for i, batch in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "time": [t for t, _ in batch],
                "value": [v for _, v in batch],
                "event_id": list(range(len(batch))),
            }
        )
        for out in fn(("et", 1), iter([pdf]), state):
            emissions.append(out)

    final = emissions[-1]
    assert not final.empty and int(final["seq"].iloc[0]) == len(batches)
    k = lambda p: (p[0], p[1] is not None, 0.0 if p[1] is None else p[1])
    got = [
        (int(m), None if pd.isna(v) else round(float(v), 9))
        for m, v in zip(final["ms"], final["value"])
    ]
    g = max(t for t, _ in events)
    expected = sorted(
        (
            (t, None if v is None else round(float(v), 9))
            for t, v in events
            if t >= g - W
        ),
        key=k,
    )
    got_in_window = sorted(((m, v) for m, v in got if m >= g - W), key=k)
    assert got_in_window == expected
    # everything retained is a subset of the input multiset
    all_events = [
        (t, None if v is None else round(float(v), 9)) for t, v in events
    ]
    for item in got:
        all_events.remove(item)  # raises ValueError on any fabricated row


downsample_events_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),          # time
        st.one_of(
            st.none(),
            st.integers(min_value=-500, max_value=500).map(lambda c: c / 100),
        ),                                               # 2-decimal value
    ),
    min_size=1,
    max_size=24,
)


@given(
    events=downsample_events_st,
    n_chops=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_downsample_buffer_chop_invariance_property(events, n_chops, data):
    """downsample_buffer's state transition is chop-invariant AND
    conservation-exact: for ANY sample sequence (out-of-order times,
    NULL staleness markers) and ANY micro-batch chopping, the
    authoritative (max-seq) emission reconstructs the naive whole-input
    answer — the post-drain raw branch is EXACTLY the in-window multiset,
    and merging the sub-cutoff buffer residue into the rollup partials
    yields EXACTLY the per-bucket (n, nv, cents, min, max) of a direct
    batch pass. Conservation (each sample in exactly one of
    {buffer, rollup}) falls out of the equality on n."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _cents,
        _make_downsample_fn,
    )

    W, B = 10, 4  # small window/bucket so eviction + bucketing both bite
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(events)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches = []
    lo = 0
    for c in [*cuts, len(events)]:
        batches.append(events[lo:c])
        lo = c

    fn = _make_downsample_fn(W, B)
    state = _FakeGroupState()
    emissions = []
    for batch in batches:
        pdf = pd.DataFrame(
            {
                "time": [t for t, _ in batch],
                "value": [v for _, v in batch],
                "event_id": list(range(len(batch))),
            }
        )
        for out in fn(("et", 1), iter([pdf]), state):
            emissions.append(out)

    final = emissions[-1]
    assert int(final["seq"].iloc[0]) == len(batches)
    raw = final[final["kind"] == "raw"]
    agg = final[final["kind"] == "agg"]
    g = max(t for t, _ in events)
    assert int(raw["ms"].max()) == g  # the global max is always buffered

    # drain split: raw branch must be the exact in-window multiset
    key = lambda p: (p[0], p[1] is not None, 0.0 if p[1] is None else p[1])
    got_raw = [
        (int(m), None if pd.isna(v) else float(v))
        for m, v in zip(raw["ms"], raw["value"])
    ]
    expected_recent = sorted(
        ((t, v) for t, v in events if t > g - W), key=key
    )
    got_recent = sorted((p for p in got_raw if p[0] > g - W), key=key)
    assert got_recent == expected_recent

    # old branch: merge sub-cutoff residue into the partials, compare to
    # a naive batch rollup of every sample with t <= g - W
    merged: dict[int, list] = {}

    def fold(bucket, n, nv, cents, mn, mx):
        r = merged.setdefault(bucket, [0, 0, 0, None, None])
        r[0] += n
        r[1] += nv
        r[2] += cents
        if mn is not None:
            r[3] = mn if r[3] is None else min(r[3], mn)
        if mx is not None:
            r[4] = mx if r[4] is None else max(r[4], mx)

    for m, v in got_raw:
        if m <= g - W:
            if v is None:
                fold((m // B) * B, 1, 0, 0, None, None)
            else:
                fold((m // B) * B, 1, 1, _cents(v), v, v)
    for _, r in agg.iterrows():
        fold(
            int(r["ms"]),
            int(r["n"]),
            int(r["nv"]),
            int(r["cents"]),
            None if pd.isna(r["v_min"]) else float(r["v_min"]),
            None if pd.isna(r["v_max"]) else float(r["v_max"]),
        )

    expected: dict[int, list] = {}
    for t, v in events:
        if t <= g - W:
            b = (t // B) * B
            r = expected.setdefault(b, [0, 0, 0, None, None])
            r[0] += 1
            if v is not None:
                r[1] += 1
                r[2] += _cents(v)
                r[3] = v if r[3] is None else min(r[3], v)
                r[4] = v if r[4] is None else max(r[4], v)
    assert merged == expected


dod_samples_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),   # ms offset
        st.integers(min_value=-500, max_value=500),   # v100
    ),
    min_size=1,
    max_size=20,
)


@given(
    samples=dod_samples_st,
    n_chops=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_dod_sizing_chop_invariance_property(samples, n_chops, data):
    """t30s's state transition is chop-invariant for in-order arrival:
    sort the sample sequence once, chop it into ANY consecutive
    micro-batches, and the summed (n, bits) increments equal the naive
    whole-sequence delta-of-delta fold (128-bit header, first-order
    deltas for the second sample, zigzag(dod)+tag from the third)."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _dod_bits,
        _make_dod_fn,
    )

    ordered = sorted([(ms, i, v) for i, (ms, v) in enumerate(samples)])
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(ordered)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches, lo = [], 0
    for c in [*cuts, len(ordered)]:
        batches.append(ordered[lo:c])
        lo = c

    fn = _make_dod_fn()
    state = _FakeGroupState()
    tot_n = tot_bits = 0
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=["ms", "event_id", "v100"])
        for out in fn(("t",), iter([pdf]), state):
            tot_n += int(out["n"].sum())
            tot_bits += int(out["bits"].sum())

    exp_bits, last = 0, None
    for rn, (ms, _i, v) in enumerate(ordered, start=1):
        if rn == 1:
            exp_bits += 128
        elif rn == 2:
            dt, dv = ms - last[0], v - last[1]
            exp_bits += _dod_bits(dt) + _dod_bits(dv)
            last_d = (dt, dv)
        else:
            dt, dv = ms - last[0], v - last[1]
            exp_bits += _dod_bits(dt - last_d[0]) + _dod_bits(dv - last_d[1])
            last_d = (dt, dv)
        last = (ms, v)
    assert (tot_n, tot_bits) == (len(ordered), exp_bits)


@pytest.mark.parametrize(
    "factory", ["dod_sizing", "event_pattern_stream", "quantified_pattern_stream"]
)
def test_order_guard_rejects_misordered_source(factory):
    """The in-order kernels enforce their assumption at runtime: a batch
    whose minimum (ms, event_id) key precedes the consumed per-key
    boundary raises loudly instead of silently diverging from the shared
    batch oracle. In-order continuation (including an equal-ms row with a
    later event_id) still passes."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming import stateful

    fn, extra = {
        "dod_sizing": (stateful._make_dod_fn(), "v100"),
        "event_pattern_stream": (stateful._make_pattern_fn(10_000), "event_type"),
        "quantified_pattern_stream": (
            stateful._make_quantified_pattern_fn(10_000), "event_type"
        ),
    }[factory]

    def batch(ms, eids):
        vals = [10 * e for e in eids] if extra == "v100" else ["view"] * len(eids)
        return pd.DataFrame({"ms": ms, "event_id": eids, extra: vals})

    state = _FakeGroupState()
    list(fn(("t",), iter([batch([100, 200], [1, 2])]), state))
    list(fn(("t",), iter([batch([200, 300], [3, 4])]), state))
    with pytest.raises(ValueError, match="misordered source"):
        list(fn(("t",), iter([batch([150], [9])]), state))


knn_cands_st = st.lists(
    st.tuples(
        st.integers(min_value=100, max_value=10_000),  # nn_id
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


@given(
    cands=knn_cands_st,
    n_chops=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_knn_topk_chop_invariance_property(cands, n_chops, data):
    """l4ks's state transition is chop-invariant: chop the scored
    candidate stream into ANY consecutive micro-batches (including ones
    that interleave high/low similarities) and the max-seq (final)
    emission equals the whole-corpus exact top-3 under the l4 ordering
    (cos_sim DESC, nn_id ASC) — the top-k-of-union associativity the
    O(|Q|·k) state bound rests on. Similarities are pre-rounded to 6 dp
    exactly like the query, so ties (equal rounded sims) are exercised
    and must break by nn_id on every path."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _make_knn_topk_fn,
    )

    cands = [(nid, round(sim, 6)) for nid, sim in cands]
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(cands)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches, lo = [], 0
    for c in [*cuts, len(cands)]:
        batches.append(cands[lo:c])
        lo = c

    fn = _make_knn_topk_fn(3)
    state = _FakeGroupState()
    last = None
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=["nn_id", "cos_sim"])
        for out in fn((7,), iter([pdf]), state):
            last = out
    got = [
        (int(r["rn"]), int(r["nn_id"]), float(r["cos_sim"]))
        for _, r in last.iterrows()
    ]
    exp = sorted(cands, key=lambda t: (-t[1], t[0]))[:3]
    assert got == [(i + 1, nid, sim) for i, (nid, sim) in enumerate(exp)]
    # state bound: never more than k entries survive an update
    sims, ids, seq = state.get
    assert len(sims) <= 3 and len(ids) <= 3 and seq == len(batches)


pattern_events_st = st.lists(
    st.tuples(
        st.sampled_from(["view", "click", "purchase", "error"]),
        st.integers(min_value=0, max_value=100_000),  # ms
    ),
    min_size=1,
    max_size=25,
)


@given(
    events=pattern_events_st,
    n_chops=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_event_pattern_chop_invariance_property(events, n_chops, data):
    """w6s's CEP state transition is chop-invariant for in-order arrival:
    chop the per-user event sequence into ANY consecutive micro-batches
    (including chops that split a match across 2 or 3 batches — the
    carried 2-row tail must bridge them) and the emitted match rows
    equal the whole-sequence scan's. The WITHIN bound (here 10 000 ms
    against gaps up to 100 000) is exercised in both directions."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _make_pattern_fn,
    )

    within = 10_000
    ordered = sorted(
        [(ms, i, et) for i, (et, ms) in enumerate(events)]
    )
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(ordered)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches, lo = [], 0
    for c in [*cuts, len(ordered)]:
        batches.append(ordered[lo:c])
        lo = c

    fn = _make_pattern_fn(within)
    state = _FakeGroupState()
    got = []
    for batch in batches:
        pdf = pd.DataFrame(
            [(ms, eid, et) for ms, eid, et in batch],
            columns=["ms", "event_id", "event_type"],
        )
        for out in fn((9,), iter([pdf]), state):
            got.extend(
                (int(r["ms"]), int(r["span"])) for _, r in out.iterrows()
            )

    exp = []
    seq = [(et, ms) for ms, _i, et in ordered]
    for i in range(len(seq) - 2):
        if (
            seq[i][0] == "view"
            and seq[i + 1][0] == "click"
            and seq[i + 2][0] == "purchase"
            and seq[i + 2][1] - seq[i][1] <= within
        ):
            exp.append((seq[i][1], seq[i + 2][1] - seq[i][1]))
    assert got == exp


@given(
    events=pattern_events_st,
    n_chops=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_quantified_pattern_chop_invariance_property(events, n_chops, data):
    """w7s's V+ CEP transition is chop-invariant: chop the sequence
    anywhere (including inside a view-run — the carried open-run state
    must bridge) and the emitted (n_views, first_ms, span) matches equal
    the whole-sequence scan's under the same WITHIN bound."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _make_quantified_pattern_fn,
    )

    within = 10_000
    ordered = sorted([(ms, i, et) for i, (et, ms) in enumerate(events)])
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(ordered)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches, lo = [], 0
    for c in [*cuts, len(ordered)]:
        batches.append(ordered[lo:c])
        lo = c

    fn = _make_quantified_pattern_fn(within)
    state = _FakeGroupState()
    got = []
    for batch in batches:
        pdf = pd.DataFrame(
            [(ms, eid, et) for ms, eid, et in batch],
            columns=["ms", "event_id", "event_type"],
        )
        for out in fn((3,), iter([pdf]), state):
            got.extend(
                (int(r["n_views"]), int(r["first_ms"]), int(r["span"]))
                for _, r in out.iterrows()
            )

    exp = []
    run_n, run_first, prev = 0, 0, None
    for ms, _i, et in ordered:
        if et == "view":
            if run_n == 0:
                run_first = ms
            run_n += 1
        else:
            if (
                et == "purchase"
                and prev == "view"
                and run_n > 0
                and ms - run_first <= within
            ):
                exp.append((run_n, run_first, ms - run_first))
            run_n, run_first = 0, 0
        prev = et
    assert got == exp


class _CaptureFrame:
    """Stands in for the records DataFrame: a stateful operator built on
    it returns its per-key fn instead of a streaming plan, so the fn can
    be driven with ``_FakeGroupState`` outside Spark."""

    def groupBy(self, *keys):
        return self

    def applyInPandasWithState(self, fn, **_conf):
        return fn


def _reorder_kernels():
    """The five ``_reorder_fold`` recurrences: name → (build(records,
    **kw), its key, drain(rows) → the authoritative output)."""
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        alert_for_duration,
        ewma_halflife,
        holt_winters,
        streaming_rate,
        time_weighted_avg,
    )

    def summary(rows):  # max-n row per series (the t20s protocol)
        return max(rows, key=lambda r: r["n_samples"], default=None)

    def by_version(rows):  # max-version row per island_seq (t39s)
        best = {}
        for r in rows:
            q = r["island_seq"]
            if q not in best or r["version"] > best[q][3]:
                best[q] = (r["island_start"], r["island_end"], r["n_samples"], r["version"])
        return {q: (s, e, n) for q, (s, e, n, _v) in best.items()}

    def by_seen(rows):  # argmax(seen) row per event_id (t14s)
        best = {}
        for r in rows:
            if r["event_id"] not in best or r["seen"] > best[r["event_id"]]["seen"]:
                best[r["event_id"]] = r
        return {
            eid: (None if r["rate_per_sec"] != r["rate_per_sec"] else r["rate_per_sec"],
                  r["n_increases"])
            for eid, r in best.items()
        }

    series = ("m", 1)
    return {
        "holt_winters": (
            lambda recs, **kw: holt_winters(recs, **kw),
            series, summary,
        ),
        "streaming_rate": (
            lambda recs, **kw: streaming_rate(recs, **kw),
            series, by_seen,
        ),
        "time_weighted_avg": (
            lambda recs, **kw: time_weighted_avg(recs, **kw),
            series, summary,
        ),
        "alert_for_duration": (
            lambda recs, **kw: alert_for_duration(
                recs, thr=10.0, **kw
            ),
            ("m",), by_version,
        ),
        "ewma_halflife": (
            lambda recs, **kw: ewma_halflife(
                recs, hl_ms=100_000, **kw
            ),
            series, summary,
        ),
    }


REORDER_KERNELS = sorted(_reorder_kernels())


def _drive_reorder_kernel(kernel, batches, **kw):
    """Run one of the five kernels over ``batches`` (lists of (event_id,
    time, value) samples of the series 'm'/1, one micro-batch each) with a
    fake state store; returns the drained output."""
    import pandas as pd

    build, key, drain = _reorder_kernels()[kernel]
    fn = build(_CaptureFrame(), **kw)
    state = _FakeGroupState()
    rows = []
    for batch in batches:
        pdf = pd.DataFrame(
            [(eid, "m", 1, t, v) for eid, t, v in batch],
            columns=["event_id", "event_type", "user_id", "time", "value"],
        )
        for out in fn(key, iter([pdf]), state):
            rows.extend(out.to_dict("records"))
    return drain(rows)


@given(
    kernel=st.sampled_from(REORDER_KERNELS),
    samples=st.lists(
        st.tuples(
            # event ms and arrival delay on a 20 s grid: same-ms peers and
            # displacements of exactly reorder_ms come up often
            st.integers(min_value=0, max_value=50).map(lambda k: k * 20_000),
            st.integers(min_value=0, max_value=15).map(lambda k: k * 20_000),
            st.one_of(
                st.none(),
                st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
            ),
        ),
        min_size=1,
        max_size=16,
    ),
    n_chops=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
def test_reorder_fold_property(kernel, samples, n_chops, data):
    """``_reorder_fold`` for all five recurrences: samples arrive in
    (ms + random delay) order, chopped into 1-4 micro-batches. With
    ``reorder_ms`` = the largest displacement (how far a sample lands
    below the highest ms of EARLIER batches — the boundary case itself)
    the drained output equals, floats bit for bit, the ``reorder_ms=0``
    fold of the sorted stream; one ms less raises "reorder horizon".
    NULL values skip: they are absent from the sorted stream and never
    trip the guard, wherever they land."""
    arrival = [
        (i, t, v)
        for i, (t, _d, v) in sorted(
            enumerate(samples), key=lambda s: (s[1][0] + s[1][1], s[0])
        )
    ]
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(arrival)),
                min_size=n_chops - 1,
                max_size=n_chops - 1,
            )
        )
    )
    batches, lo = [], 0
    for c in [*cuts, len(arrival)]:
        batches.append(arrival[lo:c])
        lo = c
    disp, hi = 0, None
    for batch in batches:
        ms = [t for _i, t, v in batch if v is not None]
        if ms and hi is not None:
            disp = max(disp, hi - min(ms))
        if ms:
            hi = max([*ms, hi] if hi is not None else ms)

    in_order = sorted(
        [(t, i, v) for i, t, v in arrival if v is not None]
    )
    want = _drive_reorder_kernel(
        kernel, [[(i, t, v) for t, i, v in in_order]], reorder_ms=0
    )
    assert _drive_reorder_kernel(kernel, batches, reorder_ms=disp) == want
    if disp > 0:
        with pytest.raises(RuntimeError, match="reorder horizon"):
            _drive_reorder_kernel(kernel, batches, reorder_ms=disp - 1)


@pytest.mark.parametrize("kernel", REORDER_KERNELS)
def test_in_order_kernel_raises_on_late_sample(kernel):
    """At the default ``reorder_ms=0`` a sample below the highest ms of an
    earlier micro-batch raises instead of being clamped (ewma) or folded
    out of order (the others) without a trace; disorder INSIDE one
    micro-batch is sorted away, and a same-ms sample is still admitted."""
    first = [(0, 1_000, 5.0), (1, 400, 20.0)]
    _drive_reorder_kernel(kernel, [first, [(2, 1_000, 7.0)]])
    with pytest.raises(RuntimeError, match="reorder horizon"):
        _drive_reorder_kernel(kernel, [first, [(2, 999, 7.0)]])


def _ordered_kernels():
    """The ten kernels that read a key's micro-batch through
    ``stateful._ordered``: name → (build(records), its key). Each reads
    its own columns of the wide frame ``_drive_ordered_kernel`` builds."""
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        counter_increase,
        dod_sizing,
        downsample_buffer,
        event_pattern_stream,
        funnel_views,
        gap_fill,
        interp_fill,
        prefix_anomaly,
        quantified_pattern_stream,
        trailing_day_buffer,
    )

    return {
        "counter_increase": (counter_increase, ("m",)),
        "prefix_anomaly": (prefix_anomaly, ("m",)),
        "gap_fill": (lambda recs: gap_fill(recs, interval_ms=7), ("m",)),
        "interp_fill": (lambda recs: interp_fill(recs, step_ms=7), ("m",)),
        "funnel_views": (lambda recs: funnel_views(recs, convert_ms=20), (1,)),
        "trailing_day_buffer": (
            lambda recs: trailing_day_buffer(recs, window_ms=30), ("m", 1)
        ),
        "downsample_buffer": (
            lambda recs: downsample_buffer(recs, window_ms=30, bucket_ms=8), ("m", 1)
        ),
        "dod_sizing": (dod_sizing, ("m",)),
        "event_pattern_stream": (
            lambda recs: event_pattern_stream(recs, within_ms=30), (1,)
        ),
        "quantified_pattern_stream": (
            lambda recs: quantified_pattern_stream(recs, within_ms=30), (1,)
        ),
    }


ORDERED_KERNELS = sorted(_ordered_kernels())

# The wide sample frame every ordered kernel reads its columns from.
_WIDE_COLUMNS = [
    "name", "event_type", "user_id", "event_id", "time", "ms", "value", "v100", "side",
]


def _drive_ordered_kernel(kernel, chunks):
    """Feed one micro-batch of ``chunks`` (lists of (event_id, ms, value,
    event_type, side, v100) samples) to a kernel; returns its output frame
    and the fake state it left."""
    import pandas as pd

    build, key = _ordered_kernels()[kernel]
    fn = build(_CaptureFrame())
    state = _FakeGroupState()
    pdfs = [
        pd.DataFrame(
            [("m", et, 1, eid, ms, ms, v, v100, side) for eid, ms, v, et, side, v100 in c],
            columns=_WIDE_COLUMNS,
        ).astype({"value": "float64"})
        for c in chunks
    ]
    (out,) = fn(key, iter(pdfs), state)
    return out, state


@given(
    kernel=st.sampled_from(ORDERED_KERNELS),
    samples=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),  # ms: duplicates come up
            st.one_of(st.none(), st.floats(min_value=-100, max_value=100)),
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.integers(min_value=0, max_value=1),  # side: 0 view, 1 purchase
            st.integers(min_value=-50, max_value=50),  # v100
        ),
        min_size=1,
        max_size=20,
    ),
    n_chunks=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
def test_ordered_read_is_chunk_invariant(kernel, samples, n_chunks, data):
    """``applyInPandasWithState`` hands a key's micro-batch over as Arrow
    chunks in no order. For every kernel reading through ``_ordered``,
    the batch fed as 1-4 shuffled chunks (empty ones included) gives the
    same output frame and the same state as the batch fed as one sorted
    chunk. Kernels that order by time alone see unique times, so the
    sorted order is total."""
    import pandas as pd

    rows = [(eid, *s) for eid, s in enumerate(samples)]
    if kernel in ("counter_increase", "prefix_anomaly"):
        rows = list({r[1]: r for r in rows}.values())
    shuffled = data.draw(st.permutations(rows))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(shuffled)),
                min_size=n_chunks - 1,
                max_size=n_chunks - 1,
            )
        )
    )
    chunks, lo = [], 0
    for c in [*cuts, len(shuffled)]:
        chunks.append(shuffled[lo:c])
        lo = c

    want, want_state = _drive_ordered_kernel(
        kernel, [sorted(rows, key=lambda r: (r[1], r[0]))]
    )
    got, got_state = _drive_ordered_kernel(kernel, chunks)
    pd.testing.assert_frame_equal(got, want)
    assert got_state.get == want_state.get


def test_counter_increase_rejects_late_sample():
    """A later-batch sample older than the series' last sample raises,
    instead of folding a made-up increase and counter reset; a sample at
    the last sample's ms is still admitted."""
    import pandas as pd

    from prometheus_remote_kinesis_spark.streaming.stateful import counter_increase

    fn = counter_increase(_CaptureFrame())
    state = _FakeGroupState()

    def batch(times, values):
        return iter([pd.DataFrame({"name": "c", "time": times, "value": values})])

    list(fn(("c",), batch([1000, 2000], [10.0, 15.0]), state))
    list(fn(("c",), batch([2000, 3000], [15.0, 17.0]), state))
    with pytest.raises(ValueError, match="misordered source"):
        list(fn(("c",), batch([1500], [12.0]), state))
