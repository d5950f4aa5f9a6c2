"""Operator-level accuracy checks that aren't oracle pairs."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_approx_quantiles_rank_error(spark):
    """a4b: Greenwald-Khanna guarantees RANK error (≤ 1/accuracy), not
    value error — on a skewed tail the returned value can differ a lot
    while being rank-exact. Assert each approx quantile's actual rank
    fraction is within the sketch bound (plus one discrete step for the
    group size)."""
    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    q = all_queries()
    approx = {
        r.event_type: r for r in q["a4b_approx_quantiles"].fn(spark, SF_SMOKE).collect()
    }
    values: dict[str, list[float]] = {}
    for r in load_table(spark, SF_SMOKE, "events").select("event_type", "value").collect():
        values.setdefault(r.event_type, []).append(r.value)

    assert set(values) == set(approx)
    for t, vals in values.items():
        vals.sort()
        n = len(vals)
        for p, col in ((0.50, "p50"), (0.90, "p90"), (0.99, "p99")):
            a = float(approx[t][col])
            rank_frac = sum(1 for v in vals if v <= a) / n
            tol = 1.0 / 10000 + 1.5 / n  # sketch bound + discrete grid step
            assert abs(rank_frac - p) <= tol, (t, col, p, rank_frac, n)

def test_hll_union_matches_direct(spark):
    """a3b: union of per-day HLL partials must equal a direct sketch of
    the whole range (DataSketches merge is lossless at same lgConfigK),
    and the estimate must be within the lgConfigK=14 error bound
    (~0.8% rsd; allow 5 sigma) of the exact distinct count."""
    import pyspark.sql.functions as F

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    q = all_queries()
    merged = {
        r.event_type: r
        for r in q["a3b_hll_mergeable_rollup"].fn(spark, SF_SMOKE).collect()
    }
    events = load_table(spark, SF_SMOKE, "events")
    direct = {
        r.event_type: r.est
        for r in events.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("est")
        )
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(merged) == set(direct) == set(exact)
    for t in exact:
        assert merged[t].est_users == direct[t], (t, merged[t], direct[t])
        assert abs(merged[t].est_users - exact[t]) <= max(3.0, 0.04 * exact[t]), (
            t,
            merged[t].est_users,
            exact[t],
        )
        assert merged[t].n_partials >= 1


def test_mg_heavy_hitters_partition_invariance(spark):
    """The Misra-Gries candidate pass must contain the exact top-20 under
    ANY partitioning (the pigeonhole bound) — exercise the adversarial
    direction by slicing the corpus into many tiny partitions and checking
    the two-phase result still equals the exact one."""
    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.operators.aggregates import (
        a12_heavy_hitters_mg,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    exact = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
        .collect()
    )
    two_phase = a12_heavy_hitters_mg(spark, SF_SMOKE).collect()
    assert [tuple(r) for r in two_phase] == [tuple(r) for r in exact]

    # adversarial partitioning: 64 slivers of a small corpus — every
    # partition summary is noisy, the union must still cover the top-20
    import prometheus_remote_kinesis_spark.sources.tables as tables

    key = next(iter(k for k in tables._DF_CACHE if k[1] == SF_SMOKE and k[2] == "documents"), None)
    sliced = docs.repartition(64)
    saved = tables._DF_CACHE.copy()
    try:
        for k in list(tables._DF_CACHE):
            if k[2] == "documents":
                tables._DF_CACHE[k] = sliced
        if key is None:
            app = spark.sparkContext.applicationId
            tables._DF_CACHE[(app, SF_SMOKE, "documents")] = sliced
        two_phase_64 = a12_heavy_hitters_mg(spark, SF_SMOKE).collect()
    finally:
        tables._DF_CACHE.clear()
        tables._DF_CACHE.update(saved)
    assert [tuple(r) for r in two_phase_64] == [tuple(r) for r in exact]


def test_w3b_decomposition_boundary_cases(spark, tmp_path):
    """w3 (direct RANGE frame) vs w3b (bucket decomposition) on ENGINEERED
    edge timestamps the driver corpus may not contain: a sample exactly
    at t−300000 (the RANGE frame is inclusive of the edge — the probe's
    strictly-below semantics must keep it), samples exactly on a bucket
    boundary, ms ties within a series, and a single-sample series. The
    t7 lesson: >=-vs-> divergence hides precisely on these edges."""
    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.operators.windows import (
        w3_trailing_5min_sum,
        w3b_trailing_5min_scalable,
    )

    rows = []
    eid = 0
    for ms, val in [
        (0, 1.0),
        (1, 2.0),
        (1, 4.0),          # ms tie (distinct event_ids)
        (299999, 8.0),     # just inside bucket 0
        (300000, 16.0),    # exactly on the bucket boundary AND exactly
                           # t-W from ms=600000
        (300001, 32.0),    # frame [1, 300001] keeps the ties at ms=1
        (600000, 64.0),    # frame [300000, 600000] includes the edge sample
        (900001, 128.0),   # frame excludes ms=600000 by 1 ms
    ]:
        rows.append((eid, ms, 1, "a", val, "{}"))
        eid += 1
    rows.append((eid, 450000, 2, "b", 7.5, "{}"))  # single-sample series

    df = spark.createDataFrame(
        [(e, u, t, v, p, m) for (e, m, u, t, v, p) in rows],
        "event_id long, user_id long, event_type string, value double, props string, ms long",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ms") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "w3edge")
    import os

    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    direct = {
        r["event_id"]: (r["trailing_sum"], r["trailing_n"])
        for r in w3_trailing_5min_sum(spark, sf).collect()
    }
    banded = {
        r["event_id"]: (r["trailing_sum"], r["trailing_n"])
        for r in w3b_trailing_5min_scalable(spark, sf).collect()
    }
    assert banded == direct, {k: (direct.get(k), banded.get(k)) for k in direct}
    # spot-pin the frame-edge inclusion: ms=600000's frame [300000,
    # 600000] keeps the exactly-t-W sample at 300000 (16+32+64) but
    # not 299999; ms=900001's frame excludes 600000 by 1 ms
    assert direct[6] == (112.0, 3)
    assert direct[7] == (128.0, 1)


def test_j6_day_fusion_boundary_cases(spark, tmp_path):
    """j6's r13 fused form (day totals as equal-key-peer RANGE window
    sums inside the as-of union) vs the pre-r13 formulation (day-level
    groupBy + the generic asof_join helper, which stays in the
    codebase) on ENGINEERED edges: multiple same-day orders (the fused
    sum must equal the groupBy day total), an event exactly AT an order
    date (at-or-before tie takes the order), an event before any order
    (NULL payload), same-ts event ties, a user with no orders, and
    non-representable cents sums (0.1+0.2) where round(…, 2) must agree
    across accumulation orders."""
    import os

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.operators.joins import (
        asof_join,
        j6_asof_last_order,
    )

    day = 86_400_000  # ms
    orders_rows = [
        # (o_orderkey, o_custkey, o_orderdate_ms, o_totalprice)
        (1, 1, 5 * day, 10.11),
        (2, 1, 5 * day, 5.22),   # same-day pair -> day_total 15.33
        (3, 1, 7 * day, 0.1),
        (4, 1, 7 * day, 0.2),    # 0.1+0.2 -> round(.., 2) == 0.3
        (5, 3, 2 * day, 99.99),  # user with orders but no events
    ]
    events_rows = [
        # (event_id, user_id, ts_ms)
        (0, 1, 4 * day),         # before any order -> NULLs
        (1, 1, 5 * day),         # exactly AT the order date: tie -> 15.33
        (2, 1, 6 * day),         # between -> 15.33
        (3, 1, 8 * day),         # after -> 0.3
        (4, 1, 8 * day),         # same-ts event tie
        (5, 2, 6 * day),         # user with no orders -> NULLs
    ]
    orders = spark.createDataFrame(
        [(k, c, d, p) for (k, c, d, p) in orders_rows],
        "o_orderkey long, o_custkey long, d_ms long, o_totalprice double",
    ).select(
        "o_orderkey",
        "o_custkey",
        F.lit("F").alias("o_orderstatus"),
        "o_totalprice",
        F.timestamp_micros(F.col("d_ms") * 1000).alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    events = spark.createDataFrame(
        [(e, u, t) for (e, u, t) in events_rows],
        "event_id long, user_id long, t_ms long",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("t_ms") * 1000).alias("ts"),
        "user_id",
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    sf = str(tmp_path / "j6edge")
    os.makedirs(sf, exist_ok=True)
    orders.coalesce(1).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    events.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    got = {
        r["event_id"]: (r["last_order_ts"], r["last_order_total"])
        for r in j6_asof_last_order(spark, sf).collect()
    }

    # pre-r13 reference: day-level groupBy + the generic asof_join
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    o = load_table(spark, sf, "orders")
    e = load_table(spark, sf, "events")
    day_orders = (
        o.groupBy("o_custkey", "o_orderdate")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_total"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("odate"),
            F.col("o_orderdate").alias("last_order_ts"),
            F.col("day_total").alias("last_order_total"),
        )
    )
    ref = {
        r["event_id"]: (r["last_order_ts"], r["last_order_total"])
        for r in asof_join(
            e.select("user_id", "ts", "event_id"),
            day_orders,
            on="user_id",
            left_ts="ts",
            right_ts="odate",
            payload=["last_order_ts", "last_order_total"],
        )
        .select("event_id", "user_id", "last_order_ts", "last_order_total")
        .collect()
    }
    assert got == ref, {k: (ref.get(k), got.get(k)) for k in set(ref) | set(got)}
    # spot-pin the semantics the fusion must preserve
    assert got[0] == (None, None)            # before any order
    assert got[1][1] == 15.33                # at-date tie takes the day
    assert got[2][1] == 15.33
    assert got[3][1] == 0.3                  # 0.1+0.2 rounds identically
    assert got[4] == got[3]                  # same-ts event tie
    assert got[5] == (None, None)            # user with no orders


def test_quantile_sketch_value_error_bound(spark):
    """a4s: the streaming histogram sketch's estimate interpolates inside
    the bucket containing the rank-⌈q·n⌉ order statistic, so its VALUE
    error against that statistic is strictly less than one bucket width
    (W=1.0) — the documented accuracy-vs-memory trade. The oracle pair
    pins cross-engine equality of the estimator; this pins the estimator
    against ground truth."""
    import math

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    q = all_queries()
    sketch = {
        r.event_type: r
        for r in q["a4s_quantile_sketch_stream"].fn(spark, SF_SMOKE).collect()
    }
    values: dict[str, list[float]] = {}
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", "value")
        .where("value IS NOT NULL")
        .collect()
    ):
        values.setdefault(r.event_type, []).append(r.value)

    assert set(values) == set(sketch)
    for t, vals in values.items():
        vals.sort()
        n = len(vals)
        for qi, col in ((50, "p50_sketch"), (90, "p90_sketch"), (99, "p99_sketch")):
            est = float(sketch[t][col])
            exact = vals[math.ceil(qi * n / 100.0) - 1]  # rank-⌈q·n⌉ statistic
            assert abs(est - exact) < 1.0, (t, col, est, exact, n)


def test_kmv_estimate_within_envelope(spark):
    """a3c: correctness is the hash-checked sketch itself; this pins the
    STATISTICAL claim — whenever the estimate branch is taken (k_actual
    == K), the KMV estimate lands within the 3/√K ≈ 37% hard envelope of
    the exact distinct count (1/√K is one σ; 3σ gives a deterministic
    bound for the fixed md5 hash on this corpus — measured 4% at
    sf0.01), and whenever k_actual < K the estimate IS exact."""
    from prometheus_remote_kinesis_spark.operators.aggregates import KMV_K
    from prometheus_remote_kinesis_spark.registry import all_queries

    rows = all_queries()["a3c_kmv_distinct"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.k_actual < KMV_K:
            assert r.kmv_estimate == r.n_distinct, r
        else:
            assert abs(r.kmv_estimate - r.n_distinct) <= 3 * r.n_distinct / (
                KMV_K**0.5
            ), r


def test_predict_linear_matches_numpy_lstsq(spark):
    """t31: the integer-sum regression must BE ordinary least squares —
    slope/prediction recomputed per series with numpy's lstsq from the
    same (window-relative seconds, cents) points, truncated the same
    way. The cross-engine oracle proves Spark==DuckDB; this proves both
    equal the textbook estimator."""
    import math

    import numpy as np

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    got = {
        (r.event_type, r.user_id): (r.n, r.slope_cents_per_s, r.pred_cents)
        for r in all_queries()["t31_predict_linear"].fn(spark, SF_SMOKE).collect()
    }
    assert got, "no series with >=2 distinct-second samples — vacuous"

    events = load_table(spark, SF_SMOKE, "events").where(F.col("value").isNotNull())
    tmax = events.agg(F.max(F.unix_millis("ts"))).first()[0]
    pts: dict[tuple, list] = {}
    for r in (
        events.select("event_type", "user_id", F.unix_millis("ts").alias("ms"), "value")
        .where(F.col("ms") >= tmax - 86400000)
        .collect()
    ):
        x = (r.ms - (tmax - 86400000)) // 1000
        pts.setdefault((r.event_type, r.user_id), []).append(
            (x, round(r.value * 100))
        )
    expect = {}
    for k, xy in pts.items():
        xs = np.array([p[0] for p in xy], dtype=float)
        ys = np.array([p[1] for p in xy], dtype=float)
        if len(xy) < 2 or np.all(xs == xs[0]):
            continue
        slope, intercept = np.polyfit(xs, ys, 1)
        expect[k] = (len(xy), slope, intercept + slope * 90000)
    assert set(got) == set(expect)
    for k, (n, slope_t, pred_t) in got.items():
        en, eslope, epred = expect[k]
        assert n == en
        # numpy's QR-based fit differs from the exact integer-sum fold
        # only by float noise; the truncated outputs must agree to ~1e-6
        assert math.isclose(slope_t, math.floor(eslope * 1e6) / 1e6, abs_tol=2e-6), k
        assert math.isclose(pred_t, math.floor(epred * 1e3) / 1e3, abs_tol=2e-3), k


def test_count_min_sketch_invariants(spark):
    """a13: CMS estimates must dominate the exact counts (est ≥ exact,
    the one-sided CMS guarantee), at least one user must actually
    collide (the sketch is lossy, not vacuously exact — needs sf0.01's
    ~1,500 users against 4×64 cells; the ~15 users of sf0.001 rarely
    share a bucket in all four rows), and the user-mass total must equal
    the stream length."""
    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    rows = all_queries()["a14_count_min_sketch"].fn(spark, sf).collect()
    assert rows
    assert all(r.cms_est >= r.n_exact for r in rows)
    assert all(r.overcount == r.cms_est - r.n_exact for r in rows)
    assert any(r.overcount > 0 for r in rows), "no collision — width too wide to test"
    n_events = load_table(spark, sf, "events").count()
    assert sum(r.n_exact for r in rows) == n_events


def test_pagerank_quantized_tracks_float_power_iteration(spark):
    """g1: the integer fixed-point recurrence must track the textbook
    float power iteration (same graph, same 2 supersteps from uniform
    1.0) within the accumulated quantization bound — per superstep each
    in-edge contribution floors away < 1e-6 and the damping floors once,
    so after 2 iterations the drift is well under 1e-3 per unit rank.
    The cross-engine oracle proves Spark==DuckDB; this proves both are
    PageRank."""
    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    got = {
        r.node: r.pagerank_fp / 1e6
        for r in all_queries()["g1_pagerank_quantized"].fn(spark, SF_SMOKE).collect()
    }
    assert got

    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = {
        (f"c{r.o_custkey}", f"s{r.l_suppkey}")
        for r in orders.join(li, orders.o_orderkey == li.l_orderkey).collect()
    }
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    outdeg: dict[str, int] = {}
    for s, _d in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    pr = {n: 1.0 for n in outdeg}
    for _ in range(2):
        nxt: dict[str, float] = {}
        for s, d in edges:
            nxt[d] = nxt.get(d, 0.0) + pr[s] / outdeg[s]
        pr = {n: 0.15 + 0.85 * v for n, v in nxt.items()}

    assert set(got) == set(pr)
    assert all(abs(got[n] - pr[n]) < 1e-3 for n in pr), max(
        abs(got[n] - pr[n]) for n in pr
    )
    # rank mass sanity: damped total = 0.15*N + 0.85*(previous mass)
    assert abs(sum(got.values()) - sum(pr.values())) < 1e-3 * len(pr)


def test_count_min_stream_matches_batch(spark):
    """a14s: the in-stream CMS (state = exactly the 256 sketch cells)
    must reproduce batch a14 row-for-row — cell counts are mergeable
    partial sums, so any micro-batch chop union-folds to the same
    sketch. Also pins the state bound: the drained state-store metric
    must equal the number of OCCUPIED cells (≤ d×w), independent of
    stream length."""
    import prometheus_remote_kinesis_spark.streaming.queries as sq
    from prometheus_remote_kinesis_spark.operators.aggregates import (
        CMS_DEPTH,
        CMS_WIDTH,
    )
    from prometheus_remote_kinesis_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    stream = {tuple(r) for r in qs["a14s_count_min_stream"].fn(spark, sf).collect()}
    state_rows = [
        so["numRowsTotal"]
        for p in sq.last_run_progress
        for so in p.get("stateOperators", [])
    ]
    batch = {tuple(r) for r in qs["a14_count_min_sketch"].fn(spark, sf).collect()}
    assert stream == batch
    assert state_rows and max(state_rows) <= CMS_DEPTH * CMS_WIDTH


def test_dict_rle_bucket_boundary_merges(spark, tmp_path):
    """t32's bucket decomposition on ENGINEERED hour-boundary edges the
    corpus may not contain: the same user straddling a bucket boundary
    (one run — the boundary merge must subtract), different users at the
    boundary (two runs), a user alone in a bucket between two buckets of
    itself (one run across three buckets — two merges), and a run broken
    INSIDE a bucket. Expected counts computed by the naive single-pass
    fold."""
    import os

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.registry import all_queries

    H = 3_600_000_000  # one bucket, in µs
    rows = [
        # series "a": user 1 straddles buckets 0→1→2 (runs: 1), then
        # user 2 (run 2), user 1 again inside the same bucket (run 3)
        ("a", 1, H - 2_000_000, 0),
        ("a", 1, H - 1_000_000, 1),
        ("a", 1, H + 1_000_000, 2),   # boundary merge 0→1
        ("a", 1, 2 * H + 1_000_000, 3),  # boundary merge 1→2
        ("a", 2, 2 * H + 2_000_000, 4),  # new run inside bucket 2
        ("a", 1, 2 * H + 3_000_000, 5),  # back to 1 — new run (3)
        # series "b": DIFFERENT users at the boundary — no merge (2 runs)
        ("b", 7, H - 1_000_000, 6),
        ("b", 8, H + 1_000_000, 7),
    ]
    df = spark.createDataFrame(
        [
            (eid, u, t, et, 1.0, "{}")
            for (et, u, t, eid) in rows
        ],
        "event_id long, user_id long, us long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "t32edge")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    got = {
        r.event_type: (r.n, r.d, r.runs)
        for r in all_queries()["t32_dict_rle_sizing"].fn(spark, sf).collect()
    }
    assert got == {"a": (6, 2, 3), "b": (2, 2, 2)}


def test_dod_bucket_boundary_recost(spark, tmp_path):
    """t30's r9 bucket decomposition on ENGINEERED hour-boundary edges:
    a SINGLE-sample bucket between two multi-sample buckets (the next
    bucket's first row must find its second predecessor via the bounded
    lag-2 fallback, not the previous bucket's absent second-to-last), a
    series whose first bucket has one row (the next bucket's first row
    is the GLOBAL second sample → first-order-delta cost, p2 NULL), and
    a single-bucket series (no correction at all). Expected bits come
    from an independent Python fold of the naive global formula — the
    exact semantics the unchanged oracle checks."""
    import os

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.registry import all_queries

    H = 3_600_000  # one bucket, in ms
    # (event_type, ms, cents)
    series = {
        # bucket0: 2 rows; bucket1: 1 row; bucket2: 2 rows
        "a": [(1_000, 1000), (2_000, 1010), (H + 5_000, 990),
              (2 * H + 1_000, 1020), (2 * H + 9_000, 1020)],
        # bucket0: 1 row; bucket1: 2 rows (global sample 2 at boundary)
        "b": [(10_000, 500), (H + 1_000, 480), (H + 2_000, 530)],
        # one bucket, 4 rows — pure bucket-local path
        "c": [(100, 7), (200, 7), (350, 8), (400, 6)],
    }

    def zz_bits(x: int) -> int:
        z = 2 * x if x >= 0 else -2 * x - 1
        return (len(bin(z)) - 2) + 1

    expected = {}
    for et, samples in series.items():
        bits = 0
        for i, (ms, v) in enumerate(samples):
            if i == 0:
                bits += 128
            elif i == 1:
                bits += zz_bits(ms - samples[0][0]) + zz_bits(v - samples[0][1])
            else:
                dod = (ms - samples[i - 1][0]) - (samples[i - 1][0] - samples[i - 2][0])
                dvv = (v - samples[i - 1][1]) - (samples[i - 1][1] - samples[i - 2][1])
                bits += zz_bits(dod) + zz_bits(dvv)
        n = len(samples)
        expected[et] = (n, n * 128, bits, (n * 128 * 1_000_000) // bits)

    rows = [
        (eid, ms * 1000, 1, et, cents / 100.0, "{}")
        for eid, (et, (ms, cents)) in enumerate(
            (et, s) for et, samples in series.items() for s in samples
        )
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "t30edge")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    got = {
        r.event_type: (r.n_samples, r.raw_bits, r.dod_bits, r.ratio_ppm)
        for r in all_queries()["t30_dod_storage_sizing"].fn(spark, sf).collect()
    }
    assert got == expected


def test_gaps_islands_touch_and_split_edges(spark, tmp_path):
    """w5 on ENGINEERED interval edges: an event starting EXACTLY at the
    previous interval's end merges (touching intervals coalesce — the
    `>` not `>=` choice), one starting 1 ms later splits, ms ties within
    a user stay in one island, and island ids restart per user. Expected
    values hand-computed."""
    import os

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.registry import all_queries

    W = 300_000  # the interval width, ms
    rows = [
        # user 1: e0 at 0 (end 300k); e1 at 300k — TOUCHES end → same
        # island (end 600k); e2 at 600_001 — 1 ms past → NEW island;
        # e3/e4 tie at 700k → both in island 2
        (0, 1, 0),
        (1, 1, W),
        (2, 1, 2 * W + 1),
        (3, 1, 2 * W + 100_000),
        (4, 1, 2 * W + 100_000),
        # user 2: a single event → its own island
        (5, 2, 50),
    ]
    df = spark.createDataFrame(
        [(e, u, t, "click", 1.0, "{}") for (e, u, t) in rows],
        "event_id long, user_id long, ms long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ms") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "w5edge")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    got = {
        (r.user_id, r.island): (r.island_start, r.island_end, r.n_events)
        for r in all_queries()["w5_gaps_islands"].fn(spark, sf).collect()
    }
    assert got == {
        (1, 1): (0, 2 * W, 2),                         # touch merged
        (1, 2): (2 * W + 1, 3 * W + 100_000, 3),       # split by 1 ms; tie kept
        (2, 1): (50, W + 50, 1),
    }


def test_cusum_detects_engineered_drift(spark, tmp_path):
    """t33 on engineered series: a mean shift of +10 units mid-series
    must raise the CUSUM past h and alert; a flat series must stay at 0
    with no alerts; and the scaled integer recurrence must equal the
    textbook rational CUSUM recomputed with Fractions."""
    import os
    from fractions import Fraction

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.operators.time_windows import (
        T33_H_CENTS,
        T33_K_CENTS,
    )
    from prometheus_remote_kinesis_spark.registry import all_queries

    rows = []
    eid = 0
    # series "drift": 20 samples at 10.0, then 20 at 20.0 (a +10 shift)
    for i in range(40):
        rows.append((eid, 1, i * 60_000, "drift", 10.0 if i < 20 else 20.0))
        eid += 1
    # series "flat": constant 10.0 — cusum stays pinned at 0
    for i in range(40):
        rows.append((eid, 2, i * 60_000, "flat", 10.0))
        eid += 1
    df = spark.createDataFrame(
        [(e, u, t, et, v, "{}") for (e, u, t, et, v) in rows],
        "event_id long, user_id long, ms long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ms") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "t33edge")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    got = {
        r.event_type: r
        for r in all_queries()["t33_cusum_drift"].fn(spark, sf).collect()
    }
    assert got["flat"].max_drift_cents == 0 and got["flat"].n_alerts == 0
    assert got["drift"].n_alerts > 0
    assert got["drift"].max_drift_cents > T33_H_CENTS

    # textbook rational CUSUM over the drift series
    xs = [1000] * 20 + [2000] * 20  # cents
    mu = Fraction(sum(xs), len(xs))
    s = smax = Fraction(0)
    alerts = 0
    for x in xs:
        s = max(Fraction(0), s + (x - mu - T33_K_CENTS))
        smax = max(smax, s)
        alerts += s > T33_H_CENTS
    assert got["drift"].n_alerts == alerts
    assert got["drift"].cusum_cents == int(s)  # DIV n == Fraction floor here
    assert got["drift"].max_drift_cents == int(smax)


def test_triangle_count_engineered_graphs(spark, tmp_path):
    """g2 on ENGINEERED interaction walks: K4 (4 triangles, built by a
    walk whose consecutive pairs cover all 6 edges), a pure wedge (0
    triangles), and a degree-tied triangle (orientation must fall back
    to the id tie-break). The K4 walk's timestamps straddle hour-bucket
    boundaries — including a single-event bucket — so the boundary-pair
    path of the bucket-decomposed edge generation is exercised, and a
    repeated consecutive pair plus a self-pair (same user twice in a
    row) must dedup/vanish."""
    import os

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.registry import all_queries

    H = 3_600_000  # 1 h in ms
    walks = {
        # K4 walk: pairs 12,23,31,14,42,24(dup),43 → 6 distinct edges.
        # Timestamps: two in bucket 0, ONE alone in bucket 1 (single-
        # event bucket → the lag-over-buckets boundary path), rest
        # spread over buckets 2-3; one self-pair (3,3) injected.
        "k4": [
            (1, 1_000),
            (2, 2_000),
            (3, H - 1_000),
            (3, H + 1_000),      # self-pair 3→3: no edge
            (1, 2 * H + 1_000),
            (4, 2 * H + 2_000),
            (2, 2 * H + 3_000),
            (4, 3 * H + 1_000),
            (3, 3 * H + 2_000),
        ],
        "wedge": [(1, 1_000), (2, 2_000), (3, 3_000)],
        "tri_tie": [(1, 1_000), (2, 2_000), (3, 3_000), (1, 4_000)],
    }
    rows = []
    eid = 0
    for et, walk in walks.items():
        for u, ms in walk:
            rows.append((eid, ms * 1000, u, et, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, us long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "g2edge")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    got = {
        r.event_type: (r.n_nodes, r.n_edges, r.n_triangles)
        for r in all_queries()["g2_triangle_count"].fn(spark, sf).collect()
    }
    assert got == {
        "k4": (4, 6, 4),
        "wedge": (3, 2, 0),
        "tri_tie": (3, 3, 1),
    }


def test_kmv_pair_from_topk_arrays(spark, tmp_path):
    """Beyer's closure property, end-to-end with the O(K)-state op
    (a3ds's scale note): the pair union/intersection estimates are
    computable from the two per-type bottom-K arrays ALONE — union
    bottom-K = bottom-K of the two arrays' union, and membership of a
    union-bottom-K hash in set A is decidable from A's array (union h_K
    <= A's h_K, so any union-bottom-K hash in A is in A's bottom-K).
    The array-derived numbers must equal kmv_pair_summary's over the
    full distinct sets, bit for bit, on an overlapping-sets corpus that
    SATURATES both sketches (400/400 users, 150 shared)."""
    import os

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.operators.aggregates import (
        KMV_BITS,
        KMV_K,
        kmv_hash,
        kmv_pair_summary,
    )
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        _make_kmv_topk_fn,
    )

    users_a = list(range(0, 400))            # type "x"
    users_b = list(range(250, 650))          # type "y": 150 shared
    rows = [("x", u) for u in users_a] + [("y", u) for u in users_b]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    dh = df.select("event_type", kmv_hash(F.col("user_id")).alias("h")).distinct()
    exp = {
        (r.ta, r.tb): (r.k_actual, r.h_k, r.union_est, r.inter_est)
        for r in kmv_pair_summary(dh).collect()
    }
    assert list(exp) == [("x", "y")]

    # the production O(K) arrays, via the streaming op's own transition fn
    import pandas as pd

    from tests.test_stateful_props import _FakeGroupState

    arrays = {}
    for et in ("x", "y"):
        hs = [
            r.h for r in dh.where(F.col("event_type") == et).collect()
        ]
        fn = _make_kmv_topk_fn(KMV_K, KMV_BITS)
        state = _FakeGroupState()
        list(fn((et,), iter([pd.DataFrame({"h": hs})]), state))
        arrays[et] = state.get[0]  # sorted K-array
    a, b = set(arrays["x"]), set(arrays["y"])
    union_topk = sorted(a | b)[:KMV_K]
    k_actual = len(union_topk)
    h_k = union_topk[-1]
    union_est = (
        k_actual if k_actual < KMV_K else ((KMV_K - 1) * 2**KMV_BITS) // h_k
    )
    shared = sum(1 for h in union_topk if h in a and h in b)
    inter_est = (
        None if k_actual < KMV_K else (shared * union_est) // KMV_K
    )
    got = (k_actual, h_k, union_est, inter_est)
    e = exp[("x", "y")]
    assert got == (e[0], e[1], e[2], e[3])


def test_skyline_matches_textbook_definition(spark):
    """o5's banded sort+running-min plan vs the TEXTBOOK skyline
    definition — a row survives iff NO other row is <= on both axes and
    strictly better on one (quadratic NOT-EXISTS, affordable at
    sf0.001): exact set equality, including the duplicate-point rule
    (identical (price, date) twins dominate neither way)."""
    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        (r.okey, r.price, r.order_day)
        for r in all_queries()["o5_skyline_pareto"].fn(spark, SF_SMOKE).collect()
    }
    rows = [
        (r.o_orderkey, r.o_totalprice, r.d)
        for r in load_table(spark, SF_SMOKE, "orders")
        .selectExpr(
            "o_orderkey",
            "o_totalprice",
            "unix_micros(CAST(o_orderdate AS timestamp)) div 86400000000 AS d",
        )
        .collect()
    ]
    exp = {
        (k, p, d)
        for (k, p, d) in rows
        if not any(
            p2 <= p and d2 <= d and (p2 < p or d2 < d)
            for (_k2, p2, d2) in rows
        )
    }
    assert got == exp and len(exp) >= 1


def test_histogram_stddev_bucket_semantics(spark):
    """a10d: engineered samples pin the boundary conventions — a value
    exactly ON a bound lands in the lower bucket (le semantics), the
    first bucket's midpoint interpolates from 0, the overflow bucket is
    represented by the last finite bound, NULLs are excluded — and the
    moments match a hand computation in exact integer half-units."""
    import math

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.operators.aggregates import (
        _HIST_BOUNDS,
        A10D_MID2,
    )

    # values: on-bound 1.0 (bucket 0, mid2=1), 1.5 (bucket 1, mid2=3),
    # 600.0 (overflow, mid2=1000), NULL (excluded)
    df = spark.createDataFrame(
        [("x", 1.0), ("x", 1.5), ("x", 600.0), ("x", None)],
        "event_type string, value double",
    )
    mid2s = [A10D_MID2[0], A10D_MID2[1], A10D_MID2[-1]]
    n = 3
    s1 = sum(mid2s)
    s2 = sum(m * m for m in mid2s)
    exp_avg = math.floor(s1 / (2 * n) * 1e6) / 1e6
    exp_sd = (
        math.floor(math.sqrt(s2 / (4 * n) - (s1 / (2 * n)) ** 2) * 1e6) / 1e6
    )

    v = F.col("value")
    mid2 = F.when(v <= _HIST_BOUNDS[0], F.lit(A10D_MID2[0]))
    for i in range(1, len(_HIST_BOUNDS)):
        mid2 = mid2.when(
            (v > _HIST_BOUNDS[i - 1]) & (v <= _HIST_BOUNDS[i]),
            F.lit(A10D_MID2[i]),
        )
    mid2 = mid2.otherwise(F.lit(A10D_MID2[-1]))
    row = (
        df.where(v.isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(mid2).alias("s1"),
            F.sum(mid2 * mid2).alias("s2"),
        )
        .head()
    )
    assert (row["n"], row["s1"], row["s2"]) == (n, s1, s2)
    avg = row["s1"] / (2 * row["n"])
    sd = math.sqrt(row["s2"] / (4 * row["n"]) - avg * avg)
    assert math.floor(avg * 1e6) / 1e6 == exp_avg
    assert math.floor(sd * 1e6) / 1e6 == exp_sd


def test_diversified_sample_stratum_cap(spark, tmp_path):
    """d20: an engineered skewed corpus — one (lang, source) stratum
    holding the 100 longest docs — must surface at most the cap from
    that stratum, with the remaining slots going to other strata in
    quality order (the diversity property the operator exists for)."""
    import os

    from prometheus_remote_kinesis_spark.llm.pipeline import (
        D20_GROUP_CAP,
        d20_diversified_sample,
    )

    rows = []
    # dominant stratum: 100 docs, all longer than everything else
    for i in range(100):
        rows.append((i, "t" * (1000 - i), "en", "bigcrawl", 1000 - i))
    # two small strata with shorter docs
    for i in range(30):
        rows.append((200 + i, "u" * (500 - i), "en", "curated", 500 - i))
        rows.append((300 + i, "v" * (400 - i), "de", "wiki", 400 - i))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(os.path.join(sf, "documents.parquet"))
    got = d20_diversified_sample(spark, sf).collect()
    by_stratum = {}
    for r in got:
        by_stratum.setdefault((r["lang"], r["source"]), []).append(r)
    assert len(by_stratum[("en", "bigcrawl")]) == D20_GROUP_CAP  # capped
    assert len(by_stratum[("en", "curated")]) == D20_GROUP_CAP
    assert len(by_stratum[("de", "wiki")]) == D20_GROUP_CAP
    # within the dominant stratum the cap kept the TOP docs by quality
    kept = sorted(r["doc_id"] for r in by_stratum[("en", "bigcrawl")])
    assert kept == list(range(D20_GROUP_CAP))


def test_label_propagation_star_graph(spark, tmp_path):
    """g4 semantics on an engineered star: after superstep 1 every leaf
    holds the hub's label and the hub holds the MIN leaf label (the
    tie-break: all leaf labels appear once each); after superstep 2
    leaves all hold that min-leaf label and the hub takes the hub label
    back from the leaves. Built by writing a tiny orders/lineitem pair
    so the real operator (edge construction included) is what runs."""
    import os

    from prometheus_remote_kinesis_spark.operators.graph import (
        g4_label_propagation,
    )

    # one supplier (hub, node 2*0+1=1) trading with customers 1..4
    # (nodes 2,4,6,8): orders o_k by customer k, lineitem links all to
    # supplier 0.
    orders = spark.createDataFrame(
        [(k, k) for k in range(1, 5)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(k, 0) for k in range(1, 5)], "l_orderkey long, l_suppkey long"
    )
    sf = str(tmp_path)
    orders.write.parquet(os.path.join(sf, "orders.parquet"))
    li.write.parquet(os.path.join(sf, "lineitem.parquet"))
    got = {r["community"]: (r["n_members"], r["min_node"]) for r in
           g4_label_propagation(spark, sf).collect()}
    # superstep 1: leaves (customers) -> hub label 1; hub -> min leaf 2
    # superstep 2: leaves see only the hub's label (now 2) -> 2;
    #              hub sees four leaves all labeled 1 -> 1
    # final: customers 2,4,6,8 labeled 2; supplier node 1 labeled 1
    assert got == {2: (4, 2), 1: (1, 1)}


def test_random_projection_preserves_neighborhood(spark):
    """l4n property: the JL sign projection must keep an engineered
    near-duplicate pair closer in projected space than a far pair —
    the shortlist-recall property the 8-dim space is for (exactness of
    the arithmetic itself is the oracle's job)."""
    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.llm.similarity import (
        L4N_IN_DIMS,
        L4N_SIGNS,
        L4N_OUT_DIMS,
    )

    base = [float((i % 7) - 3) / 4 for i in range(L4N_IN_DIMS)]
    near = list(base)
    near[0] += 0.01
    far = [-x for x in base]

    def project(vec):
        q = [round(x * 1000) for x in vec]
        return [
            sum(s * qi for s, qi in zip(L4N_SIGNS[j], q))
            for j in range(L4N_OUT_DIMS)
        ]

    pb, pn, pf = project(base), project(near), project(far)
    d_near = sum((a - b) ** 2 for a, b in zip(pb, pn))
    d_far = sum((a - b) ** 2 for a, b in zip(pb, pf))
    assert d_near < d_far
    # sign matrix is balanced enough to be a real JL matrix (md5-derived,
    # not degenerate): each row within 3-sigma of half +1s
    for j in range(L4N_OUT_DIMS):
        pos = sum(1 for s in L4N_SIGNS[j] if s > 0)
        assert abs(pos - L4N_IN_DIMS / 2) <= 3 * (L4N_IN_DIMS ** 0.5) / 2


def test_item_affinity_matches_bruteforce(spark):
    """j9: exact equality against a Python brute-force market-basket
    count at sf0.001 — per-order distinct part sets, all p1 < p2 pairs,
    top-20 by (support DESC, p1, p2), Jaccard = co/(n1+n2-co) with the
    same floor-truncation."""
    import itertools
    import math
    from collections import Counter, defaultdict

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = [
        (r.p1, r.p2, r.support, r.n1, r.n2, r.jacc_micro)
        for r in all_queries()["j9_item_affinity"].fn(spark, SF_SMOKE).collect()
    ]
    orders = defaultdict(set)
    for r in (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        orders[r.l_orderkey].add(r.l_partkey)
    sup = Counter()
    freq = Counter()
    for parts in orders.values():
        for pk in parts:
            freq[pk] += 1
        for p1, p2 in itertools.combinations(sorted(parts), 2):
            sup[(p1, p2)] += 1
    top = sorted(sup.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    exp = [
        (
            p1,
            p2,
            co,
            freq[p1],
            freq[p2],
            math.floor(co / (freq[p1] + freq[p2] - co) * 1e6),
        )
        for (p1, p2), co in top
    ]
    assert got == exp and len(exp) == 20


def test_time_weighted_avg_matches_python_trapezoid(spark):
    """t37: exact equality against a Python trapezoid integration at
    sf0.001 (exact integer cents × ms accumulated unbounded in Python —
    the decimal(38,0) path's ground truth), plus the mean-value bound:
    a time-weighted average must lie within [min, max] of the series'
    sample values."""
    import math
    from collections import defaultdict

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        (r.event_type, r.user_id): (r.n_samples, r.span_ms, r.twa)
        for r in all_queries()["t37_time_weighted_avg"].fn(spark, SF_SMOKE).collect()
    }
    series = defaultdict(list)
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .where("value IS NOT NULL")
        .selectExpr("event_type", "user_id", "unix_millis(ts) AS ms",
                    "event_id", "CAST(round(value * 100, 0) AS LONG) AS v100")
        .collect()
    ):
        series[(r.event_type, r.user_id)].append((r.ms, r.event_id, r.v100))
    exp = {}
    for key, rows in series.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        num = sum(
            (a[2] + b[2]) * (b[0] - a[0]) for a, b in zip(rows, rows[1:])
        )
        span = rows[-1][0] - rows[0][0]
        if span > 0:
            twa = math.floor(float(num) / float(span) / 200.0 * 1e6) / 1e6
            exp[key] = (len(rows), span, twa)
    assert got == exp and len(exp) >= 5
    for key, (_n, _span, twa) in got.items():
        vals = [v / 100.0 for (_ms, _eid, v) in series[key]]
        assert min(vals) - 1e-6 <= twa <= max(vals) + 1e-6


def test_weighted_sample_priority_selection(spark):
    """d23: the selected 100 docs are EXACTLY the smallest u/w priority
    keys (u recomputed with hashlib md5, doc_id tie-break), output
    arrives in priority order, and every weight is clamped >= 1."""
    import hashlib

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = [
        (r.doc_id, r.w, r.u40, r.pri_milli)
        for r in all_queries()["d23_weighted_sample"].fn(spark, SF_SMOKE).collect()
    ]
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .where("text IS NOT NULL")
        .select("doc_id", "n_chars")
        .collect()
    )
    keyed = []
    for r in docs:
        u = int(hashlib.md5(f"d23:{r.doc_id}".encode()).hexdigest()[:10], 16)
        w = max(r.n_chars, 1)
        keyed.append((u / w, r.doc_id, w, u))
    keyed.sort(key=lambda t: (t[0], t[1]))
    import math

    exp = [
        (doc_id, w, u, math.floor(u / w * 1e3)) for (pri, doc_id, w, u) in keyed[:100]
    ]
    assert got == exp
    assert all(w >= 1 for (_d, w, _u, _p) in got)


def test_rolling_distinct_users_matches_bruteforce(spark):
    """w10: the interval-coverage expansion equals the quadratic
    definition at sf0.001 — for every report hour H, the count of
    distinct users with ANY event in (H-23..H], hours with zero active
    users absent on both sides."""
    from collections import defaultdict

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        (r.event_type, r.hour): r.n_active
        for r in all_queries()["w10_rolling_distinct_users"].fn(spark, SF_SMOKE).collect()
    }
    act = defaultdict(set)  # (type, hour) -> users
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .where("user_id IS NOT NULL")
        .selectExpr("event_type", "user_id", "unix_millis(ts) div 3600000 AS h")
        .collect()
    ):
        act[(r.event_type, r.h)].add(r.user_id)
    hours = defaultdict(set)  # type -> active hours
    for (t, h) in act:
        hours[t].add(h)
    exp = {}
    for t, hs in hours.items():
        for H in range(min(hs), max(hs) + 24):
            users = set()
            for h in range(H - 23, H + 1):
                users |= act.get((t, h), set())
            if users:
                exp[(t, H)] = len(users)
    assert got == exp and len(exp) > 100


def test_weighted_median_matches_bruteforce(spark):
    """a4c: the saturating-histogram weighted median equals the direct
    definition at sf0.001 — sort each brand's (qty, weight) pairs by
    qty, walk cumulative weight, return the first qty reaching half the
    total."""
    from collections import defaultdict

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r.p_brand: (r.total_weight, r.wmedian_qty)
        for r in all_queries()["a4c_weighted_median"].fn(spark, SF_SMOKE).collect()
    }
    pb = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, SF_SMOKE, "part").collect()
    }
    acc = defaultdict(lambda: defaultdict(int))
    for r in (
        load_table(spark, SF_SMOKE, "lineitem")
        .selectExpr(
            "l_partkey",
            "CAST(l_quantity AS LONG) AS qty",
            "CAST(round(l_extendedprice * 100, 0) AS LONG) AS w",
        )
        .collect()
    ):
        acc[pb[r.l_partkey]][r.qty] += r.w
    exp = {}
    for brand, hist in acc.items():
        total = sum(hist.values())
        cum = 0
        for qty in sorted(hist):
            cum += hist[qty]
            if 2 * cum >= total:
                exp[brand] = (total, qty)
                break
    assert got == exp and len(exp) == 25


def test_interval_overlap_join_matches_bruteforce(spark):
    """j10: the bucket-expansion overlap join equals the quadratic Allen
    overlap at sf0.001 — sessions (30 min gaps) x fired breach islands,
    closed intervals, point-touch = 0 ms overlap, multi-bucket pairs
    deduped to one."""
    from collections import defaultdict

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r.event_type: (r.n_overlaps, r.total_overlap_ms, r.max_overlap_ms)
        for r in all_queries()["j10_interval_overlap_join"].fn(spark, SF_SMOKE).collect()
    }
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr(
            "user_id", "event_type", "unix_millis(ts) AS ms", "event_id", "value"
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        if r.user_id is not None:
            by_user[r.user_id].append((r.ms, r.event_id))
    sessions = []
    for u, pts in by_user.items():
        pts.sort()
        cur = [pts[0][0], pts[0][0]]
        for ms, _eid in pts[1:]:
            if ms - cur[1] > 1_800_000:
                sessions.append(tuple(cur))
                cur = [ms, ms]
            else:
                cur[1] = ms
        sessions.append(tuple(cur))
    by_type = defaultdict(list)
    for r in ev:
        if r.value is not None:
            by_type[r.event_type].append((r.ms, r.event_id, r.value > 50))
    islands = []
    for t, pts in by_type.items():
        pts.sort()
        s = e = None
        for ms, _eid, cond in pts:
            if cond:
                s, e = (ms, ms) if s is None else (s, ms)
            elif s is not None:
                islands.append((t, s, e))
                s = None
        if s is not None:
            islands.append((t, s, e))
    fired = [(t, s, e) for (t, s, e) in islands if e - s >= 600_000]
    exp = defaultdict(lambda: [0, 0, None])
    for (t, i_s, i_e) in fired:
        for (ss, se) in sessions:
            if ss <= i_e and i_s <= se:
                ov = min(se, i_e) - max(ss, i_s)
                acc = exp[t]
                acc[0] += 1
                acc[1] += ov
                acc[2] = ov if acc[2] is None else max(acc[2], ov)
    assert got == {t: tuple(v) for t, v in exp.items()} and len(got) >= 1


def test_native_histogram_bucket_semantics(spark):
    """a10e: engineered cents pin the exponential-bucket conventions —
    bucket k covers (2^(k-1), 2^k] (a value exactly ON a power of 2
    lands in the LOWER bucket, matching Prometheus upper-inclusive
    native buckets), c <= 1 lands in bucket 0, and the rank-selected
    quantile buckets match a hand computation."""
    import math

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r.event_type: (r.p50_bucket, r.p99_bucket, r.n_buckets, r.n_samples,
                       r.max_bucket)
        for r in all_queries()["a10e_native_histogram"].fn(spark, SF_SMOKE).collect()
    }
    from collections import Counter, defaultdict

    hist = defaultdict(Counter)
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .where("value IS NOT NULL")
        .selectExpr("event_type", "CAST(round(value * 100, 0) AS LONG) AS c")
        .collect()
    ):
        k = 0 if r.c <= 1 else math.ceil(math.log2(r.c))
        # cross-check the bit-length trick against exact integer log
        if r.c > 1:
            assert 2 ** (k - 1) < r.c <= 2 ** k
        hist[r.event_type][k] += 1
    exp = {}
    for t, cnt in hist.items():
        total = sum(cnt.values())
        ks = sorted(cnt)
        cum = 0
        p50 = p99 = None
        for k in ks:
            cum += cnt[k]
            if p50 is None and 2 * cum >= total:
                p50 = k
            if p99 is None and 100 * cum >= 99 * total:
                p99 = k
        exp[t] = (p50, p99, len(ks), total, max(ks))
    assert got == exp and len(exp) == 5


def test_promql_parser_asts():
    """The PromQL parser produces the documented AST shapes and rejects
    malformed input loudly."""
    from fractions import Fraction

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        Agg, Cmp, PromQLError, RangeFn, Scale, Selector, parse,
    )

    assert parse("click") == Selector("click")
    assert parse('click{user="42"}') == Selector("click", (("user", "=", "42"),))
    assert parse("rate(view[5m])") == RangeFn("rate", Selector("view"), 300_000)
    assert parse("sum by (user) (increase(click[1d]))") == Agg(
        "sum", ("user",), RangeFn("increase", Selector("click"), 86_400_000)
    )
    e = parse("avg_over_time(purchase[90s]) > 40.5")
    assert e == Cmp(
        RangeFn("avg_over_time", Selector("purchase"), 90_000),
        ">",
        Fraction("40.5"),
    )
    assert parse("sum(rate(view[1h])) * 3600") == Scale(
        Agg("sum", (), RangeFn("rate", Selector("view"), 3_600_000)),
        "*",
        Fraction(3600),
    )
    # an agg keyword followed by something that is not '(' parses as a
    # metric name (count is a legal metric)
    assert parse("count") == Selector("count")
    for bad in (
        "rate(view[5x])", "sum by user (click)", "click{user=42}",
        "rate(view)", "click > ", "sum(click))", "rate(view[5m]) / 0",
    ):
        with pytest.raises(PromQLError):
            parse(bad)


def test_promql_compiler_matches_handbuilt(spark):
    """Compiled `sum by (user) (increase(click[1d]))` equals a
    hand-built DataFrame computation of the same semantics at sf0.001,
    and the threshold filter keeps exactly the rows whose exact rational
    exceeds the scalar."""
    from fractions import Fraction

    from prometheus_remote_kinesis_spark.promql import compile_promql
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "sum by (user) (increase(click[1d]))"
        ).collect()
    }
    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'click' AND value IS NOT NULL")
        .selectExpr(
            "user_id", "unix_millis(ts) AS ms", "event_id",
            "CAST(round(value * 100, 0) AS LONG) AS c",
        )
        .collect()
    )
    t = max(r.ms for r in (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("unix_millis(ts) AS ms").collect()
    ))
    import math
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        if t - 86_400_000 < r.ms <= t:
            per_user[r.user_id].append((r.ms, r.event_id, r.c))
    exp = {}
    for u, pts in per_user.items():
        if len(pts) < 2:
            continue
        pts.sort(key=lambda x: (x[0], x[1]))
        inc = sum(
            (b[2] - a[2]) if b[2] >= a[2] else b[2]
            for a, b in zip(pts, pts[1:])
        )
        exp[u] = math.floor(float(inc) / 100.0 * 1e6) / 1e6
    assert got == exp and len(exp) >= 1

    kept = {
        r.user
        for r in compile_promql(
            spark, SF_SMOKE, "sum by (user) (increase(click[1d])) > 30"
        ).collect()
    }
    assert kept == {
        u for u, pts in per_user.items()
        if len(pts) >= 2
        and Fraction(sum(
            (b[2] - a[2]) if b[2] >= a[2] else b[2]
            for a, b in zip(sorted(pts), sorted(pts)[1:])
        ), 100) > 30
    }


def test_robust_stats_matches_bruteforce(spark):
    """a4d: partial-cell rank arithmetic equals the direct definition at
    sf0.001 — sort each type's cents, drop exactly k = n div 20 from each
    end, average the rest; median and MAD as lower medians."""
    import math
    from collections import defaultdict

    from prometheus_remote_kinesis_spark.registry import all_queries
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r.event_type: (r.n_samples, r.trim_k, r.median_cents, r.mad_cents,
                       r.trimmed_mean)
        for r in all_queries()["a4d_robust_stats"].fn(spark, SF_SMOKE).collect()
    }
    vals = defaultdict(list)
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .where("value IS NOT NULL")
        .selectExpr("event_type", "CAST(round(value * 100, 0) AS LONG) AS c")
        .collect()
    ):
        vals[r.event_type].append(r.c)

    def lower_median(sorted_xs):
        n = len(sorted_xs)
        return sorted_xs[(n + 1) // 2 - 1]  # smallest x with 2*rank >= n

    exp = {}
    for t, xs in vals.items():
        xs.sort()
        n = len(xs)
        k = n // 20
        kept = xs[k : n - k]
        med = lower_median(xs)
        mad = lower_median(sorted(abs(x - med) for x in xs))
        tm = math.floor(float(sum(kept)) / float((n - 2 * k) * 100) * 1e6) / 1e6
        exp[t] = (n, k, med, mad, tm)
    assert got == exp and len(exp) == 5


def test_promql_topk_and_offset_parse_and_compile(spark):
    """topk/offset extensions: AST shapes, the offset window's exact
    range (a sample exactly at T-1d belongs to the offset window, not
    the current one), and topk's deterministic tie-breaking."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        Agg, PromQLError, RangeFn, Selector, TopK, compile_promql, parse,
    )

    assert parse("rate(view[5m] offset 1h)") == RangeFn(
        "rate", Selector("view", (), 3_600_000), 300_000
    )
    assert parse("click offset 30m") == Selector("click", (), 1_800_000)
    t = parse("topk(3, sum by (user) (increase(click[1d])))")
    assert isinstance(t, TopK) and t.k == 3 and isinstance(t.expr, Agg)
    for bad in ("topk(0, click)", "topk(2.5, click)", "topk(3 click)",
                "rate(view[5m] offset)", "click offset"):
        with pytest.raises(PromQLError):
            parse(bad)

    from tests.conftest import SF_SMOKE

    got = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(error[1d] offset 1d)"
        ).collect()
    }
    cur = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(error[1d])"
        ).collect()
    }
    # the two windows are disjoint: offset counts can't all equal current
    assert got and cur and got != cur
    topk = compile_promql(
        spark, SF_SMOKE, "topk(2, count_over_time(error[2d]))"
    ).collect()
    full = sorted(
        compile_promql(spark, SF_SMOKE, "count_over_time(error[2d])").collect(),
        key=lambda r: (-r.value, r.user),
    )
    assert [(r.user, r.value) for r in topk] == [
        (r.user, r.value) for r in full[:2]
    ]


def test_promql_stddev_semantics(spark):
    """stddev kernel: value matches numpy's population stddev on exact
    cents (within the 1e-6 floor), comparisons against a stddev square
    the scalar (exact subset survives), aggregating a stddev raises,
    and present_over_time/last_over_time behave."""
    import math
    from collections import defaultdict

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql, parse, _compile_vector,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "stddev_over_time(view[30d])"
        ).collect()
    }
    per_user = defaultdict(list)
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'view' AND value IS NOT NULL")
        .selectExpr("user_id", "CAST(round(value * 100, 0) AS LONG) AS c")
        .collect()
    ):
        per_user[r.user_id].append(r.c)
    for u, cs in per_user.items():
        n = len(cs)
        num = n * sum(c * c for c in cs) - sum(cs) ** 2
        exp = math.floor(math.sqrt(num / (n * n * 10000)) * 1e6) / 1e6
        assert got[u] == exp
    # threshold squares the scalar: kept set == exact python filter
    kept = {
        r.user
        for r in compile_promql(
            spark, SF_SMOKE, "stddev_over_time(view[30d]) > 38.5"
        ).collect()
    }
    from fractions import Fraction

    exp_kept = set()
    for u, cs in per_user.items():
        n = len(cs)
        num = n * sum(c * c for c in cs) - sum(cs) ** 2
        if Fraction(num, n * n * 10000) > Fraction("38.5") ** 2:
            exp_kept.add(u)
    # ~38.5 is the median stddev at sf0.001: the threshold must actually
    # split the set, exercising both comparison branches
    assert kept == exp_kept and kept and kept != set(per_user)
    with pytest.raises(PromQLError):
        _compile_vector(
            spark, SF_SMOKE, parse("sum(stddev_over_time(view[1d]))")
        )
    present = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "present_over_time(view[30d])"
        ).collect()
    }
    assert set(present) == set(per_user)
    assert all(v == 1.0 for v in present.values())


def test_promql_variable_den_rejected_at_compile_time():
    """sum/avg/min/max over a variable-denominator vector (avg_over_time,
    nested avg) must raise PromQLError at COMPILE time — the silent
    den_lo==den_hi filter previously returned an EMPTY result for these
    grammatically valid queries (r10 ADVICE). Constant-den kernels and
    den-insensitive aggregations stay accepted."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, _variable_den, parse,
    )

    rejected = [
        "sum(avg_over_time(purchase[1d]))",
        "avg(avg_over_time(purchase[1d]))",
        "min(avg_over_time(purchase[1d]) > 40)",     # Cmp preserves dens
        "max(avg_over_time(purchase[1d]) * 2)",      # Scale preserves dens
        "sum(avg by (user) (sum_over_time(purchase[1d])))",  # nested avg
    ]
    for q in rejected:
        with pytest.raises(PromQLError, match="variable-denominator"):
            # compile without a SparkSession: the check fires while
            # walking the AST, before any DataFrame is touched
            from prometheus_remote_kinesis_spark.promql import _compile_vector

            _compile_vector(None, None, parse(q))
    # constant-den kernels aggregate fine; count() never needs a common den
    assert not _variable_den(parse("sum_over_time(purchase[1d])"))
    assert not _variable_den(parse("rate(view[1d])"))
    assert _variable_den(parse("avg_over_time(purchase[1d])"))
    assert _variable_den(parse("avg(sum_over_time(purchase[1d]))"))
    assert not _variable_den(parse("count(avg_over_time(purchase[1d]))"))
    # '/' makes the den data-dependent (it picks up the rhs numerator);
    # '+'/'-'/'*' stay constant-den when both sides are
    assert _variable_den(parse("increase(error[1d]) / increase(view[1d])"))
    assert not _variable_den(parse("increase(error[1d]) + increase(view[1d])"))
    with pytest.raises(PromQLError, match="variable-denominator"):
        from prometheus_remote_kinesis_spark.promql import _compile_vector

        _compile_vector(
            None, None, parse("sum(increase(error[1d]) / increase(view[1d]))")
        )


def test_promql_extended_grammar_parses():
    """r11 grammar extensions: matcher ops (= != =~ !~), vector-vector
    + - * / with standard precedence, scalar add/sub, and the
    histogram_quantile form — all parse to the documented AST shapes;
    malformed variants raise."""
    from fractions import Fraction

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        Agg, HistQ, PromQLError, RangeFn, Selector, Shift, VecBin, parse,
    )

    assert parse('click{user!="7"}') == Selector("click", (("user", "!=", "7"),))
    assert parse('click{user=~"1.?"}') == Selector(
        "click", (("user", "=~", "1.?"),)
    )
    assert parse('click{user!~"[0-4]+", user="9"}') == Selector(
        "click", (("user", "!~", "[0-4]+"), ("user", "=", "9"))
    )
    assert parse("increase(error[1d]) / increase(view[1d])") == VecBin(
        RangeFn("increase", Selector("error"), 86_400_000),
        "/",
        RangeFn("increase", Selector("view"), 86_400_000),
    )
    # precedence: * binds tighter than -, left-assoc within a level
    e = parse("a - b * 2 - c")
    from prometheus_remote_kinesis_spark.promql import Scale

    assert e == VecBin(
        VecBin(Selector("a"), "-", Scale(Selector("b"), "*", Fraction(2))),
        "-",
        Selector("c"),
    )
    assert parse("avg_over_time(purchase[30d]) - 40") == Shift(
        RangeFn("avg_over_time", Selector("purchase"), 2_592_000_000),
        "-",
        Fraction(40),
    )
    hq = parse(
        "histogram_quantile(0.95, sum by (le) (count_over_time(view_bucket[30d])))"
    )
    assert hq == HistQ(
        Fraction("0.95"),
        Agg(
            "sum",
            ("le",),
            RangeFn("count_over_time", Selector("view_bucket"), 2_592_000_000),
        ),
    )
    for bad in (
        'click{user~"1"}',            # bad matcher op
        "histogram_quantile(1.5, sum by (le) (count_over_time(x_bucket[1d])))",
        'label_join(click, "bad-name", "-", "user")',  # invalid dst label
    ):
        with pytest.raises(PromQLError):
            parse(bad)


def test_promql_extended_compile_semantics(spark):
    """The r11 compile paths against brute force at sf0.001: regex /
    negated matchers partition the user set exactly like Python re
    (full anchoring), vector ratio equals the per-user quotient of the
    separately compiled sides, +/- join exactly, scalar-result division
    works via cross join, label-set mismatch raises, and
    histogram_quantile equals a Python reimplementation of Prometheus's
    interpolation over the same cumulative buckets."""
    import math
    import re as _re

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql, parse, _compile_vector,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    all_users = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(purchase[30d])"
        ).collect()
    }
    re_users = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, 'sum_over_time(purchase{user=~"1.?"}[30d])'
        ).collect()
    }
    nre_users = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, 'sum_over_time(purchase{user!~"1.?"}[30d])'
        ).collect()
    }
    pat = _re.compile(r"^(?:1.?)$")
    assert set(re_users) == {u for u in all_users if pat.match(str(u))}
    assert set(nre_users) == {u for u in all_users if not pat.match(str(u))}
    assert re_users and nre_users  # both sides non-trivial
    assert {**re_users, **nre_users} == all_users  # values unchanged
    neq = {
        r.user
        for r in compile_promql(
            spark, SF_SMOKE, 'sum_over_time(purchase{user!="7"}[30d])'
        ).collect()
    }
    assert neq == set(all_users) - {7}

    # vector ratio == quotient of the separately compiled sides
    inc_e = {
        r.user: r.value
        for r in compile_promql(spark, SF_SMOKE, "increase(error[30d])").collect()
    }
    inc_v = {
        r.user: r.value
        for r in compile_promql(spark, SF_SMOKE, "increase(view[30d])").collect()
    }
    ratio = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "increase(error[30d]) / increase(view[30d])"
        ).collect()
    }
    exp_keys = {u for u in inc_e if u in inc_v and inc_v[u] != 0}
    assert set(ratio) == exp_keys
    for u in exp_keys:
        # the compiled sides are floor-truncated at 1e-6, so rebuild the
        # quotient only approximately (verify_local's oracle does the
        # exact check)
        assert ratio[u] == pytest.approx(inc_e[u] / inc_v[u], rel=1e-3, abs=1e-4)
    # + and - join on the full shared key set
    s = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "increase(error[30d]) + increase(view[30d])"
        ).collect()
    }
    assert set(s) == set(inc_e) & set(inc_v)
    for u in s:
        assert s[u] == pytest.approx(inc_e[u] + inc_v[u], abs=3e-6)
    # scalar-result sides combine by cross join
    g = compile_promql(
        spark, SF_SMOKE, "sum(increase(error[30d])) / sum(increase(view[30d]))"
    ).collect()
    assert len(g) == 1 and g[0]["value"] > 0
    # label-set mismatch is a loud error
    with pytest.raises(PromQLError, match="identical label sets"):
        _compile_vector(
            spark, SF_SMOKE,
            parse("sum(increase(error[1d])) / increase(view[1d])"),
        )
    # histogram_quantile vs a Python reimplementation
    got = compile_promql(
        spark,
        SF_SMOKE,
        "histogram_quantile(0.95, sum by (le) (count_over_time(view_bucket[30d])))",
    ).collect()
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'view' AND value IS NOT NULL")
        .selectExpr("CAST(round(value * 100, 0) AS LONG) AS c")
        .collect()
    )
    bounds = [1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0]
    cents = [r.c for r in ev]
    n = len(cents)
    cums = [sum(1 for c in cents if c <= int(b * 100)) for b in bounds]
    idx = sum(1 for c in cums if c * 20 < 19 * n)
    rank = (19 * n) / 20
    if idx >= len(bounds):
        exp = bounds[-1]
    else:
        lo = bounds[idx - 1] if idx > 0 else 0.0
        cl = float(cums[idx - 1] if idx > 0 else 0)
        exp = lo + (bounds[idx] - lo) * (rank - cl) / (float(cums[idx]) - cl)
    assert got[0]["value"] == math.floor(exp * 1e6) / 1e6
    # histogram_quantile is terminal-only, and the inner shape is strict
    with pytest.raises(PromQLError):
        _compile_vector(
            spark, SF_SMOKE,
            parse("histogram_quantile(0.9, sum by (le) (count_over_time(view_bucket[1d])))"),
        )
    with pytest.raises(PromQLError, match="histogram_quantile supports"):
        compile_promql(
            spark, SF_SMOKE,
            "histogram_quantile(0.9, sum by (le) (count_over_time(view[1d])))",
        )


def test_promql_set_ops_match_python_sets(spark):
    """and/or/unless compile to semi/anti/union-anti joins whose key
    sets equal Python set algebra over the separately compiled sides;
    values come from the lhs ('or' fills gaps from the rhs); parse
    shapes and the mixed-label rejection are pinned."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        Cmp, PromQLError, SetOp, compile_promql, parse, _compile_vector,
    )
    from tests.conftest import SF_SMOKE

    ast = parse("a > 1 and b")
    assert isinstance(ast, SetOp) and ast.op == "and"
    assert isinstance(ast.left, Cmp)  # comparisons bind tighter than set ops

    lhs = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "avg_over_time(purchase[30d]) > 40"
        ).collect()
    }
    rhs = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(error[30d]) > 10"
        ).collect()
    }
    got_and = {
        r.user: r.value
        for r in compile_promql(
            spark,
            SF_SMOKE,
            "avg_over_time(purchase[30d]) > 40 and count_over_time(error[30d]) > 10",
        ).collect()
    }
    got_unless = {
        r.user: r.value
        for r in compile_promql(
            spark,
            SF_SMOKE,
            "avg_over_time(purchase[30d]) > 40 unless count_over_time(error[30d]) > 10",
        ).collect()
    }
    got_or = {
        r.user: r.value
        for r in compile_promql(
            spark,
            SF_SMOKE,
            "avg_over_time(purchase[30d]) > 40 or count_over_time(error[30d]) > 10",
        ).collect()
    }
    assert set(got_and) == set(lhs) & set(rhs)
    assert set(got_unless) == set(lhs) - set(rhs)
    assert set(got_or) == set(lhs) | set(rhs)
    # the threshold split must be non-trivial on both sides
    assert got_and and got_unless and set(rhs) - set(lhs)
    for u, v in got_and.items():
        assert v == lhs[u]  # lhs values, rhs existence
    for u, v in got_or.items():
        assert v == (lhs[u] if u in lhs else rhs[u])  # lhs wins on overlap
    with pytest.raises(PromQLError, match="identical label sets"):
        _compile_vector(
            spark, SF_SMOKE, parse("sum(rate(view[1d])) and rate(view[1d])")
        )


def test_promql_vector_fns_match_python(spark):
    """abs / clamp_min / clamp_max / bottomk: exact-rational per-row
    math and the flipped top-k — each equals a Python recomputation
    from the inner vector, clamp keeps constant-den kernels
    constant-den (sum() over a clamped constant-den vector still
    compiles), and bottomk returns the ascending head."""
    import math

    from prometheus_remote_kinesis_spark.promql import (
        Clamp, TopK, VecAbs, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    assert parse("abs(x)") == VecAbs(parse("x"))
    assert parse('clamp_min(x, 3)').fn == "clamp_min"
    assert isinstance(parse("bottomk(2, x)"), TopK) and parse("bottomk(2, x)").asc

    base = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "avg_over_time(purchase[30d]) - 50"
        ).collect()
    }
    got = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE,
            "clamp_max(abs(avg_over_time(purchase[30d]) - 50), 20)",
        ).collect()
    }
    assert set(got) == set(base)
    clamped = unclamped = 0
    for u, v in base.items():
        # the compiled sides each floor once; recompute within 2 ulps of
        # the 1e-6 grid (abs/clamp commute with floor only approximately
        # when v was already floored — tolerance covers it)
        exp = min(abs(v), 20.0)
        assert abs(got[u] - exp) < 3e-6
        if abs(v) > 20:
            clamped += 1
        else:
            unclamped += 1
    assert clamped and unclamped  # both branches exercised
    # clamp keeps constant-den: aggregating a clamped vector compiles
    one = compile_promql(
        spark, SF_SMOKE, "sum(clamp_min(sum_over_time(error[30d]), 100))"
    ).collect()
    assert len(one) == 1 and one[0]["value"] >= 100.0
    bk = compile_promql(
        spark, SF_SMOKE, "bottomk(3, sum_over_time(error[30d]))"
    ).collect()
    full = {
        r.user: r.value
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(error[30d])"
        ).collect()
    }
    exp3 = sorted(full.items(), key=lambda kv: (kv[1], kv[0]))[:3]
    assert [(r.user, r.value) for r in bk] == exp3
    assert math.isfinite(bk[0]["value"])


def test_alert_islands_bucket_boundary_stitching(spark, tmp_path):
    """t39's banded gaps-islands on ENGINEERED timestamps the corpus may
    not contain: an island whose samples straddle a bucket boundary, an
    island bridging an ENTIRELY EMPTY bucket (sample adjacency — must
    merge), a non-breaching sample between two breaching runs in
    different buckets (must split), and a breaching run fully covering
    one bucket (touches both edges). Ground truth is the naive global
    scan."""
    import os

    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.operators.time_windows import (
        T39_BUCKET_MS,
        T39_FOR_MS,
        t39_alert_for_duration,
    )

    H = T39_BUCKET_MS
    rows = []  # (ms, value): >50 breaches
    # island A: straddles bucket 0 → 1 boundary (all breaching)
    rows += [(H - 120_000, 60.0), (H - 60_000, 70.0), (H + 60_000, 80.0)]
    # island B: ends bucket 2; bucket 3 EMPTY; resumes bucket 4 → ONE island
    rows += [(2 * H + 100_000, 90.0), (2 * H + 200_000, 95.0)]
    rows += [(4 * H + 50_000, 99.0)]
    # non-breaching sample in bucket 5 splits C1 (bucket 5) from C2 (bucket 6)
    rows += [(5 * H + 10_000, 75.0), (5 * H + 20_000, 10.0)]
    rows += [(6 * H + 30_000, 88.0)]
    # island D: covers ALL of bucket 8's samples (touches both edges)
    rows += [(8 * H + i * 200_000, 60.0 + i) for i in range(5)]
    # NULL staleness marker inside island A must bridge, not split
    rows.insert(2, (H + 1_000, None))

    df = spark.createDataFrame(
        [
            (i, ms, 1, "m", v, "{}")
            for i, (ms, v) in enumerate(rows)
        ],
        "event_id long, ms long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ms") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    sf = str(tmp_path / "t39edge")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")

    got = {
        (r.island_start, r.island_end): (r.n_samples, r.fired, r.fire_ms)
        for r in t39_alert_for_duration(spark, sf).collect()
    }
    # naive ground truth
    pts = sorted((ms, v) for ms, v in rows if v is not None)
    islands = []
    cur = None
    for ms, v in pts:
        if v > 50:
            cur = [ms, ms, 1] if cur is None else [cur[0], ms, cur[2] + 1]
        elif cur is not None:
            islands.append(tuple(cur))
            cur = None
    if cur is not None:
        islands.append(tuple(cur))
    exp = {
        (s, e): (n, e - s >= T39_FOR_MS, s + T39_FOR_MS if e - s >= T39_FOR_MS else None)
        for (s, e, n) in islands
    }
    assert got == exp
    # pin the structure: islands are runs of consecutive breaching
    # SAMPLES regardless of bucket — everything from A through C1 chains
    # into ONE 7-sample island (crossing the 0→1 boundary, the NULL, the
    # empty bucket 3, and three stitch hops) until the 10.0 sample splits
    # it; the second island chains C2 + D (6 samples) across buckets 6→8
    ns = sorted(n for (n, _f, _fm) in got.values())
    assert ns == [6, 7]


def test_promql_scalar_led_product_and_den_overflow(spark):
    """r11 ADVICE items #2/#3: (a) a scalar-led product on an additive
    RHS (`a - 2 * b`) parses as a - (2*b) under standard precedence
    instead of dying with a trailing-input error — scalar multiplication
    commutes exactly on rationals, so it compiles as Scale(b,'*',2);
    (b) scalar-led DIVISION names its restriction (the reciprocal's den
    would be data-dependent); (c) an expression whose constant rational
    denominator overflows int64 (rate[30d] * rate[30d] → (100·2.592e9)²)
    is rejected at COMPILE time with PromQLError — previously ANSI mode
    raised ARITHMETIC_OVERFLOW at runtime, a 500 instead of a 400 on
    the HTTP endpoint; (d) the gcd reduction keeps same-window ratios
    (pq10's shape) small: den reduces to the bare divisor numerator."""
    from fractions import Fraction

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, RangeFn, Scale, Selector, VecBin, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    e = parse("increase(error[1d]) - 2 * increase(view[1d])")
    assert e == VecBin(
        RangeFn("increase", Selector("error"), 86_400_000),
        "-",
        Scale(RangeFn("increase", Selector("view"), 86_400_000), "*", Fraction(2)),
    )
    # plain scalar shift still parses as Shift (no regression)
    from prometheus_remote_kinesis_spark.promql import Shift

    assert isinstance(parse("increase(error[1d]) - 2"), Shift)
    with pytest.raises(PromQLError, match="scalar-led division"):
        parse("increase(error[1d]) - 2 / increase(view[1d])")
    # den overflow: compile-time rejection, not an ANSI runtime 500
    with pytest.raises(PromQLError, match="exceeds int64"):
        compile_promql(spark, SF_SMOKE, "rate(error[30d]) * rate(view[30d])")
    # the scalar-led product COMPILES and matches the commuted form
    a = compile_promql(
        spark, SF_SMOKE, "increase(error[1d]) - 2 * increase(view[1d])"
    )
    b = compile_promql(
        spark, SF_SMOKE, "increase(error[1d]) - increase(view[1d]) * 2"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_promql_range_last_point_is_instant(spark):
    """query_range grid semantics anchor (r12): with a T-anchored grid
    whose step divides the span, the LAST grid point evaluates at
    exactly T — so its row must be bit-equal to the instant query.
    Checked for an agg-over-rate, a plain selector, timestamp(), the
    pair and pick kernels, every gridded terminal, and aggregations
    over no live series (empty at T in both modes — an instant is a
    one-step grid, so it has no 0-count or value-less row)."""
    from prometheus_remote_kinesis_spark.promql import (
        compile_promql, compile_promql_range,
    )
    from tests.conftest import SF_SMOKE

    # the bare-selector cases need sf0.01: their 5-minute staleness windows
    # are empty at nearly every sf0.001 grid point (~1 sample / 13 ks per
    # type) — pqr2's registered form runs at sf0.01 for the same reason
    import os

    from prometheus_remote_kinesis_spark.sources.tables import corpus_max_ms

    sf001 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    # sf0.01 has no click sample in (T − 5m, T], but has some at earlier
    # grid points
    empty_at_t = ("count(click)", "max(click)", "quantile(0.5, click)")
    nonempty_last = 0
    for q, sf in (
        ("sum(rate(view[1d]))", SF_SMOKE),
        ("click", sf001),
        ("timestamp(click)", sf001),
        *((q, sf001) for q in empty_at_t),
        ("count_over_time(error[1d])", SF_SMOKE),
        ("changes(view[1d])", SF_SMOKE),
        ("idelta(view[1d])", SF_SMOKE),
        ("irate(view[1d])", SF_SMOKE),
        ("last_over_time(view[1d])", SF_SMOKE),
        ("min_over_time(purchase[1d])", SF_SMOKE),
        ("quantile_over_time(0.9, purchase[30d])", SF_SMOKE),
        # r13: the gridded terminals share the anchor property
        ("predict_linear(purchase[30d], 3600)", SF_SMOKE),
        ("histogram_quantile(0.5, sum by (le) "
         "(count_over_time(purchase_bucket[30d])))", SF_SMOKE),
    ):
        grid = compile_promql_range(
            spark, sf, q, step_ms=21_600_000, span_ms=86_400_000
        ).collect()
        assert grid, q
        # the THEORETICAL last grid point is T itself (step divides span);
        # the max RETURNED t_ms can be earlier — empty instants emit no row
        t_last = corpus_max_ms(spark, sf)
        last = {
            tuple(v for k, v in sorted(r.asDict().items()) if k != "t_ms")
            for r in grid
            if r["t_ms"] == t_last
        }
        inst = {
            tuple(v for k, v in sorted(r.asDict().items()))
            for r in compile_promql(spark, sf, q).collect()
        }
        assert last == inst, q
        assert not (inst and q in empty_at_t), q
        nonempty_last += bool(inst)
    assert nonempty_last >= 1  # the equality is exercised on real rows


def test_promql_range_grid_semantics(spark):
    """EVERY grid point t_k = T − j·step must equal the instant query
    evaluated with `offset j·step` — the offset modifier IS single-point
    range evaluation, so the whole grid cross-checks against the
    already-verified instant compiler (no reimplementation to trust).
    Also pins per-step topk and the grid validation rejections."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql, compile_promql_range,
    )
    from tests.conftest import SF_SMOKE

    STEP, N = 28_800_000, 3  # 8h step, 4 points
    q_grid = compile_promql_range(
        spark, SF_SMOKE, "sum by (user) (increase(click[1d]))",
        step_ms=STEP, span_ms=STEP * N,
    ).collect()
    t_last = max(r["t_ms"] for r in q_grid) if q_grid else None
    for j in range(N + 1):
        want = {
            (r["user"], r["value"])
            for r in compile_promql(
                spark, SF_SMOKE,
                "sum by (user) (increase(click[1d] offset "
                + (f"{j * STEP}ms))" if j else "0ms))"),
            ).collect()
        }
        got = {
            (r["user"], r["value"])
            for r in q_grid
            if r["t_ms"] == t_last - j * STEP
        }
        assert got == want, f"grid point T-{j}*step diverges"
    # per-step topk: each instant keeps its own k rows
    tk = compile_promql_range(
        spark, SF_SMOKE, "topk(2, count_over_time(view[2d]))",
        step_ms=STEP, span_ms=STEP * N,
    ).collect()
    from collections import Counter

    per_step = Counter(r["t_ms"] for r in tk)
    assert per_step and all(c <= 2 for c in per_step.values())
    # validation rejections
    with pytest.raises(PromQLError, match="step must be positive"):
        compile_promql_range(spark, SF_SMOKE, "click", step_ms=0, span_ms=1000)
    with pytest.raises(PromQLError, match="resolution cap"):
        compile_promql_range(
            spark, SF_SMOKE, "click", step_ms=1, span_ms=1_000_000
        )
    with pytest.raises(PromQLError, match="span_ms"):
        compile_promql_range(spark, SF_SMOKE, "click", step_ms=1000)
    # r13 (VERDICT r12 task #2): histogram_quantile grids — every grid
    # point equals the instant query with the matching offset (the same
    # cross-check as the rationals above, so the gridded bucket partials
    # are verified against the already-trusted instant interpolation)
    HQ = ("histogram_quantile(0.9, sum by (le) "
          "(count_over_time(view_bucket[1d]{})))")
    hq_grid = compile_promql_range(
        spark, SF_SMOKE, HQ.format(""), step_ms=STEP, span_ms=STEP * N
    ).collect()
    assert hq_grid and [r["t_ms"] for r in hq_grid]
    t_last_hq = max(r["t_ms"] for r in hq_grid)
    for j in range(N + 1):
        want_hq = {
            r["value"]
            for r in compile_promql(
                spark, SF_SMOKE,
                HQ.format(f" offset {j * STEP}ms" if j else ""),
            ).collect()
        }
        got_hq = {
            r["value"] for r in hq_grid if r["t_ms"] == t_last_hq - j * STEP
        }
        assert got_hq == want_hq, f"histq grid point T-{j}*step diverges"


def test_promql_subquery_parse_and_semantics(spark):
    """r12 subqueries (VERDICT r11 task #6): parse shapes, precedence
    (the ':' only binds inside brackets; a plain [range] on an
    expression is a targeted error), and the semantic identity — each
    of the subquery's grid points is the instant query evaluated with
    the matching offset, so the fold cross-checks against N
    already-verified offset-instant queries."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, RangeFn, Selector, SubqueryFn, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    e = parse("max_over_time(sum_over_time(view[1d])[2d:6h])")
    assert e == SubqueryFn(
        "max_over_time",
        RangeFn("sum_over_time", Selector("view"), 86_400_000),
        172_800_000,
        21_600_000,
    )
    # a subquery over a BARE selector is valid PromQL (view[1d:6h] =
    # the instant vector sampled every 6h)
    e2 = parse("count_over_time(view[1d:6h])")
    assert e2 == SubqueryFn(
        "count_over_time", Selector("view"), 86_400_000, 21_600_000
    )
    # precedence/rejections
    with pytest.raises(PromQLError, match="subquery form"):
        parse("max_over_time(sum(view)[5m])")  # expression needs [r:s]
    with pytest.raises(PromQLError, match="over a subquery"):
        compile_promql(spark, SF_SMOKE, "rate(sum_over_time(view[1d])[2d:6h])")
    with pytest.raises(PromQLError, match="variable-denominator"):
        # the subquery fold needs a constant den: avg_over_time inside
        compile_promql(
            spark, SF_SMOKE, "max_over_time(avg_over_time(view[1d])[2d:6h])"
        )
    with pytest.raises(PromQLError, match="variable-denominator"):
        # sum() over an avg-fold subquery: variable den, AST-level check
        compile_promql(
            spark, SF_SMOKE,
            "sum(avg_over_time(sum_over_time(view[1d])[2d:6h]))",
        )
    # semantic identity: subquery grid point j == instant with offset j·step
    sub = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "max_over_time(sum_over_time(view[1d])[2d:6h])"
        ).collect()
    }
    vals = {}
    for j in range(8):  # ceil(2d / 6h) = 8 grid points
        off = f" offset {j * 21_600_000}ms" if j else ""
        for r in compile_promql(
            spark, SF_SMOKE, f"sum_over_time(view[1d]{off})"
        ).collect():
            vals.setdefault(r["user"], []).append(r["value"])
    assert sub == {u: max(v) for u, v in vals.items()} and sub


def test_promql_quantile_over_time_exactness(spark):
    """r12 quantile_over_time (VERDICT r11 task #7): exact type-7
    interpolation vs a Python reimplementation over the raw rows, phi
    range validation, and the SOUNDNESS property the VERDICT expected a
    rejection for — the den is the query constant 100q, so sum() over
    it compiles AND equals the Python sum (pq20 carries the same check
    into the DuckDB hash gate)."""
    import math

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql, parse,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'purchase' AND value IS NOT NULL")
        .selectExpr(
            "user_id", "unix_millis(ts) AS ms",
            "CAST(round(value * 100, 0) AS LONG) AS c",
        )
        .collect()
    )
    T = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("max(unix_millis(ts)) AS t")
        .collect()[0]["t"]
    )
    per = {}
    for r in rows:
        if T - 2_592_000_000 < r["ms"] <= T:
            per.setdefault(r["user_id"], []).append(r["c"])

    def q90_num(cs):
        cs = sorted(cs)
        n = len(cs)
        lo = (n - 1) * 9 // 10
        rem = (n - 1) * 9 - lo * 10
        return cs[lo] * (10 - rem) + cs[min(lo + 1, n - 1)] * rem

    want = {
        u: math.floor(q90_num(cs) / 1000.0 * 1e6) / 1e6
        for u, cs in per.items()
    }
    got = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "quantile_over_time(0.9, purchase[30d])"
        ).collect()
    }
    assert got == want and got
    # sum() over it is SOUND (constant den 100q) — compiles and matches
    s = compile_promql(
        spark, SF_SMOKE, "sum(quantile_over_time(0.9, purchase[30d]))"
    ).collect()
    want_sum = math.floor(
        sum(q90_num(cs) for cs in per.values()) / 1000.0 * 1e6
    ) / 1e6
    assert [r["value"] for r in s] == [want_sum]
    from prometheus_remote_kinesis_spark.promql import _variable_den

    assert not _variable_den(parse("quantile_over_time(0.9, purchase[30d])"))
    with pytest.raises(PromQLError, match="phi"):
        parse("quantile_over_time(1.5, purchase[30d])")


def test_promql_vector_matching_on_ignoring(spark):
    """r12 vector matching (VERDICT r11 task #4): on()/ignoring()
    choose the join keys, group_left permits many-to-one. Pins the AST
    shape, the semantic identities (on(<full set>) == bare matching ==
    ignoring(<nothing>)), the share-of-total group_left case against a
    Python recomputation, and the parser/compiler rejections."""
    import math

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, VecBin, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    e = parse("a / on() group_left b")
    assert isinstance(e, VecBin) and e.on == () and e.group_left
    e2 = parse("a - ignoring(user) b")
    assert e2.ignoring == ("user",) and e2.on is None and not e2.group_left
    # semantic identities at sf0.001
    bare = sorted(
        map(tuple, compile_promql(
            spark, SF_SMOKE, "increase(error[30d]) / increase(view[30d])"
        ).collect())
    )
    for q in (
        "increase(error[30d]) / on(user) increase(view[30d])",
        "increase(error[30d]) / ignoring() increase(view[30d])",
    ):
        assert sorted(map(tuple, compile_promql(spark, SF_SMOKE, q).collect())) == bare
    assert bare
    # group_left share-of-total vs Python
    per = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sum by (user) (increase(error[30d]))"
        ).collect()
    }
    tot = compile_promql(
        spark, SF_SMOKE, "sum(increase(view[30d]))"
    ).collect()[0]["value"]
    got = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            "sum by (user) (increase(error[30d])) "
            "/ on() group_left sum(increase(view[30d]))",
        ).collect()
    }
    # cross-check VALUES loosely (per/tot are already-floored doubles, so
    # compare to 1e-5); membership exactly
    assert set(got) == set(per) and got
    for u, v in got.items():
        assert math.isclose(v, per[u] / tot, rel_tol=0, abs_tol=1e-5)
    # rejections
    with pytest.raises(PromQLError, match="absent"):
        compile_promql(
            spark, SF_SMOKE,
            "increase(error[30d]) / on(region) increase(view[30d])",
        )
    with pytest.raises(PromQLError, match="add group_left"):
        compile_promql(
            spark, SF_SMOKE,
            "increase(error[30d]) / on() increase(view[30d])",
        )
    with pytest.raises(PromQLError, match="rhs keyed exactly"):
        compile_promql(
            spark, SF_SMOKE,
            "sum(increase(error[30d])) / on() group_left increase(view[30d])",
        )
    with pytest.raises(PromQLError, match="vector RHS"):
        parse("increase(error[30d]) / on(user) 5")
    # group_right is group_left's mirror (one-to-many, rhs keeps labels;
    # operand sides do NOT swap): total/per-user is the reciprocal of
    # per-user/total, series for series
    rec = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            "sum(increase(view[30d])) "
            "/ on() group_right sum by (user) (increase(error[30d]))",
        ).collect()
    }
    assert set(rec) == set(got)
    for u, v in rec.items():
        assert math.isclose(v * got[u], 1.0, rel_tol=0, abs_tol=1e-4)
    with pytest.raises(PromQLError, match="lhs keyed exactly"):
        compile_promql(
            spark, SF_SMOKE,
            "increase(error[30d]) / on() group_right increase(view[30d])",
        )


def test_promql_label_replace_semantics(spark):
    """r12 label_replace: capture expansion into a NEW label, the
    non-matching row keeping dst = "" (Prometheus's absent-label
    representation), replacing an EXISTING label in place, grouping by
    the derived label, and the validation rejections."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        LabelReplace, PromQLError, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    e = parse('label_replace(click, "tier", "t$1", "user", "(\\d)\\d*")')
    assert e == LabelReplace(
        parse("click"), "tier", "t$1", "user", "(\\d)\\d*"
    )
    # derived label on every row; non-matching regex -> empty dst
    rows = compile_promql(
        spark, SF_SMOKE,
        'label_replace(sum_over_time(click[30d]), "band", "b$1", '
        '"user", "1(\\d)")',
    ).collect()
    assert rows
    for r in rows:
        if len(str(r["user"])) == 2 and str(r["user"])[0] == "1":
            assert r["band"] == "b" + str(r["user"])[1]
        else:
            assert r["band"] == ""  # absent ≡ empty (Prometheus rule)
    # replacing an EXISTING label in place: dst == src
    rows2 = compile_promql(
        spark, SF_SMOKE,
        'label_replace(sum_over_time(click[30d]), "user", "9$1", '
        '"user", "(\\d)")',
    ).collect()
    # single-digit users rewrite to 9<d> (a bigint-castable string);
    # multi-digit users keep their value (full-anchor miss -> old value)
    users = {
        str(r2["user"]): r2["value"] for r2 in rows2
    }
    base = {
        str(r3["user"]): r3["value"]
        for r3 in compile_promql(
            spark, SF_SMOKE, "sum_over_time(click[30d])"
        ).collect()
    }
    for u, v in base.items():
        key = f"9{u}" if len(u) == 1 else u
        assert users[key] == v
    # group by the derived label — values ride the rational pipeline
    tiers = compile_promql(
        spark, SF_SMOKE,
        'sum by (tier) (label_replace(sum_over_time(click[30d]), '
        '"tier", "t$1", "user", "(\\d)\\d*"))',
    ).collect()
    assert {r4["tier"][0] for r4 in tiers} == {"t"}
    import math

    want = {}
    for u, v in base.items():
        want[f"t{u[0]}"] = want.get(f"t{u[0]}", 0) + round(v * 100)
    assert {
        r5["tier"]: r5["value"] for r5 in tiers
    } == {k: math.floor(n / 100.0 * 1e6) / 1e6 for k, n in want.items()}
    # rejections
    with pytest.raises(PromQLError, match="invalid dst"):
        parse('label_replace(click, "bad-name", "x", "user", ".*")')
    with pytest.raises(PromQLError, match="src label"):
        compile_promql(
            spark, SF_SMOKE, 'label_replace(click, "t", "x", "region", ".*")'
        )
    with pytest.raises(PromQLError, match="reserved dst"):
        compile_promql(
            spark, SF_SMOKE, 'label_replace(click, "num", "x", "user", ".*")'
        )


def test_promql_absent_semantics(spark):
    """r12 absent/absent_over_time: a missing metric yields the single
    {value: 1} sample, a live metric yields the EMPTY vector, the range
    form distinguishes in-window presence from mere existence, and
    offset shifts the probe window."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        Absent, PromQLError, Selector, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    assert parse("absent(heartbeat)") == Absent(Selector("heartbeat"), None)
    assert parse("absent_over_time(heartbeat[1h])") == Absent(
        Selector("heartbeat"), 3_600_000
    )
    # missing metric → the one constant sample
    assert [
        tuple(r) for r in compile_promql(
            spark, SF_SMOKE, "absent(deploy_freeze)"
        ).collect()
    ] == [(1.0,)]
    # live metric over a wide window → empty vector
    assert (
        compile_promql(
            spark, SF_SMOKE, "absent_over_time(click[30d])"
        ).count()
        == 0
    )
    # instant absent of a live metric is TRUE when its last sample is
    # older than the staleness cut relative to the corpus max — compute
    # which outcome is right from the raw rows and pin it
    from prometheus_remote_kinesis_spark.promql import STALENESS_MS
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    t = ev.selectExpr("max(unix_millis(ts)) AS t").collect()[0]["t"]
    last_click = (
        ev.where("event_type = 'click' AND value IS NOT NULL")
        .selectExpr("max(unix_millis(ts)) AS m")
        .collect()[0]["m"]
    )
    want_absent = last_click <= t - STALENESS_MS
    got = compile_promql(spark, SF_SMOKE, "absent(click)").count()
    assert (got == 1) is want_absent
    # offset: probing 30d back from (T − 40d) is before the corpus —
    # every metric is absent there
    assert [
        tuple(r) for r in compile_promql(
            spark, SF_SMOKE, "absent_over_time(click[30d] offset 3456000000ms)"
        ).collect()
    ] == [(1.0,)]
    # grid rejection
    from prometheus_remote_kinesis_spark.promql import compile_promql_range

    with pytest.raises(PromQLError, match="instant"):
        compile_promql_range(
            spark, SF_SMOKE, "absent(click)", step_ms=1000, span_ms=10_000
        )


def test_promql_counter_health_kernels(spark):
    """r12 changes/resets/idelta/irate: each matches a Python
    reimplementation over the raw rows at sf0.001; single-sample series
    report 0 for changes/resets and drop for idelta/irate; sum() over
    resets compiles (den 1) while sum() over irate rejects at compile
    time (per-series den = 100·gap); the grid twins equal the
    offset-instant evaluation point for point."""
    import collections
    import math

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql, compile_promql_range,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'click' AND value IS NOT NULL")
        .selectExpr(
            "user_id", "unix_millis(ts) AS ms", "event_id",
            "CAST(round(value * 100, 0) AS LONG) AS c",
        )
        .collect()
    )
    T = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("max(unix_millis(ts)) AS t")
        .collect()[0]["t"]
    )
    per = collections.defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["ms"], r["event_id"])):
        if T - 2_592_000_000 < r["ms"] <= T:
            per[r["user_id"]].append((r["ms"], r["c"]))

    def py(fn):
        out = {}
        for u, s in per.items():
            if fn in ("changes", "resets"):
                n = sum(
                    1 for (a, b) in zip(s, s[1:])
                    if (b[1] != a[1] if fn == "changes" else b[1] < a[1])
                )
                out[u] = math.floor(n * 1e6) / 1e6
            elif len(s) >= 2:
                (pms, pc), (ms, c) = s[-2], s[-1]
                if fn == "idelta":
                    out[u] = math.floor((c - pc) / 100.0 * 1e6) / 1e6
                else:
                    inc = c - pc if c >= pc else c
                    out[u] = math.floor(
                        inc * 1000 / (100.0 * (ms - pms)) * 1e6
                    ) / 1e6
        return out

    for fn in ("changes", "resets", "idelta", "irate"):
        got = {
            r["user"]: r["value"]
            for r in compile_promql(spark, SF_SMOKE, f"{fn}(click[30d])").collect()
        }
        assert got == py(fn) and got, fn
    assert compile_promql(
        spark, SF_SMOKE, "sum(resets(click[30d]))"
    ).collect()[0]["value"] == math.floor(
        sum(round(v) for v in py("resets").values()) * 1e6
    ) / 1e6
    with pytest.raises(PromQLError, match="variable-denominator"):
        compile_promql(spark, SF_SMOKE, "sum(irate(view[30d]))")
    # grid twin: every point equals the offset-instant form
    STEP = 28_800_000
    g = compile_promql_range(
        spark, SF_SMOKE, "resets(click[30d])", step_ms=STEP, span_ms=2 * STEP
    ).collect()
    for j in range(3):
        off = f" offset {j * STEP}ms" if j else ""
        want = {
            (r["user"], r["value"])
            for r in compile_promql(
                spark, SF_SMOKE, f"resets(click[30d]{off})"
            ).collect()
        }
        got_j = {
            (r["user"], r["value"]) for r in g if r["t_ms"] == T - j * STEP
        }
        assert got_j == want, j


def test_promql_deriv_terminal_and_exact(spark):
    """r12 deriv: the least-squares slope matches a Python exact-integer
    recomputation (identical double-conversion order); nesting rejects
    at compile (wide-decimal den) and the range compiler names it
    instant-only."""
    import collections
    import math

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql, compile_promql_range,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'purchase' AND value IS NOT NULL")
        .selectExpr(
            "user_id", "unix_millis(ts) AS ms",
            "CAST(round(value * 100, 0) AS LONG) AS c",
        )
        .collect()
    )
    T = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("max(unix_millis(ts)) AS t")
        .collect()[0]["t"]
    )
    W = 2_592_000_000
    per = collections.defaultdict(list)
    for r in rows:
        if T - W < r["ms"] <= T:
            per[r["user_id"]].append((r["ms"] - (T - W), r["c"]))
    want = {}
    for u, s in per.items():
        if len(s) < 2:
            continue
        n, st = len(s), sum(t for t, _ in s)
        sc = sum(c for _, c in s)
        stc = sum(t * c for t, c in s)
        stt = sum(t * t for t, _ in s)
        num, den = n * stc - st * sc, n * stt - st * st
        if den:
            want[u] = math.floor(float(num * 10) / float(den) * 1e6) / 1e6
    got = {
        r["user"]: r["value"]
        for r in compile_promql(spark, SF_SMOKE, "deriv(purchase[30d])").collect()
    }
    assert got == want and got
    with pytest.raises(PromQLError, match="outermost"):
        compile_promql(spark, SF_SMOKE, "topk(3, deriv(purchase[30d]))")
    # r13 (VERDICT r12 task #2): deriv grids — the last grid point of a
    # T-anchored grid is bit-equal to the instant query just computed
    grid_rows = compile_promql_range(
        spark, SF_SMOKE, "deriv(purchase[30d])",
        step_ms=21_600_000, span_ms=86_400_000,
    ).collect()
    t_last = max(r["t_ms"] for r in grid_rows)
    assert {
        r["user"]: r["value"] for r in grid_rows if r["t_ms"] == t_last
    } == want
    # predict_linear: the same partials evaluated at x_p = w + t*1000
    AH = 3600
    want_p = {}
    for u, s2 in per.items():
        if len(s2) < 2:
            continue
        n, st = len(s2), sum(t for t, _ in s2)
        sc = sum(c for _, c in s2)
        stc = sum(t * c for t, c in s2)
        stt = sum(t * t for t, _ in s2)
        num, den = n * stc - st * sc, n * stt - st * st
        if den:
            xp = W + AH * 1000
            want_p[u] = math.floor(
                float(sc * den + num * (n * xp - st))
                / float(100 * n * den) * 1e6
            ) / 1e6
    got_p = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, f"predict_linear(purchase[30d], {AH})"
        ).collect()
    }
    assert got_p == want_p and got_p
    with pytest.raises(PromQLError, match="whole seconds"):
        compile_promql(spark, SF_SMOKE, "predict_linear(purchase[30d], 1.5)")
    with pytest.raises(PromQLError, match="horizon"):
        compile_promql(
            spark, SF_SMOKE, "predict_linear(purchase[30d], 200000000)"
        )


def test_promql_intfns_exact(spark):
    """r12 floor/ceil/round/sgn: exact integer results checked against
    Fraction math over the raw rows — including NEGATIVE rationals
    (where floor != trunc, the correction branch) and round's half-UP
    tie rule; den = 1 output makes a variable-den kernel aggregable
    (sum(floor(avg_over_time(...))) compiles and matches, while the
    unfloored form still rejects)."""
    import collections
    import math
    from fractions import Fraction

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'purchase' AND value IS NOT NULL")
        .selectExpr(
            "user_id", "unix_millis(ts) AS ms",
            "CAST(round(value * 100, 0) AS LONG) AS c",
        )
        .collect()
    )
    T = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("max(unix_millis(ts)) AS t")
        .collect()[0]["t"]
    )
    per = collections.defaultdict(list)
    for r in rows:
        if T - 2_592_000_000 < r["ms"] <= T:
            per[r["user_id"]].append(r["c"])
    fr = {u: Fraction(sum(cs), 100 * len(cs)) - 42 for u, cs in per.items()}
    assert any(x < 0 for x in fr.values())  # the correction branch is live

    def pround(x):  # the Prometheus half-UP tie rule
        return math.floor(x + Fraction(1, 2))

    cases = (
        ("floor", math.floor), ("ceil", math.ceil),
        ("round", pround), ("sgn", lambda x: (x > 0) - (x < 0)),
    )
    for fn, py in cases:
        got = {
            r["user"]: r["value"]
            for r in compile_promql(
                spark, SF_SMOKE, f"{fn}(avg_over_time(purchase[30d]) - 42)"
            ).collect()
        }
        want = {
            u: math.floor(float(py(x)) * 1e6) / 1e6 for u, x in fr.items()
        }
        assert got == want and got, fn
    # exact half-way tie: 1/2 rounds UP to 1 (cross-checked without data)
    from prometheus_remote_kinesis_spark.promql import IntFn, parse

    assert parse("round(click)") == IntFn("round", parse("click"))
    # aggregability flip: floor makes the variable-den kernel sound
    s = compile_promql(
        spark, SF_SMOKE, "sum(floor(avg_over_time(purchase[30d])))"
    ).collect()
    want_sum = math.floor(
        sum(math.floor(x + 42) for x in fr.values()) * 1e6
    ) / 1e6
    assert [r["value"] for r in s] == [want_sum]
    with pytest.raises(PromQLError, match="variable-denominator"):
        compile_promql(spark, SF_SMOKE, "sum(avg_over_time(purchase[30d]))")
    with pytest.raises(PromQLError, match="exact-rational"):
        compile_promql(
            spark, SF_SMOKE, "floor(stddev_over_time(view[30d]))"
        )


def _promql_corpus(spark, path, rows) -> str:
    """Write a hand-made ``events`` table of (event_id, event_type,
    user_id, ms, value) rows under ``path``; returns the sf_dir."""
    from pyspark.sql import functions as F

    spark.createDataFrame(
        rows,
        "event_id long, event_type string, user_id long, ms long, value double",
    ).select(
        "event_id", "event_type", "user_id",
        F.timestamp_millis(F.col("ms")).alias("ts"), "value",
    ).write.parquet(str(path / "events.parquet"))
    return str(path)


def test_promql_irate_zero_gap_drops(spark, tmp_path):
    """Regression (r12, found by the 16x replication probe): a series
    whose LAST two samples share a millisecond (impossible in real
    Prometheus, routine under replicated/merged corpora) made irate's
    finalize divide by zero under ANSI mode. The zero-gap series now
    DROPS (the VecBin divisor-zero precedent, mirrored in the oracle's
    ms <> pms cut) while normal series are untouched."""
    from prometheus_remote_kinesis_spark.promql import compile_promql

    rows = [
        # user 1: last pair at the SAME ms (eids break the tie)
        (1, 1, 1_000_000, 10.0), (2, 1, 2_000_000, 12.0),
        (3, 1, 2_000_000, 15.0),
        # user 2: a normal series — irate = (8-20)<0 → reset → 8 cents?
        # no: c_last=8.0 < c_prev=20.0 → inc = c_last; gap 60 s
        (4, 2, 1_000_000, 20.0), (5, 2, 1_061_000, 8.0),
    ]
    sf = _promql_corpus(
        spark, tmp_path, [(eid, "click", u, ms, v) for eid, u, ms, v in rows]
    )
    got = {
        r["user"]: r["value"]
        for r in compile_promql(spark, sf, "irate(click[1h])").collect()
    }
    import math

    want2 = math.floor(800 * 1000 / (100.0 * 61_000) * 1e6) / 1e6
    assert got == {2: want2}  # user 1 dropped, user 2 exact


def test_promql_lookback_is_left_open(spark, tmp_path):
    """The instant selector's 5-minute lookback is (T − 5m, T], left-open
    like every range window, absent() and the grid: a series whose only
    sample sits EXACTLY 5 minutes before T is stale. ``click``,
    ``timestamp(click)`` and ``absent(click)`` must agree with each
    other and with the last point of their range query."""
    from prometheus_remote_kinesis_spark.promql import (
        STALENESS_MS, compile_promql, compile_promql_range,
    )

    t = 1_700_000_000_000
    sf = _promql_corpus(spark, tmp_path, [
        (1, "view", 1, t, 1.0),  # resolves T
        (2, "click", 2, t - STALENESS_MS, 2.0),  # exactly on the boundary
    ])

    def rows(df):
        return [tuple(r) for r in df.collect()]

    assert rows(compile_promql(spark, sf, "absent(click)")) == [(1.0,)]
    for q in ("click", "timestamp(click)"):
        assert rows(compile_promql(spark, sf, q)) == [], q
        grid = compile_promql_range(
            spark, sf, q, step_ms=60_000, span_ms=STALENESS_MS
        ).collect()
        # live at the five earlier grid points, stale at the last one (T)
        assert sorted(r["t_ms"] for r in grid) == [
            t - STALENESS_MS + 60_000 * k for k in range(5)
        ], q


def test_promql_pair_kernel_values(spark, tmp_path):
    """Literal values of the pair and pick kernels on one hand-written
    series. Instant and range queries run the same kernel, so their
    agreement cannot catch a kernel bug; these hand-computed values
    can. The 1-minute window holds 5 samples
    (1, 3, 3, 2, 5: one repeated value, one counter reset); a sixth
    sample sits exactly at T − 1m, outside the left-open window."""
    from prometheus_remote_kinesis_spark.promql import compile_promql

    t = 1_700_000_000_000
    values = (9.0, 1.0, 3.0, 3.0, 2.0, 5.0)  # 9.0 at T − 60 s: excluded
    sf = _promql_corpus(spark, tmp_path, [
        (i, "view", 7, t - 10_000 * (5 - i) if i else t - 60_000, v)
        for i, v in enumerate(values)
    ])
    want = {
        "changes": 3.0,  # 1→3, 3→2, 2→5
        "resets": 1.0,  # 3→2
        "idelta": 3.0,  # 5 − 2
        "irate": 0.3,  # (5 − 2) over the last 10 s gap
        "increase": 7.0,  # 2 + 0 + 2 (reset: the new value) + 3
        "min_over_time": 1.0,
        "last_over_time": 5.0,
    }
    for fn, v in want.items():
        got = [tuple(r) for r in compile_promql(
            spark, sf, f"{fn}(view[1m])"
        ).collect()]
        assert got == [(7, v)], fn


def test_promql_without_clause(spark):
    """r12 `without (labels)` — the complement of `by`: dropping every
    label equals the global form, dropping none equals the identity
    grouping, absent names are ignored (the PromQL rule), empty by()
    equals global too, and without() composes with label_replace's
    derived labels (group by everything except the original user)."""
    from prometheus_remote_kinesis_spark.promql import Agg, compile_promql, parse
    from tests.conftest import SF_SMOKE

    e = parse("sum without (user) (sum_over_time(click[30d]))")
    assert isinstance(e, Agg) and e.without == ("user",) and e.by == ()

    def run(q):
        return sorted(
            map(tuple, compile_promql(spark, SF_SMOKE, q).collect())
        )

    base = "sum_over_time(click[30d])"
    assert run(f"sum without (user) ({base})") == run(f"sum({base})")
    assert run(f"sum by () ({base})") == run(f"sum({base})")
    assert run(f"sum without () ({base})") == run(f"sum by (user) ({base})")
    assert run(f"sum without (region) ({base})") == run(
        f"sum by (user) ({base})"
    )  # absent names ignored
    # composition with a derived label: keep tier, drop user
    lr = (
        'label_replace(sum_over_time(click[30d]), "tier", "t$1", '
        '"user", "(\\d)\\d*")'
    )
    assert run(f"sum without (user) ({lr})") == run(f"sum by (tier) ({lr})")


def test_promql_r13_advice_fixes(spark):
    """r13 (the two r12-ADVICE compiler gaps):

    1. label_replace writing a NON-NUMERIC replacement into the numeric
       data-model label ``user`` now finalizes user as VARCHAR — the
       grammar-valid query answers instead of throwing the ANSI bigint
       cast at runtime (HTTP 500). Labels never rewritten keep the
       bigint finalize (pq21's tier grouping and every existing oracle
       type unchanged).
    2. ``sum by (t_ms)`` on a range-query grid rejects at compile time
       (sparkless, the _variable_den pattern) instead of emitting a
       duplicate-keyed malformed matrix."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, _compile_vector, _Grid, _string_forced, compile_promql,
        parse,
    )
    from tests.conftest import SF_SMOKE

    q = ('label_replace(sum_over_time(click[30d]), '
         '"user", "u$1", "user", "(\\d)")')
    assert _string_forced(parse(q)) == frozenset({"user"})
    assert _string_forced(parse("sum by (user) (rate(view[1d]))")) == frozenset()
    df = compile_promql(spark, SF_SMOKE, q)
    assert dict(df.dtypes)["user"] == "string"
    rows = {r["user"]: r["value"] for r in df.collect()}
    base = {
        str(r["user"]): r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(click[30d])"
        ).collect()
    }
    assert rows and rows == {
        (f"u{u[0]}" if len(u) == 1 else u): v for u, v in base.items()
    }
    # untouched-label queries keep the exact bigint finalize
    assert dict(
        compile_promql(spark, SF_SMOKE, "sum_over_time(click[30d])").dtypes
    )["user"] == "bigint"
    grid = _Grid(step_ms=3_600_000, span_ms=86_400_000)
    with pytest.raises(PromQLError, match=r"by\(t_ms\)"):
        _compile_vector(
            None, None, parse("sum by (t_ms) (rate(view[1d]))"), grid
        )


def test_promql_delta_and_stdvar_kernels(spark):
    """r13 (VERDICT r12 task #3) — delta and stdvar_over_time vs exact
    Python reimplementations, plus the rejection matrix additions:
    delta is last − first per series (two samples required, no reset
    logic), its grid twin anchors at the instant; stdvar_over_time is
    stddev's no-sqrt twin and joins the variable-den compile
    rejection."""
    import collections

    import math
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, _variable_den, compile_promql, compile_promql_range,
        parse,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'purchase' AND value IS NOT NULL")
        .selectExpr(
            "user_id", "unix_millis(ts) AS ms", "event_id",
            "CAST(round(value * 100, 0) AS LONG) AS c",
        )
        .collect()
    )
    T = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("max(unix_millis(ts)) AS t").collect()[0]["t"]
    )
    W = 2_592_000_000
    per = collections.defaultdict(list)
    for r in rows:
        if T - W < r["ms"] <= T:
            per[r["user_id"]].append(((r["ms"], r["event_id"]), r["c"]))
    # delta: last - first over the (ms, event_id) order, n >= 2
    want_delta = {}
    for u, s in per.items():
        if len(s) >= 2:
            s2 = sorted(s)
            want_delta[u] = math.floor(
                (s2[-1][1] - s2[0][1]) / 100.0 * 1e6
            ) / 1e6
    got = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "delta(purchase[30d])"
        ).collect()
    }
    assert got == want_delta and got
    # the grid twin's last point is the instant result
    g = compile_promql_range(
        spark, SF_SMOKE, "delta(purchase[30d])",
        step_ms=21_600_000, span_ms=86_400_000,
    ).collect()
    t_last = max(r["t_ms"] for r in g)
    assert {
        r["user"]: r["value"] for r in g if r["t_ms"] == t_last
    } == want_delta
    # stdvar_over_time: population variance, no sqrt
    want_sv = {}
    for u, s in per.items():
        cs = [c for _, c in s]
        n = len(cs)
        num = n * sum(c * c for c in cs) - sum(cs) ** 2
        want_sv[u] = math.floor(
            float(num) / float(n * n * 10000) * 1e6
        ) / 1e6
    got_sv = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "stdvar_over_time(purchase[30d])"
        ).collect()
    }
    assert got_sv == want_sv and got_sv
    # rejections: stdvar_over_time is variable-den; delta folds are out
    assert _variable_den(parse("stdvar_over_time(purchase[1d])"))
    assert not _variable_den(parse("delta(purchase[1d])"))
    with pytest.raises(PromQLError, match="variable-denominator"):
        compile_promql(spark, SF_SMOKE, "sum(stdvar_over_time(purchase[1d]))")
    with pytest.raises(PromQLError, match="subquery"):
        compile_promql(
            spark, SF_SMOKE, "delta(sum_over_time(purchase[1d])[2d:1h])"
        )


def test_promql_agg_extensions(spark):
    """r13 (VERDICT r12 task #4) — the across-series aggregation
    extensions vs exact Python reimplementations, plus each one's
    variable-den rejection pin."""
    import collections
    import math

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type = 'purchase' AND value IS NOT NULL")
        .selectExpr("user_id", "unix_millis(ts) AS ms",
                    "CAST(round(value * 100, 0) AS LONG) AS c")
        .collect()
    )
    T = max(r["ms"] for r in rows)
    W = 2_592_000_000
    sums = collections.defaultdict(int)
    for r in rows:
        if T - W < r["ms"] <= T:
            sums[r["user_id"]] += r["c"]
    nums = sorted(sums.values())
    n = len(nums)
    # quantile(0.9, ...): exact type-7 over the numerators
    lo, rem = (n - 1) * 9 // 10, (n - 1) * 9 % 10
    hi = nums[lo + 1] if lo + 1 < n else nums[lo]
    want_q = math.floor(
        float(nums[lo] * (10 - rem) + hi * rem) / 1000.0 * 1e6
    ) / 1e6
    got_q = compile_promql(
        spark, SF_SMOKE, "quantile(0.9, sum_over_time(purchase[30d]))"
    ).collect()
    assert [r["value"] for r in got_q] == [want_q]
    # stddev/stdvar across series
    var_num = n * sum(x * x for x in nums) - sum(nums) ** 2
    var = float(var_num) / float((n * 100) ** 2)
    want_sd = math.floor(math.sqrt(var) * 1e6) / 1e6
    want_sv = math.floor(var * 1e6) / 1e6
    assert [
        r["value"] for r in compile_promql(
            spark, SF_SMOKE, "stddev(sum_over_time(purchase[30d]))"
        ).collect()
    ] == [want_sd]
    assert [
        r["value"] for r in compile_promql(
            spark, SF_SMOKE, "stdvar(sum_over_time(purchase[30d]))"
        ).collect()
    ] == [want_sv]
    # count_values over an integer vector vs a Python Counter
    cnt = collections.Counter()
    counts = collections.defaultdict(int)
    for r in rows:
        if T - W < r["ms"] <= T:
            counts[r["user_id"]] += 1
    for v in counts.values():
        cnt[str(v)] += 1
    got_cv = {
        r["calls"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            'count_values("calls", count_over_time(purchase[30d]))',
        ).collect()
    }
    assert got_cv == {k: float(v) for k, v in cnt.items()}
    # group: 1 per series; sum(group by (user)) = series count; group
    # stays accepted over sqrt vectors (den-insensitive, like count)
    assert [
        r["value"] for r in compile_promql(
            spark, SF_SMOKE,
            "sum(group by (user) (sum_over_time(purchase[30d])))",
        ).collect()
    ] == [float(n)]
    gsq = compile_promql(
        spark, SF_SMOKE,
        "group by (user) (stddev_over_time(purchase[30d]))",
    ).collect()
    assert gsq and all(r["value"] == 1.0 for r in gsq)
    # rejection matrix: each new op over a variable-den vector → 400;
    # nesting the variable-den outputs (stddev/stdvar) → 400;
    # count_values over a non-integer vector / colliding dst → 400
    for bad in (
        "stddev(avg_over_time(purchase[1d]))",
        "stdvar(irate(purchase[1d]))",
        "quantile(0.5, avg_over_time(purchase[1d]))",
        "sum(stddev(sum_over_time(purchase[1d])))",
        "max(stdvar(sum_over_time(purchase[1d])))",
    ):
        with pytest.raises(PromQLError, match="variable-denominator"):
            compile_promql(spark, SF_SMOKE, bad)
    with pytest.raises(PromQLError, match="integer-valued"):
        compile_promql(
            spark, SF_SMOKE,
            'count_values("v", sum_over_time(purchase[1d]))',
        )
    with pytest.raises(PromQLError, match="collides"):
        compile_promql(
            spark, SF_SMOKE,
            'count_values("user", count_over_time(purchase[1d]))',
        )
    with pytest.raises(PromQLError, match="phi"):
        compile_promql(
            spark, SF_SMOKE, "quantile(1.5, sum_over_time(purchase[1d]))"
        )


def test_promql_r13_grammar_residuals(spark):
    """r13 grammar residuals (the VERDICT r12 'What's missing #3' list):
    the bool comparison modifier (1/0 over den=1, keeps every sample,
    unlocks aggregation over variable-den vectors), the @ modifier
    (fixed evaluation time ≡ the HTTP time= path; instant-only, any
    modifier order), sort/sort_desc (deterministic presentation order,
    outermost-only), and label_join (sep-joined src labels into a new
    or numeric-overwritten dst)."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, _string_forced, _variable_den, compile_promql,
        compile_promql_range, parse,
    )
    from tests.conftest import SF_SMOKE

    # --- bool: every series kept, value 1/0, equals the filtered twin
    all_rows = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d])"
        ).collect()
    }
    kept = {
        r["user"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d]) > 40"
        ).collect()
    }
    got_bool = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d]) > bool 40"
        ).collect()
    }
    assert set(got_bool) == set(all_rows) and kept < set(all_rows)
    assert got_bool == {u: (1.0 if u in kept else 0.0) for u in all_rows}
    # bool makes a variable-den vector aggregable (den collapses to 1)
    assert not _variable_den(parse("avg_over_time(purchase[1d]) > bool 40"))
    n_above = compile_promql(
        spark, SF_SMOKE, "sum(avg_over_time(purchase[30d]) > bool 40)"
    ).collect()
    direct = compile_promql(
        spark, SF_SMOKE, "avg_over_time(purchase[30d]) > 40"
    ).collect()
    assert [r["value"] for r in n_above] == [float(len(direct))]

    # --- @: fixed eval time ≡ the HTTP time= parameter's eval_ms path
    AT = 1_705_276_800  # 2024-01-15T00:00:00Z, mid-corpus at every SF
    got_at = {
        (r["user"], r["value"])
        for r in compile_promql(
            spark, SF_SMOKE, f"sum_over_time(purchase[30d] @ {AT})"
        ).collect()
    }
    want_at = {
        (r["user"], r["value"])
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(purchase[30d])",
            eval_ms=AT * 1000,
        ).collect()
    }
    assert got_at == want_at and got_at
    # modifier order is free; offset applies relative to the @ time
    a1 = parse(f"purchase @ {AT} offset 5m")
    a2 = parse(f"purchase offset 5m @ {AT}")
    assert a1 == a2 and a1.at_ms == AT * 1000 and a1.offset_ms == 300_000
    with pytest.raises(PromQLError, match="@ modifier inside a range"):
        compile_promql_range(
            spark, SF_SMOKE, f"rate(view[1d] @ {AT})",
            step_ms=3_600_000, span_ms=86_400_000,
        )

    # --- sort/sort_desc: deterministic presentation order
    rows = compile_promql(
        spark, SF_SMOKE, "sort_desc(sum_over_time(purchase[30d]))"
    ).collect()
    keys = [(-r["value"], r["user"]) for r in rows]
    assert keys == sorted(keys) and len(rows) > 2
    rows_asc = compile_promql(
        spark, SF_SMOKE, "sort(sum_over_time(purchase[30d]))"
    ).collect()
    keys_asc = [(r["value"], r["user"]) for r in rows_asc]
    assert keys_asc == sorted(keys_asc)
    with pytest.raises(PromQLError, match="outermost"):
        compile_promql(
            spark, SF_SMOKE, "sum(sort(sum_over_time(purchase[30d])))"
        )
    with pytest.raises(PromQLError, match="sort"):
        compile_promql_range(
            spark, SF_SMOKE, "sort(rate(view[1d]))",
            step_ms=3_600_000, span_ms=86_400_000,
        )

    # --- label_join: composite label vs Python; rejections; numeric
    # dst forces the string finalize (the label_replace rule shared)
    got_lj = {
        r["pair"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            'label_join(sum_over_time(click[30d]), "pair", "-", '
            '"user", "user")',
        ).collect()
    }
    base = {
        str(r["user"]): r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(click[30d])"
        ).collect()
    }
    assert got_lj == {f"{u}-{u}": v for u, v in base.items()} and got_lj
    q_over_user = (
        'label_join(sum_over_time(click[30d]), "user", "-", "user", "user")'
    )
    assert _string_forced(parse(q_over_user)) == frozenset({"user"})
    df_over = compile_promql(spark, SF_SMOKE, q_over_user)
    assert dict(df_over.dtypes)["user"] == "string"
    assert {r["user"] for r in df_over.collect()} == {
        f"{u}-{u}" for u in base
    }
    with pytest.raises(PromQLError, match="src label"):
        compile_promql(
            spark, SF_SMOKE, 'label_join(click, "x", "-", "region")'
        )
    with pytest.raises(PromQLError, match="reserved dst"):
        compile_promql(
            spark, SF_SMOKE, 'label_join(click, "num", "-", "user")'
        )
    with pytest.raises(PromQLError, match="invalid dst"):
        parse('label_join(click, "bad-name", "-", "user")')


def test_promql_vector_compare_semantics(spark):
    """r13 vector-VECTOR comparisons (the alerting join idiom): filter
    form keeps the LHS rational on surviving matched rows, bool emits
    1/0 per matched row, ==/!= partition the matched set, group_left
    carries the extra lhs labels, and the variable-den aggregability
    flip mirrors the scalar bool rule. The predicate itself is pinned
    exact by the pq38/pq39 oracles; these are the behavioral twins."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, _variable_den, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    lhs = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(purchase[30d])"
        ).collect()
    }
    rhs = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d])"
        ).collect()
    }
    matched = set(lhs) & set(rhs)
    q = "sum_over_time(purchase[30d]) > on(user) count_over_time(click[30d])"
    got = {
        r["user"]: r["value"]
        for r in compile_promql(spark, SF_SMOKE, q).collect()
    }
    # both sides finalize exactly (2dp / integer), so the float
    # comparison reproduces the engine's exact cross-multiplication here
    want = {u: lhs[u] for u in matched if lhs[u] > rhs[u]}
    # (at the smoke SF every purchase sum beats its click count, so the
    # filter keeps all matched rows here; the sf0.01 oracle gate pins a
    # real split for pq38)
    assert got == want and got
    # bare form (identical label sets) ≡ the explicit on(user) form
    bare = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            "sum_over_time(purchase[30d]) > count_over_time(click[30d])",
        ).collect()
    }
    assert bare == got

    # ==/!= partition the matched set; bool marks exactly the survivors
    eq = compile_promql(
        spark, SF_SMOKE,
        "sum_over_time(purchase[30d]) == on(user) count_over_time(click[30d])",
    ).collect()
    ne = compile_promql(
        spark, SF_SMOKE,
        "sum_over_time(purchase[30d]) != on(user) count_over_time(click[30d])",
    ).collect()
    assert {r["user"] for r in eq} | {r["user"] for r in ne} == matched
    assert not ({r["user"] for r in eq} & {r["user"] for r in ne})
    got_bool = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            "sum_over_time(purchase[30d]) > bool on(user) "
            "count_over_time(click[30d])",
        ).collect()
    }
    assert got_bool == {u: (1.0 if u in want else 0.0) for u in matched}

    # group_left carries the extra lhs label through the comparison
    gl = {
        (r["tier"], r["user"]): r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            'label_replace(sum_over_time(purchase[30d]), "tier", "t$1", '
            '"user", "(.).*") > on(user) group_left '
            "count_over_time(click[30d])",
        ).collect()
    }
    assert gl == {(f"t{str(u)[0]}", u): v for u, v in want.items()}

    # aggregability flip: variable-den operands reject the filtered
    # form under sum() but accept the bool form (pq39's shape)
    q_var = (
        "sum(avg_over_time(purchase[30d]) >= avg_over_time(click[30d]))"
    )
    assert _variable_den(parse(q_var.removeprefix("sum(").removesuffix(")")))
    with pytest.raises(PromQLError, match="variable-denominator"):
        compile_promql(spark, SF_SMOKE, q_var)
    assert not _variable_den(
        parse(
            "avg_over_time(purchase[30d]) >= bool avg_over_time(click[30d])"
        )
    )

    # targeted rejections: matcher with a scalar RHS; sqrt operands
    with pytest.raises(PromQLError, match="needs a vector RHS"):
        parse("sum_over_time(purchase[30d]) > on(user) 40")
    with pytest.raises(PromQLError, match="stddev_over_time"):
        compile_promql(
            spark, SF_SMOKE,
            "stddev_over_time(purchase[30d]) > count_over_time(click[30d])",
        )


def test_promql_powmod_and_grouping_semantics(spark):
    """r13 ``%`` / ``^`` operators + ``( expr )`` grouping: fmod is
    exact on rationals with DIVIDEND-signed truncation (pinned against
    Python on negative dividends), integer powers stay rational with
    the den^k compile check, grouping overrides precedence, and the
    rejection matrix (vector RHS, fractional/negative/large exponents,
    zero modulus, chained ^) answers compile-time PromQLError."""
    import math

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, _variable_den, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    base = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(purchase[30d])"
        ).collect()
    }
    got = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "(sum_over_time(purchase[30d]) - 1000) % 7"
        ).collect()
    }

    def truncmod_2dp(v2dp, p):  # (num/100) mod p, truncation-signed
        n = round(v2dp * 100)
        d = 100 * p
        t = n - (abs(n) // d) * d * (1 if n >= 0 else -1)
        return math.floor(t / 100 * 1e6) / 1e6

    want = {
        u: truncmod_2dp(round(v * 100 - 100_000) / 100, 7)
        for u, v in base.items()
    }
    assert got == want and any(w < 0 for w in want.values())

    # ^: squares match the self-product; x^1 is the identity; x^0 = 1
    sq = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d]) ^ 2"
        ).collect()
    }
    cnt = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d])"
        ).collect()
    }
    assert sq == {u: float(int(v) * int(v)) for u, v in cnt.items()}
    one = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d]) ^ 1"
        ).collect()
    }
    zero = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "count_over_time(click[30d]) ^ 0"
        ).collect()
    }
    assert one == cnt and zero == {u: 1.0 for u in cnt}

    # grouping overrides precedence: (a - 1) * 2 vs a - 2 (scalar fold)
    grouped = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "(count_over_time(click[30d]) - 1) * 2"
        ).collect()
    }
    assert grouped == {u: (v - 1) * 2 for u, v in cnt.items()}

    # den-const bookkeeping: % and ^ keep aggregability; the den^k
    # compile check fires on a wide-window square
    assert not _variable_den(parse("(sum_over_time(x[1d]) % 3) ^ 2"))
    assert _variable_den(parse("avg_over_time(x[1d]) % 3"))
    with pytest.raises(PromQLError, match="denominator"):
        compile_promql(spark, SF_SMOKE, "rate(view[30d]) ^ 4")

    for bad, pat in (
        ("click % view", "vector % vector"),
        ("click ^ view", r"vector \^ vector"),
        ("click ^ 2.5", "exponent"),
        ("click ^ 9", "exponent"),
        ("click % 0", "zero"),
        ("click ^ 2 ^ 3", "parenthesize"),
    ):
        with pytest.raises(PromQLError, match=pat):
            parse(bad)


def test_promql_timestamp_and_date_fns(spark):
    """r13 ``timestamp()`` + the 8 calendar functions: gridded values
    match Python's UTC calendar exactly (incl. the 0=Sunday
    day_of_week convention and days_in_month), den stays the constant
    1000/1 (aggregable), and the rejection matrix answers compile-time
    PromQLError."""
    import calendar
    import datetime

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, _variable_den, compile_promql, compile_promql_range,
        parse,
    )
    from tests.conftest import SF_SMOKE

    # sf0.01: the smoke corpus has no click sample inside any staleness
    # window of the 1d grid (the gridded selector is sparse by design)
    sf = "/root/testdata/sf0.01"
    kw = dict(step_ms=1_800_000, span_ms=86_400_000)
    ts_rows = {
        (r["t_ms"], r["user"]): r["value"]
        for r in compile_promql_range(
            spark, sf, "timestamp(click)", **kw
        ).collect()
    }
    assert ts_rows

    def dt(v):  # value = seconds (ms/1000, positive) -> UTC datetime
        return datetime.datetime.fromtimestamp(
            int(v), datetime.timezone.utc
        )

    expect = {
        "minute": lambda d: d.minute,
        "hour": lambda d: d.hour,
        "day_of_week": lambda d: (d.weekday() + 1) % 7,  # 0 = Sunday
        "day_of_month": lambda d: d.day,
        "day_of_year": lambda d: d.timetuple().tm_yday,
        "month": lambda d: d.month,
        "year": lambda d: d.year,
        "days_in_month": lambda d: calendar.monthrange(d.year, d.month)[1],
    }
    for fn, py in expect.items():
        got = {
            (r["t_ms"], r["user"]): r["value"]
            for r in compile_promql_range(
                spark, sf, f"{fn}(timestamp(click))", **kw
            ).collect()
        }
        assert got == {
            k: float(py(dt(v))) for k, v in ts_rows.items()
        }, fn

    # den bookkeeping: timestamp is den=1000, date parts den=1 — both
    # constant, so they stay aggregable even over variable-den inputs
    assert not _variable_den(parse("timestamp(click)"))
    assert not _variable_den(parse("hour(avg_over_time(click[1d]))"))

    with pytest.raises(PromQLError, match="plain instant selector"):
        parse("timestamp(rate(click[5m]))")
    with pytest.raises(PromQLError, match="0-argument"):
        parse("hour()")
    with pytest.raises(PromQLError, match="stddev_over_time"):
        compile_promql(
            spark, SF_SMOKE, "year(stddev_over_time(purchase[30d]))"
        )


def test_promql_sqrt_and_excluded_math_fns(spark):
    """r13 ``sqrt(v)`` — the one libm function the exact discipline
    admits (IEEE requires sqrt correctly rounded): values match
    Python's math.sqrt bit-for-bit through the shared finalize, the
    deferred-root fences hold (nested sqrt, aggregation, arithmetic
    all reject; comparison squares the scalar and works), and the
    excluded math functions answer TARGETED compile errors instead of
    the old confusing selector-parse failure."""
    import math

    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql, parse,
    )
    from tests.conftest import SF_SMOKE

    base = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(purchase[30d])"
        ).collect()
    }
    got = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sqrt(sum_over_time(purchase[30d]))"
        ).collect()
    }
    want = {
        u: math.floor(math.sqrt(round(v * 100) / 100) * 1e6) / 1e6
        for u, v in base.items()
    }
    assert got == want and got

    # comparison over a flagged vector squares the scalar (the stddev
    # rule): survivors are exactly those whose square beats 25²
    kept = {
        r["user"]
        for r in compile_promql(
            spark, SF_SMOKE, "sqrt(sum_over_time(purchase[30d])) > 25"
        ).collect()
    }
    assert kept == {u for u, v in want.items() if v > 25} and kept

    for bad, pat in (
        ("sqrt(sqrt(click))", "nested sqrt"),
        ("sum(sqrt(sum_over_time(click[1d])))", "sqrt-deferred"),
        ("sqrt(click) + click", "stddev_over_time"),
        ("ln(click)", "not correctly-rounded"),
        ("exp(click)", "not correctly-rounded"),
        ("log2(rate(click[5m]))", "not correctly-rounded"),
        ("holt_winters(click[1d], 0.5, 0.5)", "t20_holt_winters"),
    ):
        with pytest.raises(PromQLError, match=pat):
            compile_promql(spark, SF_SMOKE, bad)

    # a metric that happens to be NAMED like an excluded fn still
    # parses as a selector when not called
    from prometheus_remote_kinesis_spark.promql import Selector

    assert isinstance(parse("ln"), Selector)


def test_promql_sort_by_label_semantics(spark):
    """late-r13 sort_by_label/sort_by_label_desc: lexicographic order
    on the labels' STRING renderings (the Prometheus rule — "10" sorts
    before "2" even though the user label is numeric), desc mirrors,
    and absent labels / missing arguments reject."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql,
    )
    from tests.conftest import SF_SMOKE

    rows = compile_promql(
        spark, SF_SMOKE,
        'sort_by_label(sum_over_time(purchase[30d]), "user")',
    ).collect()
    users = [str(r["user"]) for r in rows]
    assert users == sorted(users) and len(users) > 2  # lexicographic
    assert users != sorted(users, key=int)  # "10" < "2" actually bites
    rows_d = compile_promql(
        spark, SF_SMOKE,
        'sort_by_label_desc(sum_over_time(purchase[30d]), "user")',
    ).collect()
    assert [str(r["user"]) for r in rows_d] == sorted(users, reverse=True)

    with pytest.raises(PromQLError, match="absent from the result"):
        compile_promql(
            spark, SF_SMOKE,
            'sort_by_label(sum_over_time(purchase[30d]), "nope")',
        ).collect()
    with pytest.raises(PromQLError, match="at least one label"):
        compile_promql(spark, SF_SMOKE, "sort_by_label(click)")
    with pytest.raises(PromQLError, match="outermost"):
        compile_promql(
            spark, SF_SMOKE,
            'sum(sort_by_label(sum_over_time(click[30d]), "user"))',
        )


def test_promql_two_sided_clamp(spark):
    """late-r13 ``clamp(v, min, max)``: parser sugar over the exact
    clamp_min/clamp_max composition — values pinned against the
    explicit nesting and against Python; min > max rejects loudly."""
    import pytest

    from prometheus_remote_kinesis_spark.promql import (
        PromQLError, compile_promql,
    )
    from tests.conftest import SF_SMOKE

    got = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "clamp(sum_over_time(purchase[30d]), 400, 800)"
        ).collect()
    }
    nested = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE,
            "clamp_max(clamp_min(sum_over_time(purchase[30d]), 400), 800)",
        ).collect()
    }
    base = {
        r["user"]: r["value"]
        for r in compile_promql(
            spark, SF_SMOKE, "sum_over_time(purchase[30d])"
        ).collect()
    }
    assert got == nested == {
        u: min(800.0, max(400.0, v)) for u, v in base.items()
    }
    # both bounds actually bite at the smoke SF
    assert 400.0 in got.values() and 800.0 in got.values()

    with pytest.raises(PromQLError, match="min .* > max"):
        compile_promql(spark, SF_SMOKE, "clamp(click, 10, 5)")
