"""The PromQL HTTP API's per-layer figures, measured in traced runs.

One closed-loop client, like a Grafana panel refreshing, sends requests
over ``GET /api/v1/query`` and ``GET /api/v1/query_range`` of a
``RemoteWriteServer`` whose query handlers are the engine's own
(``promql.make_promql_*_handler``). The mix is six registered query
texts: instant pq1, pq4, pq5, pq10 and pq11, and range pqr1 on its
registered grid (span 2d, step 6h, ending at the corpus maximum). The
pass answers each text ``WARM_PASSES`` times untimed, then sends blocks,
each a seeded permutation of the mix, until ``--seconds`` have passed
at a block boundary, timing every request's layers. Instant queries
carry no ``time=``, so the oracle's T (the corpus maximum) applies
verbatim and every answer is compared with the DuckDB oracle of the
registered query of the same text; a failed or wrong answer is counted,
not fatal.

Kept out of the mix: ``sum(rate(click[5m]))`` evaluated at a time with no
samples in the window makes the instant handler fail on ``float(None)``
and the connection drop without a status line (see WORKLOADS.md).
"""

from __future__ import annotations

import random
import threading
import time

from perfbench import common

MIX = {  # registered query name -> (route, module constant of its text)
    "pq1_promql_sum_increase": ("/api/v1/query", "PQ1_QUERY"),
    "pq4_promql_rate_scaled": ("/api/v1/query", "PQ4_QUERY"),
    "pq5_promql_topk": ("/api/v1/query", "PQ5_QUERY"),
    "pq10_promql_vector_ratio": ("/api/v1/query", "PQ10_QUERY"),
    "pq11_promql_histogram_quantile": ("/api/v1/query", "PQ11_QUERY"),
    "pqr1_promql_range_sum_rate": ("/api/v1/query_range", "PQR1_QUERY"),
}
RANGE_SPAN_S, RANGE_STEP_S = 172_800, 21_600  # pqr1's registered grid
MAX_BLOCKS = 200
WARM_PASSES = 3


def requests_for(t_max_ms: int) -> dict[str, tuple[str, dict]]:
    from prometheus_remote_kinesis_spark import promql

    end_s = t_max_ms / 1000.0
    out = {}
    for name, (route, const) in MIX.items():
        params = {"query": getattr(promql, const)}
        if route.endswith("query_range"):
            params.update(start=end_s - RANGE_SPAN_S, end=end_s, step=RANGE_STEP_S)
        out[name] = (route, params)
    return out


def answer_digest(columns: list[str], answer: dict | None) -> str | None:
    """The rows of an API answer in the oracle's columns: labels as the
    strings the API returns, ``value`` as a double, ``t_ms`` for ranges."""
    if not answer or answer.get("status") != "success":
        return None
    rows = []
    for series in answer["data"]["result"]:
        points = series.get("values") or [series["value"]]
        for t_s, v in points:
            cells = dict(series["metric"], t_ms=round(t_s * 1000), value=float(v))
            rows.append([cells.get(c) for c in columns])
    return common.digest(columns, rows)


def oracle_digests(results: dict[str, tuple[list[str], list]]) -> dict:
    """``(columns, digest)`` per mix query from its oracle's rows, label
    cells rendered as the strings the API returns."""
    out = {}
    for name in MIX:
        columns, rows = results[name]
        keep = [c in ("value", "t_ms") for c in columns]
        rows = [[v if k or v is None else str(v) for v, k in zip(r, keep)] for r in rows]
        out[name] = (columns, common.digest(columns, rows))
    return out


class _QueryTrace:
    """Per-request layer times, by wrapping ``promql.parse``,
    ``promql.compile_promql`` and ``promql.compile_promql_range`` (the
    handlers look them up at call time) and the handlers themselves.
    Requests made while ``on`` is false only pass through."""

    def __init__(self, spark):
        from prometheus_remote_kinesis_spark import promql

        self.promql, self.spark = promql, spark
        self.on = False
        self.records: list[dict] = []
        self.local = threading.local()
        self.saved = {n: getattr(promql, n) for n in
                      ("parse", "compile_promql", "compile_promql_range")}

    def _parse(self, *args, **kwargs):
        rec = getattr(self.local, "rec", None)
        t0 = time.perf_counter()
        try:
            return self.saved["parse"](*args, **kwargs)
        finally:
            if rec is not None:
                rec["parse_ms"] += 1000.0 * (time.perf_counter() - t0)

    def _compile(self, name: str):
        def call(*args, **kwargs):
            rec = getattr(self.local, "rec", None)
            if rec is None:
                return self.saved[name](*args, **kwargs)
            t0 = time.perf_counter()
            df = self.saved[name](*args, **kwargs)
            t1 = time.perf_counter()
            plan = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rec["compile_ms"] += 1000.0 * (t1 - t0) - rec["parse_ms"]
            rec["plan_ms"] += 1000.0 * (t2 - t1)
            rec["exchanges"] += common.count_exchanges(plan.toString())
            return df

        return call

    def handler(self, fn):
        def call(*args):
            if not self.on:
                return fn(*args)
            rec = {"parse_ms": 0.0, "compile_ms": 0.0, "plan_ms": 0.0, "exchanges": 0}
            group = f"perfbench-{len(self.records)}"
            sc = self.spark.sparkContext
            sc.setJobGroup(group, "perfbench promql request")
            self.local.rec = rec
            t0 = time.perf_counter()
            try:
                return fn(*args)
            finally:
                rec["handler_ms"] = 1000.0 * (time.perf_counter() - t0)
                self.local.rec = None
                rec["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.records.append(rec)

        return call

    def __enter__(self) -> "_QueryTrace":
        self.promql.parse = self._parse
        self.promql.compile_promql = self._compile("compile_promql")
        self.promql.compile_promql_range = self._compile("compile_promql_range")
        return self

    def __exit__(self, *exc) -> None:
        for name, fn in self.saved.items():
            setattr(self.promql, name, fn)


def traced_pass(ctx) -> dict:
    """The API mix with every timed request traced; returns ``layers``,
    ``attempted``, ``failed`` and ``wrong``."""
    from prometheus_remote_kinesis_spark.promql import (
        make_promql_http_handler,
        make_promql_range_http_handler,
    )
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer

    spark, data = ctx.spark, ctx.data_dir
    reqs = requests_for(ctx.build["t_max_ms"])
    expected = ctx.build["promql_digests"]
    rng = random.Random(f"perfbench-promql-{ctx.seed}")
    names = []
    for _ in range(MAX_BLOCKS):
        block = sorted(MIX)
        rng.shuffle(block)
        names += block
    trace = _QueryTrace(spark)

    srv = RemoteWriteServer(
        ctx.path("spool-promql"),
        query_handler=trace.handler(make_promql_http_handler(spark, data)),
        range_handler=trace.handler(make_promql_range_http_handler(spark, data)),
    ).start()
    base = srv.url.rsplit("/", 1)[0]
    try:
        with trace:
            # Untimed warm-up: a request's latency keeps falling over the
            # first passes (the JVM compiles the hot paths).
            warm = ctx.gen.call(cmd="query", base=base,
                                requests=[reqs[n] for n in sorted(MIX)] * WARM_PASSES,
                                seconds=0, block=len(MIX) * WARM_PASSES)
            trace.on = True
            got = ctx.gen.call(cmd="query", base=base, requests=[reqs[n] for n in names],
                               seconds=ctx.seconds, block=len(MIX))
    finally:
        srv.stop()

    sent = names[:len(got["statuses"])]
    wrong = 0
    failed = sum(s != 200 for s in warm["statuses"] + got["statuses"])
    for name, status, answer in zip(sent, got["statuses"], got["answers"]):
        if status == 200 and answer_digest(expected[name][0], answer) != expected[name][1]:
            wrong += 1
    recs = trace.records
    layers = {f"promql.{k}": common.mean([r[k] for r in recs]) for k in
              ("parse_ms", "compile_ms", "plan_ms", "spark_jobs", "exchanges")}
    layers["promql.execute_ms"] = common.mean(
        [r["handler_ms"] - r["parse_ms"] - r["compile_ms"] - r["plan_ms"] for r in recs]
    )
    layers["server.api_serialize_ms"] = common.mean(got["latency_ms"]) - common.mean(
        [r["handler_ms"] for r in recs]
    )
    return {"layers": layers, "attempted": len(warm["statuses"]) + len(sent),
            "failed": failed, "wrong": wrong}
