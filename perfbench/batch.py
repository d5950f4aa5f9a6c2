"""Per-layer figures of the headline batch queries (``registry.bench_queries()``)
at sf0.1: for each query, plan build (``fn(spark, sf_dir)``), physical
planning (forcing ``queryExecution().executedPlan()``), execution
(``toPandas``) and the plan's exchange count.

This pass runs at the end of a traced run, in the engine that has just
served the ingest workload and the PromQL API pass; it is each headline
plan's first execution in that engine. Every result is compared with the digest of
its DuckDB oracle; a query without an oracle must answer a non-empty
result.
"""

from __future__ import annotations

import time

from perfbench import common


def traced_pass(ctx) -> dict:
    """One pass over the headline set; returns ``layers``, ``attempted``,
    ``failed`` and ``wrong``."""
    from prometheus_remote_kinesis_spark.registry import bench_queries

    queries = bench_queries()
    expected = ctx.build["batch_digests"]
    layers: dict[str, float] = {}
    failed = wrong = 0
    for name in sorted(queries):
        t0 = time.perf_counter()
        try:
            df = queries[name](ctx.spark, ctx.data_dir)
            t1 = time.perf_counter()
            plan = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            pdf = df.toPandas()
        except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
            failed += 1
            continue
        t3 = time.perf_counter()
        layers[f"batch.{name}.build_s"] = t1 - t0
        layers[f"batch.{name}.plan_s"] = t2 - t1
        layers[f"batch.{name}.exec_s"] = t3 - t2
        layers[f"batch.{name}.exchanges"] = common.count_exchanges(plan.toString())
        got = common.pandas_digest(pdf)
        if name in expected:
            wrong += got != expected[name]
        else:
            wrong += got.startswith("0:")
    return {"layers": layers, "attempted": len(queries), "failed": failed, "wrong": wrong}
