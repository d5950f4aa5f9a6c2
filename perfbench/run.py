"""Run one benchmark workload against the engine in this checkout.

Usage::

    python3 perfbench/run.py --workload ingest_raw --seed 1 --seconds 8 --trace 0

Workloads: ``ingest_raw`` and ``ingest_ndjson`` (see
``perfbench/WORKLOADS.md``); traced runs also measure the layers of the
PromQL HTTP API and of the headline batch queries. The program is the
engine package next to this directory, driven only through its public
surface; the inputs are made from ``--seed``. Before the first run the
benchmark builds its state under ``.perfbench/build-<key>`` (the DuckDB
oracle answers, keyed by a hash of what they depend on); each run works
in its own directory under ``.perfbench`` and removes it at the end.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it holds load diagnostics (the loadavg and CPU pressure at
start, and in traced runs the ``calibrate()`` probe of ``bench.py``, run
after the timed region), recorded only.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(HERE, "data")  # the sf0.1 tables the queries read
ENGINE = "prometheus_remote_kinesis_spark"

ENGINE_CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "post_p50_ms": "ms",
    "drain_records_per_s": "1/s",
}
BATCH_QUERIES = (
    "a10b_histogram_quantile", "a1_pricing_summary", "j1_order_revenue",
    "j6_asof_last_order", "l2_minhash_lsh_pairs", "l3_cosine_topk",
    "l5b_top_terms", "pq1_promql_sum_increase", "pqr1_promql_range_sum_rate",
    "r2_ndjson_roundtrip", "t14_rate_5m", "t17_prefix_anomaly",
    "t5_tumbling_5min", "t7_user_sessions", "w1c_global_rank_scalable",
    "w3b_trailing_5min_scalable", "w5_gaps_islands",
)
PER_LAYER = {
    "prompb.snappy_us_per_sample": "us",
    "prompb.parse_us_per_sample": "us",
    "server.flatten_us_per_sample": "us",
    "server.spool_us_per_sample": "us",
    "server.spool_bytes_per_sample": "bytes",
    "server.http_ms": "ms",
    "server.api_serialize_ms": "ms",
    "prompb_datasource.decode_us_per_sample": "us",
    "relay.batches": "count",
    "relay.input_rows": "count",
    **{f"relay.{s}_ms": "ms" for s in (
        "addBatch", "latestOffset", "getBatch", "walCommit", "commitOffsets",
        "queryPlanning", "triggerExecution")},
    "sinks.put_calls": "count",
    "sinks.entries": "count",
    "sinks.bytes": "bytes",
    "sinks.failed_entries": "count",
    "promql.parse_ms": "ms",
    "promql.compile_ms": "ms",
    "promql.plan_ms": "ms",
    "promql.execute_ms": "ms",
    "promql.spark_jobs": "count",
    "promql.exchanges": "count",
    **{f"batch.{q}.{k}": u for q in BATCH_QUERIES
       for k, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("exchanges", "count"))},
    "engine.peak_rss_mb": "MB",
    "generator.lag_ms_p95": "ms",
    "trace.overhead_ms": "ms",
}
WORKLOADS = ("ingest_raw", "ingest_ndjson")


def _process_age_s() -> float:
    """Seconds since this process was created (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _cpu_pressure() -> dict | None:
    """The kernel's CPU pressure (share of time some task waited for a
    CPU), which shows load from outside this process tree."""
    try:
        with open("/proc/pressure/cpu") as fh:
            fields = fh.readline().split()[1:]
    except OSError:
        return None
    return {k: float(v) for k, v in (f.split("=") for f in fields) if k.startswith("avg")}


def _engine_env(work: str) -> None:
    """Keep the engine's scratch inside the checkout and size it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
        SPARK_GRAFT_CPUS=str(ENGINE_CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )


def _build_key(oracles: dict[str, str]) -> str:
    """Hash of everything the build's answers depend on: the oracle SQL,
    the mix's query texts, the data files and the benchmark's own code."""
    from perfbench import promql_api

    h = hashlib.sha256(json.dumps([sorted(oracles.items()), promql_api.requests_for(0)],
                                  sort_keys=True).encode())
    for f in sorted(os.listdir(DATA_DIR)):
        st = os.stat(os.path.join(DATA_DIR, f))
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for f in sorted(os.listdir(HERE)):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f), "rb") as fh:
                h.update(f.encode() + b":" + fh.read())
    return h.hexdigest()[:16]


def build(queries: dict) -> dict:
    """The oracle answers the runs compare with, built once under
    ``.perfbench/build-<key>``; a change to what they depend on changes
    the key and so builds them again."""
    import duckdb

    from perfbench import common, promql_api

    oracles = {n: q.oracle for n, q in queries.items()
               if q.oracle and (q.bench or n in promql_api.MIX)}
    done = os.path.join(STATE, f"build-{_build_key(oracles)}")
    meta = os.path.join(done, "build.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return json.load(fh)
    tmp = os.path.join(STATE, f"build.tmp-{os.getpid()}")
    os.makedirs(tmp)
    results = common.oracle_results(DATA_DIR, oracles)
    events = os.path.join(DATA_DIR, "events.parquet")
    out = {
        "batch_digests": {n: common.digest(*results[n])
                          for n, q in queries.items() if q.bench and q.oracle},
        "promql_digests": promql_api.oracle_digests(results),
        "t_max_ms": duckdb.sql(
            f"SELECT max(epoch_us(ts)) // 1000 FROM '{events}'").fetchone()[0],
    }
    with open(os.path.join(tmp, "build.json"), "w") as fh:
        json.dump(out, fh)
    try:
        os.rename(tmp, done)
    except OSError:  # built meanwhile by another run
        shutil.rmtree(tmp)
    return build(queries)


class LoadGen:
    """The load generator process (``loadgen.py``), one command at a time."""

    def __init__(self, seed: int, bodies: int, work: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--seed", str(seed),
             "--bodies", str(bodies)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
            env=dict(os.environ, TMPDIR=os.path.join(work, "tmp")),
        )
        self._ready = False

    def call(self, **cmd) -> dict:
        if not self._ready:
            self._read()
            self._ready = True
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"load generator exited ({self.proc.poll()})")
        return json.loads(line)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write('{"cmd": "exit"}\n')
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


class Context:
    """What a workload needs: the engine session, its inputs and clocks."""

    def __init__(self, args, work: str, build_info: dict, build_s: float, t0: float):
        from perfbench.bodies import POST_RATE

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work, self.build = work, build_info
        self.gen: LoadGen | None = None
        self.data_dir = DATA_DIR
        self.n_bodies = max(1, round(POST_RATE * args.seconds))
        self._t0, self._build_s = t0, build_s
        self.setup_s: float | None = None
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_done(self) -> None:
        """Marks the workload warm: set-up is the time since the process
        started, less the one-time build."""
        self.setup_s = time.perf_counter() - self._t0 - self._build_s


def _stop_engine(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _result(ctx: Context, out: dict, peak_rss_mb: float) -> dict:
    from perfbench import common

    if ctx.trace:
        layers = dict(out["layers"], **{"engine.peak_rss_mb": peak_rss_mb})
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": ctx.setup_s,
            "post_p50_ms": common.percentile(out["op_ms"], 50),
            "drain_records_per_s": out["drain_records_per_s"],
        }
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in END_TO_END.items()}
    return {"correct": bool(out["correct"]), "attempted": int(out["attempted"]),
            "failed": int(out["failed"]), "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.perf_counter() - _process_age_s()
    loadavg = os.getloadavg()[0]
    pressure = _cpu_pressure()
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: engine package {ENGINE!r} not found next to {HERE}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import batch, common, ingest, promql_api

    work = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(work)
    gen = ctx = None
    try:
        _engine_env(work)
        # The engine's import counts in set-up on every run; only the
        # one-time build after it is taken out.
        from prometheus_remote_kinesis_spark.registry import all_queries

        queries = all_queries()
        tb = time.perf_counter()
        build_info = build(queries)
        build_s = time.perf_counter() - tb
        ctx = Context(args, work, build_info, build_s, t0)
        gen = ctx.gen = LoadGen(args.seed, ctx.n_bodies, work)
        sampler = common.RssSampler()
        sampler.exclude.add(gen.proc.pid)
        sampler.start()
        from prometheus_remote_kinesis_spark.session import get_spark

        ctx.spark = get_spark("perfbench")
        out = ingest.run(ctx, args.workload)
        if ctx.trace:  # the other layers, after the ingest workload
            for extra in (promql_api.traced_pass(ctx), batch.traced_pass(ctx)):
                out["layers"].update(extra["layers"])
                out["attempted"] += extra["attempted"]
                out["failed"] += extra["failed"] + extra["wrong"]
                out["correct"] = out["correct"] and extra["wrong"] == 0
        peak = sampler.stop()
        diag = {"loadavg_1m_at_start": loadavg, "cpu_pressure_at_start": pressure,
                "nproc": os.cpu_count(), "engine": f"local[{ENGINE_CORES}]",
                "build_s": build_s}
        if ctx.trace:
            # The box-speed probe of bench.py, after the timed region. It
            # takes ~5 s, so untraced runs, the most numerous, skip it.
            from bench import calibrate

            diag.update(calibrate(ctx.spark))
    finally:
        if gen is not None:
            gen.close()
        if ctx is not None and ctx.spark is not None:
            _stop_engine(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    result = _result(ctx, out, peak)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
