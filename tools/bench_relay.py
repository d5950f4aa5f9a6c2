"""Layer-A relay throughput bench: the reference's whole writer path
(NDJSON source → flatten/normalize → encode → ≤500/≤4.5 MB chunked put)
under Structured Streaming, with a no-op injected sink (no AWS), measured
end-to-end.

The comparison target is BASELINE.md: the reference's steady-state ceiling
is ~50 records/s per writer when only the 10 s ticker fires (500 entries /
10 s, kinesis.go:22-23 + main.go:75), and it is single-goroutine row-at-a-
time JSON regardless (kinesis.go:63,99-151). AWS itself caps a shard at
1,000 records/s. This bench prints how many records/s the Spark relay
drains from disk through the exact same chunking semantics.

Usage: python tools/bench_relay.py  [$SPARK_GRAFT_SF_DIR, default sf0.1]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prometheus_remote_kinesis_spark.ingest_queries import _event_records
from prometheus_remote_kinesis_spark.session import get_spark
from prometheus_remote_kinesis_spark.sinks import PutBatch, encode_ndjson
from prometheus_remote_kinesis_spark.streaming.pipeline import (
    read_record_stream,
    relay,
)

REFERENCE_TICKER_CEILING_RPS = 500 / 10.0  # kinesis.go:22-23 + main.go:75
AWS_SHARD_QUOTA_RPS = 1000.0  # public Kinesis per-shard write quota


def noop_put(batch: PutBatch) -> list[int]:
    """Injected sink stand-in: always succeeds (no failed indices)."""
    return []


def _progress_breakdown(query) -> dict[str, int]:
    """Sum the engine's per-batch ``durationMs`` decomposition over a
    drained query's recentProgress — where a drain's wall-clock went
    (triggerExecution ≈ total; addBatch = sink+plan execution;
    latestOffset/getBatch = source listing; walCommit/commitOffsets =
    checkpoint I/O). The r6 cold-start decomposition precedent
    (SCALE.md), now attached to every timed run so a warm-rate outlier
    is attributable instead of mysterious."""
    import json as _json

    total: dict[str, int] = {}
    for p in query.recentProgress:
        for k, v in (_json.loads(p.json).get("durationMs") or {}).items():
            total[k] = total.get(k, 0) + int(v)
    return total


def wait_quiet_box(threshold_per_cpu: float = 0.5, timeout_s: float = 120.0) -> float:
    """Block until the 1-minute loadavg drops below threshold_per_cpu ×
    n_cpus (or the timeout passes); returns the loadavg measurements'
    final value. The r4–r8 relay-warm band (100.9–154 k rec/s with
    stable cold numbers) tracked box load, not code — measuring on a
    quiet box separates the two."""
    n = os.cpu_count() or 1
    deadline = time.time() + timeout_s
    load = os.getloadavg()[0]
    while load > threshold_per_cpu * n and time.time() < deadline:
        time.sleep(5.0)
        load = os.getloadavg()[0]
    return load


def measure(spark, sf_dir: str, runs: int = 1) -> dict:
    """Run the relay end-to-end; return the metrics dict (also used
    by bench.py so the driver-recorded JSON carries the BASELINE.md-
    comparable throughput numbers). With runs > 1, the warm drain is
    repeated and ``value`` is the MEDIAN-of-runs rate, with the min/max
    band and the engine's durationMs decomposition reported alongside
    (VERDICT r8 task #4: pin the warm-variance noise band)."""
    workdir = tempfile.mkdtemp(prefix="relay_bench_")
    src = os.path.join(workdir, "src")
    ckpt = os.path.join(workdir, "ckpt")
    try:
        # Stage the wire-format input (not timed): records → NDJSON files.
        records = _event_records(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        n_records = records.count()
        encoded = encode_ndjson(records).select("line")
        encoded.write.mode("overwrite").format("text").save(src)
        n_bytes = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".txt") or f.startswith("part-")
        )

        # Steady-state methodology, same as bench.py's query side: a
        # deployed relay is a LONG-RUNNING stream, so its throughput is
        # the per-micro-batch drain rate, not the one-time session cost
        # (Catalyst analysis, codegen compile, stream init — measured
        # ~5 s cold vs ~1.1 s warm for the identical 100k-record drain).
        # Warm-up run (fresh checkpoint, full drain, untimed), then the
        # timed run; the cold number is reported alongside.
        t0 = time.time()
        q = relay(
            read_record_stream(spark, src),
            put_records_fn=noop_put,
            checkpoint_dir=ckpt + "_warmup",
            available_now=True,
        )
        q.awaitTermination()
        cold_elapsed = time.time() - t0

        elapsed_all: list[float] = []
        breakdowns: list[dict[str, int]] = []
        for i in range(max(1, runs)):
            t0 = time.time()
            q = relay(
                read_record_stream(spark, src),
                put_records_fn=noop_put,
                checkpoint_dir=f"{ckpt}_run{i}",
                available_now=True,
            )
            q.awaitTermination()
            elapsed_all.append(time.time() - t0)
            breakdowns.append(_progress_breakdown(q))

        import statistics as _stats

        elapsed = _stats.median(elapsed_all)
        rps = n_records / elapsed
        out = {
            "metric": "relay_throughput",
            "value": round(rps, 1),
            "unit": "records/sec",
            "records": n_records,
            "mb": round(n_bytes / 1e6, 2),
            "elapsed_sec": round(elapsed, 3),
            "cold_elapsed_sec": round(cold_elapsed, 3),
            "cold_records_per_sec": round(n_records / cold_elapsed, 1),
            "mb_per_sec": round(n_bytes / 1e6 / elapsed, 2),
            "reference_ticker_ceiling_rps": REFERENCE_TICKER_CEILING_RPS,
            "aws_shard_quota_rps": AWS_SHARD_QUOTA_RPS,
            "speedup_vs_reference_ticker": round(
                rps / REFERENCE_TICKER_CEILING_RPS, 1
            ),
            "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        }
        if runs > 1:
            out["runs"] = runs
            out["elapsed_all_sec"] = [round(e, 3) for e in elapsed_all]
            out["records_per_sec_min"] = round(n_records / max(elapsed_all), 1)
            out["records_per_sec_max"] = round(n_records / min(elapsed_all), 1)
            # median per-phase ms across runs (keys the engine reports)
            keys = {k for b in breakdowns for k in b}
            out["duration_breakdown_ms"] = {
                k: int(_stats.median([b.get(k, 0) for b in breakdowns]))
                for k in sorted(keys)
            }
        return out
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    args = sys.argv[1:]
    runs = 1
    if "--runs" in args:
        runs = int(args[args.index("--runs") + 1])
    if "--quiet-box" in args:
        load = wait_quiet_box()
        print(f"# loadavg at start: {load:.2f}", file=sys.stderr)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_relay")
    print(json.dumps(measure(spark, sf_dir, runs=runs)))


if __name__ == "__main__":
    main()


def measure_prompb(spark, sf_dir: str, bodies: int = 64, runs: int = 1) -> dict:
    """Raw-spool relay variant: the same record stream staged as snappy
    prompb WriteRequest bodies (what RemoteWriteServer(raw=True) persists),
    decoded INSIDE Spark by ``read_prompb_record_stream`` (Spark's
    binaryFile source, bodies packed into few tasks, ``decode_body``),
    then through the identical chunked-put sink. Directly comparable to
    ``measure``: same records, decode moved from HTTP handler to
    executors.

    The headline ``value`` is the MARGINAL (asymptotic) rate from two
    volume points — a 1× drain and a 4× drain (the staged bodies
    replicated 4 times): rate = 3n / (t_4x − t_1x). At sf0.1 the 1×
    drain is dominated by the ~2.6 s fixed micro-batch/Python-worker
    setup that a long-running stream pays once, so a raw n/t_1x number
    measures setup, not decode throughput, and masks regressions in the
    decode loop (the r5 lesson: SCALE.md's 4×-volume protocol showed
    153 k rec/s while the 1× quotient reported 32 k). Differencing two
    volumes cancels the fixed setup exactly; the 1× quotient and the
    implied setup seconds are reported alongside for continuity.

    With ``runs > 1`` the timed (1×, 4×) pair repeats and ``value`` is
    the MEDIAN of the per-run marginal rates, with the min/max band
    reported alongside (VERDICT r9 task #2: prompb history bounced
    32–109 k with no band; the marginal rate differences two clocks, so
    it is NOISIER than the plain relay rate and needs the band even
    more — a single-shot 83.6 k in r9 read as a regression when it was
    inside the band)."""
    from prometheus_remote_kinesis_spark.sources.prompb import (
        encode_remote_write_body,
    )
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        read_prompb_record_stream,
    )

    workdir = tempfile.mkdtemp(prefix="relay_prompb_bench_")
    src = os.path.join(workdir, "src")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(src)
    try:
        # Stage (not timed): group records into `bodies` WriteRequests —
        # each body one series list, mirroring one POST per batch.
        rows = (
            _event_records(spark, sf_dir)
            .select("name", "time", "value", "labels")
            .toPandas()
        )
        n_records = len(rows)
        import math as _math

        per = _math.ceil(n_records / bodies)
        n_bytes = 0
        for i in range(bodies):
            chunk = rows.iloc[i * per : (i + 1) * per]
            if not len(chunk):
                break
            series = [
                (dict(r.labels), [(r.value if r.value is not None else float("nan"), r.time)])
                for r in chunk.itertuples()
            ]
            body = encode_remote_write_body(series)
            n_bytes += len(body)
            with open(os.path.join(src, f"b{i:05d}.pb.sz"), "wb") as fh:
                fh.write(body)

        # 4× staging: the same bodies hard-linked 4 times — identical
        # decode work per record, 4× the volume, zero extra encode cost.
        src4 = os.path.join(workdir, "src4")
        os.makedirs(src4)
        for f in os.listdir(src):
            for r in range(4):
                os.link(os.path.join(src, f), os.path.join(src4, f"r{r}_{f}"))

        # same steady-state warm-up as measure() — see the note there
        t0 = time.time()
        q = relay(
            read_prompb_record_stream(spark, src),
            put_records_fn=noop_put,
            checkpoint_dir=ckpt + "_warmup",
            available_now=True,
        )
        q.awaitTermination()
        cold_elapsed = time.time() - t0

        import statistics as _stats

        def _timed_pair(i: int) -> tuple[float, float]:
            t0 = time.time()
            q = relay(
                read_prompb_record_stream(spark, src),
                put_records_fn=noop_put,
                checkpoint_dir=f"{ckpt}_run{i}",
                available_now=True,
            )
            q.awaitTermination()
            e1 = time.time() - t0
            t0 = time.time()
            q = relay(
                read_prompb_record_stream(spark, src4),
                put_records_fn=noop_put,
                checkpoint_dir=f"{ckpt}_run{i}_4x",
                available_now=True,
            )
            q.awaitTermination()
            return e1, time.time() - t0

        def _marginal(e1: float, e4: float) -> float:
            # Marginal rate: the fixed per-drain setup cancels in the
            # difference. Guard against clock noise making t_4x <= t_1x
            # (tiny corpora): fall back to the 4× quotient, still far
            # less setup-dominated than the 1× one.
            if e4 > e1:
                return 3 * n_records / (e4 - e1)
            return 4 * n_records / e4

        pairs = [_timed_pair(i) for i in range(max(1, runs))]
        rates = [_marginal(e1, e4) for e1, e4 in pairs]
        # median run (by rate) supplies the headline + continuity fields
        mid = sorted(range(len(rates)), key=lambda i: rates[i])[len(rates) // 2]
        elapsed, elapsed_4x = pairs[mid]
        rps = rates[mid]
        setup_sec = max(0.0, elapsed - n_records / rps)
        band = (
            {
                "runs": runs,
                "records_per_sec_min": round(min(rates), 1),
                "records_per_sec_max": round(max(rates), 1),
                "elapsed_pairs_sec": [
                    [round(a, 3), round(b, 3)] for a, b in pairs
                ],
            }
            if runs > 1
            else {}
        )
        return {
            **band,
            "metric": "relay_prompb_throughput",
            "value": round(rps, 1),
            "unit": "records/sec",
            "records": n_records,
            "wire_mb": round(n_bytes / 1e6, 2),
            "elapsed_sec": round(elapsed, 3),
            "elapsed_4x_sec": round(elapsed_4x, 3),
            "cold_elapsed_sec": round(cold_elapsed, 3),
            # Methodology marker (r6 ADVICE): "marginal_4x" = 3n/(t4x−t1x),
            # the r6+ semantics. Rounds ≤5 reported the raw 1x quotient
            # (setup-dominated, ~32.5k at r5) — trend tables must not
            # conflate the method switch with a real speedup; the 1x
            # quotient stays alongside for continuity.
            "prompb_method": (
                "marginal_4x" if elapsed_4x > elapsed else "quotient_4x"
            ),
            "records_per_sec_1x_quotient": round(n_records / elapsed, 1),
            "setup_sec_implied": round(setup_sec, 3),
            "speedup_vs_reference_ticker": round(
                rps / REFERENCE_TICKER_CEILING_RPS, 1
            ),
            "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
