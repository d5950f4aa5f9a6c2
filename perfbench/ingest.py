"""The two ingest workloads: real-snappy remote-write POSTs into
``RemoteWriteServer``, then ``availableNow`` relay drains into the
counting sink.

- ``ingest_raw``: ``RemoteWriteServer(raw=True)`` spools the validated
  snappy bodies; the drain decodes them on executors through
  ``read_prompb_record_stream(parallel=True)``.
- ``ingest_ndjson``: the default spool mode; the handler flattens and
  writes NDJSON, the drain reads it with ``read_record_stream``.

Set-up is one cold pass of the whole path: a server on its own spool,
``bodies.WARM_BODIES`` warm-up POSTs, one drain of that spool. The timed part is
the open loop of POSTs (``post_p50_ms``), made before the set-up
drain so that the JVM's work after a drain does not compete with the
handler, and then ``DRAINS`` drains of the whole spool, each from a
fresh checkpoint into a fresh sink directory (``drain_records_per_s`` is
the median drain's records per second; a drain's time starts before its
source stream is built, and the cold drain's counts in set-up). Every
drain must deliver exactly the samples of the accepted POSTs: the count
and the order-independent checksum are compared after the drain. A
failed POST, a failed drain or a wrong delivery, warm-up included, is
counted in ``failed``; none of them ends the run.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from perfbench import common
from perfbench.bodies import SERIES_PER_BODY, record_checksum
from perfbench.sink import CountingPut, tally

DRAINS = {"ingest_raw": 1, "ingest_ndjson": 4}
RELAY_STAGES = ("addBatch", "latestOffset", "getBatch", "walCommit",
                "commitOffsets", "queryPlanning", "triggerExecution")


class _ServerTrace:
    """Times the handler's stages by wrapping the public functions it
    calls. Only the requests flagged ``True`` in ``plan`` (consumed in
    arrival order) are timed, so traced and untraced requests of the
    same run can be compared."""

    def __init__(self, server, plan: list[bool]):
        from prometheus_remote_kinesis_spark import server as server_mod

        self.mod = server_mod
        self.server = server
        self.plan = iter(plan)
        self.flags: list[bool] = []
        self.watch = common.Stopwatch()
        self.local = threading.local()
        self.saved = {n: getattr(server_mod, n) for n in
                      ("snappy_decompress", "parse_write_request", "flatten_timeseries")}

    def _stage(self, stage: str, fn, first: bool = False):
        def call(*args, **kwargs):
            if first:
                self.local.on = next(self.plan, False)
                self.flags.append(self.local.on)
            if not getattr(self.local, "on", False):
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.watch.add(stage, time.perf_counter() - t0)

        return call

    def __enter__(self) -> "_ServerTrace":
        s = self.saved
        self.mod.snappy_decompress = self._stage("snappy", s["snappy_decompress"], first=True)
        self.mod.parse_write_request = self._stage("parse", s["parse_write_request"])
        self.mod.flatten_timeseries = self._stage("flatten", s["flatten_timeseries"])
        self.server.spool = self._stage("spool", self.server.spool)
        self.server.spool_raw = self._stage("spool", self.server.spool_raw)
        return self

    def __exit__(self, *exc) -> None:
        for name, fn in self.saved.items():
            setattr(self.mod, name, fn)
        del self.server.spool, self.server.spool_raw


def run(ctx, workload: str) -> dict:
    from prometheus_remote_kinesis_spark.server import RemoteWriteServer
    from prometheus_remote_kinesis_spark.streaming.pipeline import (
        read_prompb_record_stream,
        read_record_stream,
        relay,
    )

    spark, raw = ctx.spark, workload == "ingest_raw"
    n_drains = 0

    def drain(spool: str) -> tuple[float, dict, list[dict]] | None:
        """One drain into a fresh sink; ``None`` when the relay failed."""
        nonlocal n_drains
        n_drains += 1
        sink_dir = ctx.path(f"sink-{n_drains}")
        os.makedirs(sink_dir)
        t0 = time.perf_counter()  # the drain includes building its source stream
        try:
            records = (read_prompb_record_stream(spark, spool, parallel=True)
                       if raw else read_record_stream(spark, spool))
            q = relay(records, CountingPut(sink_dir), ctx.path(f"ckpt-{n_drains}"),
                      available_now=True)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(q.exception())
        except Exception as exc:  # noqa: BLE001 — a failed drain is counted, not fatal
            print(f"perfbench: relay drain failed: {exc}", file=sys.stderr)
            return None
        seconds = time.perf_counter() - t0
        return seconds, tally(sink_dir), [json.loads(p.json) for p in q.recentProgress]

    def delivered_ok(done, sent: dict) -> bool:
        return done is not None and (
            record_checksum(done[1]["lines"]) == (sent["samples_accepted"], sent["checksum"]))

    # ---- set-up, first part: warm-up POSTs
    warm_spool = ctx.path("spool-warm")
    srv = RemoteWriteServer(warm_spool, raw=raw).start()
    try:
        warm = ctx.gen.call(cmd="warm", url=srv.url)
    finally:
        srv.stop()
    ctx.setup_done()

    # ---- timed: open-loop POSTs
    spool = ctx.path("spool")
    srv = RemoteWriteServer(spool, raw=raw).start()
    plan = [k % 2 == 1 for k in range(ctx.n_bodies)] if ctx.trace else []
    trace = _ServerTrace(srv, plan)
    try:
        with trace:
            sent = ctx.gen.call(cmd="post", url=srv.url)
    finally:
        srv.stop()

    # ---- set-up, second part: the cold drain
    done = drain(warm_spool)
    if done is not None:
        ctx.setup_s += done[0]
    failed_setup = sum(s != 200 for s in warm["statuses"]) + (not delivered_ok(done, warm))

    # ---- timed: drains of the whole spool
    rates, progress, sink_counts, failed_drains = [], [], [], 0
    for _ in range(DRAINS[workload]):
        done = drain(spool)
        if not delivered_ok(done, sent):
            failed_drains += 1
        if done is not None:
            seconds, got, prog = done
            rates.append(got["entries"] / seconds)
            progress.append(prog)
            sink_counts.append(got)

    failed_posts = sum(s is None or not 200 <= s < 300 for s in sent["statuses"])
    latencies = sent["latency_ms"]
    out = {
        "attempted": len(warm["statuses"]) + 1 + len(sent["statuses"]) + DRAINS[workload],
        "failed": failed_setup + failed_posts + failed_drains,
        "correct": failed_setup + failed_drains == 0,
        "op_ms": latencies,
        "drain_records_per_s": common.median(rates) if rates else 0.0,
        "layers": {},
    }
    if ctx.trace:
        out["layers"] = _layers(spark, raw, spool, sent, trace, progress, sink_counts)
    return out


def _layers(spark, raw, spool, sent, trace, progress, sink_counts) -> dict:
    totals = trace.watch.totals
    n_traced = max(1, trace.flags.count(True))
    samples_traced = SERIES_PER_BODY * n_traced
    lat = sent["latency_ms"]
    traced_lat = [x for x, on in zip(lat, trace.flags) if on]
    plain_lat = [x for x, on in zip(lat, trace.flags) if not on]
    stage_ms = 1000.0 * sum(totals.values()) / n_traced
    spool_bytes = sum(os.path.getsize(os.path.join(spool, f)) for f in os.listdir(spool)
                      if not f.startswith("."))
    n_samples = sent["samples_accepted"] or 1
    layers = {
        "prompb.snappy_us_per_sample": 1e6 * totals.get("snappy", 0.0) / samples_traced,
        "prompb.parse_us_per_sample": 1e6 * totals.get("parse", 0.0) / samples_traced,
        "server.flatten_us_per_sample": 1e6 * totals.get("flatten", 0.0) / samples_traced,
        "server.spool_us_per_sample": 1e6 * totals.get("spool", 0.0) / samples_traced,
        "server.spool_bytes_per_sample": spool_bytes / n_samples,
        "server.http_ms": common.mean(traced_lat) - stage_ms,
        "generator.lag_ms_p95": common.percentile(sent["lag_ms"], 95),
        "trace.overhead_ms": common.median(traced_lat) - common.median(plain_lat),
    }
    if raw:
        from prometheus_remote_kinesis_spark.sources.prompb_datasource import (
            register_prompb_source,
        )

        register_prompb_source(spark)
        t0 = time.perf_counter()
        spark.read.format("prompb").load(spool).write.format("noop").mode("overwrite").save()
        layers["prompb_datasource.decode_us_per_sample"] = (
            1e6 * (time.perf_counter() - t0) / n_samples
        )
    n = max(1, len(progress))
    batches = [p for drain in progress for p in drain]
    layers["relay.batches"] = len(batches) / n
    layers["relay.input_rows"] = sum(p.get("numInputRows", 0) for p in batches) / n
    for stage in RELAY_STAGES:
        layers[f"relay.{stage}_ms"] = sum(
            (p.get("durationMs") or {}).get(stage, 0) for p in batches
        ) / n
    for key in ("put_calls", "entries", "bytes", "failed_entries"):
        layers[f"sinks.{key}"] = sum(c[key] for c in sink_counts) / n
    return layers
