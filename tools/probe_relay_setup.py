"""Decompose the relay's ~2.6 s fixed per-drain setup cost (VERDICT r6
task #8): `relay_cold_records_per_sec` has sat ~34.5 k for two rounds
while steady-state improved, and bench_relay's marginal-rate fix showed
the 1×-drain wall clock is mostly a fixed cost. This probe answers WHICH
fixed cost, by timing availableNow drains whose data size is ~zero so
only the machinery remains:

- ``empty_ndjson_drain``: relay over ONE 1-record NDJSON file, fresh
  checkpoint each time — the full streaming-query lifecycle (stream
  init, offset/commit log creation, micro-batch planning, foreachBatch
  python round-trip) with negligible data and a JVM-only source.
- ``tiny_prompb_drain``: the same over ONE 2-record snappy prompb body
  via ``read_prompb_record_stream`` (binaryFile source + ``mapInArrow``
  decode) — adds the Python-worker round trip of the decode.
- ``warm_checkpoint_restart``: re-start the already-drained NDJSON query
  on its existing checkpoint (no new files) — isolates checkpoint
  recovery + no-data-poll shutdown.

Each timed REPEATS times in one session after one untimed JVM/Python
warm-up; medians reported. The first-run (session-cold) times are kept
alongside: cold-vs-warm gap = one-time session costs (codegen, worker
pools), warm floor = per-drain costs a 10 s-trigger deployment pays once
per RESTART, not per batch. Usage: python tools/probe_relay_setup.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prometheus_remote_kinesis_spark.session import get_spark
from prometheus_remote_kinesis_spark.sinks import PutBatch
from prometheus_remote_kinesis_spark.sources.prompb import encode_remote_write_body
from prometheus_remote_kinesis_spark.streaming.pipeline import (
    read_prompb_record_stream,
    read_record_stream,
    relay,
)

REPEATS = 5


def noop_put(batch: PutBatch) -> list[int]:
    return []


def _drain(spark, stream_fn, ckpt: str) -> float:
    t0 = time.time()
    q = relay(
        stream_fn(),
        put_records_fn=noop_put,
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q.awaitTermination()
    return time.time() - t0


def main() -> None:
    spark = get_spark("probe_relay_setup")
    workdir = tempfile.mkdtemp(prefix="relay_setup_probe_")
    try:
        # one-record NDJSON source
        nd_src = os.path.join(workdir, "nd_src")
        os.makedirs(nd_src)
        with open(os.path.join(nd_src, "one.json"), "w") as fh:
            fh.write(
                '{"name":"m","time":1000,"value":1.0,"labels":{"__name__":"m"}}\n'
            )
        # two-record prompb body
        pb_src = os.path.join(workdir, "pb_src")
        os.makedirs(pb_src)
        body = encode_remote_write_body(
            [({"__name__": "m", "job": "x"}, [(1.0, 1000), (2.0, 2000)])]
        )
        with open(os.path.join(pb_src, "b0.pb.sz"), "wb") as fh:
            fh.write(body)

        results: dict[str, dict] = {}
        # untimed session warm-up (JVM codegen, python worker pools)
        _drain(spark, lambda: read_record_stream(spark, nd_src), os.path.join(workdir, "warm"))

        def series(name, stream_fn, ckpt_base, reuse_ckpt=False):
            times = []
            for i in range(REPEATS):
                ckpt = ckpt_base if reuse_ckpt else f"{ckpt_base}_{i}"
                times.append(round(_drain(spark, stream_fn, ckpt), 3))
            results[name] = {
                "runs": times,
                "median": round(statistics.median(times), 3),
                "first": times[0],
            }

        series(
            "empty_ndjson_drain",
            lambda: read_record_stream(spark, nd_src),
            os.path.join(workdir, "nd_ckpt"),
        )
        series(
            "tiny_prompb_drain",
            lambda: read_prompb_record_stream(spark, pb_src),
            os.path.join(workdir, "pb_ckpt"),
        )
        # restart on the ALREADY-DRAINED first NDJSON checkpoint: no new
        # files, recovery + empty poll + stop
        series(
            "warm_checkpoint_restart",
            lambda: read_record_stream(spark, nd_src),
            os.path.join(workdir, "nd_ckpt_0"),
            reuse_ckpt=True,
        )
        print(json.dumps({"metric": "relay_setup_decomposition", **results}))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
