"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import bodies as B  # noqa: E402
from perfbench import run  # noqa: E402


def _bodies(seed: int, n: int = 3) -> list[tuple[bytes, int, int]]:
    u = B.Universe(seed)
    return [B.make_body(u, seed, k, B.BASE_MS + 250 * k) for k in range(n)]


def test_generator_is_deterministic():
    assert _bodies(11) == _bodies(11)
    assert [b for b, _, _ in _bodies(11)] != [b for b, _, _ in _bodies(12)]


def test_bodies_round_trip_through_the_engine_decoders():
    from prometheus_remote_kinesis_spark.server import flatten_timeseries
    from prometheus_remote_kinesis_spark.sources.prompb import (
        parse_write_request,
        snappy_decompress,
    )

    for body, n, checksum in _bodies(5):
        raw = snappy_decompress(body)
        assert len(body) < len(raw) // 2  # really compressed
        series = parse_write_request(raw)
        assert len(series) == n == B.SERIES_PER_BODY
        assert {len(s["labels"]) for s in series} == {6, 7, 8}
        assert all(len(s["samples"]) == 1 for s in series)
        records = flatten_timeseries(series)
        stale = sum(r["value"] is None for r in records)
        assert 0 < stale < 0.03 * n
        lines = [json.dumps(r) for r in records]
        assert B.record_checksum(lines) == (n, checksum)
    names = {s["labels"][0]["value"] for s in parse_write_request(
        snappy_decompress(_bodies(5, 1)[0][0]))}
    assert 40 <= len(names) <= B.N_METRICS


def test_checksum_sees_a_lost_or_duplicated_sample():
    from prometheus_remote_kinesis_spark.server import flatten_timeseries
    from prometheus_remote_kinesis_spark.sources.prompb import (
        parse_write_request,
        snappy_decompress,
    )

    body, n, checksum = _bodies(3, 1)[0]
    lines = [json.dumps(r) for r in flatten_timeseries(
        parse_write_request(snappy_decompress(body)))]
    assert B.record_checksum(lines[1:]) != (n, checksum)
    assert B.record_checksum(lines + lines[:1]) != (n, checksum)


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_build_key_follows_the_oracles():
    oracles = {"pq1_promql_sum_increase": "SELECT 1 AS value"}
    assert run._build_key(oracles) == run._build_key(dict(oracles))
    assert run._build_key(oracles) != run._build_key(
        {"pq1_promql_sum_increase": "SELECT 2 AS value"})


def test_per_layer_batch_names_follow_the_headline_set():
    from prometheus_remote_kinesis_spark.registry import bench_queries

    assert sorted(bench_queries()) == list(run.BATCH_QUERIES)


def test_without_the_engine_the_runner_fails_fast(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_raw",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric_with_its_unit(trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_ndjson",
         "--seed", "3", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == expected
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
