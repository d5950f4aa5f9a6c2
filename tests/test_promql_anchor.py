"""The PromQL evaluation time T: one resolver (``corpus_max_ms``), called
once per compile, inlined as a literal at every anchor.

- Unprovable footers: with ``max_ts_ms`` forced to None the resolver's
  one scalar job must yield the same T, so every kernel family answers
  the same rows.
- Resolve-once: a compile reads T (and the footers) exactly once, and
  not at all when the client supplies the time or the grid is literal.
- Empty corpus: T is NULL, and the answers keep their Prometheus shape
  (absent → one sample, everything else → no sample).
"""

from __future__ import annotations

import os

import pytest

from prometheus_remote_kinesis_spark import promql
from prometheus_remote_kinesis_spark.promql import (
    compile_promql,
    compile_promql_range,
    make_promql_http_handler,
)
from prometheus_remote_kinesis_spark.sources import tables
from tests.conftest import SF_SMOKE

SF01 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")

# one query per anchor site: instant selector, range function (with and
# without offset), aggregated rate, quantile_over_time, absent (hit and
# miss), histogram_quantile, predict_linear, a subquery, timestamp()
ANCHOR_QUERIES = (
    "click",
    "count_over_time(error[1d])",
    "count_over_time(error[1d] offset 6h)",
    "sum(rate(view[1d]))",
    "quantile_over_time(0.5, purchase[1d])",
    "absent(click)",
    "absent(no_such_metric)",
    "histogram_quantile(0.9, sum by (le) (count_over_time(view_bucket[1d])))",
    "predict_linear(purchase[30d], 3600)",
    "max_over_time(sum_over_time(view[1d])[2d:6h])",
    "timestamp(purchase)",
)


def _range(spark, sf_dir):
    return compile_promql_range(
        spark, sf_dir, "sum(rate(view[1d]))",
        step_ms=21_600_000, span_ms=172_800_000,
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_unprovable_footers_give_identical_rows(spark, monkeypatch):
    handler = make_promql_http_handler(spark, SF01)
    want = {q: _rows(compile_promql(spark, SF01, q)) for q in ANCHOR_QUERIES}
    want_range = _rows(_range(spark, SF01))
    want_t, _ = handler("click")
    assert any(want.values()) and want_range

    footer_calls = []

    def unprovable(*args, **kwargs):
        footer_calls.append(args)
        return None

    monkeypatch.setattr(tables, "max_ts_ms", unprovable)
    for q in ANCHOR_QUERIES:
        assert _rows(compile_promql(spark, SF01, q)) == want[q], q
    assert _rows(_range(spark, SF01)) == want_range
    got_t, _ = handler("click")
    assert got_t == want_t and got_t > 0
    # every compile went through the footer reader, then the scalar job
    assert len(footer_calls) == len(ANCHOR_QUERIES) + 2


@pytest.fixture
def counted(monkeypatch):
    """Count resolver calls (as the compiler sees them) and footer reads."""
    n = {"resolve": 0, "footer": 0}
    resolve, footer = promql.corpus_max_ms, tables.max_ts_ms

    def counting_resolve(*a, **k):
        n["resolve"] += 1
        return resolve(*a, **k)

    def counting_footer(*a, **k):
        n["footer"] += 1
        return footer(*a, **k)

    monkeypatch.setattr(promql, "corpus_max_ms", counting_resolve)
    monkeypatch.setattr(tables, "max_ts_ms", counting_footer)

    def take():
        out = dict(n)
        n.update(resolve=0, footer=0)
        return out

    return take


@pytest.mark.parametrize("q", [
    "increase(error[1d]) / increase(view[1d])",
    "max_over_time(sum_over_time(view[1d])[2d:6h])",
])
def test_t_resolved_once_per_compile(spark, counted, q):
    compile_promql(spark, SF_SMOKE, q)
    assert counted() == {"resolve": 1, "footer": 1}
    compile_promql(spark, SF_SMOKE, q, eval_ms=1_705_276_800_000)
    assert counted() == {"resolve": 0, "footer": 0}


def test_t_resolution_range_and_http(spark, counted):
    compile_promql_range(
        spark, SF_SMOKE, "increase(error[1d]) / increase(view[1d])",
        step_ms=21_600_000, start_ms=1_705_000_000_000,
        end_ms=1_705_276_800_000,
    )
    assert counted() == {"resolve": 0, "footer": 0}
    _range(spark, SF_SMOKE)
    assert counted() == {"resolve": 1, "footer": 1}
    # the HTTP handler resolves once and shares T with its compile
    make_promql_http_handler(spark, SF_SMOKE)("sum(rate(view[1d]))")
    assert counted()["footer"] == 1


@pytest.fixture(scope="module")
def empty_events_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("empty_events")
    schema = pq.read_schema(f"{SF_SMOKE}/events.parquet")
    pq.write_table(
        pa.Table.from_batches([], schema), str(out / "events.parquet")
    )
    return str(out)


def test_empty_corpus_answers(spark, empty_events_dir):
    d = empty_events_dir
    assert tables.corpus_max_ms(spark, d) is None
    assert [r["value"] for r in compile_promql(spark, d, "absent(click)").collect()] == [1.0]
    assert compile_promql(spark, d, "click").collect() == []
    # an aggregation over no series has no row
    assert compile_promql(spark, d, "sum(rate(click[5m]))").collect() == []
    assert _range(spark, d).collect() == []
    assert make_promql_http_handler(spark, d)("click") == (0.0, [])
