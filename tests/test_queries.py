"""Smoke every registered query at sf0.001 (t1-shaped: runs + stable
schema + plausible row count). Exact value parity vs DuckDB is covered by
tools/verify_local.py at sf0.01 (the driver's t2 gate)."""

from __future__ import annotations

import pytest

from prometheus_remote_kinesis_spark.registry import all_queries
from tests.conftest import SF_SMOKE

QUERIES = all_queries()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "window_start", "window_end", "event_type", "n", "sum_value", "avg_value",
    }


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 50


def test_no_vacuous_oracles():
    """Every registered oracle must select ≥1 row at the driver scale —
    an empty oracle makes its hash check vacuous (empty==empty passes
    forever). Pins the r5 vacuity-audit fix class (sql19, t25, sql6,
    sql9, o4b, d3b) fleet-wide; DuckDB-only, so it costs seconds."""
    from tools.audit_vacuity import run_audit

    result = run_audit()
    assert result["empty"] == [], result
    # r6 ADVICE: l6b's oracle is exact only on a pure-ASCII documents
    # corpus (char-ord sum vs utf-8 byte sum) — fail loudly on drift.
    assert result["non_ascii_docs"] == 0, result


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, name):
    q = QUERIES[name]
    df = q.fn(spark, SF_SMOKE)
    n = df.count()
    assert n >= 0
    # deterministic: second run produces the same count
    assert q.fn(spark, SF_SMOKE).count() == n


class TestMaxTsFooterStats:
    """The PromQL eval time T (sources.tables.corpus_max_ms) answers from
    parquet footer statistics when they prove the corpus max
    (sources.tables.max_ts_ms); these pin the fast path to the
    scan-computed truth and the fallback contract."""

    def test_footer_equals_scan_all_sfs(self, spark):
        from pyspark.sql import functions as F

        from prometheus_remote_kinesis_spark.sources.tables import (
            load_table,
            max_ts_ms,
        )

        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            sf_dir = f"/root/testdata/{sf}"
            fast = max_ts_ms(sf_dir, "events")
            assert fast is not None, sf
            scanned = (
                load_table(spark, sf_dir, "events")
                .agg(F.max(F.unix_millis("ts")))
                .collect()[0][0]
            )
            assert fast == scanned, (sf, fast, scanned)

    def test_missing_table_falls_back(self, tmp_path):
        from prometheus_remote_kinesis_spark.sources.tables import max_ts_ms

        assert max_ts_ms(str(tmp_path), "events") is None

    def test_t_eval_matches_scan(self, spark):
        from pyspark.sql import functions as F

        from prometheus_remote_kinesis_spark.sources.tables import (
            corpus_max_ms,
            load_table,
        )

        sf_dir = SF_SMOKE.replace("sf0.001", "sf0.01")
        scanned = (
            load_table(spark, sf_dir, "events")
            .agg(F.max(F.unix_millis("ts")))
            .collect()[0][0]
        )
        t = corpus_max_ms(spark, sf_dir)
        assert isinstance(t, int) and t == scanned

    def test_footer_num_rows_equals_count(self, spark):
        from prometheus_remote_kinesis_spark.sources.tables import (
            load_table,
            table_num_rows,
        )

        for sf, name in (("sf0.01", "documents"), ("sf0.01", "embeddings")):
            sf_dir = f"/root/testdata/{sf}"
            fast = table_num_rows(sf_dir, name)
            assert fast is not None
            assert fast == load_table(spark, sf_dir, name).count()
