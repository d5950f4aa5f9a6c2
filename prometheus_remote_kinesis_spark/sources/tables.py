"""Batch scans over the driver's parquet test tables (SURVEY.md §2.1 S7-S8).

All scans are native ``DataFrameReader`` so Catalyst's predicate pushdown and
column pruning reach the parquet footer (check ``PushedFilters`` /
``ReadSchema`` in ``.explain("formatted")``). At 100 TB the same call reads a
partitioned parquet lake; nothing here is local-mode-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prometheus_remote_kinesis_spark.schema import TABLES

# Columns written as parquet TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects outright ([PARQUET_TYPE_ILLEGAL]). We flip the runtime conf
# that reads them as raw nanos longs and convert to TimestampType (µs)
# ourselves. The data carries no sub-µs components (verified: epoch_ns %
# 1000 == 0 for all rows), and DuckDB likewise reads these as µs TIMESTAMP,
# so the conversion is lossless and oracle-consistent.
_NANOS_TS_COLUMNS = {"events": ("ts",)}


def _normalize_timestamps(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Coerce TIMESTAMP_NTZ columns (incl. nested in struct/array/map) to
    TIMESTAMP under a UTC session.

    The driver's parquet stores naive ``timestamp[us]`` (isAdjustedToUTC =
    false), which Spark 4 surfaces as TIMESTAMP_NTZ — a type half the
    datetime builtins (``unix_millis``, ``window`` …) reject. DuckDB reads
    the same bytes as its (naive) TIMESTAMP. Pinning the session zone to
    UTC and casting makes the NTZ→LTZ reinterpretation the identity on the
    underlying micros, so every epoch-ms computation matches the oracle
    bit-for-bit regardless of the host session's default zone.
    """
    def convert(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.TimestampNTZType):
            return T.TimestampType()
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, convert(f.dataType), f.nullable, f.metadata) for f in dt]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(convert(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(convert(dt.keyType), convert(dt.valueType), dt.valueContainsNull)
        return dt

    casts = {
        f.name: F.col(f.name).cast(converted)
        for f in df.schema.fields
        if (converted := convert(f.dataType)) != f.dataType
    }
    if not casts:
        return df
    # session.py pins the session zone to UTC at build time; the NTZ→LTZ cast
    # is only micros-preserving under UTC, so check the invariant rather than
    # silently re-imposing it (a conf.set here would clobber a caller's zone).
    tz = spark.conf.get("spark.sql.session.timeZone")
    if not _is_utc(tz):
        raise RuntimeError(
            f"TIMESTAMP_NTZ normalization requires a UTC session timezone, got {tz!r}"
        )
    return df.withColumns(casts)


def _is_utc(tz: str) -> bool:
    """True for any zone that is UTC year-round (UTC, Etc/UTC, GMT, +00:00…).

    The driver builds a vanilla session, which inherits the container TZ
    (``Etc/UTC``) rather than the literal ``UTC`` our session builder pins.
    """
    if tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        return True
    try:
        from datetime import datetime, timedelta
        from zoneinfo import ZoneInfo

        zone = ZoneInfo(tz)
        return all(
            zone.utcoffset(datetime(2026, m, 1)) == timedelta(0) for m in (1, 7)
        )
    except Exception:
        return False

# DataFrames are immutable logical plans, so one scan plan per
# (session, sf_dir, table) can back every query. Building it fresh costs
# 0.1-0.2 s of Py4J round trips + footer schema fetch PER CALL (measured),
# which dominated short queries. Keyed by applicationId so a restarted
# session never sees plans bound to a dead context.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver test table (TESTDATA.md); plan cached per session."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    if any(k[0] != app_id for k in _DF_CACHE):
        for k in [k for k in _DF_CACHE if k[0] != app_id]:
            del _DF_CACHE[k]  # drop plans of dead sessions
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name in _NANOS_TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        for col in _NANOS_TS_COLUMNS[name]:
            if isinstance(df.schema[col].dataType, T.LongType):
                # integer `div`, NOT `/`: true division goes through double,
                # which cannot represent epoch-ns exactly (> 2^53).
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    else:
        df = spark.read.parquet(path)
    df = _normalize_timestamps(spark, df)
    _DF_CACHE[key] = df
    return df


def max_ts_ms(sf_dir: str, name: str = "events", column: str = "ts") -> int | None:
    """Exact corpus-max timestamp in epoch-ms from parquet FOOTER
    statistics, or None when the stats cannot prove it (missing/inexact
    stats, empty table, all-NULL column) — ``corpus_max_ms`` then runs
    its one scalar job.

    r13 (guide §6 — make readers skip data): ~80 instant-vector queries
    anchor at ``t_eval = max(ts)``, which planned as a full single-column
    scan + aggregate + exchange per query. INT64 timestamp min/max in
    parquet footers is exact (no truncation, NULLs excluded), so the
    scalar is answerable from metadata alone — the same stats DuckDB and
    Spark's own aggregate pushdown would use. Read per invocation from
    the parquet inputs; nothing is cached across runs. Handles a single
    file or a directory of part files; timestamps decode per their
    logical unit (datetime for us/ms, raw int for ns)."""
    import datetime as _dt
    import glob as _glob

    try:
        import pyarrow.parquet as _pq
    except Exception:
        return None

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        return None
    epoch = _dt.datetime(1970, 1, 1)
    best: int | None = None
    try:
        for fp in files:
            pf = _pq.ParquetFile(fp)
            try:
                idx = pf.schema_arrow.get_field_index(column)
                unit = pf.schema_arrow.field(column).type.unit
            except Exception:
                return None
            for rg in range(pf.metadata.num_row_groups):
                col = pf.metadata.row_group(rg).column(idx)
                st = col.statistics
                if st is None or not st.has_min_max:
                    if col.num_values == 0:
                        continue  # empty/all-NULL group constrains nothing
                    return None  # values present but unproven -> scan
                mx = st.max
                if isinstance(mx, _dt.datetime):
                    d = mx.replace(tzinfo=None) - epoch
                    us = (d.days * 86_400_000_000
                          + d.seconds * 1_000_000 + d.microseconds)
                    ms = us // 1000
                elif isinstance(mx, int):
                    div = {"ns": 1_000_000, "us": 1000, "ms": 1}.get(unit)
                    if div is None:
                        return None
                    ms = mx // div
                else:
                    return None
                best = ms if best is None else max(best, ms)
    except Exception:
        return None
    return best


def table_num_rows(sf_dir: str, name: str) -> int | None:
    """Exact UNFILTERED row count from parquet footer metadata, or None
    (missing/unreadable files) — callers fall back to ``.count()``.
    Only valid as a stand-in for counting the whole table (footer
    num_rows includes rows with NULL columns, exactly like ``count()``
    on the unfiltered scan). r13, same rationale as max_ts_ms: the
    scalar was a full Spark job at plan-BUILD time."""
    import glob as _glob

    try:
        import pyarrow.parquet as _pq
    except Exception:
        return None

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        return None
    try:
        return sum(_pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def corpus_max_ms(spark: SparkSession, sf_dir: str) -> int | None:
    """The corpus-max epoch-ms of events.ts — the evaluation time T of
    every instant-style query (the t23/t25 convention) — as a Python
    int: from footer statistics when they prove it (``max_ts_ms``, no
    Spark job), else ONE scalar ``max(unix_millis(ts))`` collect. None
    only when events holds no non-NULL ts. Read per call from the live
    inputs, never cached; callers resolve it once per query build and
    inline it as a literal."""
    ms = max_ts_ms(sf_dir, "events")
    if ms is not None:
        return ms
    return (
        load_table(spark, sf_dir, "events")
        .agg(F.max(F.unix_millis("ts")))
        .collect()[0][0]
    )


def max_ms_frame(spark: SparkSession, sf_dir: str, alias: str) -> DataFrame:
    """1-row frame holding ``corpus_max_ms`` (SQL NULL when events has no
    timestamps) — the eval anchor the t22/t23/t25/t28 batch queries
    cross-join. ONE Dataset creation (r13 guide §4: spark.range(1).select
    was two Py4J round trips + two eager analyses)."""
    ms = corpus_max_ms(spark, sf_dir)
    lit = "NULL" if ms is None else int(ms)
    return spark.sql(f"SELECT CAST({lit} AS BIGINT) AS {alias}")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
