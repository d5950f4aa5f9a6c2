"""Layer A semantics as driver-checkable queries (SURVEY.md §2.1-2.2).

The driver can only run queries over its parquet tables, so these lift the
``events`` table into the reference's record model and exercise the ingest
path's pinned behaviors — NaN→NULL (prometheus.go:28-32), name projection
(prometheus.go:19), label-map handling (prometheus.go:14-17), epoch-ms time
(record.go:10), and the NDJSON encode/decode round trip (kinesis.go:153-180,
README.rst:44-61) — against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prometheus_remote_kinesis_spark.ingest import records_from_columns
from prometheus_remote_kinesis_spark.registry import register
from prometheus_remote_kinesis_spark.schema import RECORD_SCHEMA
from prometheus_remote_kinesis_spark.sinks import encode_ndjson
from prometheus_remote_kinesis_spark.sources.tables import corpus_max_ms, load_table


def _event_records(
    spark: SparkSession, sf_dir: str, parallelize: bool = False
) -> DataFrame:
    """events → RECORD_SCHEMA rows. 'error' events get a NaN value injected
    so the stale-marker NaN→NULL rule (prometheus.go:28-32) is observable.

    ``parallelize=True`` repartitions the RAW scan to full parallelism
    before the projection: the exchange then carries the four fixed-width
    source columns instead of the widened labels-map rows, and the map
    build itself runs on every core instead of the single parquet split
    (guide §2.3 — shuffle fewer bytes; measured −17% on r2's round-trip)."""
    events = load_table(spark, sf_dir, "events")
    if parallelize:
        events = events.repartition(spark.sparkContext.defaultParallelism)
    value = F.when(F.col("event_type") == "error", F.lit(float("nan"))).otherwise(
        F.col("value")
    )
    labels = F.create_map(
        F.lit("__name__"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return records_from_columns(
        events,
        name=F.col("event_type"),
        time_ms=F.unix_millis("ts"),
        value=value,
        labels=labels,
    )


_R1_ORACLE = """
    SELECT event_type                 AS name,
           epoch_us(ts) // 1000      AS time,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
           CAST(user_id AS VARCHAR)  AS label_user
    FROM events
"""


@register("r1_event_records", family="P1-P5", oracle=_R1_ORACLE)
def r1_event_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The record model built from events: name/time/value/labels with
    NaN→NULL coercion — the oracle's CASE..NULL is the reference's
    JsonNullFloat64 semantic (record.go:21-27)."""
    return _event_records(spark, sf_dir).select(
        "name",
        "time",
        "value",
        F.element_at("labels", "user").alias("label_user"),
    )


@register("r2_ndjson_roundtrip", family="S6/S8", oracle=_R1_ORACLE, bench=True)
def r2_ndjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """records → NDJSON (to_json, explicit nulls, kinesis.go:158-163) →
    parse back under RECORD_SCHEMA (S8). Equal to r1 ⟺ the wire format
    round-trips losslessly, including ``"value": null``.

    The RAW scan is rebalanced to full parallelism before the projection
    and encode: JSON serialize+parse is compute-dense and the test corpus
    arrives as one parquet split, which would otherwise pin both codec
    passes to a single core (same rationale as llm.dedup.shingled_docs).
    Repartitioning before the projection (r13) ships the four narrow
    source columns through the exchange instead of the labels-map rows
    and parallelizes the map build itself — measured −17% warm."""
    records = _event_records(spark, sf_dir, parallelize=True)
    encoded = encode_ndjson(records)
    decoded = encoded.select(F.from_json("line", RECORD_SCHEMA).alias("r"))
    return decoded.select(
        F.col("r.name").alias("name"),
        F.col("r.time").alias("time"),
        F.col("r.value").alias("value"),
        F.element_at("r.labels", "user").alias("label_user"),
    )


@register(
    "r3_flatten_writerequest",
    family="P3-P4",
    oracle="""
        SELECT event_type AS name, count(*) AS n_records,
               count(value) AS n_non_null
        FROM (SELECT event_type,
                     CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
              FROM events)
        GROUP BY event_type
    """,
)
def r3_flatten_writerequest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips events through the nested WriteRequest shape
    (series = (user, type) with a labels list and a samples list —
    prompb.TimeSeries) and back through ``flatten_write_requests``:
    row count per name must equal the original sample count
    (invariant: Σ max(1, len(samples)), prometheus.go:11,20-23)."""
    from prometheus_remote_kinesis_spark.ingest import flatten_write_requests

    events = load_table(spark, sf_dir, "events")
    nested = (
        events.select(
            "user_id",
            "event_type",
            F.struct(
                F.when(F.col("event_type") == "error", F.lit(float("nan")))
                .otherwise(F.col("value"))
                .alias("value"),
                F.unix_millis("ts").alias("timestamp"),
            ).alias("sample"),
        )
        .groupBy("user_id", "event_type")
        .agg(F.collect_list("sample").alias("samples"))
        .select(
            F.array(
                F.struct(F.lit("__name__").alias("name"), F.col("event_type").alias("value")),
                F.struct(F.lit("user").alias("name"), F.col("user_id").cast("string").alias("value")),
            ).alias("labels"),
            "samples",
        )
        .select(F.array(F.struct("labels", "samples")).alias("timeseries"))
    )
    records = flatten_write_requests(nested)
    return records.groupBy(F.col("name")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count("value").alias("n_non_null"),
    )


@register(
    "t10_counter_increase",
    family="T10",
    oracle="""
        WITH s AS (
            SELECT event_type || '/' || CAST(user_id AS VARCHAR) AS name,
                   epoch_us(ts) // 1000 AS time,
                   max(value) AS value
            FROM events
            WHERE value IS NOT NULL
            GROUP BY 1, 2
        ), d AS (
            SELECT name, time, value,
                   lag(value) OVER (PARTITION BY name ORDER BY time) AS prev
            FROM s
        )
        SELECT name, time,
               round(value, 6) AS value,
               round(CASE WHEN prev IS NULL THEN NULL
                          WHEN value >= prev THEN value - prev
                          ELSE value END, 6) AS increase,
               CAST(sum(CASE WHEN prev IS NOT NULL AND value < prev
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY name ORDER BY time
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS resets
        FROM d
    """,
)
def t10_counter_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stateful per-series counter-increase operator
    (streaming/stateful.py T10): PromQL ``increase`` semantics with reset
    detection — a drop restarts the counter, so the post-reset value IS
    the increase. Series key = (event_type, user); samples are collapsed
    to max(value) per (series, ms) first so the lag order is total and
    both engines agree deterministically. The streaming form is
    cross-checked against this twin in tests/test_streaming.py."""
    from prometheus_remote_kinesis_spark.streaming.stateful import (
        counter_increase_batch,
    )

    events = load_table(spark, sf_dir, "events")
    series = (
        events.select(
            F.concat_ws("/", "event_type", F.col("user_id").cast("string")).alias("name"),
            F.unix_millis("ts").alias("time"),
            "value",
        )
        .groupBy("name", "time")
        .agg(F.max("value").alias("value"))
    )
    out = counter_increase_batch(series)
    return out.select(
        "name",
        "time",
        F.round("value", 6).alias("value"),
        F.round("increase", 6).alias("increase"),
        "resets",
    )


# Shared by the batch form (below) and the STREAMING-EXECUTED twin
# (streaming/queries.py t10bs). NULL staleness markers excluded up front:
# equivalent to the batch form's post-collapse isNotNull filter (WHERE-
# before-GROUP BY drops NULL members; max ignores NULLs; an all-NULL
# group vanishes either way), and it is what the stateful gap_fill's
# per-row NULL skip produces.
T10B_ORACLE = """
    WITH s AS (
        SELECT event_type AS name, epoch_us(ts) // 1000 AS t, max(value) AS v
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    b AS (SELECT name, min(t) AS lo, max(t) AS hi FROM s GROUP BY name),
    g AS (SELECT name, unnest(range(lo, hi, 60000)) AS time FROM b)
    SELECT g.name, g.time, round(s.v, 6) AS value
    FROM g ASOF JOIN s ON g.name = s.name AND s.t <= g.time
"""


@register("t10b_gap_fill", family="T10", oracle=T10B_ORACLE)
def t10b_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill (LOCF resampling) of the per-type event series onto a
    1-minute grid — the second stateful-family operator promised by
    streaming/stateful.py, here in its batch form with DuckDB's ASOF JOIN
    as the oracle (same at-or-before, latest-wins semantics)."""
    from prometheus_remote_kinesis_spark.streaming.stateful import gap_fill_batch

    # NULL staleness markers excluded BEFORE the collapse (matching the
    # oracle's WHERE and the stateful gap_fill's per-row skip): without
    # it an all-NULL (name, ms) group leaks its timestamp into the grid
    # bounds — gap_fill_batch's contract says value non-null.
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    series = (
        events.select(
            F.col("event_type").alias("name"),
            F.unix_millis("ts").alias("time"),
            "value",
        )
        .groupBy("name", "time")
        .agg(F.max("value").alias("value"))
    )
    filled = gap_fill_batch(series, interval_ms=60_000)
    return filled.select("name", "time", F.round("value", 6).alias("value"))


@register("r4_prompb_datasource", family="S1-S3", oracle=_R1_ORACLE)
def r4_prompb_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full wire-format round trip through the custom Spark-4 Python
    DataSource: events → per-partition snappy(prompb(WriteRequest)) spool
    files (written executor-side, the reference's exact POST body bytes) →
    ``spark.read.format("prompb")`` → RECORD_SCHEMA rows. Equal to r1 ⟺
    the S1-S3 decode chain (snappy, protobuf, flatten with NaN→NULL and
    name projection) is lossless end to end.

    Encode and decode both run on executors via mapPartitions/
    InputPartition-per-file — the driver only carries file paths."""
    import tempfile
    import uuid

    from prometheus_remote_kinesis_spark.sources.prompb import (
        encode_remote_write_body,
    )
    from prometheus_remote_kinesis_spark.sources.prompb_datasource import (
        register_prompb_source,
    )

    events = load_table(spark, sf_dir, "events")
    rows = events.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("event_type").alias("name"),
        F.col("user_id").cast("string").alias("user"),
        F.unix_millis("ts").alias("time"),
        F.when(F.col("event_type") == "error", F.lit(float("nan")))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    spool_dir = tempfile.mkdtemp(prefix="prompb_spool_")

    def write_partition(it) -> None:
        series: dict[tuple[str, str], list[tuple[float, int]]] = {}
        for row in it:
            series.setdefault((row.name, row.user), []).append((row.value, row.time))
        if not series:
            return
        body = encode_remote_write_body(
            [
                ({"__name__": name, "user": user}, samples)
                for (name, user), samples in series.items()
            ]
        )
        path = f"{spool_dir}/part-{uuid.uuid4().hex}.pb.sz"
        with open(path, "wb") as fh:
            fh.write(body)

    rows.foreachPartition(write_partition)
    register_prompb_source(spark)
    return (
        spark.read.format("prompb")
        .load(spool_dir)
        .select(
            "name",
            "time",
            "value",
            F.element_at("labels", "user").alias("label_user"),
        )
    )


_R5_ORACLE = """
    SELECT event_type,
           CAST(sum(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN event_id % 97 =  0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantined,
           round(CAST(sum(CASE WHEN event_id % 97 <> 0
                               THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE),
                 2) AS recovered_sum
    FROM events
    GROUP BY event_type
"""


@register("r5_corrupt_quarantine", family="S8-err", oracle=_R5_ORACLE)
def r5_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine on the NDJSON wire: serialize events to
    JSON lines, deterministically mangle a subset (strip the opening brace
    where event_id % 97 == 0 — the stand-in for a producer marshal
    failure), parse back with ``from_json``, and split good vs quarantined.

    The reference's marshal-failure path leaves a nil entry in the send
    slice and forwards it to PutRecords (kinesis.go:156-161 — SURVEY §4.3
    wart #2); this operator pins our divergence: bad records are COUNTED
    AND SET ASIDE, never silently dropped or forwarded, and every good
    record's value survives the round trip exactly (the oracle's
    recovered_sum is computed from the original table). PERMISSIVE
    from_json yields an all-null struct for unparseable lines, so the
    quarantine predicate is one null check — no Python, scan-speed."""
    events = load_table(spark, sf_dir, "events")
    line = F.to_json(F.struct("event_id", "event_type", "value"))
    mangled = F.when(
        F.col("event_id") % 97 == 0, F.substring(line, 2, 1_000_000)
    ).otherwise(line)
    parsed = F.from_json(
        mangled, "struct<event_id: bigint, event_type: string, value: double>"
    )
    d = events.select("event_type", parsed.alias("r"))
    # PERMISSIVE from_json yields an ALL-NULL struct (not a NULL column) for
    # unparseable lines; event_id is non-null in every real record, so its
    # nullness is the quarantine flag.
    good = F.col("r.event_id").isNotNull()
    return d.groupBy("event_type").agg(
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_quarantined"),
        F.round(
            F.sum(F.when(good, F.col("r.value").cast("decimal(18,2)"))).cast(
                "double"
            ),
            2,
        ).alias("recovered_sum"),
    )


def remote_read_select(
    spark: SparkSession,
    sf_dir: str,
    start_ms: int,
    end_ms: int,
    matchers: list[tuple[int, str, str]],
) -> DataFrame:
    """The query half of Prometheus ``remote_read`` (served by
    server.py's ``POST /read``): apply LabelMatchers (EQ/NEQ/RE/NRE;
    ``__name__`` ≡ event_type, ``user`` ≡ user_id — the promql.py
    mapping) and the [start_ms, end_ms] range (the protocol's CLOSED
    interval) to the record scan, returning the flat sample rows a
    ReadResponse serializes. Regex matchers stay in the Java ∩ RE2
    subset (the d19 rule — Prometheus itself is RE2).

    Scale shape: pure scan-side conjunctive predicates — equality and
    range reach parquet as PushedFilters, regex evaluates inside
    codegen; no shuffle, no join. The serializing caller groups by
    series AFTER this projection (ids only until then)."""
    from prometheus_remote_kinesis_spark.sources.prompb import (
        MATCH_EQ, MATCH_NEQ, MATCH_NRE, MATCH_RE,
    )
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cols = {"__name__": F.col("event_type"), "user": F.col("user_id").cast("string")}
    pred = (F.unix_millis("ts") >= start_ms) & (F.unix_millis("ts") <= end_ms)
    for mtype, name, value in matchers:
        if name not in cols:
            raise ValueError(f"unknown label {name!r} (have {sorted(cols)})")
        c = cols[name]
        if mtype == MATCH_EQ:
            pred = pred & (c == value)
        elif mtype == MATCH_NEQ:
            pred = pred & (c != value)
        elif mtype == MATCH_RE:
            pred = pred & c.rlike(f"^(?:{value})$")  # RE2 full anchoring
        elif mtype == MATCH_NRE:
            pred = pred & ~c.rlike(f"^(?:{value})$")
        else:
            raise ValueError(f"unknown matcher type {mtype}")
    return ev.where(pred).select(
        F.col("event_type").alias("name"),
        F.col("user_id").cast("bigint").alias("user"),
        F.unix_millis("ts").alias("ms"),
        "value",
    )


_R6_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events)
    SELECT event_type AS name, CAST(user_id AS BIGINT) AS user,
           epoch_us(ts) // 1000 AS ms, value
    FROM events, b
    WHERE epoch_us(ts) // 1000 >= t - 86400000
      AND epoch_us(ts) // 1000 <= t
      AND event_type = 'click'
      AND regexp_full_match(CAST(user_id AS VARCHAR), '(?:[0-9]*[02468])')
"""


@register("r6_remote_read", family="S1-read", oracle=_R6_ORACLE)
def r6_remote_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus ``remote_read`` served from the archive — the read
    half the reference never had (it is write-only, kinesis.go): a
    fixed ReadRequest ``{__name__="click", user=~"[0-9]*[02468]"}``
    over the trailing day evaluates through the SAME matcher engine the
    ``POST /read`` endpoint uses (``remote_read_select``), so the
    driver hash-checks the protocol's query semantics — EQ + anchored
    RE2 regex + closed time range — against DuckDB's regex engine. The
    wire framing (snappy ∘ protobuf ReadRequest/ReadResponse, prompb.py
    read codecs) is pinned separately by the server e2e pytest."""
    # the PromQL compiler's T (footer stats, else one scalar job)
    t = corpus_max_ms(spark, sf_dir)
    if t is None:  # empty corpus → empty (but well-typed) read window
        t = 86400000
    from prometheus_remote_kinesis_spark.sources.prompb import MATCH_EQ, MATCH_RE

    return remote_read_select(
        spark, sf_dir, t - 86400000, t,
        [(MATCH_EQ, "__name__", "click"), (MATCH_RE, "user", "[0-9]*[02468]")],
    )


def spark_read_handler(spark: SparkSession, sf_dir: str):
    """Factory closing the remote_read loop through Spark: returns the
    ``read_handler`` callable ``RemoteWriteServer(read_handler=...)``
    expects — each wire Query evaluates via :func:`remote_read_select`
    (scan-side matchers + range), rows group into per-series sample
    lists ordered by (ms, then value for exact duplicate-ms ties), and
    the caller serializes them with ``encode_read_response``. The
    per-query collect is bounded by the client's matchers + range (a
    remote_read response must fit one HTTP body by protocol design —
    the unbounded-scan path is the parquet archive, not this endpoint)."""

    def handler(queries: list[dict]) -> list[list[tuple[dict, list[tuple[float, int]]]]]:
        out = []
        for q in queries:
            df = remote_read_select(
                spark, sf_dir, q["start_ms"], q["end_ms"], q["matchers"]
            )
            series: dict[tuple[str, int], list[tuple[float, int]]] = {}
            for r in df.collect():
                series.setdefault((r["name"], r["user"]), []).append(
                    (r["value"], r["ms"])
                )
            out.append(
                [
                    (
                        {"__name__": name, "user": str(user)},
                        sorted(samples, key=lambda s: (s[1], s[0] is None, s[0])),
                    )
                    for (name, user), samples in sorted(series.items())
                ]
            )
        return out

    return handler
