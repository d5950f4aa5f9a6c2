"""prometheus_remote_kinesis_spark — a PySpark-native analytics engine.

A from-scratch Spark-first re-expression of the capabilities of the
``shirou/prometheus_remote_kinesis`` reference (a Prometheus remote-write →
AWS Kinesis streaming-ETL bridge, see ``/root/reference``), extended with the
batch/streaming analytics and LLM-data-pipeline operators catalogued in
``SURVEY.md §2``.

Layout
------
``schema``      RECORD_SCHEMA (the reference's flat metric record,
                record.go:8-14) + write-request schema + table registry.
``session``     SparkSession builder tuned for local[...] testing but
                configured for cluster-scale defaults (AQE, Arrow, UTC).
``ingest``      Layer A: prompb WriteRequest → flat records (flatten,
                NaN→NULL, name extraction) as pure DataFrame transforms.
``sources/``    Parquet/NDJSON scans, snappy (pyarrow) + protobuf decode
                of the Prometheus remote-write wire format.
``sinks``       NDJSON encode, Kinesis/Firehose-shaped chunked batch sink
                (≤500 records / ≤4.5e6 bytes per call), parquet archival.
``operators/``  Relational operator families (joins, aggregates, windows,
                set ops) registered as driver-checkable queries.
``functions/``  Scalar function families (string/date/math/array/map/json).
``llm/``        Dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard),
                similarity search, text analysis, multimodal columns.
``streaming/``  Structured Streaming pipeline: triggers, watermarks,
                windows, dedup, stateful per-series processing.
``registry``    The queries()/oracle_sql() registry the driver consumes.
"""

__version__ = "0.1.0"
