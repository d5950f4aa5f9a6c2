"""Audit every registered oracle's DuckDB OUTPUT TYPES for conversion traps.

Round-5 root-cause of the 2-round t19s driver-red/local-green mystery:
DuckDB's ``sum(BIGINT)`` returns HUGEINT (int128). ``fetchall()`` converts
HUGEINT to a Python int (so tools/verify_local.py was green), but a harness
that materializes through pandas (``rel.df()`` → float64) or Arrow
(``rel.arrow()`` → decimal128(38,0)) sees a DIFFERENT value representation
than Spark's BIGINT — ``8624653.0``/``Decimal('8624653')`` vs ``8624653``
hash differently even though the integers are identical. The driver's
correctness gate evidently materializes through one of those paths: t19s
was the ONLY window entry whose oracle emitted HUGEINT, and it was the only
hash-red row two rounds running (CORRECTNESS_r03/r04, rows 5/5, schema ok).

This audit runs every oracle with LIMIT 0 (type inference only, no data
work) and fails if any OUTPUT column type is outside the `_SAFE`
allowlist. HUGEINT, every DECIMAL (including explicit casts — decimal is
fine as INTERMEDIATE math but an output column materializes as
object-of-Decimal/decimal128, diverging from Spark double/bigint), and
list types are exactly the traps. Wired into pytest via
tests/test_plans.py::test_oracle_output_types_are_materialization_safe
so the class cannot recur.

Usage: python tools/audit_oracle_types.py  (exit 0 = clean)
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

# The checkout this file lives in, so a copied tree audits its own package.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from prometheus_remote_kinesis_spark.registry import all_queries  # noqa: E402
from prometheus_remote_kinesis_spark.schema import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# Types that survive every materialization path (fetchall / pandas / arrow)
# with the same value representation Spark produces for the matching Spark
# type. HUGEINT is deliberately ABSENT: pandas renders it float64 and arrow
# renders it decimal128, either of which hash-diverges from Spark's BIGINT.
_SAFE = {
    "BOOLEAN",
    "TINYINT",
    "SMALLINT",
    "INTEGER",
    "BIGINT",
    "FLOAT",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",
    "TIMESTAMP WITH TIME ZONE",
    "TIME",
    "BLOB",
}


def audit() -> dict[str, list[tuple[str, str]]]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    bad: dict[str, list[tuple[str, str]]] = {}
    for name, q in all_queries().items():
        if q.oracle is None:
            continue
        rel = con.sql(f"SELECT * FROM ({q.oracle}) LIMIT 0")
        offending = [
            (col, str(typ))
            for col, typ in zip(rel.columns, rel.types)
            if str(typ) not in _SAFE
        ]
        if offending:
            bad[name] = offending
    return bad


def main() -> int:
    bad = audit()
    if not bad:
        print(f"oracle-type audit: all oracles emit only safe types {sorted(_SAFE)}")
        return 0
    for name, cols in bad.items():
        for col, typ in cols:
            print(f"UNSAFE ORACLE OUTPUT TYPE: {name}.{col} = {typ}")
    print(f"\n{len(bad)} oracle(s) with conversion-trap output types")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
