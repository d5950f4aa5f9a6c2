"""Local stand-in for the driver's correctness gate.

Runs every registered query at sf0.01 (or --sf-dir) on Spark AND its DuckDB
oracle, then compares row count, column names, and an order-insensitive
value comparison (columns sorted by name, rows sorted by all columns,
cell-by-cell, BIT-EXACT for floats — the driver hashes exact values, so
any local tolerance would let a 1-ulp divergence pass here and fail there
(round-3 t19s was exactly that). Exact is therefore the default; pass
--tolerant only to triage how far apart a failing pair is.

Usage: python tools/verify_local.py [--sf-dir DIR] [--tolerant] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback
from pathlib import Path

import duckdb

# The checkout this file lives in, so a copied tree checks its own package.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from prometheus_remote_kinesis_spark.registry import all_queries  # noqa: E402
from prometheus_remote_kinesis_spark.schema import TABLES  # noqa: E402
from prometheus_remote_kinesis_spark.session import get_spark  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per table; a table stored as a directory of part files
    (the layout Spark writers and ``bench_scale.build_scaled_dir`` leave)
    is read through a glob over its parts."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def normalize(rows: list[tuple], cols: list[str]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return v
        # pd.NaT (pandas NULL timestamp) ≡ None. Identity check, not
        # `v != v`: an ndarray cell (array-typed column under --pandas)
        # would make the elementwise comparison's truth value ambiguous.
        try:
            import pandas as _pd

            if v is _pd.NaT:
                return None
        except ImportError:
            pass
        if type(v).__name__ == "ndarray":
            return tuple(v.tolist())  # comparable + hashable rendering
        if hasattr(v, "isoformat"):
            import datetime as _dt

            # date vs midnight-datetime render identically to a
            # value-hash (pandas upcasts DATE to datetime64) — normalize
            # both to the full datetime isoformat
            if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                v = _dt.datetime(v.year, v.month, v.day)
            return v.isoformat()
        if isinstance(v, bytes):
            return v.hex()
        return v

    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t)), [
        cols[i] for i in order
    ]


TOLERANT = False


def cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if TOLERANT:
            return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        return a == b  # bit-exact: the driver hashes exact values
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return a == b


PANDAS_SIDE = False


def compare(name: str, spark_df, duck_rel) -> list[str]:
    problems: list[str] = []
    s_cols = spark_df.columns
    d_cols = [d[0] for d in duck_rel.description]
    if PANDAS_SIDE:
        # Materialize BOTH engines through pandas — the path the round-5
        # t19s root-cause showed the driver harness takes. fetchall()
        # launders DuckDB HUGEINT/DECIMAL into Python ints (masking
        # representation divergence); .df()/toPandas() render what a
        # pandas-hashing harness actually sees, so a dtype mismatch
        # (float64 vs int64, object-of-Decimal vs float) fails HERE
        # instead of only in the driver's gate.
        s_pdf = spark_df.toPandas()
        d_pdf = duck_rel.df()
        s_rows = [tuple(r) for r in s_pdf.itertuples(index=False)]
        d_rows = [tuple(r) for r in d_pdf.itertuples(index=False)]

        # Compare dtype CLASSES, not raw dtypes: datetime64[ns] vs [us],
        # int32 vs int64, and date-object vs datetime64 are benign (same
        # rendered values — queries with them have been driver-green for
        # rounds). The class a hash actually diverges on is NUMERIC
        # representation: int vs float ('8624653' vs '8624653.0' — the
        # HUGEINT trap) or numeric vs object (Decimal). Those fail here.
        def klass(dt: str) -> str:
            if dt.startswith("datetime64"):
                return "temporal"
            if dt.startswith(("int", "uint", "Int", "UInt")):
                return "int"
            if dt.startswith(("float", "Float")):
                return "float"
            if dt == "bool":
                return "bool"
            return "object"  # strings, dates, lists — value compare decides

        s_dt = {c: klass(str(t)) for c, t in s_pdf.dtypes.items()}
        d_dt = {c: klass(str(t)) for c, t in d_pdf.dtypes.items()}
        bad = {}
        for c in set(s_dt) | set(d_dt):
            a, b = s_dt.get(c), d_dt.get(c)
            if a == b:
                continue
            if {a, b} <= {"temporal", "object"}:  # date obj vs datetime64
                continue
            bad[c] = (a, b)
        if bad:
            problems.append(f"pandas dtype classes differ: {bad}")
            return problems
    else:
        s_rows = [tuple(r) for r in spark_df.collect()]
        d_rows = duck_rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")
        return problems
    sn, cols = normalize(s_rows, s_cols)
    dn, _ = normalize(d_rows, d_cols)
    bad = 0
    for i, (sr, dr) in enumerate(zip(sn, dn)):
        for c, (sv, dv) in enumerate(zip(sr, dr)):
            if not cells_equal(sv, dv):
                if bad < 3:
                    problems.append(
                        f"row {i} col {cols[c]}: spark={sv!r} duck={dv!r}"
                    )
                bad += 1
    if bad:
        problems.append(f"{bad} mismatched cells / {len(sn)} rows")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (driver-like: default shuffle "
        "partitions, no tuned confs) instead of session.get_spark",
    )
    ap.add_argument(
        "--first50",
        action="store_true",
        help="run exactly the driver's correctness window: the first 50 "
        "registry entries in contract order (see registry._PRIORITY)",
    )
    ap.add_argument(
        "--tolerant",
        action="store_true",
        help="compare floats with 1e-9 relative tolerance instead of "
        "bit-exact (triage only — the driver's gate is exact)",
    )
    ap.add_argument(
        "--pandas",
        action="store_true",
        help="materialize BOTH engines through pandas (toPandas / .df()) "
        "and require matching dtypes — the representation a pandas-"
        "hashing harness sees (catches the HUGEINT class fetchall hides)",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    global TOLERANT, PANDAS_SIDE
    TOLERANT = args.tolerant
    PANDAS_SIDE = args.pandas

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        spark = get_spark("verify_local")
    con = duck_connection(args.sf_dir)
    qs = all_queries()
    selected = args.queries or (list(qs)[:50] if args.first50 else sorted(qs))
    n_pass = n_fail = n_rows_only = 0
    for name in selected:
        q = qs[name]
        t0 = time.time()
        try:
            df = q.fn(spark, args.sf_dir)
            if q.oracle is None:
                n = df.count()
                n_rows_only += 1
                print(f"  ROWS-ONLY {name}: {n} rows  ({time.time() - t0:.1f}s)")
                continue
            problems = compare(name, df, con.execute(q.oracle))
        except Exception:
            n_fail += 1
            print(f"  ERROR {name}:")
            traceback.print_exc(limit=8)
            continue
        if problems:
            n_fail += 1
            print(f"  FAIL {name}  ({time.time() - t0:.1f}s)")
            for p in problems:
                print(f"        {p}")
        else:
            n_pass += 1
            print(f"  ok   {name}  ({time.time() - t0:.1f}s)")
    print(f"\n{n_pass} ok, {n_fail} failed, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
