"""Shared pieces of the benchmark: statistics, the result digest used to
check answers against the DuckDB oracles, the engine's resident-memory
sampler and the per-layer tracing helpers."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import statistics
import threading

import duckdb


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean(values: list[float]) -> float:
    return statistics.fmean(values)


# ------------------------------------------------------------ answers


def _canon(v) -> str:
    """One cell as text, equal for equal values whichever engine or
    container (pandas, DuckDB tuples) produced it. Numbers compare as
    IEEE doubles, exactly."""
    if v is None:
        return "null"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        v = dt.datetime(v.year, v.month, v.day)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    try:
        if v != v:  # pandas NaT / NA
            return "null"
    except (TypeError, ValueError):
        pass
    return str(v)


def _digest_lines(columns: list[str], lines: list[str]) -> str:
    h = hashlib.sha256("\x1e".join(columns).encode())
    for line in sorted(lines):
        h.update(b"\x1e" + line.encode())
    return f"{len(lines)}:{h.hexdigest()}"


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    rendered with ``_canon`` and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = ["\x1f".join(_canon(row[i]) for i in order) for row in rows]
    return _digest_lines([columns[i] for i in order], lines)


def _column_text(col) -> list[str]:
    """``_canon`` of every cell of a pandas column, vectorised by dtype
    (the same text ``digest`` gives the oracle's Python values)."""
    import numpy as np

    kind = col.dtype.kind
    if kind == "f":
        return ["null" if x != x else repr(x) for x in col.tolist()]
    if kind in "iu":
        return [repr(float(x)) for x in col.tolist()]
    if kind == "b":
        return [str(x) for x in col.tolist()]
    if kind == "M":
        text = np.datetime_as_string(col.to_numpy(dtype="datetime64[us]"), unit="us")
        return ["null" if t == "NaT" else t.removesuffix(".000000") for t in text.tolist()]
    return ["null" if isinstance(x, float) and x != x else _canon(x) for x in col.tolist()]


def pandas_digest(pdf) -> str:
    """``digest`` of a ``toPandas`` result."""
    columns = sorted(pdf.columns)
    texts = [_column_text(pdf[c]) for c in columns]
    return _digest_lines(columns, ["\x1f".join(t) for t in zip(*texts)])


def oracle_results(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple[list[str], list]]:
    """Run each DuckDB oracle over the parquet tables in ``data_dir``;
    ``(columns, rows)`` per query."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
            )
    out = {}
    for name, sql in oracles.items():
        rel = con.execute(sql)
        out[name] = ([d[0] for d in rel.description], rel.fetchall())
    con.close()
    return out


# ------------------------------------------------------------- memory


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _child_pids(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


class RssSampler:
    """Samples the resident memory of the engine: this process (the
    Python driver) and its direct children (the Spark JVM), except the
    pids in ``exclude`` (the load generator). The JVM's own children,
    the Python workers, come and go with the work and are left out."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        total = _rss_bytes(me) + sum(
            _rss_bytes(p) for p in _child_pids(me) if p not in self.exclude
        )
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak / (1024 * 1024)


# ------------------------------------------------------------ tracing


class Stopwatch:
    """Accumulates wall time per stage name across threads."""

    def __init__(self):
        self.totals: dict[str, float] = {}
        self._lock = threading.Lock()

    def add(self, stage: str, seconds: float) -> None:
        with self._lock:
            self.totals[stage] = self.totals.get(stage, 0.0) + seconds


def count_exchanges(plan_text: str) -> int:
    """Shuffle and broadcast exchanges in a physical plan's text."""
    return sum(
        1 for line in plan_text.splitlines()
        if "Exchange " in line and "ReusedExchange" not in line
    )
