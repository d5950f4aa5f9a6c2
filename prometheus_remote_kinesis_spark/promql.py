"""PromQL front-end — a parser + compiler from a PromQL subset to
Catalyst plans (PQ family).

The reference is a relay with no query surface (SURVEY §0); its users
query the relayed series with PromQL downstream. This module closes that
loop inside the engine: a PromQL instant query compiles to the same
DataFrame plans the t-family operators use, so "switch the dashboard to
the Spark engine" needs no query rewrite for the supported subset.

Supported grammar (instant queries, evaluated at T = corpus max ms —
the t23/t25 convention, resolved ONCE per compile by
``sources.tables.corpus_max_ms`` and inlined as a literal — or at the
client-supplied ``eval_ms``/HTTP ``time=`` parameter, r12; standard
precedence — ``*``/``/`` bind tighter than ``+``/``-``, comparisons
lowest, all left-associative)::

    expr     := cmpexpr | expr ('and'|'or'|'unless') cmpexpr
    cmpexpr  := addexpr | cmpexpr CMP number
    addexpr  := mulexpr
              | addexpr ('+'|'-') [match] (number ['*' mulexpr] | mulexpr)
    mulexpr  := primary | mulexpr ('*'|'/') [match] (number | primary)
    match    := ('on'|'ignoring') '(' [labels] ')'
                ['group_left'|'group_right']                        (r12)
    primary  := agg | topk | bottomk | histq | vecfn | quantile | vector
    vecfn    := 'abs' '(' expr ')'
              | ('floor'|'ceil'|'round'|'sgn') '(' expr ')'        (r12)
              | ('clamp_min'|'clamp_max') '(' expr ',' number ')'
              | 'label_replace' '(' expr ',' dst ',' repl ',' src ','
                regex ')'                                           (r12)
              | 'absent' '(' selector ')'
              | 'absent_over_time' '(' selector '[' dur ']' ')'     (r12)
    quantile := 'quantile_over_time' '(' phi ',' selector '[' dur ']' ')'
    deriv    := 'deriv' '(' selector '[' dur ']' ')'   (terminal, r12)
              | 'predict_linear' '(' selector '[' dur ']' ',' seconds ')'
    agg      := ('sum'|'min'|'max'|'count'|'avg')
                ['by' '(' [labels] ')' | 'without' '(' [labels] ')']
                '(' expr ')'                        (without: r12)
    histq    := 'histogram_quantile' '(' phi ','
                'sum' 'by' '(' 'le' ')'
                '(' 'count_over_time' '(' metric'_bucket' '[' dur ']' ')' ')'
                ')'
    vector   := fn '(' selector '[' duration ']' ')'
              | fn '(' expr '[' duration ':' duration ']' ')'     (subquery,
                r12 — fn ∈ sum/min/max/avg/count/last/present_over_time)
              | selector
    fn       := 'rate' | 'increase' | 'avg_over_time' | 'sum_over_time'
              | 'count_over_time' | 'min_over_time' | 'max_over_time'
              | 'last_over_time' | 'present_over_time'
              | 'stddev_over_time'
              | 'changes' | 'resets' | 'idelta' | 'irate'           (r12)
    selector := metric ['{' label op '"' value '"' [',' ...] '}']
    op       := '=' | '!=' | '=~' | '!~'       (Prometheus matcher ops)
    duration := <int>('ms'|'s'|'m'|'h'|'d')

Logical set ops compile to join types, not value math: ``and`` = a
LEFT SEMI join on the shared labels (lhs values, rhs existence),
``unless`` = LEFT ANTI, ``or`` = lhs ∪ (rhs anti lhs) — one
left-associative precedence level below comparisons (parenthesize to
mix them). Regex matchers are FULLY ANCHORED (``^(?:v)$``) exactly like Prometheus
and this engine's own remote_read matcher engine
(``ingest_queries.py::_remote_read_select``); patterns must stay in the
Java ∩ RE2 subset (the d19 rule). Vector-vector ``+ - * /`` matches on
IDENTICAL label sets (one-to-one), like bare PromQL without
``on``/``ignoring``; ``/`` drops samples whose divisor is exactly zero
(Prometheus emits ±Inf/NaN there — outside the exact-rational subset,
and excluded identically in every oracle). ``histogram_quantile``
emulates classic ``_bucket`` series: ``<m>_bucket`` selects metric
``<m>`` and buckets its samples over the engine's le-bounds (a10b's
``_HIST_BOUNDS``) — cumulative-by-construction — then applies
Prometheus's linear interpolation; it must be the OUTERMOST expression.

Data-model mapping (TESTDATA.md): metric name ≡ ``event_type``; the one
label is ``user`` ≡ ``user_id``; sample value ≡ ``value`` (NULL staleness
markers excluded, the fleet rule). A bare selector is the instant vector:
each series' last sample in (t − 5m, t] — the staleness lookback,
left-open like every range window.

RANGE QUERIES (r12): ``compile_promql_range`` evaluates the same
grammar on a step-aligned grid — the ``query_range`` semantics behind
``GET /api/v1/query_range``, every Grafana panel's call. An instant
query is a ONE-STEP grid: both entry points share one compile body, and
every compiled vector leads with the step label ``t_ms`` (aggregations
group per step, vector matching joins per step, topk ranks per step).
At an instant the step key is the T literal, grouped as an expression
(``_step``) so Catalyst drops it — instant plans keep their shape, and
an aggregation over no series returns nothing, as at a grid point.
Every leaf — the range functions, the selector, ``timestamp()``,
``quantile_over_time``, deriv/predict_linear and
``histogram_quantile`` — is ONE kernel over ``_windowed``, which hands
it either the instant window cut or the grid expansion (each sample
bucket-expands to the ⌈w/step⌉+1 windows containing it, the j10
idiom): one hash aggregation per kernel, shuffle keys growing with
retention × resolution.

EXACT-RATIONAL COMPILATION — the hash discipline as a compiler property:
every vector node carries its value as an exact integer rational
(``num``/``den`` columns, cents-derived), aggregations combine integer
numerators (order-independent, so even a global ``sum()`` over thousands
of series is hash-safe — the float-sum ordering hazard never exists),
scalar comparisons evaluate by CROSS-MULTIPLICATION against the scalar
parsed as an exact ``Fraction`` (no division, no ties), scalar ``*``/``/``
rescale the rational, and ONE division happens at finalize:
``floor(num/den · 1e6)/1e6`` (the f8 tie-free rule). Semantics notes:
``rate``/``increase`` are reset-aware (t14's counter model) and require
≥ 2 samples in the window (the Prometheus rule); range selectors cover
``(T−W, T]``.

Ref: the compile targets mirror kinesis.go's relayed record model
(`/root/reference/kinesis.go:76-84` — what downstream Prometheus would
evaluate this PromQL against).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prometheus_remote_kinesis_spark.registry import register
from prometheus_remote_kinesis_spark.sources.tables import (
    corpus_max_ms,
    load_table,
)

# ---------------------------------------------------------------- AST

@dataclass(frozen=True)
class Selector:
    metric: str
    # (label, op, value) with op ∈ {'=', '!=', '=~', '!~'}
    matchers: tuple[tuple[str, str, str], ...] = ()
    offset_ms: int = 0
    # the @ modifier (r13): evaluate this selector at a FIXED unix
    # timestamp (ms) instead of the query's evaluation time; None = the
    # normal T anchor. Instant-only in this subset (grids reject).
    at_ms: int | None = None


@dataclass(frozen=True)
class RangeFn:
    fn: str
    sel: Selector
    window_ms: int


@dataclass(frozen=True)
class Agg:
    op: str
    by: tuple[str, ...]
    expr: object
    # `without (labels)` — the complement of `by` (r12): grouping keys =
    # the inner label set MINUS these (absent names are ignored, the
    # PromQL rule); None means the by-form (or global) was written
    without: tuple[str, ...] | None = None
    # the parameterized aggregations (r13, VERDICT r12 task #4):
    # quantile's φ (a Fraction) or count_values' dst label name (a str);
    # None for the plain ops
    param: object = None


@dataclass(frozen=True)
class TopK:
    k: int
    expr: object
    asc: bool = False  # bottomk


@dataclass(frozen=True)
class VecAbs:
    expr: object


@dataclass(frozen=True)
class Clamp:
    fn: str  # 'clamp_min' or 'clamp_max'
    expr: object
    scalar: Fraction


@dataclass(frozen=True)
class IntFn:
    """``floor``/``ceil``/``round``/``sgn`` (r12) — EXACT integer
    results from the rational: floor(num/den) = trunc − 1 when num < 0
    and den ∤ num (both engines' integer division truncates toward
    zero — pinned by test), ceil mirrors, round is half-UP (the
    Prometheus tie rule) via floor((2·num + den)/(2·den)), sgn is the
    numerator's sign. Output den = 1 — a query CONSTANT — so these
    functions make any vector aggregable: ``sum(floor(avg_over_time(
    ...)))`` compiles even though ``sum(avg_over_time(...))`` rejects
    (the integer part of a variable-den rational is still exact)."""

    fn: str  # 'floor' | 'ceil' | 'round' | 'sgn'
    expr: object


@dataclass(frozen=True)
class Cmp:
    expr: object
    op: str
    scalar: Fraction
    # the bool modifier (r13): keep EVERY sample, emitting 1/0 instead
    # of filtering — den becomes the constant 1, so a bool comparison
    # makes any vector aggregable (the alert-count idiom)
    keep_bool: bool = False


@dataclass(frozen=True)
class VecCmp:
    """Vector-VECTOR comparison (r13): ``errors > threshold_series`` —
    the alerting join idiom. Matching reuses VecBin's machinery
    (on/ignoring/group_left/group_right); the predicate is the exact
    cross-multiplication lnum·rden OP rnum·lden in decimal(38,0)
    (≡ DuckDB HUGEINT — two int64 products peak at 8.5e37 < 1e38, so
    the intermediate NEVER overflows on either engine), legal because
    both sides keep the den > 0 invariant. Without ``bool`` the
    surviving rows carry the LHS rational unchanged (Prometheus filter
    semantics); with ``bool`` every matched row emits 1/0 over den = 1,
    making even variable-den operands aggregable."""

    left: object
    op: str  # '<', '>', '<=', '>=', '==', '!='
    right: object
    keep_bool: bool = False
    on: tuple[str, ...] | None = None
    ignoring: tuple[str, ...] | None = None
    group_left: bool = False
    group_right: bool = False


@dataclass(frozen=True)
class Scale:
    expr: object
    op: str  # '*' or '/'
    scalar: Fraction


@dataclass(frozen=True)
class Shift:
    expr: object
    op: str  # '+' or '-'
    scalar: Fraction


@dataclass(frozen=True)
class TsFn:
    """``timestamp(selector)`` (r13): each series' sample value becomes
    the sample's OWN timestamp in seconds — num = ms, den = 1000, an
    exact rational (Prometheus returns float seconds; every ms value is
    exactly n/1000). Selector-only in this subset: the instant plan
    already computes last_ms for the staleness cut, so this is the same
    aggregation projecting a different column."""

    sel: Selector


_DATE_FNS = {
    "minute", "hour", "day_of_week", "day_of_month", "day_of_year",
    "month", "year", "days_in_month",
}


@dataclass(frozen=True)
class DateFn:
    """Calendar functions over a vector of unix-second values (r13):
    s = trunc(num/den) — the Prometheus ``int64(v)`` truncation, which
    IS Spark ``div``/DuckDB ``//`` on int64 — then both engines'
    native Gregorian-UTC calendar decomposition (Spark
    ``timestamp_seconds`` + minute/hour/…, DuckDB ``to_timestamp`` +
    date_part), integer outputs on both. day_of_week is 0 = Sunday
    (the Prometheus convention: Spark's dayofweek − 1, DuckDB's dow).
    Output den = 1 — like IntFn these make any vector aggregable."""

    fn: str
    expr: object


@dataclass(frozen=True)
class PowMod:
    """``v % scalar`` / ``v ^ k`` (r13 — the remaining PromQL arithmetic
    operators, exact-rational form). Mod: fmod on rationals is exact —
    (num/den) mod (p/q) = ((num·q) mod (den·p)) / (den·q), truncation
    signed by the dividend, the shared Java/DuckDB ``%`` semantics (the
    modulus folds to |p/q|: fmod ignores the divisor's sign). Pow:
    integer exponents 0 ≤ k ≤ 4 only — (num/den)^k = num^k/den^k stays
    rational, den^k is compile-checked (_chk_den); fractional, negative
    (data-dependent reciprocal den) and larger exponents (int64 blowout)
    reject at compile."""

    expr: object
    op: str  # '%' or '^'
    scalar: Fraction


@dataclass(frozen=True)
class VecBin:
    left: object
    op: str  # '+', '-', '*', '/'
    right: object
    # vector matching (r12, VERDICT r11 task #4): `on(labels)` names the
    # join keys explicitly, `ignoring(labels)` excludes labels from the
    # shared set; `group_left` permits many-to-one (lhs keeps its full
    # label set, rhs must be unique per match key). None/None/False =
    # bare one-to-one on identical label sets (the pq10 form).
    on: tuple[str, ...] | None = None
    ignoring: tuple[str, ...] | None = None
    group_left: bool = False
    group_right: bool = False  # the mirror: rhs keeps its labels,
    # lhs must be unique per match key (one-to-many)


@dataclass(frozen=True)
class SubqueryFn:
    """``fn(expr[range:step])`` — a PromQL subquery (r12, VERDICT r11
    task #6): the inner expression evaluates on a T-anchored grid of
    ceil(range/step) points t_j = T − j·step (all inside (T − range, T]),
    then ``fn`` folds each series' grid values. Prometheus aligns
    subquery steps to absolute time (multiples of step since epoch);
    this subset anchors at T so the oracle re-derives the identical
    grid from the corpus — the t26 convention."""

    fn: str
    expr: object
    range_ms: int
    step_ms: int


@dataclass(frozen=True)
class QuantileOT:
    """``quantile_over_time(φ, sel[w])`` (r12, VERDICT r11 task #7) —
    type-7 linear interpolation between order statistics, EXACT: with
    φ = p/q and n in-window samples sorted ascending as integer cents
    c_0..c_{n−1}, rank h = (n−1)p/q splits into lo = (n−1)p // q and
    rem = (n−1)p mod q, and the interpolated value is the RATIONAL
    (c_lo·(q−rem) + c_{lo+1}·rem) / (100q) — an integer numerator over
    the QUERY-CONSTANT denominator 100q. Unlike stddev_over_time there
    is no sqrt and unlike avg_over_time the den does not depend on n,
    so sum/min/max aggregation over it is SOUND and stays inside the
    exact-rational hash gate (the Agg-path rejection is provably not
    needed — pinned by pq20's oracle)."""

    phi: Fraction
    sel: Selector
    window_ms: int


@dataclass(frozen=True)
class Absent:
    """``absent(sel)`` / ``absent_over_time(sel[w])`` (r12 — t18's
    mechanism from query text): emits the single sample {value: 1} iff
    NO sample of the selector exists in the window ((T − 5m, T] for the
    instant form — the staleness cut — or (T − w, T] for the range
    form); otherwise the vector is empty. The dead-man's-switch
    alerting idiom: page when a heartbeat metric stops reporting.
    Labels from equality matchers are not reconstructed (Prometheus
    attaches them as a hint; outside the subset, documented)."""

    sel: Selector
    window_ms: int | None = None  # None → instant (staleness window)


@dataclass(frozen=True)
class LabelReplace:
    """``label_replace(v, dst, replacement, src, regex)`` (r12 — t21's
    mechanism from query text, the last named grammar gap of VERDICT
    r11): when ``regex`` FULLY matches the src label's value, dst gets
    ``replacement`` with $1..$9 capture expansion; otherwise dst keeps
    its existing value, or "" when dst is a new label — which is
    EXACTLY Prometheus's semantics, because Prometheus treats an
    empty-valued label as absent. Values are untouched, so the
    exact-rational pipeline passes through unchanged and the new label
    participates in ``by``/matching like any other."""

    expr: object
    dst: str
    repl: str
    src: str
    regex: str


@dataclass(frozen=True)
class Deriv:
    """``deriv(sel[w])`` (r12 — t31's least-squares machinery from
    query text): per-series simple linear regression slope over the
    window, per second. EXACT until the finalize: timestamps rebase to
    the window start (t' = ms − (T − w), bounded by w) and the five
    regression partials (n, Σt', Σc, Σt'c, Σt'²) accumulate as
    decimal(38,0) ≡ DuckDB HUGEINT — nΣt'² reaches ~7e24 at [30d],
    past int64 but exact on both engines (the t31 discipline). The
    slope num/den then converts to double ONCE per term with identical
    expression order. TERMINAL like histogram_quantile: its value is
    not an exact rational (the den is a wide decimal), so it must be
    the outermost expression."""

    sel: Selector
    window_ms: int


@dataclass(frozen=True)
class PredictLinear:
    """``predict_linear(sel[w], t)`` (r12 — t31's full machinery from
    query text): the regression line of Deriv evaluated at the point
    t seconds PAST the evaluation time. With the window-start rebase
    (x = ms − (T − w)), the prediction abscissa is x_p = w + t·1000 and
    ŷ = (Σc·den + num·(n·x_p − Σx)) / (n·den) in cents — every factor
    an exact decimal(38,0) (peak ~3e32 at [30d], well inside both
    engines' 38-digit range), ONE double conversion per term at the
    finalize. Terminal like Deriv."""

    sel: Selector
    window_ms: int
    ahead_s: Fraction


@dataclass(frozen=True)
class SqrtFn:
    """``sqrt(v)`` (r13): the ONE libm function inside the exact
    discipline — IEEE 754 requires sqrt correctly rounded, so Spark and
    DuckDB produce the identical double from the identical rational
    (the mechanism stddev_over_time/stddev already ride via the _Vec
    sqrt flag; this exposes it from query text). The flag defers the
    root to finalize: downstream Cmp/Scale square the scalar instead,
    and aggregation/arithmetic over a flagged vector reject — the
    established stddev fences."""

    expr: object


# Math functions OUTSIDE the subset, each with the reason the targeted
# compile error cites (r13 — previously these fell through to the
# selector parser with a confusing "expected id" message):
_EXCLUDED_MATH_FNS = {
    "ln": "ln is not correctly-rounded across libm implementations",
    "exp": "exp is not correctly-rounded across libm implementations",
    "log2": "log2 is not correctly-rounded across libm implementations",
    "log10": "log10 is not correctly-rounded across libm implementations",
    "holt_winters": (
        "holt_winters' float recurrence is order-sensitive; use the "
        "hand-built t20_holt_winters operator, whose oracle pins the "
        "exact fold order"
    ),
    "double_exponential_smoothing": (
        "double_exponential_smoothing's float recurrence is "
        "order-sensitive; use the hand-built t20_holt_winters operator"
    ),
}


@dataclass(frozen=True)
class SortFn:
    """``sort(v)`` / ``sort_desc(v)`` (r13) and
    ``sort_by_label(v, "l", ...)`` / ``sort_by_label_desc`` (late r13):
    instant-vector presentation order — by value, or lexicographically
    by the named labels' STRING renderings (the Prometheus rule — label
    "10" sorts before "2"), remaining columns breaking ties
    deterministically. OUTERMOST only (ordering is a property of the
    returned frame, not of the rational algebra); range queries reject
    it like Prometheus ignores it."""

    expr: object
    desc: bool = False
    by_labels: tuple[str, ...] = ()


@dataclass(frozen=True)
class LabelJoin:
    """``label_join(v, dst, sep, src...)`` (r13): dst gets the
    sep-joined src label values — label_replace's sibling, values
    untouched so the exact-rational pipeline passes through and the
    new label participates in by/matching like any other."""

    expr: object
    dst: str
    sep: str
    srcs: tuple[str, ...]


@dataclass(frozen=True)
class HistQ:
    phi: Fraction
    expr: object


@dataclass(frozen=True)
class SetOp:
    left: object
    op: str  # 'and', 'or', 'unless'
    right: object


_RANGE_FNS = {
    "rate", "increase", "avg_over_time", "sum_over_time",
    "count_over_time", "min_over_time", "max_over_time",
    "last_over_time", "present_over_time", "stddev_over_time",
    "changes", "resets", "idelta", "irate",
    # r13 (VERDICT r12 task #3): delta — rate's gauge sibling,
    # window-local last − first, no reset logic — and stdvar_over_time,
    # stddev's no-sqrt twin (variable den n²·10⁴ → aggregations reject)
    "delta", "stdvar_over_time",
}
_AGG_OPS = {
    "sum", "min", "max", "count", "avg",
    # r13 (VERDICT r12 task #4): the across-series extensions — group
    # (presence: 1 per group), stddev/stdvar (population moments over a
    # constant-den vector, decimal(38,0) partials), and the
    # parameterized quantile(φ, v) / count_values("label", v)
    "group", "stddev", "stdvar", "quantile", "count_values",
}
_DUR_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}
_TOKEN = re.compile(
    r"\s*(?:(?P<num>\d+(?:\.\d+)?)(?P<unit>ms|[smhd])?"
    r"|(?P<id>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<str>\"[^\"]*\")"
    r"|(?P<op><=|>=|==|!=|=~|!~|[-+<>(){}\[\],=*/:@%^]))"
)


class PromQLError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise PromQLError(f"unexpected character at {pos!r}: {text[pos:]}")
            break
        pos = m.end()
        if m.group("num") is not None:
            if m.group("unit"):
                out.append(("dur", m.group("num") + m.group("unit")))
            else:
                out.append(("num", m.group("num")))
        elif m.group("id") is not None:
            out.append(("id", m.group("id")))
        elif m.group("str") is not None:
            out.append(("str", m.group("str")[1:-1]))
        else:
            out.append(("op", m.group("op")))
    return out


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, kind, val=None):
        t = self._next()
        if t[0] != kind or (val is not None and t[1] != val):
            raise PromQLError(f"expected {val or kind}, got {t}")
        return t

    def parse(self):
        e = self._expr()
        if self._peek()[0] != "eof":
            raise PromQLError(f"trailing input: {self.toks[self.i:]}")
        return e

    def _expr(self):
        # set operators bind loosest of all (PromQL: or below and/unless
        # below comparisons; this subset treats and/or/unless as one
        # left-associative level — parenthesize to mix them)
        e = self._cmpexpr()
        while True:
            k, v = self._peek()
            if k == "id" and v in ("and", "or", "unless"):
                self._next()
                e = SetOp(e, v, self._cmpexpr())
            else:
                return e

    def _cmpexpr(self):
        # comparisons bind below arithmetic (standard PromQL precedence)
        e = self._addexpr()
        while True:
            k, v = self._peek()
            if k == "op" and v in ("<", ">", "<=", ">=", "==", "!="):
                self._next()
                keep = False
                if self._peek() == ("id", "bool"):  # r13: the bool modifier
                    self._next()
                    keep = True
                # bool precedes on/ignoring in the Prometheus grammar
                on, ig, gl, gr = self._vec_matcher()
                if self._peek()[0] == "num":
                    if on is not None or ig is not None:
                        raise PromQLError(
                            "vector matching (on/ignoring) needs a vector RHS"
                        )
                    num = self._expect("num")[1]
                    e = Cmp(e, v, Fraction(num), keep)
                else:  # r13: vector-vector comparison — the alerting join
                    e = VecCmp(e, v, self._addexpr(), keep, on, ig, gl, gr)
            else:
                return e

    def _vec_matcher(self):
        """Optional ``on(...)``/``ignoring(...)``
        [+ ``group_left``|``group_right``] after a binary operator
        (r12)."""
        on = ignoring = None
        group_left = group_right = False
        k, v = self._peek()
        if k == "id" and v in ("on", "ignoring"):
            self._next()
            self._expect("op", "(")
            labels: list[str] = []
            if self._peek() != ("op", ")"):
                labels.append(self._expect("id")[1])
                while self._peek() == ("op", ","):
                    self._next()
                    labels.append(self._expect("id")[1])
            self._expect("op", ")")
            if v == "on":
                on = tuple(labels)
            else:
                ignoring = tuple(labels)
            if self._peek() == ("id", "group_left"):
                self._next()
                group_left = True
            elif self._peek() == ("id", "group_right"):
                self._next()
                group_right = True
        return on, ignoring, group_left, group_right

    def _addexpr(self):
        e = self._mulexpr()
        while True:
            k, v = self._peek()
            if k == "op" and v in ("+", "-"):
                self._next()
                on, ig, gl, gr = self._vec_matcher()
                if (on is not None or ig is not None) and self._peek()[0] == "num":
                    raise PromQLError(
                        "vector matching (on/ignoring) needs a vector RHS"
                    )
                if on is not None or ig is not None:
                    e = VecBin(e, v, self._mulexpr(), on, ig, gl, gr)
                    continue
                if self._peek()[0] == "num":
                    s = Fraction(self._next()[1])
                    nk, nv = self._peek()
                    if nk == "op" and nv == "*":
                        # scalar-led product on the RHS: a - 2 * b means
                        # a - (2*b) under standard precedence (r11 ADVICE —
                        # the greedy Shift parse left this valid form
                        # failing with a confusing trailing-input error).
                        # Scalar multiplication commutes exactly on
                        # rationals, so 2*b compiles as Scale(b, '*', 2).
                        self._next()
                        e = VecBin(e, v, Scale(self._mulexpr(), "*", s))
                    elif nk == "op" and nv == "/":
                        raise PromQLError(
                            "scalar-led division (s / vector) is outside "
                            "the exact-rational subset (the reciprocal's "
                            "denominator would be data-dependent); write "
                            "the reciprocal explicitly if the vector is "
                            "the divisor"
                        )
                    else:
                        e = Shift(e, v, s)
                else:  # vector rhs: one multiplicative unit (left-assoc)
                    e = VecBin(e, v, self._mulexpr())
            else:
                return e

    def _mulexpr(self):
        e = self._powexpr()
        while True:
            k, v = self._peek()
            if k == "op" and v in ("*", "/"):
                self._next()
                on, ig, gl, gr = self._vec_matcher()
                if (on is not None or ig is not None) and self._peek()[0] == "num":
                    raise PromQLError(
                        "vector matching (on/ignoring) needs a vector RHS"
                    )
                if on is not None or ig is not None:
                    e = VecBin(e, v, self._powexpr(), on, ig, gl, gr)
                elif self._peek()[0] == "num":
                    s = Fraction(self._next()[1])
                    if v == "/" and s == 0:
                        raise PromQLError("division by zero scalar")
                    e = Scale(e, v, s)
                else:
                    e = VecBin(e, v, self._powexpr())
            elif k == "op" and v == "%":  # r13: fmod by a scalar
                self._next()
                if self._peek()[0] != "num":
                    raise PromQLError(
                        "vector % vector is outside the exact-rational "
                        "subset (the result's denominator is the product "
                        "of both sides'); % takes a scalar modulus"
                    )
                s = Fraction(self._next()[1])
                if s == 0:
                    raise PromQLError("modulus by zero scalar")
                e = PowMod(e, "%", abs(s))  # fmod ignores the divisor sign
            else:
                return e

    def _powexpr(self):
        # ^ binds tighter than * / % (the Prometheus precedence); scalar
        # integer exponents only, and chained ^ must parenthesize (its
        # right-associativity is a silent-wrongness trap on a chain)
        e = self._primary()
        k, v = self._peek()
        if k == "op" and v == "^":
            self._next()
            if self._peek()[0] != "num":
                raise PromQLError(
                    "vector ^ vector is outside the exact-rational subset; "
                    "^ takes a constant integer exponent"
                )
            s = Fraction(self._next()[1])
            if s.denominator != 1 or s < 0 or s > 4:
                raise PromQLError(
                    f"exponent {s} is outside the exact-rational subset "
                    "(integer 0..4: fractional powers need libm, negative "
                    "powers make the denominator data-dependent, larger "
                    "ones overflow int64)"
                )
            if self._peek() == ("op", "^"):
                raise PromQLError(
                    "chained ^ is right-associative in PromQL — "
                    "parenthesize to make the intent explicit"
                )
            e = PowMod(e, "^", s)
        return e

    def _primary(self):
        k, v = self._peek()
        if k == "op" and v == "(":  # r13: expression grouping
            self._next()
            e = self._expr()
            self._expect("op", ")")
            return e
        if k == "id" and v in _AGG_OPS:
            save = self.i
            self._next()
            by: tuple[str, ...] = ()
            without: tuple[str, ...] | None = None
            if self._peek() in (("id", "by"), ("id", "without")):
                clause = self._next()[1]
                self._expect("op", "(")
                labels: list[str] = []
                if self._peek() != ("op", ")"):
                    labels.append(self._expect("id")[1])
                    while self._peek() == ("op", ","):
                        self._next()
                        labels.append(self._expect("id")[1])
                self._expect("op", ")")
                if clause == "by":
                    by = tuple(labels)
                else:
                    without = tuple(labels)
            if self._peek() == ("op", "("):
                self._next()
                param = None
                if v == "quantile":
                    # quantile(φ, v) — the φ parameter leads (PromQL)
                    param = Fraction(self._expect("num")[1])
                    if not (0 <= param <= 1):
                        raise PromQLError(
                            f"quantile phi must be in [0,1], got {param}"
                        )
                    self._expect("op", ",")
                elif v == "count_values":
                    # count_values("label", v) — dst label name leads
                    param = self._expect("str")[1]
                    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", param):
                        raise PromQLError(
                            f"count_values: invalid label name {param!r}"
                        )
                    self._expect("op", ",")
                inner = self._expr()
                self._expect("op", ")")
                return Agg(v, by, inner, without, param)
            self.i = save  # an aggregation keyword used as a metric name
        if k == "id" and v == "histogram_quantile":
            self._next()
            self._expect("op", "(")
            phi = Fraction(self._expect("num")[1])
            if not (0 <= phi <= 1):
                raise PromQLError(f"histogram_quantile phi must be in [0,1], got {phi}")
            self._expect("op", ",")
            inner = self._expr()
            self._expect("op", ")")
            return HistQ(phi, inner)
        if k == "id" and v in ("topk", "bottomk"):
            self._next()
            self._expect("op", "(")
            kk = self._expect("num")[1]
            if "." in kk or int(kk) < 1:
                raise PromQLError(f"{v} k must be a positive integer, got {kk}")
            self._expect("op", ",")
            inner = self._expr()
            self._expect("op", ")")
            return TopK(int(kk), inner, asc=(v == "bottomk"))
        if k == "id" and v in ("sort", "sort_desc"):
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ")")
            return SortFn(inner, desc=(v == "sort_desc"))
        if k == "id" and v in ("sort_by_label", "sort_by_label_desc"):
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            labels: list[str] = []
            while self._peek() == ("op", ","):
                self._next()
                labels.append(self._expect("str")[1])
            self._expect("op", ")")
            if not labels:
                raise PromQLError(f"{v} needs at least one label argument")
            return SortFn(
                inner, desc=v.endswith("_desc"), by_labels=tuple(labels)
            )
        if k == "id" and v == "label_join":
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ",")
            dst = self._expect("str")[1]
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", dst):
                raise PromQLError(f"label_join: invalid dst label {dst!r}")
            self._expect("op", ",")
            sep = self._expect("str")[1]
            srcs: list[str] = []
            while self._peek() == ("op", ","):
                self._next()
                srcs.append(self._expect("str")[1])
            self._expect("op", ")")
            return LabelJoin(inner, dst, sep, tuple(srcs))
        if k == "id" and v == "abs":
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ")")
            return VecAbs(inner)
        if k == "id" and v in ("floor", "ceil", "round", "sgn"):
            fn = v
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ")")
            return IntFn(fn, inner)
        if k == "id" and v == "sqrt":
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ")")
            return SqrtFn(inner)
        if k == "id" and v in _EXCLUDED_MATH_FNS:
            save = self.i
            self._next()
            if self._peek() == ("op", "("):
                raise PromQLError(
                    f"{v}() is outside the exact-rational subset: "
                    f"{_EXCLUDED_MATH_FNS[v]}"
                )
            self.i = save  # a metric that happens to share the name
        if k == "id" and v == "timestamp":
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ")")
            if not isinstance(inner, Selector):
                raise PromQLError(
                    "timestamp() takes a plain instant selector in this "
                    "subset (derived vectors have no single defining "
                    "sample timestamp)"
                )
            return TsFn(inner)
        if k == "id" and v in _DATE_FNS:
            fn = v
            self._next()
            self._expect("op", "(")
            if self._peek() == ("op", ")"):
                raise PromQLError(
                    f"0-argument {fn}() (implicit vector(time())) is "
                    "outside the subset — pass an explicit vector, e.g. "
                    f"{fn}(timestamp(metric))"
                )
            inner = self._expr()
            self._expect("op", ")")
            return DateFn(fn, inner)
        if k == "id" and v in ("deriv", "predict_linear"):
            fn = v
            self._next()
            self._expect("op", "(")
            sel = self._selector()
            self._expect("op", "[")
            win = self._duration(self._expect("dur")[1])
            self._expect("op", "]")
            sel = self._post_modifiers(sel)
            ahead = None
            if fn == "predict_linear":
                self._expect("op", ",")
                ahead = Fraction(self._expect("num")[1])
                if ahead.denominator != 1:
                    raise PromQLError(
                        "predict_linear horizon must be whole seconds "
                        f"(got {ahead})"
                    )
            self._expect("op", ")")
            return (
                Deriv(sel, win) if fn == "deriv"
                else PredictLinear(sel, win, ahead)
            )
        if k == "id" and v in ("absent", "absent_over_time"):
            fn = v
            self._next()
            self._expect("op", "(")
            sel = self._selector()
            win = None
            if fn == "absent_over_time":
                self._expect("op", "[")
                win = self._duration(self._expect("dur")[1])
                self._expect("op", "]")
            sel = self._post_modifiers(sel)
            self._expect("op", ")")
            return Absent(sel, win)
        if k == "id" and v == "label_replace":
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            args = []
            for _ in range(4):
                self._expect("op", ",")
                args.append(self._expect("str")[1])
            self._expect("op", ")")
            dst, repl, src, regex = args
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", dst):
                raise PromQLError(f"label_replace: invalid dst label {dst!r}")
            return LabelReplace(inner, dst, repl, src, regex)
        if k == "id" and v in ("clamp_min", "clamp_max"):
            fn = v
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ",")
            s = Fraction(self._expect("num")[1])
            self._expect("op", ")")
            return Clamp(fn, inner, s)
        if k == "id" and v == "clamp":
            # two-sided clamp (late r13): exactly clamp_max(clamp_min(v,
            # lo), hi) — parser sugar over the existing exact nodes; the
            # Prometheus empty-vector rule for lo > hi is a compile
            # rejection here (loud beats silently-empty)
            self._next()
            self._expect("op", "(")
            inner = self._expr()
            self._expect("op", ",")
            lo = Fraction(self._expect("num")[1])
            self._expect("op", ",")
            hi = Fraction(self._expect("num")[1])
            self._expect("op", ")")
            if lo > hi:
                raise PromQLError(
                    f"clamp: min {lo} > max {hi} (Prometheus would return "
                    "an empty vector; the subset rejects loudly instead)"
                )
            return Clamp("clamp_max", Clamp("clamp_min", inner, lo), hi)
        if k == "id" and v == "quantile_over_time":
            self._next()
            self._expect("op", "(")
            phi = Fraction(self._expect("num")[1])
            if not (0 <= phi <= 1):
                raise PromQLError(
                    f"quantile_over_time phi must be in [0,1], got {phi}"
                )
            self._expect("op", ",")
            sel = self._selector()
            self._expect("op", "[")
            win = self._duration(self._expect("dur")[1])
            self._expect("op", "]")
            sel = self._post_modifiers(sel)
            self._expect("op", ")")
            return QuantileOT(phi, sel, win)
        if k == "id" and v in _RANGE_FNS:
            self._next()
            self._expect("op", "(")
            # general inner: a bare selector takes the classic range
            # form `sel[w]`; any expression takes the SUBQUERY form
            # `expr[range:step]` (and so can a selector: `view[1d:5m]`)
            inner = self._expr()
            self._expect("op", "[")
            win = self._duration(self._expect("dur")[1])
            if self._peek() == ("op", ":"):
                self._next()
                step = self._duration(self._expect("dur")[1])
                self._expect("op", "]")
                self._expect("op", ")")
                return SubqueryFn(v, inner, win, step)
            self._expect("op", "]")
            if not isinstance(inner, Selector):
                raise PromQLError(
                    f"{v} over an expression needs the subquery form "
                    f"[range:step]; a plain [range] applies to a selector"
                )
            sel = inner
            sel = self._post_modifiers(sel)
            self._expect("op", ")")
            return RangeFn(v, sel, win)
        return self._selector()

    def _post_modifiers(self, sel: Selector) -> Selector:
        """``offset <dur>`` and ``@ <unix-seconds>`` after a selector or
        range selector (r13 adds @) — any order, the Prometheus rule."""
        while True:
            if self._peek() == ("id", "offset"):
                self._next()
                sel = Selector(
                    sel.metric, sel.matchers,
                    self._duration(self._expect("dur")[1]), sel.at_ms,
                )
            elif self._peek() == ("op", "@"):
                self._next()
                t = self._expect("num")[1]
                sel = Selector(
                    sel.metric, sel.matchers, sel.offset_ms,
                    int(round(float(t) * 1000)),
                )
            else:
                return sel

    @staticmethod
    def _duration(text: str) -> int:
        m = re.fullmatch(r"(\d+)(ms|[smhd])", text)
        if not m:
            raise PromQLError(f"bad duration {text!r}")
        return int(m.group(1)) * _DUR_MS[m.group(2)]

    def _selector(self) -> Selector:
        metric = self._expect("id")[1]
        matchers: list[tuple[str, str, str]] = []
        if self._peek() == ("op", "{"):
            self._next()
            while True:
                label = self._expect("id")[1]
                k, op = self._next()
                if k != "op" or op not in ("=", "!=", "=~", "!~"):
                    raise PromQLError(
                        f"expected a matcher op (= != =~ !~), got {(k, op)}"
                    )
                val = self._expect("str")[1]
                matchers.append((label, op, val))
                if self._peek() == ("op", ","):
                    self._next()
                    continue
                break
            self._expect("op", "}")
        return self._post_modifiers(Selector(metric, tuple(matchers)))


def parse(text: str):
    """Parse a PromQL string into the AST above (raises PromQLError)."""
    return _Parser(text).parse()


# ------------------------------------------------------------ compiler

_SERIES = "user"  # the one series label of the data model
_LABELS = {_SERIES: "user_id"}
STALENESS_MS = 300_000  # instant-vector lookback (t23's 5-minute cut)


def _variable_den(node) -> bool:
    """True when the compiled vector's rational denominator can DIFFER
    across rows — the property that makes integer-numerator aggregation
    (sum/avg/min/max) unsound. avg_over_time's den is count·100 (varies
    per series); an avg aggregation's den is den·n_in (varies per
    group); every other kernel above yields a query-constant den.
    Checked at COMPILE time so the unsound query raises PromQLError
    instead of silently filtering groups (r10 ADVICE)."""
    if isinstance(node, Selector):
        return False
    if isinstance(node, RangeFn):
        # irate's den is 100·(last sample gap ms) — per-series;
        # avg_over_time's is count·100 — per-series too;
        # stdvar_over_time's is n²·10⁴ — per-series (r13; its sqrt twin
        # stddev_over_time is fenced by the sqrt flag instead)
        return node.fn in ("avg_over_time", "irate", "stdvar_over_time")
    if isinstance(node, (LabelReplace, LabelJoin, SortFn)):
        return _variable_den(node.expr)  # values untouched
    if isinstance(node, SqrtFn):
        # the flag defers the root to finalize; the den COLUMN is the
        # inner's (aggregation over a flagged vector rejects anyway)
        return _variable_den(node.expr)
    if isinstance(node, Absent):
        return False  # the one emitted sample is the constant 1/1
    if isinstance(node, IntFn):
        return False  # integer result — den is the constant 1
    if isinstance(node, DateFn):
        return False  # integer calendar part — den is the constant 1
    if isinstance(node, TsFn):
        return False  # num = ms over the constant den 1000
    if isinstance(node, QuantileOT):
        # den = 100·q, a query constant — the interpolation numerator is
        # an exact integer, so aggregation over it is SOUND (see the
        # dataclass docstring; pq20 pins sum() over it in the hash gate)
        return False
    if isinstance(node, SubqueryFn):
        if node.fn == "avg_over_time":
            return True  # den picks up the per-series grid-point count
        if node.fn in ("count_over_time", "present_over_time"):
            return False
        return _variable_den(node.expr)  # sum/min/max/last inherit
    if isinstance(node, Agg):
        if node.op in ("avg", "stddev", "stdvar"):
            # avg: den = den_in · n_in; stddev/stdvar: den = (n_in·D)²
            # — all pick up the per-group count
            return True
        if node.op == "quantile":
            # den = D·q — a query constant exactly when the inner's is
            return _variable_den(node.expr)
        return False  # sum/min/max/count/group/count_values
    if isinstance(node, Cmp) and node.keep_bool:
        return False  # bool comparison emits 1/0 over den = 1
    if isinstance(node, (TopK, Cmp, Scale, Shift, VecAbs, Clamp, PowMod)):
        # PowMod keeps den-const-ness: '%' multiplies the den by the
        # modulus' q; '^' raises it to the (compile-bounded) exponent
        return _variable_den(node.expr)
    if isinstance(node, VecCmp):
        if node.keep_bool:
            return False  # 1/0 over den = 1 — either side may be variable
        return _variable_den(node.left)  # filter keeps the LHS rational;
        # the rhs only feeds the (exact, per-row) predicate
    if isinstance(node, VecBin):
        if node.op == "/":
            return True  # den picks up the rhs NUMERATOR — data-dependent
        return _variable_den(node.left) or _variable_den(node.right)
    if isinstance(node, SetOp):
        if node.op in ("and", "unless"):
            return _variable_den(node.left)  # values come from the lhs only
        return True  # 'or' mixes both sides' dens — not statically constant
    return True  # unknown node: be loud, not silently wrong


@dataclass
class _Vec:
    """A compiled vector: label columns + exact rational value columns.

    ``df`` holds ``labels + [num (bigint/decimal), den (bigint)]`` with
    value = num/den in display units — exact on both engines until the
    single finalize division. ``labels[0]`` is always the step ``t_ms``."""

    df: DataFrame
    labels: tuple[str, ...]
    sqrt: bool = False  # value = sqrt(num/den) — stddev_over_time; sqrt is
    # IEEE-correctly-rounded on both engines, so the finalize stays exact-
    # deterministic; Cmp/Scale stay rational by SQUARING the scalar
    den_const: int | None = None  # the denominator WHEN it is a query
    # constant (every kernel except avg_over_time / nested avg / VecBin
    # '/'); lets VecBin gcd-reduce and overflow-check constant den
    # products AT COMPILE TIME (r11 ADVICE: rate[30d]*rate[30d] gave
    # den = (100·2.592e9)² past int64 — an ANSI runtime 500 instead of
    # a 400 rejection)


def _vec_match(lv, rv, node, opname: str):
    """Shared vector-matching join for VecBin and VecCmp (r12 machinery,
    factored r13): applies on()/ignoring()/group_left/group_right (or
    bare one-to-one on identical label sets), returning the joined frame
    with value columns renamed (lnum, lden, rnum, rden) plus the output
    label tuple. t_ms is always an implicit extra key — matching happens
    within one evaluation step (at an instant both sides carry the same
    T literal, so Catalyst folds that key away)."""
    if node.on is not None or node.ignoring is not None:
        # explicit vector matching: the match-key list compiles straight
        # to the equi-join key list — t24's mechanism with the clause
        # choosing the keys.
        lset, rset = lv.labels[1:], rv.labels[1:]
        if node.on is not None:
            mk = tuple(node.on)
            missing = [lb for lb in mk if lb not in lset or lb not in rset]
            if missing:
                raise PromQLError(
                    f"on({', '.join(mk)}): labels {missing} absent "
                    f"(lhs has {lset}, rhs has {rset})"
                )
        else:
            mk = tuple(lb for lb in lset if lb not in node.ignoring)
            if tuple(lb for lb in rset if lb not in node.ignoring) != mk:
                raise PromQLError(
                    f"ignoring({', '.join(node.ignoring)}) leaves "
                    f"mismatched label sets {lset} vs {rset}"
                )
        if node.group_left and node.group_right:
            raise PromQLError("group_left and group_right are exclusive")
        if node.group_left:
            # many-to-one: rhs must be UNIQUE per match key (its
            # label set is exactly the key set — our vectors are
            # unique per full label set by construction), lhs keeps
            # every label
            if rset != mk:
                raise PromQLError(
                    "group_left needs the rhs keyed exactly by the "
                    f"match labels {mk}, got {rset} — aggregate the "
                    "rhs down to the match keys first"
                )
            out_labels = lv.labels
        elif node.group_right:
            # the mirror: one-to-many — lhs unique per match key,
            # rhs keeps every label (operand sides do NOT swap; only
            # label retention flips)
            if lset != mk:
                raise PromQLError(
                    "group_right needs the lhs keyed exactly by the "
                    f"match labels {mk}, got {lset} — aggregate the "
                    "lhs down to the match keys first"
                )
            out_labels = rv.labels
        else:
            if lset != mk or rset != mk:
                raise PromQLError(
                    "one-to-one matching needs both sides keyed "
                    f"exactly by the match labels {mk} (got {lset} "
                    f"vs {rset}); add group_left for many-to-one"
                )
            out_labels = ("t_ms",) + mk
        keys = ["t_ms", *mk]
    else:
        if lv.labels != rv.labels:
            raise PromQLError(
                f"{opname} needs identical label sets "
                f"(one-to-one matching; use on()/ignoring() to match "
                f"on a subset), got {lv.labels} vs {rv.labels}"
            )
        keys = list(lv.labels)
        out_labels = lv.labels
    left = lv.df.select(
        *lv.labels, F.col("num").alias("lnum"), F.col("den").alias("lden")
    )
    right = rv.df.select(
        *rv.labels, F.col("num").alias("rnum"), F.col("den").alias("rden")
    )
    return left.join(right, keys), out_labels


def _chk_den(d: int) -> int:
    """Reject a constant denominator that no longer fits int64 — at
    COMPILE time, so the HTTP endpoint answers 400 bad_data instead of
    surfacing Spark's ANSI ARITHMETIC_OVERFLOW as a 500 (r11 ADVICE)."""
    if d >= (1 << 63):
        raise PromQLError(
            f"constant denominator {d} exceeds int64 — the expression's "
            "exact-rational form overflows (narrow the range windows or "
            "drop a scalar divisor)"
        )
    return d


def _base(spark: SparkSession, sf_dir: str, sel: Selector) -> DataFrame:
    # ONE filter Dataset for both base predicates (r13 guide §4/§1.2:
    # every DataFrame method is a Py4J round trip + an eager re-analysis
    # of the whole accumulated plan — the fresh-path build cost)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & (F.col("event_type") == sel.metric)
    )
    for label, op, val in sel.matchers:
        if label not in _LABELS:
            raise PromQLError(f"unknown label {label!r} (have: {set(_LABELS)})")
        c = F.col(_LABELS[label])
        if op in ("=", "!="):
            try:
                iv = int(val)
            except ValueError:
                raise PromQLError(
                    f"label {label!r} holds integer ids; {val!r} is not one "
                    "(use =~ for pattern matching)"
                ) from None
            ev = ev.where(c == iv if op == "=" else c != iv)
        elif op == "=~":  # RE2 full anchoring — the remote_read convention
            ev = ev.where(c.cast("string").rlike(f"^(?:{val})$"))
        else:  # '!~'
            ev = ev.where(~c.cast("string").rlike(f"^(?:{val})$"))
    return ev.select(
        F.col(_LABELS[_SERIES]).alias(_SERIES),
        F.unix_millis("ts").alias("ms"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )


def _t_lit(sel: Selector, t_eval: int | None) -> Column:
    """A selector's evaluation anchor as a long literal: its ``@`` time
    REPLACES the query's T, ``offset`` then shifts back (Prometheus
    applies offset relative to the @ time). ``t_eval`` is the T the
    compile resolved once (``compile_promql``); None — a corpus with no
    timestamps — stays NULL, so every window cut is unknown and selects
    nothing, with no branch at the call site. Catalyst folds the cast
    and the cut arithmetic back to plain literals, so an instant plan
    carries no anchor join, exchange or carried anchor column."""
    t = sel.at_ms if sel.at_ms is not None else t_eval
    if t is not None and sel.offset_ms:
        t -= sel.offset_ms
    return F.lit(t).cast("long")


# ------------------------------------------------- range-query grid

_GRID_MAX_POINTS = 11_000  # Prometheus's query_range resolution cap


@dataclass(frozen=True)
class _Grid:
    """A step-aligned evaluation grid — the ``query_range`` semantics
    (r11 VERDICT task #1). Two anchorings:

    - literal (``start_ms``/``end_ms`` set): t_k = start + k·step for
      0 ≤ k ≤ (end−start)//step — Prometheus's client-supplied grid,
      used by ``GET /api/v1/query_range``;
    - T-anchored (``span_ms`` set): end = T (corpus max ms, the t23/t25
      convention — the compile's one ``corpus_max_ms`` literal), start
      = T − span — used by the registered pqr*
      queries so the DuckDB oracle derives the IDENTICAL grid from the
      data with no out-of-band constant. When step divides span the
      last grid point is exactly T, so the instant query is the grid's
      final row (pinned by test_promql_range_last_point_is_instant).
    """

    step_ms: int
    span_ms: int | None = None
    start_ms: int | None = None
    end_ms: int | None = None

    def check(self) -> None:
        if self.step_ms <= 0:
            raise PromQLError(f"step must be positive, got {self.step_ms}")
        span = (
            self.span_ms
            if self.span_ms is not None
            else (self.end_ms or 0) - (self.start_ms or 0)
        )
        if span < 0:
            raise PromQLError("range end precedes start")
        if span // self.step_ms + 1 > _GRID_MAX_POINTS:
            raise PromQLError(
                f"grid has {span // self.step_ms + 1} points — "
                f"exceeds the {_GRID_MAX_POINTS}-point resolution cap "
                "(Prometheus's query_range limit); raise step or narrow "
                "the range"
            )


def _grid_expand(
    d: DataFrame,
    grid: _Grid,
    w: int,
    off: int,
    prep=None,
    t_eval: int | None = None,
) -> DataFrame:
    """Attach the grid to a sample frame: each sample expands to exactly
    the grid points t_k whose window (t_k − w, t_k] contains it — the
    j10 bucket-expansion idiom with the grid index as the bucket
    (`operators/joins.py:728`), never a grid×samples cross join. Adds
    ``t_ms``; keeps every other column. The grid half of ``_windowed``
    — leaf kernels call that, never this directly.

    Scale posture: the per-sample fan-out is ⌈w/step⌉+1, a QUERY
    constant independent of data size, and the downstream shuffle key is
    (labels, t_ms) — it grows with retention × resolution, the w3b
    partition-key axis (never a low-cardinality constant). ``prep``
    runs after the range cut but before expansion — the pair kernels
    compute their per-series lag there ONCE, not once per grid point.
    ``off`` implements PromQL ``offset``: sample ms shifts forward into
    the grid frame (window (t_k − off − w, t_k − off] ⟺ effective
    ms + off ∈ (t_k − w, t_k]), leaving output timestamps unshifted.

    r13 build-cost note (guide §4/§1.2): this helper runs for every
    gridded leaf, so it is written to
    MINIMIZE Dataset creations (each DataFrame method is a Py4J round
    trip + an eager Catalyst re-analysis of the whole plan so far):
    both helper columns land in ONE select; the two filters merge into
    one when no ``prep`` separates them (klo/khi evaluate to garbage on
    rows the range cut rejects, but the conjunction discards those rows
    — no exception is reachable: floor/divide by a positive constant);
    and the explode generates t_ms DIRECTLY via
    ``sequence(start + klo·step, start + khi·step, step)`` — the same
    longs, same ascending order as the old per-k projection
    ``(start + k·step) cast long``, in one Dataset instead of three."""
    step = grid.step_ms
    if grid.span_ms is not None:
        # the compile's T as a literal (NULL on a timestamp-less corpus:
        # the range cut then keeps nothing) — see _t_lit
        start = F.lit(t_eval).cast("long") - grid.span_ms
        last_k = grid.span_ms // step
    else:
        start = F.lit(grid.start_ms)
        last_k = (grid.end_ms - grid.start_ms) // step
    d = d.select(
        "*",
        start.alias("_start"),
        (F.col("ms") + F.lit(off)).alias("_mse"),
    )
    _mse, _start = F.col("_mse"), F.col("_start")
    range_cut = (_mse > _start - w) & (_mse <= _start + last_k * step)
    # k ∈ [ceil((mse−start)/step) clamped at 0, floor((mse+w−1−start)/step)
    # clamped at last_k]; both floor args are non-negative after the range
    # cut, and the double quotients are exact-integer-safe (operands well
    # under 2^53, correctly-rounded division of exact ints)
    klo = F.when(_mse <= _start, F.lit(0).cast("long")).otherwise(
        F.floor((_mse - _start + (step - 1)) / F.lit(step))
    )
    khi = F.least(
        F.floor((_mse + (w - 1) - _start) / F.lit(step)),
        F.lit(last_k).cast("long"),
    )
    if prep is not None:
        # the lag must see the full range-cut stream, so the k-window
        # filter stays AFTER prep
        d = prep(d.where(range_cut)).where(klo <= khi)
    else:
        d = d.where(range_cut & (klo <= khi))
    keep = [c for c in d.columns if c not in ("_start", "_mse")]
    return d.select(
        *keep,
        F.explode(
            F.sequence(
                _start + klo * step,
                _start + khi * step,
                F.lit(step).cast("long"),
            )
        ).alias("t_ms"),
    )


_LEAF = ("t_ms", _SERIES)  # every leaf kernel's labels, in both modes


def _step(grid: _Grid | None, t_eval: int | None) -> Column:
    """The step key of every ``groupBy``/``Window.partitionBy``: the
    ``t_ms`` column on a grid, T as a long literal at an instant. An
    expression, not a carried column: Catalyst's
    ``RemoveLiteralFromGroupExpressions`` drops a literal key expression
    (or, when it is the only key, keeps a placeholder, so an aggregation
    over no series gives no row), while a literal COLUMN can stay a hash
    key — a leaf grouping by a selected T column costs ``sum by (user)
    (count_over_time(view[1d]))`` a second Exchange. Never NULL (0 when
    T is None): a NULL key fails every vector-matching join on NULL = NULL."""
    if grid is not None:
        return F.col("t_ms")
    return F.lit(0 if t_eval is None else t_eval).cast("long").alias("t_ms")


def _by(labels, grid: _Grid | None, t_eval: int | None) -> list[Column]:
    """Grouping expressions for ``labels`` — ``t_ms`` via ``_step``."""
    return [_step(grid, t_eval) if lb == "t_ms" else F.col(lb) for lb in labels]


def _windowed(
    spark: SparkSession,
    sf_dir: str,
    sel: Selector,
    w: int,
    grid: _Grid | None,
    t_eval: int | None,
    prep=None,
) -> tuple[DataFrame, list[Column], Column]:
    """The samples of each evaluation window (t − w, t] — the ONE place
    a leaf chooses between instant and grid evaluation, so every leaf
    kernel (the range functions, the selector, timestamp(), the
    terminals) is written once over the returned ``(df, by, end)``: at
    an instant the ``_t_lit`` cut (one grid step at T), on a grid every
    point via ``_grid_expand``. ``by`` groups by the ``_LEAF`` labels.

    ``end`` is the window end in the ``ms + offset`` frame — ``t_ms`` on
    a grid, ``_t_lit + offset`` at an instant (Catalyst folds it to a
    literal) — so a kernel places an earlier sample in the window with
    ``pms + offset > end − w`` in both modes. ``prep`` runs once over
    the cut stream, before grouping (on a grid, before the expansion)."""
    base = _base(spark, sf_dir, sel)
    by = _by(_LEAF, grid, t_eval)
    if grid is not None:
        if sel.at_ms is not None:
            raise PromQLError(
                "the @ modifier inside a range-query grid is outside the "
                "subset (a fixed-time vector is constant across the grid "
                "— evaluate it as an instant query)"
            )
        d = _grid_expand(base, grid, w, sel.offset_ms, prep, t_eval)
        return d, by, F.col("t_ms")
    t = _t_lit(sel, t_eval)
    d = base.where((F.col("ms") > t - w) & (F.col("ms") <= t))
    return d if prep is None else prep(d), by, t + F.lit(sel.offset_ms)


def _lag_pairs(d: DataFrame) -> DataFrame:
    """Each sample's stream-previous (ms, c) per series — the ``prep``
    of the pair kernels: one Dataset and one Window, not two withColumns
    (r13)."""
    wl = Window.partitionBy(_SERIES).orderBy("ms", "event_id")
    return d.select(
        "*",
        F.lag("ms").over(wl).alias("pms"),
        F.lag("c").over(wl).alias("pc"),
    )


_PAIR_FNS = ("rate", "increase", "changes", "resets", "idelta", "irate")


def _compile_rangefn(
    spark: SparkSession,
    sf_dir: str,
    node: RangeFn,
    grid: _Grid | None,
    t_eval: int | None,
) -> _Vec:
    """The range-function kernels, one per function, grouped per
    (t_ms, user) by the ``_windowed`` keys in both modes.

    Pair-kernel correctness note: the per-series lag runs ONCE over the
    cut stream (``_lag_pairs``, before any grid expansion), and a pair
    counts toward a window only when its EARLIER sample also sits inside
    (t − w, t]. Because a time window selects a contiguous run of the
    (ms, event_id)-sorted series, stream-consecutive pairs with both
    endpoints in-window are EXACTLY the window-local consecutive pairs,
    sample for sample (the window's first sample contributes 0)."""
    w, off = node.window_ms, node.sel.offset_ms
    d, by, end = _windowed(
        spark, sf_dir, node.sel, w, grid, t_eval,
        _lag_pairs if node.fn in _PAIR_FNS else None,
    )
    gb = d.groupBy(*by)
    # offset shifts both endpoints of a pair identically
    pair_in = F.col("pms").isNotNull() & (F.col("pms") + F.lit(off) > end - w)
    if node.fn in ("changes", "resets"):
        # counter-health kernels (r12): count of value changes / counter
        # resets among window-local consecutive pairs; a single-sample
        # series reports 0 (Prometheus's behavior) — integer counts,
        # den = 1, fully aggregable
        hit = pair_in & (
            (F.col("c") != F.col("pc"))
            if node.fn == "changes"
            else (F.col("c") < F.col("pc"))
        )
        g = gb.agg(F.sum(hit.cast("long")).cast("long").alias("num"))
        out = g.select(*_LEAF, "num", F.lit(1).cast("long").alias("den"))
        return _Vec(out, _LEAF, den_const=1)
    if node.fn in ("idelta", "irate"):
        # last-pair kernels (r12): idelta = c_last − c_prev (cents, may
        # be negative); irate = reset-aware inc over the LAST sample
        # gap, per second — den = 100·gap_ms is PER-SERIES, so irate is
        # variable-den (aggregations reject at compile). All max_by
        # picks share the unique (ms, event_id) key, so the four columns
        # come from the same row deterministically.
        key = F.struct("ms", "event_id")
        g = gb.agg(
            F.max_by("c", key).alias("lc"),
            F.max_by("pc", key).alias("lpc"),
            F.max_by("ms", key).alias("lms"),
            F.max_by("pms", key).alias("lpms"),
        ).where(  # needs two samples: the last one's prev IN window
            F.col("lpc").isNotNull() & (F.col("lpms") + F.lit(off) > end - w)
        )
        if node.fn == "idelta":
            out = g.select(
                *_LEAF,
                (F.col("lc") - F.col("lpc")).cast("long").alias("num"),
                F.lit(100).cast("long").alias("den"),
            )
            return _Vec(out, _LEAF, den_const=100)
        inc_last = F.when(
            F.col("lc") >= F.col("lpc"), F.col("lc") - F.col("lpc")
        ).otherwise(F.col("lc"))
        # a zero last-sample gap (same-ms duplicates — impossible in
        # real Prometheus, present under replicated corpora) makes the
        # rate undefined: drop the series, the VecBin '/' divisor-zero
        # precedent (oracle carries ms <> pms)
        g = g.where(F.col("lms") != F.col("lpms"))
        out = g.select(
            *_LEAF,
            (inc_last * 1000).cast("long").alias("num"),
            (F.lit(100) * (F.col("lms") - F.col("lpms")))
            .cast("long")
            .alias("den"),
        )
        return _Vec(out, _LEAF)  # den varies per series
    if node.fn in ("rate", "increase"):
        inc = (
            F.when(~pair_in, F.lit(0))
            .when(F.col("c") >= F.col("pc"), F.col("c") - F.col("pc"))
            .otherwise(F.col("c"))
        )
        g = gb.agg(
            F.sum(inc).cast("long").alias("inc"),
            F.count(F.lit(1)).alias("n"),
        ).where(F.col("n") >= 2)  # Prometheus: rate needs two samples
        if node.fn == "rate":  # cents/(100) per (W/1000) s → num/den dollars/s
            out = g.select(
                *_LEAF,
                (F.col("inc") * 1000).cast("long").alias("num"),
                F.lit(100 * w).cast("long").alias("den"),
            )
            return _Vec(out, _LEAF, den_const=_chk_den(100 * w))
        out = g.select(
            *_LEAF, F.col("inc").alias("num"),
            F.lit(100).cast("long").alias("den"),
        )
        return _Vec(out, _LEAF, den_const=100)
    if node.fn in ("stddev_over_time", "stdvar_over_time"):
        # population variance = (n·Σc² − (Σc)²) / (n²·100²); the
        # regression-sums discipline (t31): exact integer partials,
        # value = sqrt(num/den) at finalize for stddev — stdvar (r13) is
        # the same rational WITHOUT the sqrt, so it is variable-den (n²
        # per series) and aggregations reject at compile. n·Σc² bounded
        # ~1e16 at the 64× probe (ANSI mode raises loudly past int64).
        g = gb.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").cast("long").alias("s1"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        )
        out = g.select(
            *_LEAF,
            (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
            .cast("long")
            .alias("num"),
            (F.col("n") * F.col("n") * 10000).cast("long").alias("den"),
        )
        return _Vec(out, _LEAF, sqrt=(node.fn == "stddev_over_time"))
    if node.fn == "delta":
        # r13 (VERDICT r12 task #3): rate's GAUGE sibling — the window's
        # last sample minus its first, NO reset logic, two samples
        # required (the Prometheus rule; this subset is the
        # non-extrapolated form, the t14/increase convention). Both
        # picks share the unique (ms, event_id) key → deterministic.
        key = F.struct("ms", "event_id")
        g = gb.agg(
            F.max_by("c", key).alias("lc"),
            F.min_by("c", key).alias("fc"),
            F.count(F.lit(1)).alias("n"),
        ).where(F.col("n") >= 2)
        out = g.select(
            *_LEAF,
            (F.col("lc") - F.col("fc")).cast("long").alias("num"),
            F.lit(100).cast("long").alias("den"),
        )
        return _Vec(out, _LEAF, den_const=100)
    aggs = {
        # (num agg, den expr, den_const — None when data-dependent)
        "avg_over_time": (F.sum("c").cast("long"), F.count(F.lit(1)) * 100, None),
        "sum_over_time": (F.sum("c").cast("long"), F.lit(100), 100),
        "count_over_time": (F.count(F.lit(1)), F.lit(1), 1),
        "min_over_time": (F.min("c"), F.lit(100), 100),
        "max_over_time": (F.max("c"), F.lit(100), 100),
        "last_over_time": (
            F.max_by("c", F.struct("ms", "event_id")),
            F.lit(100),
            100,
        ),
        "present_over_time": (F.max(F.lit(1)), F.lit(1), 1),
    }
    num, den, den_c = aggs[node.fn]
    g = gb.agg(num.cast("long").alias("num"), den.cast("long").alias("den"))
    return _Vec(g, _LEAF, den_const=den_c)


def _compile_vector(
    spark: SparkSession,
    sf_dir: str,
    node,
    grid: _Grid | None = None,
    t_eval: int | None = None,
) -> _Vec:
    if isinstance(node, (Selector, TsFn)):
        # the instant vector: each series' last sample in the staleness
        # window (t − 5m, t] (t23's 5-minute cut); timestamp() projects
        # that sample's ms instead — num = ms, den = 1000 (seconds, exact)
        sel = node if isinstance(node, Selector) else node.sel
        d, by, _ = _windowed(spark, sf_dir, sel, STALENESS_MS, grid, t_eval)
        if isinstance(node, Selector):
            num, den = F.max_by("c", F.struct("ms", "event_id")), 100
        else:
            num, den = F.max("ms"), 1000
        g = d.groupBy(*by).agg(num.alias("num"))
        out = g.select(
            *_LEAF,
            F.col("num").cast("long").alias("num"),
            F.lit(den).cast("long").alias("den"),
        )
        return _Vec(out, _LEAF, den_const=den)
    if isinstance(node, RangeFn):
        return _compile_rangefn(spark, sf_dir, node, grid, t_eval)
    if isinstance(node, Agg):
        if node.op in (
            "sum", "avg", "min", "max", "stddev", "stdvar", "quantile"
        ) and _variable_den(node.expr):
            # before compiling the inner vector: a pure AST-walk check,
            # so the unsound query fails fast with no plan built
            raise PromQLError(
                f"{node.op}() over a variable-denominator vector "
                "(avg_over_time / nested avg) is outside the exact-"
                "rational subset: per-series denominators differ, so "
                "integer-numerator aggregation is unsound — aggregate "
                "sum_over_time and count_over_time separately instead"
            )
        if "t_ms" in node.by:
            # the step coordinate is never user-addressable (mirrors the
            # without() rule): it is ALREADY an implicit grouping key,
            # and `sum by (t_ms)` would otherwise pass the membership
            # check below and emit duplicate t_ms keys/columns — a
            # malformed matrix (r12 ADVICE). Checked before the inner
            # compile so it needs no SparkSession, like _variable_den.
            raise PromQLError(
                "by(t_ms) is invalid — the grid timestamp is an "
                "implicit per-step grouping key, not a label"
            )
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt and node.op not in ("count", "group"):
            raise PromQLError(
                "aggregating sqrt-deferred values (sqrt/stddev_over_time) "
                "is outside the exact-rational subset (sqrt values don't "
                "aggregate rationally; count/group are den-insensitive "
                "and stay accepted)"
            )
        for lbl in node.by:
            if lbl not in inner.labels:
                raise PromQLError(f"by({lbl}) not in inner labels {inner.labels}")
        # every aggregation is per evaluation step: t_ms is an implicit
        # grouping key (PromQL aggregates within one instant)
        if node.without is not None:
            # the complement form: keep every inner label NOT listed
            # (absent names are ignored — the PromQL rule); t_ms is the
            # step coordinate, never droppable by without()
            keys = ["t_ms"] + [
                lb for lb in inner.labels[1:] if lb not in node.without
            ]
        else:
            keys = ["t_ms", *node.by]
        by = _by(keys, grid, t_eval)
        if node.op == "count_values":
            # count_values("dst", v) (r13 — t27's mechanism from query
            # text): group by the sample VALUE itself; dst carries its
            # string rendering, value = the member count. Exactness
            # needs a cross-engine-identical rendering, so the subset
            # requires an INTEGER-valued vector (den = 1: count/changes/
            # resets/floor/… kernels) — both engines render a bigint
            # identically; wrap non-integer vectors in floor/ceil/round.
            dst = node.param
            if dst in ("t_ms", "num", "den") or dst in inner.labels:
                raise PromQLError(
                    f"count_values: dst {dst!r} collides with a reserved "
                    "or grouped label"
                )
            if inner.den_const != 1:
                raise PromQLError(
                    "count_values needs an integer-valued vector "
                    "(den = 1) so both engines render the value label "
                    "identically — wrap the vector in floor/ceil/round "
                    "or use an integer kernel (count_over_time/changes/"
                    "resets)"
                )
            gcv = inner.df.groupBy(
                *by, F.col("num").cast("string").alias(dst)
            )
            out = gcv.agg(
                F.count(F.lit(1)).cast("long").alias("num")
            ).select(*keys, dst, "num", F.lit(1).cast("long").alias("den"))
            return _Vec(out, tuple(keys) + (dst,), den_const=1)
        gb = inner.df.groupBy(*by)
        if node.op in ("count", "group"):
            # den-insensitive, so accepted even over sqrt vectors; group
            # is the presence marker, the constant 1 per group
            num = F.count(F.lit(1)) if node.op == "count" else F.max(F.lit(1))
            out = gb.agg(num.cast("long").alias("num")).select(
                *keys, "num", F.lit(1).cast("long").alias("den")
            )
            den_c = 1
        elif node.op in ("stddev", "stdvar"):
            # population moments ACROSS series with values num_i/D (D
            # constant, enforced by the AST check above): variance =
            # (n·Σnum² − (Σnum)²) / (n·D)². Partials accumulate as
            # decimal(38,0) ≡ HUGEINT — Σnum² can pass int64 at scale
            # (num ~1e8 cents at the 64× probe) — exact on both engines;
            # stddev finalizes through the sqrt flag (IEEE-correctly-
            # rounded on both), stdvar as the plain rational. den =
            # (n_in·D)² varies per group → both are variable-den
            # (nesting rejects via _variable_den).
            dec = "decimal(38,0)"
            dn = F.col("num").cast(dec)
            if inner.den_const is not None:
                # r13 fast path: known-constant den → no den buffers,
                # no vacuous filter (see the sum branch note below)
                g = gb.agg(
                    F.count(F.lit(1)).alias("n_in"),
                    F.sum(dn).alias("s1"),
                    F.sum(dn * dn).alias("s2"),
                )
                nd = F.col("n_in").cast(dec) * F.lit(
                    inner.den_const
                ).cast(dec)
            else:
                g = gb.agg(
                    F.count(F.lit(1)).alias("n_in"),
                    F.sum(dn).alias("s1"),
                    F.sum(dn * dn).alias("s2"),
                    F.min("den").alias("den_lo"),
                    F.max("den").alias("den_hi"),
                ).where(F.col("den_lo") == F.col("den_hi"))  # defensive only
                nd = F.col("n_in").cast(dec) * F.col("den_lo").cast(dec)
            out = g.select(
                *keys,
                (
                    F.col("n_in").cast(dec) * F.col("s2")
                    - F.col("s1") * F.col("s1")
                ).cast(dec).alias("num"),
                (nd * nd).cast(dec).alias("den"),
            )
            return _Vec(out, tuple(keys), sqrt=(node.op == "stddev"))
        elif node.op == "quantile":
            # quantile(φ, v) across series (r13): pq19's exact type-7
            # interpolation pointed across the group's numerators at one
            # eval point — num' = num_lo·(q−rem) + num_hi·rem over the
            # QUERY-CONSTANT den D·q, so the result stays aggregable
            # (the same soundness argument as quantile_over_time). The
            # per-group collect is bounded by series-per-group (the a7
            # envelope); integer rank arithmetic → no float ties.
            if inner.den_const is None:  # defensive: AST check fired
                raise PromQLError(
                    "quantile() needs a constant-denominator vector"
                )
            p_, q_ = node.param.numerator, node.param.denominator
            g = gb.agg(
                F.sort_array(F.collect_list("num")).alias("arr"),
                F.count(F.lit(1)).alias("n_in"),
            )
            lo = F.floor((F.col("n_in") - 1) * p_ / q_).cast("long")
            rem = ((F.col("n_in") - 1) * p_ - lo * q_).cast("long")
            v_lo = F.element_at("arr", (lo + 1).cast("int"))
            v_hi = F.coalesce(
                F.element_at(
                    "arr", F.least(lo + 2, F.col("n_in")).cast("int")
                ),
                v_lo,
            )
            den_c = _chk_den(inner.den_const * q_)
            out = g.select(
                *keys,
                (v_lo * (F.lit(q_) - rem) + v_hi * rem)
                .cast("long")
                .alias("num"),
                F.lit(den_c).cast("long").alias("den"),
            )
        elif node.op in ("sum", "avg", "min", "max"):
            # exact rational aggregation needs a common denominator
            # within each group — variable-den kernels (avg_over_time,
            # nested avg) were REJECTED AT COMPILE TIME above (r10
            # ADVICE: the silent den_lo==den_hi filter returned an
            # empty result for a grammatically valid query).
            num_agg = {
                "sum": F.sum("num").cast("long"),
                "avg": F.sum("num").cast("long"),
                "min": F.min("num").cast("long"),
                "max": F.max("num").cast("long"),
            }[node.op].alias("num")
            if inner.den_const is not None:
                # r13 fast path (guide §2.3 + §4): the den is a
                # compile-time KNOWN constant, so the min/max(den)
                # buffers and the provably-vacuous den_lo==den_hi
                # filter are dead weight — 2 fewer aggregation buffers
                # through the shuffle, 2 fewer Dataset creations on the
                # build path. den_lo ≡ den_const per group, so the
                # output expression tree is value-identical.
                if node.op == "avg":
                    g = gb.agg(num_agg, F.count(F.lit(1)).alias("n_in"))
                    den = F.lit(inner.den_const) * F.col("n_in")
                else:
                    g = gb.agg(num_agg)
                    den = F.lit(inner.den_const)
                out = g.select(
                    *keys, F.col("num").alias("num"),
                    den.cast("long").alias("den"),
                )
            else:
                # den constant across rows (the AST check) but its VALUE
                # unknown at compile time: carry it through the group
                g = gb.agg(
                    num_agg,
                    F.min("den").alias("den_lo"),
                    F.max("den").alias("den_hi"),
                    F.count(F.lit(1)).alias("n_in"),
                )
                # defensive invariant only: provably vacuous for the
                # accepted subset
                g = g.where(F.col("den_lo") == F.col("den_hi"))
                den = (
                    F.col("den_lo") * F.col("n_in")
                    if node.op == "avg"
                    else F.col("den_lo")
                )
                out = g.select(
                    *keys, F.col("num").alias("num"),
                    den.cast("long").alias("den"),
                )
            # avg's den picks up the per-group n_in → not a query constant
            den_c = None if node.op == "avg" else inner.den_const
        return _Vec(out, tuple(keys), den_const=den_c)
    if isinstance(node, TopK):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        # sort key = ONE IEEE division of exact integers per row —
        # identical on both engines (the d23 priority-key argument);
        # labels break ties (LIMIT determinism rule); bottomk flips
        # the direction (monotone-equivalent under sqrt too)
        key = F.col("num").cast("double") / F.col("den").cast("double")
        ordered = F.asc(key) if node.asc else F.desc(key)
        # per-STEP top-k (PromQL selects k series at each instant):
        # rank within the t_ms partition — the partition key grows with
        # the grid, and each partition holds one instant's series (a
        # bounded per-step sort, the w4 WindowGroupLimit shape), never a
        # global sort of the whole matrix. At an instant the literal
        # partition folds away and the rank filter plans as a
        # TakeOrderedAndProject.
        wk = Window.partitionBy(_step(grid, t_eval)).orderBy(
            ordered, *inner.labels[1:]
        )
        out = (
            inner.df.withColumn("_rk", F.row_number().over(wk))
            .where(F.col("_rk") <= node.k)
            .drop("_rk")
        )
        return _Vec(out, inner.labels, sqrt=inner.sqrt,
                    den_const=inner.den_const)
    if isinstance(node, VecAbs):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt:  # a stddev is already non-negative
            return inner
        # den > 0 invariant: |num/den| = |num|/den, still exact
        out = inner.df.select(
            *inner.labels,
            F.abs(F.col("num")).cast("long").alias("num"),
            "den",
        )
        return _Vec(out, inner.labels, den_const=inner.den_const)
    if isinstance(node, IntFn):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt:
            raise PromQLError(
                f"{node.fn} over stddev_over_time is outside the exact-"
                "rational subset (the sqrt value has no exact integer part)"
            )
        if node.fn == "sgn":
            new_num = F.signum(F.col("num")).cast("long")
        else:
            if node.fn == "round":  # half-UP (the Prometheus tie rule):
                # round(num/den) = floor((2·num + den) / (2·den))
                n_c = (F.col("num") * 2 + F.col("den")).alias("_fn")
                d_c = (F.col("den") * 2).alias("_fd")
            else:
                n_c = F.col("num").alias("_fn")
                d_c = F.col("den").alias("_fd")
            inner = _Vec(
                inner.df.select(*inner.labels, n_c, d_c),
                inner.labels,
            )
            # both engines' integer division truncates toward zero
            # (DuckDB `//` and Spark `div` — pinned by pytest), so the
            # floor/ceil corrections are identical expressions
            trunc = F.expr("_fn div _fd")
            rem = F.expr("_fn % _fd")
            if node.fn == "ceil":
                new_num = trunc + F.when(
                    (F.col("_fn") > 0) & (rem != 0), F.lit(1)
                ).otherwise(F.lit(0))
            else:  # floor, and round's outer floor
                new_num = trunc - F.when(
                    (F.col("_fn") < 0) & (rem != 0), F.lit(1)
                ).otherwise(F.lit(0))
        out = inner.df.select(
            *inner.labels,
            new_num.cast("long").alias("num"),
            F.lit(1).cast("long").alias("den"),
        )
        return _Vec(out, inner.labels, den_const=1)
    if isinstance(node, SqrtFn):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt:
            raise PromQLError(
                "nested sqrt is outside the exact-rational subset (one "
                "deferred root is what the flag can carry)"
            )
        # negative samples have no real root: drop them on BOTH engines
        # (PromQL would emit NaN — outside the subset, the divisor-zero
        # precedent); den > 0, so the numerator's sign decides
        return _Vec(
            inner.df.where(F.col("num") >= 0),
            inner.labels, sqrt=True, den_const=inner.den_const,
        )
    if isinstance(node, DateFn):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt:
            raise PromQLError(
                f"{node.fn} over stddev_over_time is outside the exact-"
                "rational subset"
            )
        # s = trunc(num/den) — Prometheus's int64(v), which IS int64
        # `div` on both engines — then the native Gregorian-UTC
        # calendar decomposition (session zone is UTC-equivalent; see
        # sources/tables.load_table)
        d = inner.df.select(
            *inner.labels, F.expr("num div den").alias("_s")
        )
        ts = F.timestamp_seconds(F.col("_s"))
        part = {
            "minute": F.minute(ts),
            "hour": F.hour(ts),
            # Prometheus: 0 = Sunday (Spark dayofweek is 1 = Sunday)
            "day_of_week": F.dayofweek(ts) - F.lit(1),
            "day_of_month": F.dayofmonth(ts),
            "day_of_year": F.dayofyear(ts),
            "month": F.month(ts),
            "year": F.year(ts),
            "days_in_month": F.dayofmonth(F.last_day(ts)),
        }[node.fn]
        out = d.select(
            *inner.labels,
            part.cast("long").alias("num"),
            F.lit(1).cast("long").alias("den"),
        )
        return _Vec(out, inner.labels, den_const=1)
    if isinstance(node, Clamp):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt:
            raise PromQLError(
                "clamp over stddev_over_time is outside the exact-rational "
                "subset"
            )
        # clamp against s = p/q stays exact AND keeps a constant-den
        # kernel constant-den: num' = greatest/least(num·q, p·den),
        # den' = den·q — the unclamped rows rescale by q too, so every
        # row shares the same denominator expression
        p, q = node.scalar.numerator, node.scalar.denominator
        pick = F.greatest if node.fn == "clamp_min" else F.least
        out = inner.df.select(
            *inner.labels,
            pick(F.col("num") * F.lit(q), F.lit(p) * F.col("den"))
            .cast("long")
            .alias("num"),
            (F.col("den") * F.lit(q)).cast("long").alias("den"),
        )
        den_c = None if inner.den_const is None else _chk_den(inner.den_const * q)
        return _Vec(out, inner.labels, den_const=den_c)
    if isinstance(node, Cmp):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        scalar = node.scalar
        if inner.sqrt:
            if scalar < 0:
                raise PromQLError("stddev comparison against a negative scalar")
            scalar = scalar * scalar  # sqrt(num/den) OP s ⟺ num/den OP s²
        p, q = scalar.numerator, scalar.denominator
        lhs = F.col("num") * F.lit(q)  # num/den OP p/q  ⟺  num·q OP p·den
        rhs = F.lit(p) * F.col("den")
        cond = {
            ">": lhs > rhs, ">=": lhs >= rhs, "<": lhs < rhs,
            "<=": lhs <= rhs, "==": lhs == rhs, "!=": lhs != rhs,
        }[node.op]
        if node.keep_bool:
            # the bool modifier (r13): every sample kept, value 1/0 —
            # den collapses to the constant 1, so the result is
            # aggregable regardless of the inner den (the alert-count
            # idiom sum(x > bool k)); the comparison itself stays the
            # exact cross-multiplication above
            out = inner.df.select(
                *inner.labels,
                F.when(cond, F.lit(1)).otherwise(F.lit(0))
                .cast("long")
                .alias("num"),
                F.lit(1).cast("long").alias("den"),
            )
            return _Vec(out, inner.labels, den_const=1)
        return _Vec(inner.df.where(cond), inner.labels, sqrt=inner.sqrt,
                    den_const=inner.den_const)
    if isinstance(node, Scale):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        s = node.scalar if node.op == "*" else 1 / node.scalar
        if inner.sqrt:
            if s < 0:
                raise PromQLError("stddev scaling by a negative scalar")
            s = s * s  # c·sqrt(num/den) = sqrt(c²·num/den)
        out = inner.df.select(
            *inner.labels,
            (F.col("num") * F.lit(s.numerator)).cast("long").alias("num"),
            (F.col("den") * F.lit(s.denominator)).cast("long").alias("den"),
        )
        den_c = (
            None if inner.den_const is None
            else _chk_den(inner.den_const * s.denominator)
        )
        return _Vec(out, inner.labels, sqrt=inner.sqrt, den_const=den_c)
    if isinstance(node, PowMod):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt:
            raise PromQLError(
                f"{node.op} over stddev_over_time is outside the exact-"
                "rational subset"
            )
        if node.op == "%":
            # (num/den) mod (p/q) = ((num·q) mod (den·p)) / (den·q) —
            # fmod semantics, truncation signed by the DIVIDEND: the
            # shared Java(Spark)/DuckDB `%` rule, exact on both engines
            p, q = node.scalar.numerator, node.scalar.denominator
            out = inner.df.select(
                *inner.labels,
                ((F.col("num") * F.lit(q)) % (F.col("den") * F.lit(p)))
                .cast("long").alias("num"),
                (F.col("den") * F.lit(q)).cast("long").alias("den"),
            )
            den_c = (
                None if inner.den_const is None
                else _chk_den(inner.den_const * q)
            )
            return _Vec(out, inner.labels, den_const=den_c)
        # '^': integer exponent 0..4 (parser-enforced)
        k = int(node.scalar)
        if k == 0:  # x^0 = 1 for every sample (IEEE pow(x,0) = 1)
            out = inner.df.select(
                *inner.labels,
                F.lit(1).cast("long").alias("num"),
                F.lit(1).cast("long").alias("den"),
            )
            return _Vec(out, inner.labels, den_const=1)
        num = F.col("num")
        den = F.col("den")
        for _ in range(k - 1):
            num = num * F.col("num")
            den = den * F.col("den")
        den_c = (
            None if inner.den_const is None
            else _chk_den(inner.den_const ** k)
        )
        out = inner.df.select(
            *inner.labels,
            num.cast("long").alias("num"),
            den.cast("long").alias("den"),
        )
        return _Vec(out, inner.labels, den_const=den_c)
    if isinstance(node, Shift):
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if inner.sqrt:
            raise PromQLError(
                "scalar +/- over stddev_over_time is outside the exact-"
                "rational subset (sqrt doesn't shift rationally)"
            )
        # num/den ± p/q = (num·q ± p·den) / (den·q) — stays exact
        p, q = node.scalar.numerator, node.scalar.denominator
        sp = p if node.op == "+" else -p
        out = inner.df.select(
            *inner.labels,
            (F.col("num") * F.lit(q) + F.lit(sp) * F.col("den"))
            .cast("long")
            .alias("num"),
            (F.col("den") * F.lit(q)).cast("long").alias("den"),
        )
        den_c = None if inner.den_const is None else _chk_den(inner.den_const * q)
        return _Vec(out, inner.labels, den_const=den_c)
    if isinstance(node, VecCmp):
        lv = _compile_vector(spark, sf_dir, node.left, grid, t_eval)
        rv = _compile_vector(spark, sf_dir, node.right, grid, t_eval)
        if lv.sqrt or rv.sqrt:
            # sqrt is monotone, so sqrt-vs-sqrt WOULD compare exactly by
            # comparing the radicands — but only when both sides carry
            # the flag; keep the subset uniform with VecBin instead
            raise PromQLError(
                "vector comparison over stddev_over_time is outside the "
                "exact-rational subset"
            )
        j, out_labels = _vec_match(lv, rv, node, f"vector-vector {node.op!r}")
        # exact cross-multiplication: den > 0 on both sides, and two
        # int64 products peak below 1e38 — decimal(38,0) ≡ HUGEINT
        # never overflows (docstring argument on VecCmp)
        lq = F.col("lnum").cast("decimal(38,0)") * F.col("rden").cast(
            "decimal(38,0)"
        )
        rq = F.col("rnum").cast("decimal(38,0)") * F.col("lden").cast(
            "decimal(38,0)"
        )
        cond = {
            ">": lq > rq, ">=": lq >= rq, "<": lq < rq,
            "<=": lq <= rq, "==": lq == rq, "!=": lq != rq,
        }[node.op]
        if node.keep_bool:
            out = j.select(
                *out_labels,
                F.when(cond, F.lit(1)).otherwise(F.lit(0))
                .cast("long").alias("num"),
                F.lit(1).cast("long").alias("den"),
            )
            return _Vec(out, out_labels, den_const=1)
        # filter form: the surviving rows carry the LHS rational
        out = j.where(cond).select(
            *out_labels,
            F.col("lnum").alias("num"),
            F.col("lden").alias("den"),
        )
        return _Vec(out, out_labels, den_const=lv.den_const)
    if isinstance(node, VecBin):
        lv = _compile_vector(spark, sf_dir, node.left, grid, t_eval)
        rv = _compile_vector(spark, sf_dir, node.right, grid, t_eval)
        if lv.sqrt or rv.sqrt:
            raise PromQLError(
                "vector arithmetic over stddev_over_time is outside the "
                "exact-rational subset"
            )
        j, out_labels = _vec_match(lv, rv, node, f"vector-vector {node.op!r}")
        # Constant-den sides gcd-reduce BEFORE multiplying (r11 ADVICE:
        # rate[30d]*rate[30d] gave den=(100·2.592e9)², an ANSI runtime
        # overflow → 500; now a compile-time 400 via _chk_den, and the
        # common same-window case reduces to den_l itself). Reduction by
        # a common factor preserves the rational's value exactly.
        ldc, rdc = lv.den_const, rv.den_const
        g_rd = math.gcd(ldc, rdc) if (ldc is not None and rdc is not None) else 1
        den_c: int | None = None
        if node.op in ("+", "-"):
            sign = 1 if node.op == "+" else -1
            if ldc is not None and rdc is not None:
                # num/den ± r/s with g=gcd(den,s):
                # (num·(s/g) ± r·(den/g)) / (den·s/g)
                num = (
                    F.col("lnum") * F.lit(rdc // g_rd)
                    + F.lit(sign) * F.col("rnum") * F.lit(ldc // g_rd)
                )
                den_c = _chk_den(ldc // g_rd * rdc)
                den = F.lit(den_c)
            else:
                num = (
                    F.col("lnum") * F.col("rden")
                    + F.lit(sign) * F.col("rnum") * F.col("lden")
                )
                den = F.col("lden") * F.col("rden")
        elif node.op == "*":
            if ldc is not None and rdc is not None:
                den_c = _chk_den(ldc * rdc)
            num = F.col("lnum") * F.col("rnum")
            den = F.col("lden") * F.col("rden")
        else:  # '/': drop divisor-zero samples (PromQL's ±Inf/NaN rows —
            # outside the exact-rational subset; excluded in every oracle)
            j = j.where(F.col("rnum") != 0)
            # keep the den > 0 invariant (Cmp's cross-multiplication and
            # topk's sort direction both rely on it): fold the divisor's
            # sign into the numerator
            sgn = F.when(F.col("rnum") < 0, F.lit(-1)).otherwise(F.lit(1))
            if ldc is not None and rdc is not None:
                # (num/den)/(r/s) = num·(s/g) / ((den/g)·r) with g=gcd(den,s)
                # — the same-window ratio (pq10's shape) reduces to
                # num/|r|, no constant factors left at all
                num = F.col("lnum") * F.lit(rdc // g_rd) * sgn
                den = F.abs(F.lit(ldc // g_rd) * F.col("rnum"))
            else:
                num = F.col("lnum") * F.col("rden") * sgn
                den = F.abs(F.col("lden") * F.col("rnum"))
        out = j.select(
            *out_labels,
            num.cast("long").alias("num"),
            den.cast("long").alias("den"),
        )
        return _Vec(out, out_labels, den_const=den_c)
    if isinstance(node, SetOp):
        lv = _compile_vector(spark, sf_dir, node.left, grid, t_eval)
        rv = _compile_vector(spark, sf_dir, node.right, grid, t_eval)
        if lv.labels != rv.labels:
            raise PromQLError(
                f"{node.op} needs identical label sets (one-to-one "
                f"matching), got {lv.labels} vs {rv.labels}"
            )
        keys = list(lv.labels)
        rhs_keys = rv.df.select(*keys)
        if node.op == "and":  # values from the lhs, existence from the rhs
            return _Vec(lv.df.join(rhs_keys, keys, "left_semi"), lv.labels,
                        sqrt=lv.sqrt)
        if node.op == "unless":
            return _Vec(lv.df.join(rhs_keys, keys, "left_anti"), lv.labels,
                        sqrt=lv.sqrt)
        # 'or': all of lhs, plus rhs series absent from lhs
        if lv.sqrt != rv.sqrt:
            raise PromQLError("or over mixed sqrt/rational vectors")
        lhs_keys = lv.df.select(*keys)
        merged = lv.df.select(*keys, "num", "den").unionByName(
            rv.df.select(*keys, "num", "den").join(lhs_keys, keys, "left_anti")
        )
        return _Vec(merged, lv.labels, sqrt=lv.sqrt)
    if isinstance(node, Absent):
        if grid is not None:
            raise PromQLError(
                "absent/absent_over_time inside a range-query grid is "
                "outside the subset (evaluate as an instant query)"
            )
        w = node.window_ms if node.window_ms is not None else STALENESS_MS
        d, _, _ = _windowed(spark, sf_dir, node.sel, w, grid, t_eval)
        # a keyless count ALWAYS yields one row (0 on an empty scan) —
        # keep it only when the window is empty, then emit the 1-sample
        g = d.agg(F.count(F.lit(1)).alias("n")).where(F.col("n") == 0)
        out = g.select(
            _step(grid, t_eval),
            F.lit(1).cast("long").alias("num"),
            F.lit(1).cast("long").alias("den"),
        )
        return _Vec(out, ("t_ms",), den_const=1)
    if isinstance(node, LabelJoin):
        if node.dst in ("t_ms", "num", "den"):
            raise PromQLError(f"label_join: reserved dst {node.dst!r}")
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        for src in node.srcs:
            if src not in inner.labels or src == "t_ms":
                raise PromQLError(
                    f"label_join: src label {src!r} not in "
                    f"{tuple(lb for lb in inner.labels if lb != 't_ms')}"
                )
        dst_c = F.concat_ws(
            node.sep, *[F.col(src).cast("string") for src in node.srcs]
        ) if node.srcs else F.lit("")
        labels = inner.labels + (
            (node.dst,) if node.dst not in inner.labels else ()
        )
        keep = [lb for lb in inner.labels if lb != node.dst]
        out = inner.df.select(
            *keep, dst_c.alias(node.dst), "num", "den"
        ).select(*labels, "num", "den")
        return _Vec(out, labels, sqrt=inner.sqrt, den_const=inner.den_const)
    if isinstance(node, LabelReplace):
        # dst validation needs no compiled inner — fire sparklessly
        if node.dst in ("t_ms", "num", "den"):
            raise PromQLError(f"label_replace: reserved dst {node.dst!r}")
        inner = _compile_vector(spark, sf_dir, node.expr, grid, t_eval)
        if node.src not in inner.labels or node.src == "t_ms":
            raise PromQLError(
                f"label_replace: src label {node.src!r} not in "
                f"{tuple(lb for lb in inner.labels if lb != 't_ms')}"
            )
        anchored = f"^(?:{node.regex})$"  # the d19/remote_read convention
        src_c = F.col(node.src).cast("string")
        old = (
            F.col(node.dst).cast("string")
            if node.dst in inner.labels
            else F.lit("")  # absent label ≡ empty value (Prometheus rule)
        )
        dst_c = F.when(
            src_c.rlike(anchored),
            F.regexp_replace(src_c, anchored, node.repl),
        ).otherwise(old)
        labels = inner.labels + (
            (node.dst,) if node.dst not in inner.labels else ()
        )
        keep = [lb for lb in inner.labels if lb != node.dst]
        out = inner.df.select(
            *keep, dst_c.alias(node.dst), "num", "den"
        ).select(*labels, "num", "den")
        return _Vec(out, labels, sqrt=inner.sqrt, den_const=inner.den_const)
    if isinstance(node, SubqueryFn):
        if grid is not None:
            raise PromQLError(
                "a subquery inside a range-query grid is outside the "
                "subset (nested grids); evaluate it as an instant query"
            )
        if node.fn in (
            "rate", "increase", "stddev_over_time", "delta",
            "stdvar_over_time",
        ):
            raise PromQLError(
                f"{node.fn} over a subquery is outside the subset "
                "(counter/moment semantics over derived samples); "
                "supported folds: sum/min/max/avg/count/last/present"
                "_over_time"
            )
        n_pts = -(-node.range_ms // node.step_ms)  # ceil
        sub = _Grid(step_ms=node.step_ms, span_ms=(n_pts - 1) * node.step_ms)
        sub.check()
        inner = _compile_vector(spark, sf_dir, node.expr, sub, t_eval)
        if inner.sqrt and node.fn not in (
            "count_over_time", "present_over_time"
        ):
            raise PromQLError(
                f"{node.fn} over a sqrt-valued subquery is outside the "
                "exact-rational subset"
            )
        # fold each series' inner grid points into the outer step: same
        # labels, with the outer t_ms key in place of the inner grid's
        labels = inner.labels
        gb = inner.df.groupBy(*_by(labels, grid, t_eval))
        if node.fn in (
            "sum_over_time", "min_over_time", "max_over_time",
            "avg_over_time",
        ) and inner.den_const is None:
            raise PromQLError(
                f"{node.fn} over a variable-denominator subquery "
                "(avg_over_time / '/' inside) is outside the exact-"
                "rational subset — per-point denominators differ"
            )
        dc = inner.den_const
        folds = {
            # fn: (num agg, den_const of the result)
            "sum_over_time": (F.sum("num"), dc),
            "min_over_time": (F.min("num"), dc),
            "max_over_time": (F.max("num"), dc),
            "count_over_time": (F.count(F.lit(1)), 1),
            "present_over_time": (F.max(F.lit(1)), 1),
        }
        if node.fn in folds:
            num, den_c = folds[node.fn]
            out = gb.agg(num.cast("long").alias("num")).select(
                *labels, "num", F.lit(den_c).cast("long").alias("den")
            )
            return _Vec(out, labels, den_const=den_c)
        if node.fn == "avg_over_time":
            g = gb.agg(
                F.sum("num").cast("long").alias("num"),
                F.count(F.lit(1)).alias("n"),
            )
            out = g.select(
                *labels, "num",
                (F.lit(dc) * F.col("n")).cast("long").alias("den"),
            )
            return _Vec(out, labels)  # den varies per series — not const
        # last_over_time: the value at each series' latest present grid
        # point — num and den picked by the SAME unique key (the inner
        # grid's t_ms is one of its grouping keys, so max_by is
        # deterministic)
        out = gb.agg(
            F.max_by("num", "t_ms").cast("long").alias("num"),
            F.max_by("den", "t_ms").cast("long").alias("den"),
        ).select(*labels, "num", "den")
        return _Vec(out, labels, den_const=inner.den_const)
    if isinstance(node, QuantileOT):
        # exact type-7 interpolation (see the dataclass docstring):
        # lo/rem from INTEGER rank arithmetic — no float rank ties —
        # and ONE array collect per series whose length is the window's
        # per-series sample count (scrape-rate bounded, the a7 envelope)
        p_, q_ = node.phi.numerator, node.phi.denominator
        d, by, _ = _windowed(
            spark, sf_dir, node.sel, node.window_ms, grid, t_eval
        )
        g = d.groupBy(*by).agg(
            F.sort_array(F.collect_list("c")).alias("arr"),
            F.count(F.lit(1)).alias("n"),
        )
        lo = F.floor((F.col("n") - 1) * p_ / q_).cast("long")
        rem = ((F.col("n") - 1) * p_ - lo * q_).cast("long")
        c_lo = F.element_at("arr", (lo + 1).cast("int"))
        c_hi = F.coalesce(
            F.element_at(
                "arr", F.least(lo + 2, F.col("n")).cast("int")
            ),
            c_lo,
        )
        out = g.select(
            *_LEAF,
            (c_lo * (F.lit(q_) - rem) + c_hi * rem)
            .cast("long")
            .alias("num"),
            F.lit(100 * q_).cast("long").alias("den"),
        )
        return _Vec(out, _LEAF, den_const=_chk_den(100 * q_))
    if isinstance(node, HistQ):
        raise PromQLError(
            "histogram_quantile must be the outermost expression (its "
            "result is an interpolated double, not an exact rational)"
        )
    if isinstance(node, (Deriv, PredictLinear)):
        raise PromQLError(
            "deriv/predict_linear must be the outermost expression "
            "(the regression denominator is a wide decimal, not an "
            "int64 rational)"
        )
    if isinstance(node, SortFn):
        raise PromQLError(
            "sort/sort_desc must be the outermost expression "
            "(presentation order, not algebra)"
        )
    raise PromQLError(f"unsupported node {node!r}")


def _compile_deriv(
    spark: SparkSession,
    sf_dir: str,
    node,  # Deriv | PredictLinear — shared partials, two finalizes
    grid: _Grid | None,
    t_eval: int | None,
) -> tuple[DataFrame, tuple[str, ...], Column]:
    """Compile ``deriv(sel[w])`` — see the Deriv dataclass docstring for
    the exact-partials discipline. Plan: ONE hash aggregation per
    series over the window cut (five mergeable partials), then the
    finalize expressions; the same shape as t31
    (`operators/time_windows.py` predict_linear) and equally flat at
    scale. The partials accumulate per (t_ms, user) from ``_windowed``,
    rebased per evaluation step, so the last grid point is bit-equal to
    the instant query (pinned by pytest). Returns ``(df, labels,
    value)`` for ``_compile``'s one finalize select."""
    w = node.window_ms
    dec = "decimal(38,0)"
    d, by, end = _windowed(spark, sf_dir, node.sel, w, grid, t_eval)
    # rebase to the window start: the sample's effective ms (ms + off)
    # sits in (end − w, end], so t' ∈ (0, w] keeps every partial exact
    # inside decimal(38,0) ≡ HUGEINT at any grammar window
    tp = (F.col("ms") + F.lit(node.sel.offset_ms) - (end - w)).cast(dec)
    c = F.col("c").cast(dec)
    g = (
        d.groupBy(*by)
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(tp).alias("st"),
            F.sum(c).alias("sc"),
            F.sum(tp * c).alias("stc"),
            F.sum(tp * tp).alias("stt"),
        )
        .where(F.col("n") >= 2)
    )
    num = (F.col("n") * F.col("stc") - F.col("st") * F.col("sc")).cast(dec)
    den = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(dec)
    g = g.select(
        *_LEAF, "n", "st", "sc", num.alias("num"), den.alias("den")
    ).where(
        F.col("den") != 0  # all samples on one ms → slope undefined
    )
    if isinstance(node, PredictLinear):
        # ŷ at x_p = w + t·1000 (ms past the rebased origin), in cents:
        # (Σc·den + num·(n·x_p − Σx)) / (n·den); ÷100 for display units
        # — every factor exact decimal(38,0); peak ~3e32 at [30d] with
        # the compile-time horizon bound below
        if node.ahead_s > 100_000_000:
            raise PromQLError(
                "predict_linear horizon above 1e8 s overflows the exact "
                "decimal(38,0) form — narrow the horizon"
            )
        x_p = w + int(node.ahead_s) * 1000
        pnum = (
            F.col("sc") * F.col("den")
            + F.col("num") * (F.col("n") * F.lit(x_p) - F.col("st"))
        ).cast(dec)
        pden = (F.lit(100) * F.col("n") * F.col("den")).cast(dec)
        q = pnum.cast("double") / pden.cast("double")
    else:
        # cents/ms → display units/second: ×1000 (per second) ÷100
        # (cents), i.e. ×10 — applied INSIDE the exact decimal before
        # the one double conversion per term (identical order in the
        # oracle)
        q = (F.col("num") * 10).cast(dec).cast("double") / F.col(
            "den"
        ).cast("double")
    return g, _LEAF, F.floor(q * 1e6) / 1e6


from prometheus_remote_kinesis_spark.operators.aggregates import (
    _HIST_BOUNDS as _PQ_HQ_BOUNDS,  # a10b's le-bounds; PQ-prefixed alias
    # (the r8 shadowing rule — never re-bind a bare upstream name here)
)


def _compile_histq(
    spark: SparkSession,
    sf_dir: str,
    node: HistQ,
    grid: _Grid | None,
    t_eval: int | None,
) -> tuple[DataFrame, tuple[str, ...], Column]:
    """Compile ``histogram_quantile(φ, sum by (le)
    (count_over_time(<m>_bucket[w])))`` to a10b's one-hash-aggregation +
    array-interpolation plan (`operators/aggregates.py:439`): the scan
    aggregates to ONE row of |bounds| cumulative integer counts (the
    classic ``_bucket`` series emulated over the engine's le-bounds —
    cumulative by construction), the target bucket index comes from the
    EXACT integer comparison c_i·q < p·n (φ = p/q as a Fraction — no
    float rank ties), and Prometheus's linear interpolation runs as one
    deterministic double expression, truncated by the f8 tie-free rule.
    Returns ``(df, labels, value)`` like ``_compile_deriv``."""
    inner = node.expr
    shape_ok = (
        isinstance(inner, Agg)
        and inner.op == "sum"
        and inner.by == ("le",)
        and isinstance(inner.expr, RangeFn)
        and inner.expr.fn == "count_over_time"
        and inner.expr.sel.metric.endswith("_bucket")
    )
    if not shape_ok:
        raise PromQLError(
            "histogram_quantile supports exactly "
            "sum by (le) (count_over_time(<metric>_bucket[w]))"
        )
    rf = inner.expr
    sel = Selector(
        rf.sel.metric[: -len("_bucket")], rf.sel.matchers,
        rf.sel.offset_ms, rf.sel.at_ms,
    )
    p, q = node.phi.numerator, node.phi.denominator
    cum_aggs = [
        F.sum((F.col("c") <= int(round(b * 100))).cast("long")).alias(f"c{i}")
        for i, b in enumerate(_PQ_HQ_BOUNDS)
    ]
    # the partials aggregate over ALL series per evaluation step (ONE
    # hash aggregation keyed on t_ms, growing with the grid, each row
    # carrying the same fixed-width partial vector — the t36 posture);
    # an empty step has no row
    d, _, _ = _windowed(spark, sf_dir, sel, rf.window_ms, grid, t_eval)
    g = d.groupBy(_step(grid, t_eval)).agg(
        F.count(F.lit(1)).alias("n"), *cum_aggs
    )
    cums = F.array(*[F.col(f"c{i}") for i in range(len(_PQ_HQ_BOUNDS))])
    bounds = F.array(*[F.lit(float(b)) for b in _PQ_HQ_BOUNDS])
    idx = F.size(F.filter(cums, lambda c: c * F.lit(q) < F.lit(p) * F.col("n")))
    rank = (F.lit(p) * F.col("n")).cast("double") / F.lit(q)
    lower = F.coalesce(F.get(bounds, idx - 1), F.lit(0.0))
    cum_lower = F.coalesce(F.get(cums, idx - 1), F.lit(0)).cast("double")
    upper = F.get(bounds, idx)
    cum_upper = F.get(cums, idx).cast("double")
    val = F.when(idx >= F.size(bounds), F.element_at(bounds, -1)).otherwise(
        lower + (upper - lower) * (rank - cum_lower) / (cum_upper - cum_lower)
    )
    return g, ("t_ms",), F.floor(val * 1e6) / 1e6


def _string_forced(node) -> frozenset:
    """The numeric data-model labels a ``label_replace`` anywhere in the
    AST may have OVERWRITTEN with replacement strings (r12 ADVICE): the
    finalize must surface those as VARCHAR — Prometheus labels are
    strings — because the default bigint cast throws at runtime under
    ANSI when the replacement isn't numeric (a grammar-valid query
    surfacing as HTTP 500 instead of a result). A pure AST walk, the
    _variable_den pattern; labels never rewritten keep their exact
    bigint finalize so every existing oracle's output type is
    unchanged."""
    out: set[str] = set()

    def walk(n) -> None:
        if isinstance(n, (LabelReplace, LabelJoin)):
            if n.dst in _LABELS:
                out.add(n.dst)
            walk(n.expr)
        elif isinstance(n, (Agg, TopK, VecAbs, Clamp, IntFn, Cmp, Scale,
                            Shift, SubqueryFn, SortFn, PowMod, DateFn,
                            SqrtFn)):
            walk(n.expr)
        elif isinstance(n, (VecBin, VecCmp, SetOp)):
            walk(n.left)
            walk(n.right)
        # Selector / RangeFn / QuantileOT / Absent and the terminal
        # nodes (HistQ, Deriv, PredictLinear) cannot contain a
        # label_replace in the accepted subset

    walk(node)
    return frozenset(out)


def _finalize_label(name: str, forced: frozenset = frozenset()):
    """Numeric labels (the data model's integer user ids + grid t_ms)
    surface as bigint; string labels produced by label_replace stay
    VARCHAR — a hash-gate-safe type on both engines. A numeric label
    OVERWRITTEN by label_replace (``forced``) finalizes as string too:
    the replacement may be non-numeric, and the bigint cast would be an
    ANSI runtime failure (r12 ADVICE)."""
    if name in (_SERIES, "t_ms") and name not in forced:
        return F.col(name).cast("bigint").alias(name)
    return F.col(name).cast("string").alias(name)


def _compile(
    spark: SparkSession,
    sf_dir: str,
    ast,
    grid: _Grid | None,
    t_eval: int | None,
    with_t: bool,
) -> DataFrame:
    """The one compile body of instant and range queries: a terminal or
    a vector, then ONE finalize select. A vector's value is
    floor(num/den · 1e6)/1e6, the one division after an all-integer
    pipeline; a terminal brings its own. ``with_t`` keeps the leading
    ``t_ms`` label (the range matrix) or drops it (the instant)."""
    if isinstance(ast, HistQ):
        df, labels, value = _compile_histq(spark, sf_dir, ast, grid, t_eval)
    elif isinstance(ast, (Deriv, PredictLinear)):
        df, labels, value = _compile_deriv(spark, sf_dir, ast, grid, t_eval)
    else:
        vec = _compile_vector(spark, sf_dir, ast, grid, t_eval)
        ratio = F.col("num").cast("double") / F.col("den").cast("double")
        df, labels = vec.df, vec.labels
        value = F.floor((F.sqrt(ratio) if vec.sqrt else ratio) * 1e6) / 1e6
    forced = _string_forced(ast)
    return df.select(
        *[_finalize_label(c, forced) for c in labels[0 if with_t else 1:]],
        value.alias("value"),
    )


def compile_promql(
    spark: SparkSession, sf_dir: str, query: str, eval_ms: int | None = None
) -> DataFrame:
    """Parse + compile a PromQL instant query; returns (labels..., value).
    An instant is a one-step grid at T: ``compile_promql_range``'s
    ``_compile`` body with no grid, so every step key is the T literal
    (``_step``)."""
    ast = parse(query)
    # T resolved ONCE per compile (footer stats, else one scalar job) and
    # passed down as a literal; the client's time= needs no read at all
    t_eval = eval_ms if eval_ms is not None else corpus_max_ms(spark, sf_dir)
    if not isinstance(ast, SortFn):
        return _compile(spark, sf_dir, ast, None, t_eval, with_t=False)
    # r13: outermost presentation order
    df = _compile(spark, sf_dir, ast.expr, None, t_eval, with_t=False)
    if ast.by_labels:
        missing = [lb for lb in ast.by_labels if lb not in df.columns]
        if missing:
            raise PromQLError(
                f"sort_by_label: labels {missing} absent from the "
                f"result (have {[c for c in df.columns if c != 'value']})"
            )
        # Prometheus sorts label VALUES lexicographically — order on
        # the STRING rendering even for numeric labels ("10" < "2")
        keys = [
            F.desc(F.col(lb).cast("string")) if ast.desc
            else F.asc(F.col(lb).cast("string"))
            for lb in ast.by_labels
        ]
        rest = [c for c in df.columns if c not in ast.by_labels]
        return df.orderBy(*keys, *rest)
    key = F.desc("value") if ast.desc else F.asc("value")
    return df.orderBy(key, *[c for c in df.columns if c != "value"])


def compile_promql_range(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    *,
    step_ms: int,
    span_ms: int | None = None,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> DataFrame:
    """Parse + compile a PromQL RANGE query (r11 VERDICT task #1 — the
    ``query_range`` semantics, the dashboard's primary call): the
    expression evaluates at every step-aligned grid point and the
    result is the matrix (t_ms, labels..., value), one row per grid
    point per series present there (``compile_promql``'s body).

    Grid anchoring: pass ``start_ms``+``end_ms`` (the Prometheus API's
    client-supplied grid, used by ``GET /api/v1/query_range``) OR
    ``span_ms`` (T-anchored: end = corpus max, start = T − span — the
    registered pqr* form whose oracle re-derives the grid from data).

    Execution shape: each sample bucket-expands to the ⌈w/step⌉+1 grid
    windows containing it (a query-constant fan-out), then ONE hash
    aggregation per kernel on the (t_ms, labels) key — which grows with
    retention × resolution (the w3b axis), so no low-cardinality window
    or per-point rescan exists anywhere in the plan. The exact-rational
    discipline is unchanged: t_ms rides as a leading label through the
    same _Vec algebra, and the single division stays at finalize.

    The three TERMINAL functions grid too (r13, VERDICT r12 task #2 —
    the panels a dashboard graphs most): ``histogram_quantile`` runs
    its |bounds| cumulative integer partials per grid point (the t36
    mechanism from query text), ``deriv``/``predict_linear`` their five
    exact decimal(38,0) regression partials per (t_ms, series) — each
    ONE hash aggregation whose key grows with the grid, finalized by
    the same interpolation/regression expressions as the instant forms
    (last grid point ≡ instant, pinned by pytest)."""
    ast = parse(query)
    if isinstance(ast, SortFn):
        raise PromQLError(
            "sort/sort_desc in a range query has no effect in Prometheus "
            "(the matrix is time-ordered per series) — drop it"
        )
    grid = _Grid(
        step_ms=step_ms, span_ms=span_ms, start_ms=start_ms, end_ms=end_ms
    )
    if (span_ms is None) == (start_ms is None or end_ms is None):
        raise PromQLError(
            "range grid needs either span_ms (T-anchored) or "
            "start_ms+end_ms (literal), not both/neither"
        )
    grid.check()
    # only a T-anchored grid needs T; a literal start/end grid never reads
    t_eval = corpus_max_ms(spark, sf_dir) if span_ms is not None else None
    return _compile(spark, sf_dir, ast, grid, t_eval, with_t=True)


# ---------------------------------------------------- registered queries

PQ1_QUERY = "sum(increase(click[1d]))"
PQ1_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT user_id, c, lag(c) OVER (
            PARTITION BY user_id ORDER BY ms, event_id) AS p
        FROM s
    ),
    g AS (
        SELECT user_id,
               CAST(sum(CASE WHEN p IS NULL THEN 0
                             WHEN c >= p THEN c - p ELSE c END) AS BIGINT) AS inc
        FROM d GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT floor(CAST(CAST(sum(inc) AS BIGINT) AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq1_promql_sum_increase", family="PQ", oracle=PQ1_ORACLE, bench=True)
def pq1_promql_sum_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(increase(click[1d]))`` through the parser+compiler — a GLOBAL
    sum over every series' reset-aware increase, hash-safe because the
    aggregation sums exact integer cents (the compiler's rational
    pipeline), with the single division at finalize. See module
    docstring for grammar/semantics."""
    return compile_promql(spark, sf_dir, PQ1_QUERY)


PQ2_QUERY = 'avg_over_time(purchase[1d]) > 40'
PQ2_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id, CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS BIGINT) AS num,
               CAST(count(*) * 100 AS BIGINT) AS den
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g WHERE num * 1 > 40 * den
"""


@register("pq2_promql_threshold_filter", family="PQ", oracle=PQ2_ORACLE)
def pq2_promql_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``avg_over_time(purchase[1d]) > 40`` — per-series window average against a
    scalar threshold; the comparison runs by CROSS-MULTIPLICATION in
    exact integers (num > 40·den), so a knife-edge series can never
    flip on a float rounding (the t35 multiplied-through rule, applied
    by the compiler automatically)."""
    return compile_promql(spark, sf_dir, PQ2_QUERY)


PQ3_QUERY = "count(view)"
PQ3_ORACLE = f"""
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id, max(epoch_us(ts) // 1000) AS last_ms, max(t) AS t
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT floor(CAST(count(*) AS DOUBLE) / CAST(1 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g WHERE last_ms > t - {STALENESS_MS}
    HAVING count(*) > 0
"""


@register("pq3_promql_count_instant", family="PQ", oracle=PQ3_ORACLE)
def pq3_promql_count_instant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``count(view)`` — cardinality of the live instant vector:
    a bare selector compiles to each series' last sample in the
    left-open staleness window (T − 5m, T], and ``count`` folds the
    survivors. With no live series the answer is empty, not 0 (an
    aggregation over nothing, like Prometheus) — hence the oracle's
    HAVING. ``view`` is the metric with a live series at T at sf0.01;
    no ``signup`` series is, which made a ``count(signup)`` form vacuous."""
    return compile_promql(spark, sf_dir, PQ3_QUERY)


PQ4_QUERY = "sum by (user) (rate(view[1d])) * 3600"
PQ4_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT user_id, c, lag(c) OVER (
            PARTITION BY user_id ORDER BY ms, event_id) AS p
        FROM s
    ),
    g AS (
        SELECT user_id,
               CAST(sum(CASE WHEN p IS NULL THEN 0
                             WHEN c >= p THEN c - p ELSE c END) AS BIGINT) AS inc
        FROM d GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(inc * 1000 * 3600 AS DOUBLE)
                 / CAST(CAST(100 AS BIGINT) * 86400000 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
"""


@register("pq4_promql_rate_scaled", family="PQ", oracle=PQ4_ORACLE)
def pq4_promql_rate_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum by (user) (rate(view[1d])) * 3600`` — per-series counter rate rescaled to
    per-hour units: the scalar ``* 3600`` multiplies the rational's
    integer numerator (never a float), so the only division remains the
    finalize step."""
    return compile_promql(spark, sf_dir, PQ4_QUERY)


PQ5_QUERY = "topk(3, sum by (user) (increase(click[1d])))"
PQ5_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT user_id, c, lag(c) OVER (
            PARTITION BY user_id ORDER BY ms, event_id) AS p
        FROM s
    ),
    g AS (
        SELECT user_id,
               CAST(sum(CASE WHEN p IS NULL THEN 0
                             WHEN c >= p THEN c - p ELSE c END) AS BIGINT) AS inc
        FROM d GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(inc AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
    ORDER BY CAST(inc AS DOUBLE) / CAST(100 AS DOUBLE) DESC, user_id
    LIMIT 3
"""


@register("pq5_promql_topk", family="PQ", oracle=PQ5_ORACLE)
def pq5_promql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``topk(3, sum by (user) (increase(click[1d])))`` — the
    top-k selection compiles to TakeOrderedAndProject whose sort key is
    ONE IEEE division of exact integers per row (identical on both
    engines, the d23 priority-key argument), labels breaking ties
    (LIMIT determinism rule)."""
    return compile_promql(spark, sf_dir, PQ5_QUERY)


PQ6_QUERY = "max_over_time(error[1d] offset 1d)"
PQ6_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'error' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000 - 86400000
          AND epoch_us(ts) // 1000 <= t - 86400000
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
"""


@register("pq6_promql_offset_window", family="PQ", oracle=PQ6_ORACLE)
def pq6_promql_offset_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``max_over_time(error[1d] offset 1d)`` — the ``offset``
    modifier shifts the evaluation time: the range covers
    (T−2d, T−1d], yesterday's window for week/day-over-day comparisons
    (t34's idiom, reachable from query text)."""
    return compile_promql(spark, sf_dir, PQ6_QUERY)


PQ7_QUERY = "topk(5, stddev_over_time(view[1d]))"
PQ7_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                        * CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s2
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    r AS (
        SELECT user_id, CAST(n * s2 - s1 * s1 AS BIGINT) AS num,
               CAST(n * n * 10000 AS BIGINT) AS den
        FROM g
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(sqrt(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * 1e6) / 1e6
               AS value
    FROM r
    ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC, user_id
    LIMIT 5
"""


@register("pq7_promql_stddev_topk", family="PQ", oracle=PQ7_ORACLE)
def pq7_promql_stddev_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``topk(5, stddev_over_time(view[1d]))`` — population
    stddev from the five exact regression-sum partials (t31's
    discipline); the ONLY non-rational op is the finalize ``sqrt``,
    which IEEE-754 defines as correctly rounded, so both engines hold
    the identical double; topk orders by the UNDERLYING rational
    (monotone-equivalent to the sqrt) and comparisons/scaling against a
    stddev stay rational by squaring the scalar."""
    return compile_promql(spark, sf_dir, PQ7_QUERY)


PQ8_QUERY = 'count_over_time(click{user="7"}[30d])'
PQ8_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events)
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(count(*) AS DOUBLE) / CAST(1 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM events, b
    WHERE event_type = 'click' AND value IS NOT NULL AND user_id = 7
      AND epoch_us(ts) // 1000 > t - 2592000000
      AND epoch_us(ts) // 1000 <= t
    GROUP BY 1
"""


@register("pq8_promql_label_matcher", family="PQ", oracle=PQ8_ORACLE)
def pq8_promql_label_matcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``count_over_time(click{user="7"}[30d])`` — the label
    MATCHER path through the compiler (`{user="7"}` becomes a scan-side
    equality predicate pushed to parquet alongside the metric-name
    filter), driver-checkable where pq1–pq7 only exercise bare
    selectors."""
    return compile_promql(spark, sf_dir, PQ8_QUERY)


PQ9_QUERY = 'sum_over_time(purchase{user=~"1.?"}[30d])'
PQ9_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND regexp_full_match(CAST(user_id AS VARCHAR), '1.?')
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
"""


@register("pq9_promql_regex_matcher", family="PQ", oracle=PQ9_ORACLE)
def pq9_promql_regex_matcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum_over_time(purchase{user=~"1.?"}[30d])`` — the REGEX
    matcher path through the compiler: ``=~`` compiles to a fully
    anchored ``rlike('^(?:1.?)$')`` scan-side predicate, the exact
    semantics of this engine's remote_read matcher engine
    (``ingest_queries.py::_remote_read_select``, MATCH_RE) and of
    Prometheus itself (RE2, full anchoring); the oracle's
    ``regexp_full_match`` applies the identical anchoring. Patterns
    stay in the Java ∩ RE2 subset (the d19 rule)."""
    return compile_promql(spark, sf_dir, PQ9_QUERY)


PQ10_QUERY = "increase(error[30d]) / increase(view[30d])"
PQ10_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT event_type, user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type IN ('error', 'view') AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT event_type, user_id, c, lag(c) OVER (
            PARTITION BY event_type, user_id ORDER BY ms, event_id) AS p
        FROM s
    ),
    g AS (
        SELECT event_type, user_id,
               CAST(sum(CASE WHEN p IS NULL THEN 0
                             WHEN c >= p THEN c - p ELSE c END) AS BIGINT) AS inc
        FROM d GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT CAST(ge.user_id AS BIGINT) AS user,
           floor(CAST(ge.inc * 100 AS DOUBLE)
                 / CAST(100 * gv.inc AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g ge JOIN g gv ON ge.user_id = gv.user_id
    WHERE ge.event_type = 'error' AND gv.event_type = 'view'
      AND gv.inc <> 0
"""


@register("pq10_promql_vector_ratio", family="PQ", oracle=PQ10_ORACLE)
def pq10_promql_vector_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``increase(error[30d]) / increase(view[30d])`` — the
    vector-VECTOR binary-op path (t24's pre-aggregated equi-join
    mechanism, `operators/time_windows.py:1254`, reached from query
    text): both sides compile to per-series exact rationals, one-to-one
    label matching is an equi-join on the shared label set, and the
    quotient stays rational (num = nₑ·d_v, den = dₑ·n_v — the den>0
    invariant kept by folding the divisor's sign into the numerator).
    Divisor-zero samples drop on BOTH engines (PromQL's ±Inf rows are
    outside the exact-rational subset; the oracle carries the identical
    ``gv.inc <> 0`` cut)."""
    return compile_promql(spark, sf_dir, PQ10_QUERY)


PQ11_QUERY = (
    "histogram_quantile(0.95, sum by (le) (count_over_time(view_bucket[30d])))"
)
PQ11_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               [CAST(sum(CASE WHEN c <= 100 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 200 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 500 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 1000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 2000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 5000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 10000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 20000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 50000 THEN 1 ELSE 0 END) AS BIGINT)]
                   AS cums
        FROM s HAVING count(*) > 0
    ),
    r AS (
        SELECT n, cums,
               len(list_filter(cums, x -> x * 20 < 19 * n)) AS idx,
               CAST(19 * n AS DOUBLE) / 20 AS rk,
               [1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0] AS bl
        FROM g
    )
    SELECT floor(
      (CASE WHEN idx >= len(bl) THEN bl[len(bl)]
            ELSE (CASE WHEN idx = 0 THEN 0.0 ELSE bl[idx] END)
                 + (bl[idx + 1]
                    - CASE WHEN idx = 0 THEN 0.0 ELSE bl[idx] END)
                   * (rk - CAST(CASE WHEN idx = 0 THEN 0
                                     ELSE cums[idx] END AS DOUBLE))
                   / (CAST(cums[idx + 1] AS DOUBLE)
                      - CAST(CASE WHEN idx = 0 THEN 0
                                  ELSE cums[idx] END AS DOUBLE))
       END) * 1e6) / 1e6 AS value
    FROM r
"""


@register("pq11_promql_histogram_quantile", family="PQ", oracle=PQ11_ORACLE)
def pq11_promql_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``histogram_quantile(0.95, sum by (le)
    (count_over_time(view_bucket[30d])))`` — the classic-histogram
    quantile path compiled to a10b's one-hash-aggregation +
    array-interpolation plan (see _compile_histq): ``view_bucket``
    emulates the ``_bucket`` series over the engine's le-bounds, the
    target bucket comes from the EXACT integer comparison c_i·20 < 19·n
    (φ = 19/20 — no float rank ties), and Prometheus's interpolation
    runs as one identical double expression on both engines, truncated
    tie-free. The shuffle carries ONE row of 10 integer partials —
    unchanged at any corpus scale."""
    return compile_promql(spark, sf_dir, PQ11_QUERY)


PQ12_QUERY = "avg_over_time(purchase[30d]) - 40"
PQ12_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num,
               CAST(count(*) * 100 AS BIGINT) AS den
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num * 1 + (-40) * den AS DOUBLE)
                 / CAST(den * 1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq12_promql_scalar_shift", family="PQ", oracle=PQ12_ORACLE)
def pq12_promql_scalar_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``avg_over_time(purchase[30d]) - 40`` — scalar add/sub
    stays exact: num/den − p/q = (num·q − p·den)/(den·q), so the only
    division remains the finalize (which floors identically on
    NEGATIVE values too — floor truncates toward −∞ on both engines).
    Also the one pq query whose kernel has a VARIABLE den
    (avg_over_time): legal here because Shift is per-row; aggregating
    it is what the compile-time _variable_den check rejects."""
    return compile_promql(spark, sf_dir, PQ12_QUERY)


PQ13_QUERY = (
    "avg_over_time(purchase[30d]) > 40 and count_over_time(error[30d]) > 5"
)
PQ13_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num,
               CAST(count(*) * 100 AS BIGINT) AS den
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    e AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'error' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(g.user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
    WHERE num * 1 > 40 * den
      AND g.user_id IN (SELECT user_id FROM e WHERE n * 1 > 5 * 1)
"""


@register("pq13_promql_and_semi_join", family="PQ", oracle=PQ13_ORACLE)
def pq13_promql_and_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``avg_over_time(purchase[30d]) > 40 and
    count_over_time(error[30d]) > 5`` — the logical ``and`` compiles to
    a LEFT SEMI join on the shared label set (J4's mechanism,
    `operators/joins.py:194`, reached from query text): lhs VALUES,
    rhs EXISTENCE, no value math — so the exact-rational pipeline is
    untouched and the result hashes like its lhs. The alerting idiom
    this enables: gate a threshold on a second signal's presence
    ("high spenders who are also erroring")."""
    return compile_promql(spark, sf_dir, PQ13_QUERY)


PQ14_QUERY = (
    "avg_over_time(purchase[30d]) > 40 unless count_over_time(error[30d]) > 5"
)
PQ14_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num,
               CAST(count(*) * 100 AS BIGINT) AS den
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    e AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'error' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(g.user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
    WHERE num * 1 > 40 * den
      AND NOT EXISTS (SELECT 1 FROM e
                      WHERE e.user_id = g.user_id AND n * 1 > 5 * 1)
"""


@register("pq14_promql_unless_anti_join", family="PQ", oracle=PQ14_ORACLE)
def pq14_promql_unless_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``... unless count_over_time(error[30d]) > 5`` — ``unless``
    compiles to a LEFT ANTI join on the shared labels (J4's other
    half): suppression, the alert-routing idiom ("page on high spend
    EXCEPT where the error alert already fired"). Only 3 of the 113
    lhs series survive at sf0.01 — the anti join does real work, and
    the oracle uses NOT EXISTS with an equality correlate, whose
    NULL-key behavior matches LEFT ANTI exactly (NOT IN would go empty
    if a NULL key ever entered the rhs — the classic trap, dodged
    structurally)."""
    return compile_promql(spark, sf_dir, PQ14_QUERY)


PQ15_QUERY = "clamp_max(abs(avg_over_time(purchase[30d]) - 50), 20)"
PQ15_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num,
               CAST(count(*) * 100 AS BIGINT) AS den
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(least(abs(num - 50 * den), 20 * den) AS DOUBLE)
                 / CAST(den AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq15_promql_abs_clamp", family="PQ", oracle=PQ15_ORACLE)
def pq15_promql_abs_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``clamp_max(abs(avg_over_time(purchase[30d]) - 50), 20)``
    — the vector math functions stay exact-rational: |num/den| = |num|/den
    (the den>0 invariant), and clamping against s = p/q rescales BOTH
    branches by q (num' = least(num·q, p·den), den' = den·q), so a
    constant-den kernel stays constant-den and the single division
    remains the finalize. 17 of 150 series clamp at sf0.01 — both
    branches inside the hash gate. The deviation-band idiom: distance
    from a target value, capped for alert scoring."""
    return compile_promql(spark, sf_dir, PQ15_QUERY)


PQ16_QUERY = "bottomk(3, sum_over_time(error[30d]))"
PQ16_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'error' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
    ORDER BY CAST(num AS DOUBLE) / CAST(100 AS DOUBLE) ASC, user_id
    LIMIT 3
"""


@register("pq16_promql_bottomk", family="PQ", oracle=PQ16_ORACLE)
def pq16_promql_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``bottomk(3, sum_over_time(error[30d]))`` — topk's
    ascending twin (the "quietest series" selection): identical
    TakeOrderedAndProject with the flipped one-IEEE-division sort key,
    labels breaking ties on both engines."""
    return compile_promql(spark, sf_dir, PQ16_QUERY)


PQ17_QUERY = (
    "sum by (user) (increase(error[30d])) "
    "/ on() group_left sum(increase(view[30d]))"
)
PQ17_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT event_type, user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type IN ('error', 'view') AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT event_type, user_id, c, lag(c) OVER (
            PARTITION BY event_type, user_id ORDER BY ms, event_id) AS p
        FROM s
    ),
    g AS (
        SELECT event_type, user_id,
               CAST(sum(CASE WHEN p IS NULL THEN 0
                             WHEN c >= p THEN c - p ELSE c END) AS BIGINT) AS inc
        FROM d GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    gv AS (
        SELECT CAST(sum(inc) AS BIGINT) AS inc FROM g
        WHERE event_type = 'view'
    )
    SELECT CAST(ge.user_id AS BIGINT) AS user,
           floor(CAST(ge.inc AS DOUBLE) / CAST(gv.inc AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g ge, gv
    WHERE ge.event_type = 'error' AND gv.inc <> 0
"""


@register("pq17_promql_group_left_ratio", family="PQ", oracle=PQ17_ORACLE)
def pq17_promql_group_left_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum by (user) (increase(error[30d])) / on() group_left
    sum(increase(view[30d]))`` (r12, VERDICT task #4) — explicit vector
    matching: ``on()`` names the match keys (here: none — an all-to-one
    match against the global denominator) and ``group_left`` permits
    many-to-one with the lhs keeping its full label set. The match-key
    list compiles straight to the join key list (t24's mechanism); an
    empty one leaves the step key alone, which Catalyst folds at an
    instant into a 1-row cross join of the aggregated rhs — the
    per-series-share-of-total idiom every error-budget dashboard uses.
    The gcd-reduced '/' (both dens 100) leaves value = inc_e/inc_v as
    ONE IEEE division of exact integers, identical on both engines."""
    return compile_promql(spark, sf_dir, PQ17_QUERY)


PQ18_QUERY = "max_over_time(sum_over_time(view[1d])[2d:6h])"
PQ18_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    grid AS (
        SELECT t - k.k * 21600000 AS tm
        FROM b, generate_series(0, 7) AS k(k)
    ),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 7 * 21600000 - 86400000
          AND epoch_us(ts) // 1000 <= t
    ),
    per AS (
        SELECT g.tm, s.user_id, CAST(sum(s.c) AS BIGINT) AS num
        FROM grid g JOIN s ON s.ms > g.tm - 86400000 AND s.ms <= g.tm
        GROUP BY 1, 2
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(max(num) AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM per GROUP BY 1
"""


@register("pq18_promql_subquery", family="PQ", oracle=PQ18_ORACLE)
def pq18_promql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL SUBQUERY ``max_over_time(sum_over_time(view[1d])[2d:6h])``
    (r12, VERDICT task #6 — t26's two-level plan reached from query
    text): the inner expression evaluates on a T-anchored 8-point grid
    (t_j = T − j·6h, all inside (T−2d, T]) via the same bucket
    expansion as query_range, then the outer fold runs per series over
    the grid dimension — ONE further hash aggregation on the labels
    alone, the grid key collapsing exactly where the semantics say it
    should. Peak daily volume per series, the capacity-planning idiom.
    Oracle: identical grid from generate_series; absent grid points
    contribute no row on either engine (Prometheus subquery staleness).
    Also pinned against 8 independent offset-instant queries by
    pytest."""
    return compile_promql(spark, sf_dir, PQ18_QUERY)


PQ19_QUERY = "quantile_over_time(0.9, purchase[30d])"
PQ19_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               list_sort(list(CAST(round(value * 100, 0) AS BIGINT))) AS arr,
               CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    r AS (
        SELECT user_id, arr, n,
               (n - 1) * 9 // 10 AS lo,
               (n - 1) * 9 - ((n - 1) * 9 // 10) * 10 AS rem
        FROM g
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(arr[CAST(lo + 1 AS INT)] * (10 - rem)
                      + coalesce(arr[CAST(least(lo + 2, n) AS INT)],
                                 arr[CAST(lo + 1 AS INT)]) * rem AS DOUBLE)
                 / CAST(1000 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM r
"""


@register("pq19_promql_quantile_over_time", family="PQ", oracle=PQ19_ORACLE)
def pq19_promql_quantile_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``quantile_over_time(0.9, purchase[30d])`` (r12, VERDICT
    task #7) — type-7 interpolation computed EXACTLY: integer rank
    arithmetic (lo = (n−1)p // q, rem = (n−1)p mod q — no float rank
    ties), interpolated numerator c_lo·(q−rem) + c_{lo+1}·rem over the
    QUERY-CONSTANT den 100q. One sort_array(collect_list) per series
    whose length is the window's per-series sample count (scrape-rate
    bounded, the a7 envelope); the oracle mirrors with
    list_sort(list(...)) and DuckDB's `//`."""
    return compile_promql(spark, sf_dir, PQ19_QUERY)


PQ20_QUERY = "sum(quantile_over_time(0.9, purchase[30d]))"
PQ20_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               list_sort(list(CAST(round(value * 100, 0) AS BIGINT))) AS arr,
               CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    r AS (
        SELECT user_id, arr, n,
               (n - 1) * 9 // 10 AS lo,
               (n - 1) * 9 - ((n - 1) * 9 // 10) * 10 AS rem
        FROM g
    ),
    v AS (
        SELECT CAST(arr[CAST(lo + 1 AS INT)] * (10 - rem)
                    + coalesce(arr[CAST(least(lo + 2, n) AS INT)],
                               arr[CAST(lo + 1 AS INT)]) * rem AS BIGINT)
                   AS num
        FROM r
    )
    SELECT floor(CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
                 / CAST(1000 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM v
"""


@register("pq20_promql_sum_quantile", family="PQ", oracle=PQ20_ORACLE)
def pq20_promql_sum_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(quantile_over_time(0.9, purchase[30d]))`` — the
    PROOF that quantile_over_time does NOT need the Agg-path rejection
    stddev_over_time needs (r11 VERDICT task #7 anticipated one): its
    den is the query constant 100q and its numerator an exact integer,
    so integer-numerator aggregation is sound — and this query puts
    that soundness inside the DuckDB hash gate rather than asserting
    it. (Contrast `sum(avg_over_time(...))`, still rejected: ITS den
    varies per series.)"""
    return compile_promql(spark, sf_dir, PQ20_QUERY)


PQ22_QUERY = "absent(deploy_freeze)"
PQ22_ORACLE = f"""
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    n AS (
        SELECT count(*) AS n
        FROM events, b
        WHERE event_type = 'deploy_freeze' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - {STALENESS_MS}
          AND epoch_us(ts) // 1000 <= t
    )
    SELECT floor(CAST(1 AS DOUBLE) / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM n WHERE n = 0
"""


@register("pq22_promql_absent", family="PQ", oracle=PQ22_ORACLE)
def pq22_promql_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``absent(deploy_freeze)`` (r12 — t18's gap detection from
    query text): the dead-man's-switch idiom — emits the single sample
    {value: 1} because NO series of the metric reports inside the
    staleness window (the metric doesn't exist in the corpus, the
    page-when-the-heartbeat-stops case); ``absent(click)`` on live data
    returns the empty vector (pytest-pinned). One global count is the
    whole plan — a 1-row shuffle at any scale."""
    return compile_promql(spark, sf_dir, PQ22_QUERY)


PQ25_QUERY = "deriv(purchase[30d])"
PQ25_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id,
               epoch_us(ts) // 1000 - (t - 2592000000) AS tp,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    g AS (
        SELECT user_id,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(tp) AS HUGEINT) AS st,
               CAST(sum(c) AS HUGEINT) AS sc,
               CAST(sum(CAST(tp AS HUGEINT) * c) AS HUGEINT) AS stc,
               CAST(sum(CAST(tp AS HUGEINT) * tp) AS HUGEINT) AS stt
        FROM s GROUP BY 1 HAVING count(*) >= 2
    ),
    r AS (
        SELECT user_id, n * stc - st * sc AS num,
               n * stt - st * st AS den
        FROM g
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num * 10 AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM r WHERE den <> 0
"""


@register("pq25_promql_deriv", family="PQ", oracle=PQ25_ORACLE)
def pq25_promql_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``deriv(purchase[30d])`` (r12 — t31's least-squares
    machinery from query text): per-series regression slope per second
    from five EXACT decimal(38,0) partials (≡ DuckDB HUGEINT — nΣt'²
    ~7e24 at [30d], past int64 but exact on both engines; timestamps
    rebase to the window start to bound magnitudes, the t31
    discipline); the num·10 and den convert to double ONCE each in the
    identical expression order, then f8's tie-free floor. Terminal like
    histogram_quantile (wide-decimal den has no int64 rational form —
    nesting rejects at compile)."""
    return compile_promql(spark, sf_dir, PQ25_QUERY)


PQ26_QUERY = "predict_linear(purchase[30d], 86400)"
PQ26_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id,
               epoch_us(ts) // 1000 - (t - 2592000000) AS tp,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    g AS (
        SELECT user_id,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(tp) AS HUGEINT) AS st,
               CAST(sum(c) AS HUGEINT) AS sc,
               CAST(sum(CAST(tp AS HUGEINT) * c) AS HUGEINT) AS stc,
               CAST(sum(CAST(tp AS HUGEINT) * tp) AS HUGEINT) AS stt
        FROM s GROUP BY 1 HAVING count(*) >= 2
    ),
    r AS (
        SELECT user_id, n, st, sc,
               n * stc - st * sc AS num,
               n * stt - st * st AS den
        FROM g
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(sc * den + num * (n * 2678400000 - st) AS DOUBLE)
                 / CAST(100 * n * den AS DOUBLE) * 1e6) / 1e6 AS value
    FROM r WHERE den <> 0
"""


@register("pq26_promql_predict_linear", family="PQ", oracle=PQ26_ORACLE)
def pq26_promql_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``predict_linear(purchase[30d], 86400)`` (r12 — t31's
    full regression from query text): the deriv line evaluated one day
    past the evaluation time, the disk-will-fill-in-N-hours alerting
    idiom. Same five exact decimal(38,0) partials as pq25; the
    prediction numerator Σc·den + num·(n·x_p − Σx) peaks ~3e32 at
    [30d] — inside both engines' 38-digit exact range (the compile-time
    horizon bound keeps it there), ONE double conversion per term
    (x_p = w + 86400·1000 = 2678400000 in the oracle). Terminal like
    deriv."""
    return compile_promql(spark, sf_dir, PQ26_QUERY)


PQ27_QUERY = "sum(floor(avg_over_time(purchase[30d]) - 42))"
PQ27_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num,
               CAST(count(*) * 100 AS BIGINT) AS den
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    sh AS (
        SELECT CAST(num * 1 + (-42) * den AS BIGINT) AS num,
               CAST(den * 1 AS BIGINT) AS den
        FROM g
    ),
    f AS (
        SELECT num // den
               - CASE WHEN num < 0 AND num % den <> 0 THEN 1 ELSE 0 END
                   AS fv
        FROM sh
    )
    SELECT floor(CAST(CAST(sum(fv) AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM f
"""


@register("pq27_promql_sum_floor", family="PQ", oracle=PQ27_ORACLE)
def pq27_promql_sum_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(floor(avg_over_time(purchase[30d]) - 42))`` (r12 —
    the floor/ceil/round/sgn family): floor computes the EXACT integer
    part by integer division with the toward-zero/floor correction
    (both engines truncate toward zero — pq-pinned), and its den = 1
    output makes the otherwise-REJECTED aggregation over a variable-den
    kernel sound: sum(avg_over_time(...)) fails at compile, but the
    integer part of each per-series rational sums exactly. The −42
    shift puts NEGATIVE rationals (the floor≠trunc branch) inside the
    hash gate, not just in pytest."""
    return compile_promql(spark, sf_dir, PQ27_QUERY)


PQ23_QUERY = "sum(resets(click[30d]))"
PQ23_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT user_id, c, lag(c) OVER (
            PARTITION BY user_id ORDER BY ms, event_id) AS p
        FROM s
    ),
    g AS (
        SELECT user_id,
               CAST(sum(CASE WHEN p IS NOT NULL AND c < p
                             THEN 1 ELSE 0 END) AS BIGINT) AS num
        FROM d GROUP BY 1
    )
    SELECT floor(CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq23_promql_sum_resets", family="PQ", oracle=PQ23_ORACLE)
def pq23_promql_sum_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(resets(click[30d]))`` (r12 — the counter-health
    kernels changes/resets from query text): counts window-local
    consecutive pairs where the counter DECREASED, summed fleet-wide —
    the restart-storm detector. Integer counts with den = 1, so the
    global aggregation is exact; a single-sample series reports 0
    (Prometheus's behavior), never dropping from the vector."""
    return compile_promql(spark, sf_dir, PQ23_QUERY)


PQ24_QUERY = "irate(view[30d])"
PQ24_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT user_id, ms, c,
               lag(c) OVER w AS p, lag(ms) OVER w AS pms,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ms DESC, event_id DESC
               ) AS rn
        FROM s
        WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST((CASE WHEN c >= p THEN c - p ELSE c END) * 1000
                      AS DOUBLE)
                 / CAST(100 * (ms - pms) AS DOUBLE) * 1e6) / 1e6 AS value
    FROM d WHERE rn = 1 AND p IS NOT NULL AND ms <> pms
"""


@register("pq24_promql_irate", family="PQ", oracle=PQ24_ORACLE)
def pq24_promql_irate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``irate(view[30d])`` (r12 — the last-pair instantaneous
    rate): reset-aware increase over each series' FINAL sample gap, per
    second. The den is 100·gap_ms — PER-SERIES, so irate is the one
    range kernel besides avg_over_time the Agg path rejects at compile
    (summing rationals with different denominators has no exact integer
    form); per-row use stays exact, the finalize dividing two exact
    integers identically on both engines. All four last-row picks share
    the unique (ms, event_id) max_by key — deterministic under ties."""
    return compile_promql(spark, sf_dir, PQ24_QUERY)


PQ21_QUERY = (
    'sum by (tier) (label_replace(sum_over_time(purchase[30d]), '
    '"tier", "t$1", "user", "(\\d)\\d*"))'
)
PQ21_ORACLE = r"""
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    tname AS (
        SELECT CASE WHEN regexp_full_match(CAST(user_id AS VARCHAR),
                                           '(\d)\d*')
                    THEN regexp_replace(CAST(user_id AS VARCHAR),
                                        '^(?:(\d)\d*)$', 't\1')
                    ELSE '' END AS tier,
               num
        FROM g
    )
    SELECT tier,
           floor(CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM tname GROUP BY 1
"""


@register("pq21_promql_label_replace", family="PQ", oracle=PQ21_ORACLE)
def pq21_promql_label_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum by (tier) (label_replace(sum_over_time(
    purchase[30d]), "tier", "t$1", "user", "(\\d)\\d*"))`` (r12 — t21's
    label_replace from query text, the LAST named grammar gap of the
    r11 VERDICT): the fully anchored regex captures the user id's
    leading digit, $1 expands into the NEW string label ``tier``, and
    the aggregation groups by the derived label — 150 series roll up
    into 10 tiers, values riding the exact-rational pipeline untouched
    (label_replace never touches num/den, so constant-den soundness is
    inherited and the sum stays hash-safe). Non-matching rows get the
    EMPTY dst value — Prometheus's own absent-label representation.
    Oracle: regexp_full_match + regexp_replace with backslash
    backrefs, the identical anchoring."""
    return compile_promql(spark, sf_dir, PQ21_QUERY)


PQ28_QUERY = "sum(delta(purchase[30d]))"
PQ28_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT user_id, c,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ms, event_id) AS ra,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ms DESC, event_id DESC) AS rd,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM s
    ),
    g AS (
        SELECT user_id,
               CAST(sum(CASE WHEN rd = 1 THEN c ELSE 0 END)
                    - sum(CASE WHEN ra = 1 THEN c ELSE 0 END)
                    AS BIGINT) AS dv
        FROM d WHERE n >= 2 GROUP BY 1
    )
    SELECT floor(CAST(CAST(sum(dv) AS BIGINT) AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq28_promql_sum_delta", family="PQ", oracle=PQ28_ORACLE)
def pq28_promql_sum_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(delta(purchase[30d]))`` (r13, VERDICT r12 task #3 —
    the most common remaining grammar fn): delta is rate's GAUGE
    sibling — window last − first, NO reset logic (simpler than the
    increase kernel; this subset is the non-extrapolated form, the t14
    convention), two samples required. Both picks ride one max_by/
    min_by hash aggregation sharing the unique (ms, event_id) key; den
    is the constant 100, so the sum aggregation is exact-rational-
    sound and sits IN the hash gate. Oracle: first/last per series via
    two row_number picks over the identical (ms, event_id) order."""
    return compile_promql(spark, sf_dir, PQ28_QUERY)


PQ29_QUERY = "stdvar_over_time(purchase[30d])"
PQ29_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS s1,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                        * CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS s2
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(n * s2 - s1 * s1 AS DOUBLE)
                 / CAST(n * n * 10000 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq29_promql_stdvar_over_time", family="PQ", oracle=PQ29_ORACLE)
def pq29_promql_stdvar_over_time(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PromQL ``stdvar_over_time(purchase[30d])`` (r13, task #3 —
    t14g's population variance from query text): stddev_over_time's
    no-sqrt twin — the SAME exact integer partials (n·Σc² − (Σc)²
    over n²·10⁴), finalized as the plain rational instead of through
    the sqrt flag. Its den is n² PER SERIES, so stdvar_over_time joins
    avg_over_time/irate in the compile-time variable-den rejection
    (sum(stdvar_over_time(...)) → 400, pytest-pinned)."""
    return compile_promql(spark, sf_dir, PQ29_QUERY)


PQ30_QUERY = "quantile(0.9, sum_over_time(purchase[30d]))"
PQ30_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    a AS (
        SELECT list_sort(list(num)) AS arr, CAST(count(*) AS BIGINT) AS n
        FROM g
    ),
    r AS (
        SELECT arr, n,
               (n - 1) * 9 // 10 AS lo,
               (n - 1) * 9 - ((n - 1) * 9 // 10) * 10 AS rem
        FROM a WHERE n > 0
    )
    SELECT floor(CAST(arr[CAST(lo + 1 AS INT)] * (10 - rem)
                      + coalesce(arr[CAST(least(lo + 2, n) AS INT)],
                                 arr[CAST(lo + 1 AS INT)]) * rem AS DOUBLE)
                 / CAST(1000 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM r
"""


@register("pq30_promql_quantile_agg", family="PQ", oracle=PQ30_ORACLE)
def pq30_promql_quantile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``quantile(0.9, sum_over_time(purchase[30d]))`` (r13,
    VERDICT r12 task #4 — quantile ACROSS series): pq19's exact type-7
    interpolation pointed across the group's numerators at one eval
    point — integer rank split lo/rem (no float ties), interpolated
    numerator over the QUERY-CONSTANT den 100·10, so the result stays
    aggregable (the pq20 soundness argument applied across series).
    The global collect_list is bounded by the series count (the a7
    envelope: 150 rows here, series-cardinality at any scale — never
    sample-count)."""
    return compile_promql(spark, sf_dir, PQ30_QUERY)


PQ31_QUERY = "stddev(sum_over_time(purchase[30d]))"
PQ31_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    a AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(num AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(sum(CAST(num AS HUGEINT) * num) AS HUGEINT) AS s2
        FROM g HAVING count(*) > 0
    )
    SELECT floor(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                      / CAST((n * 100) * (n * 100) AS DOUBLE)) * 1e6) / 1e6
               AS value
    FROM a
"""


@register("pq31_promql_stddev_agg", family="PQ", oracle=PQ31_ORACLE)
def pq31_promql_stddev_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``stddev(sum_over_time(purchase[30d]))`` (r13, task #4 —
    population stddev ACROSS series): partials n/Σnum/Σnum² accumulate
    as decimal(38,0) ≡ HUGEINT (Σnum² passes int64 at the 64× probe —
    the t31 wide-decimal discipline), variance = (n·Σnum² − (Σnum)²)
    / (n·100)², finalized through the sqrt flag (IEEE-correctly-rounded
    on both engines, the stddev_over_time precedent). den = (n·D)² is
    per-group → stddev/stdvar are variable-den: nesting them inside
    sum/avg rejects at compile (pytest-pinned)."""
    return compile_promql(spark, sf_dir, PQ31_QUERY)


PQ32_QUERY = 'count_values("calls", count_over_time(click[30d]))'
PQ32_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(n AS VARCHAR) AS calls,
           floor(CAST(CAST(count(*) AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g GROUP BY 1
"""


@register("pq32_promql_count_values", family="PQ", oracle=PQ32_ORACLE)
def pq32_promql_count_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``count_values("calls", count_over_time(click[30d]))``
    (r13, task #4 — t27's value-distribution mechanism from query
    text): group by the sample VALUE itself; the new ``calls`` label
    carries its rendering, value = the series count per distinct
    value. Exactness requires a cross-engine-identical rendering, so
    the subset accepts only INTEGER-valued vectors (den = 1 — both
    engines render a bigint identically; non-integer vectors must wrap
    in floor/ceil/round, rejection pytest-pinned). Group-key
    cardinality = the value domain, which collapses hard under partial
    aggregation at scale (the t27 posture)."""
    return compile_promql(spark, sf_dir, PQ32_QUERY)


PQ33_QUERY = "sum(group by (user) (sum_over_time(click[30d])))"
PQ33_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT DISTINCT user_id
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
    )
    SELECT floor(CAST(CAST(count(*) AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq33_promql_group_agg", family="PQ", oracle=PQ33_ORACLE)
def pq33_promql_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(group by (user) (sum_over_time(click[30d])))``
    (r13, task #4 — the how-many-series-exist idiom): ``group`` emits
    the constant 1 per grouped series (den-insensitive, accepted even
    over sqrt vectors like count), and the outer sum counts them. Two
    chained hash aggregations, both map-side-combinable; oracle is the
    DISTINCT series count over the same window."""
    return compile_promql(spark, sf_dir, PQ33_QUERY)


PQ34_QUERY = "sum(count_over_time(click[30d]) > bool 40)"
PQ34_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT floor(CAST(CAST(sum(CASE WHEN n * 1 > 40 * 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq34_promql_bool_modifier", family="PQ", oracle=PQ34_ORACLE)
def pq34_promql_bool_modifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(count_over_time(click[30d]) > bool 40)`` (r13 —
    the ``bool`` comparison modifier, a VERDICT r12 grammar residual):
    bool keeps EVERY sample and emits 1/0 instead of filtering — the
    how-many-series-breach idiom. The comparison stays the exact
    cross-multiplication (num·q vs p·den, no division), and the output
    den collapses to the constant 1, so the sum is aggregable even
    over vectors whose filtered form would not be."""
    return compile_promql(spark, sf_dir, PQ34_QUERY)


PQ35_QUERY = "count_over_time(click[30d] @ 1705276800)"
PQ35_ORACLE = """
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(CAST(count(*) AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM events
    WHERE event_type = 'click' AND value IS NOT NULL
      AND epoch_us(ts) // 1000 > 1705276800000 - 2592000000
      AND epoch_us(ts) // 1000 <= 1705276800000
    GROUP BY 1
"""


@register("pq35_promql_at_modifier", family="PQ", oracle=PQ35_ORACLE)
def pq35_promql_at_modifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``count_over_time(click[30d] @ 1705276800)`` (r13 — the
    ``@`` modifier, a VERDICT r12 grammar residual): the selector
    evaluates at the FIXED unix timestamp (2024-01-15T00:00:00Z, mid-
    corpus at every SF) instead of the query's evaluation time — the
    pin-a-panel-to-an-incident idiom. Compiles by REPLACING the
    compile's T literal with the @ time (offset then shifts relative
    to it, the Prometheus rule); the oracle needs no corpus-max CTE at
    all. Instant-only in this subset: @ inside a range-query grid is a
    constant across the grid and rejects at compile (pytest-pinned)."""
    return compile_promql(spark, sf_dir, PQ35_QUERY)


PQ36_QUERY = "sort_desc(sum_over_time(purchase[30d]))"
PQ36_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(num AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g ORDER BY value DESC, user
"""


@register("pq36_promql_sort_desc", family="PQ", oracle=PQ36_ORACLE)
def pq36_promql_sort_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sort_desc(sum_over_time(purchase[30d]))`` (r13 —
    sort/sort_desc, VERDICT r12 grammar residuals): presentation order
    for the instant vector, values descending with the label as the
    deterministic tie-break. Outermost-only (ordering is a property of
    the returned frame, not the rational algebra — nesting rejects);
    range queries reject it like Prometheus ignores it. The hash gate
    is order-insensitive by design, so the ordering itself is pinned
    by pytest, the values by the oracle."""
    return compile_promql(spark, sf_dir, PQ36_QUERY)


PQ37_QUERY = (
    'sum by (pair) (label_join(label_replace(sum_over_time(click[30d]), '
    '"tier", "t$1", "user", "(\\d)\\d*"), "pair", "-", "tier", "user"))'
)
PQ37_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT 't' || substr(CAST(user_id AS VARCHAR), 1, 1) || '-'
               || CAST(user_id AS VARCHAR) AS pair,
           floor(CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g GROUP BY 1
"""


@register("pq37_promql_label_join", family="PQ", oracle=PQ37_ORACLE)
def pq37_promql_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum by (pair) (label_join(label_replace(...), "pair",
    "-", "tier", "user"))`` (r13 — label_join, a VERDICT r12 grammar
    residual): the derived ``tier`` label (label_replace capture) and
    the ``user`` label join with "-" into a composite key the
    aggregation then groups by — label_replace's sibling, values
    untouched so constant-den soundness is inherited. Oracle builds
    the identical composite with ||; the (tier, user) pair is unique
    per user so each output row carries one series' sum."""
    return compile_promql(spark, sf_dir, PQ37_QUERY)


PQ38_QUERY = (
    "sum_over_time(purchase[30d]) > on(user) count_over_time(click[30d])"
)
PQ38_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    p AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS num
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(p.user_id AS BIGINT) AS user,
           floor(CAST(p.num AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM p JOIN c ON p.user_id = c.user_id
    WHERE CAST(p.num AS HUGEINT) * 1 > CAST(c.cnt AS HUGEINT) * 100
"""


@register("pq38_promql_vector_compare", family="PQ", oracle=PQ38_ORACLE)
def pq38_promql_vector_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum_over_time(purchase[30d]) > on(user)
    count_over_time(click[30d])`` (r13 — vector-VECTOR comparison, the
    alerting join idiom ``errors > threshold_series``): both sides
    compile to per-series exact rationals, matching reuses VecBin's
    on()/ignoring() equi-join machinery (`_vec_match`), and the
    predicate is the exact cross-multiplication lnum·rden > rnum·lden
    in decimal(38,0) ≡ HUGEINT (two int64 products peak at 8.5e37 <
    1e38 — never overflows on either engine; legal because den > 0 is
    an invariant on both sides). Surviving rows carry the LHS rational
    unchanged — Prometheus filter semantics — so the oracle's WHERE
    applies the identical HUGEINT cross-multiplication and renders the
    purchase sum."""
    return compile_promql(spark, sf_dir, PQ38_QUERY)


PQ39_QUERY = (
    "sum(avg_over_time(purchase[30d]) >= bool avg_over_time(click[30d]))"
)
PQ39_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    p AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    c AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT floor(CAST(CAST(sum(CASE WHEN CAST(p.s AS HUGEINT) * (100 * c.n)
                                         >= CAST(c.s AS HUGEINT) * (100 * p.n)
                                    THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM p JOIN c ON p.user_id = c.user_id
"""


@register("pq39_promql_bool_vector_compare", family="PQ", oracle=PQ39_ORACLE)
def pq39_promql_bool_vector_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PromQL ``sum(avg_over_time(purchase[30d]) >= bool
    avg_over_time(click[30d]))`` (r13): the bool modifier on a
    vector-vector comparison — how many users average a larger purchase
    than click value. Both operands are VARIABLE-den vectors
    (avg_over_time's den is 100·n per series) whose filtered comparison
    could not feed sum(); bool collapses the output to 1/0 over den = 1,
    flipping aggregability exactly as the scalar form does (pq34) —
    pinned by the rejection twin in the semantics test. The predicate
    s_p·(100·n_c) >= s_c·(100·n_p) is exact in decimal(38,0) ≡ HUGEINT
    regardless of the per-series dens."""
    return compile_promql(spark, sf_dir, PQ39_QUERY)


PQ40_QUERY = "(sum_over_time(purchase[30d]) - 1000) % 7"
PQ40_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   - 100000 AS n
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(CAST(n % 700 AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g
"""


@register("pq40_promql_mod_scalar", family="PQ", oracle=PQ40_ORACLE)
def pq40_promql_mod_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``(sum_over_time(purchase[30d]) - 1000) % 7`` (r13 — the
    ``%`` operator plus expression GROUPING, both new this round): fmod
    on rationals is exact, (num/den) mod (p/q) = ((num·q) mod (den·p))
    / (den·q), and the truncation is signed by the DIVIDEND — the
    shared Java(Spark)/DuckDB integer ``%`` rule, pinned here with a
    genuinely negative dividend (the −1000 shift drives most users
    negative). The parenthesized shift exercises the new ``( expr )``
    grouping primary. Both engines evaluate ``n % 700`` on exact int64
    then the identical floor finalize."""
    return compile_promql(spark, sf_dir, PQ40_QUERY)


PQ41_QUERY = "sum(count_over_time(click[30d]) ^ 2)"
PQ41_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT floor(CAST(CAST(sum(n * n) AS BIGINT) AS DOUBLE)
                 / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pq41_promql_pow_scalar", family="PQ", oracle=PQ41_ORACLE)
def pq41_promql_pow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sum(count_over_time(click[30d]) ^ 2)`` (r13 — the ``^``
    operator): integer exponents 0..4 stay rational (num^k/den^k) with
    the constant den^k compile-checked by _chk_den; fractional powers
    (libm), negative powers (data-dependent reciprocal den) and larger
    exponents reject at compile — the rejection matrix is pytest-pinned.
    Squared counts keep den = 1, so the outer sum is aggregable and the
    oracle is a plain integer sum of squares."""
    return compile_promql(spark, sf_dir, PQ41_QUERY)


PQ44_QUERY = (
    "sum_over_time(click[30d]) / on() group_left "
    "sum(sum_over_time(click[30d]))"
)
PQ44_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS n
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
    SELECT CAST(g.user_id AS BIGINT) AS user,
           floor(CAST(g.n AS DOUBLE) / CAST(tot.total AS DOUBLE) * 1e6)
               / 1e6 AS value
    FROM g, tot WHERE tot.total <> 0
"""


@register("pq44_promql_share_of_total", family="PQ", oracle=PQ44_ORACLE)
def pq44_promql_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``v / on() group_left sum(v)`` — the SHARE-OF-TOTAL idiom
    (late r13, a coverage row: zero new machinery): the empty ``on()``
    match key makes the aggregated rhs a 1-row scalar vector and
    group_left broadcasts it across every lhs series — the r12
    _vec_match machinery composing exactly as Prometheus users write
    it. Both dens are the constant 100, so the '/' gcd-reduces to
    num = n, den = total (pq10's same-window reduction); shares sum to
    ~1 up to the shared 1e-6 truncation. Oracle mirrors with a 1-row
    cross-joined total and the divisor-zero cut."""
    return compile_promql(spark, sf_dir, PQ44_QUERY)


PQ43_QUERY = "sqrt(sum_over_time(purchase[30d]))"
PQ43_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS n
        FROM events, b
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 2592000000
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(user_id AS BIGINT) AS user,
           floor(sqrt(CAST(n AS DOUBLE) / CAST(100 AS DOUBLE)) * 1e6)
               / 1e6 AS value
    FROM g WHERE n >= 0
"""


@register("pq43_promql_sqrt", family="PQ", oracle=PQ43_ORACLE)
def pq43_promql_sqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``sqrt(sum_over_time(purchase[30d]))`` (r13): the ONE
    libm function the exact discipline admits — IEEE 754 REQUIRES sqrt
    correctly rounded, so both engines produce the identical double
    from the identical rational (the mechanism stddev_over_time and
    stddev() already ride via the _Vec sqrt flag; this exposes it from
    query text). The root stays DEFERRED to finalize: comparisons
    square the scalar, aggregation/arithmetic over the flagged vector
    reject (fences pinned), negative samples drop on both engines (no
    real root — the divisor-zero precedent). ln/exp/log2/log10 remain
    deliberately excluded with targeted compile errors: unlike sqrt,
    they are NOT correctly-rounded across libm implementations."""
    return compile_promql(spark, sf_dir, PQ43_QUERY)


PQ42_QUERY = "timestamp(view)"
PQ42_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    g AS (
        SELECT user_id, max(epoch_us(ts) // 1000) AS last_ms
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 <= t
        GROUP BY 1
    )
    SELECT CAST(g.user_id AS BIGINT) AS user,
           floor(CAST(g.last_ms AS DOUBLE) / CAST(1000 AS DOUBLE) * 1e6)
               / 1e6 AS value
    FROM g, b WHERE g.last_ms > b.t - 300000
"""


@register("pq42_promql_timestamp", family="PQ", oracle=PQ42_ORACLE)
def pq42_promql_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``timestamp(view)`` (r13): each surviving series' value
    becomes its last sample's OWN timestamp in seconds — num = ms,
    den = 1000, exact (every ms is n/1000). The plan is the instant
    selector's (same staleness cut, same max aggregation) projecting
    last_ms instead of the value column; the lookback is the
    left-open (T − 5m, T], like every window. Sparse by design: only series
    with a sample in the 5-minute lookback exist — one row at sf0.01,
    exactly Prometheus's staleness behavior (the gridded pqr5 carries
    the many-row coverage of the same mechanism)."""
    return compile_promql(spark, sf_dir, PQ42_QUERY)


PQR5_QUERY = "hour(timestamp(click))"
PQR5_ORACLE = f"""
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    grid AS (
        SELECT t - 86400000 + k.k * 1800000 AS tm
        FROM b, generate_series(0, 48) AS k(k)
    ),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000 - {STALENESS_MS}
          AND epoch_us(ts) // 1000 <= t
    ),
    g AS (
        SELECT g.tm, s.user_id, max(s.ms) AS last_ms
        FROM grid g JOIN s
          ON s.ms > g.tm - {STALENESS_MS} AND s.ms <= g.tm
        GROUP BY 1, 2
    )
    SELECT CAST(tm AS BIGINT) AS t_ms, CAST(user_id AS BIGINT) AS user,
           floor(CAST(date_part('hour', to_timestamp(last_ms // 1000))
                      AS DOUBLE) / CAST(1 AS DOUBLE) * 1e6) / 1e6 AS value
    FROM g
"""


@register("pqr5_promql_range_date_fn", family="PQ", oracle=PQR5_ORACLE)
def pqr5_promql_range_date_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL RANGE ``hour(timestamp(click))`` @ span 1d step 30m (r13
    — the date-function family on the grid): per grid point each
    series' last-sample timestamp truncates to unix seconds
    (Prometheus's int64(v) ≡ int64 ``div`` on both engines) and
    decomposes through the native Gregorian-UTC calendar (Spark
    ``timestamp_seconds``+``hour`` vs DuckDB ``to_timestamp``+
    ``date_part`` — the UTC-equivalent session zone makes them agree;
    minute/day_of_week/…/days_in_month are the same mechanism, pinned
    against Python's calendar in the semantics test). Projection-only
    over pqr2's gridded-selector plan."""
    return compile_promql_range(
        spark, sf_dir, PQR5_QUERY, step_ms=1_800_000, span_ms=86_400_000
    )


PQR1_QUERY = "sum(rate(view[1d]))"
PQR1_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    grid AS (
        SELECT t - 172800000 + k.k * 21600000 AS tm
        FROM b, generate_series(0, 8) AS k(k)
    ),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 172800000 - 86400000
          AND epoch_us(ts) // 1000 <= t
    ),
    d AS (
        SELECT g.tm, s.user_id, s.c, lag(s.c) OVER (
            PARTITION BY g.tm, s.user_id ORDER BY s.ms, s.event_id) AS p
        FROM grid g JOIN s ON s.ms > g.tm - 86400000 AND s.ms <= g.tm
    ),
    gg AS (
        SELECT tm, user_id,
               CAST(sum(CASE WHEN p IS NULL THEN 0
                             WHEN c >= p THEN c - p ELSE c END) AS BIGINT) AS inc
        FROM d GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT CAST(tm AS BIGINT) AS t_ms,
           floor(CAST(CAST(sum(inc) * 1000 AS BIGINT) AS DOUBLE)
                 / CAST(CAST(100 AS BIGINT) * 86400000 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM gg GROUP BY 1
"""


@register(
    "pqr1_promql_range_sum_rate", family="PQ", oracle=PQR1_ORACLE, bench=True
)
def pqr1_promql_range_sum_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL RANGE query ``sum(rate(view[1d]))`` on a T-anchored grid
    (span 2d, step 6h → 9 evaluation points) — the ``query_range``
    semantics (r11 VERDICT task #1): the agg-over-rate pipeline runs
    per grid point via bucket expansion (each sample fans out to the
    ≤ w/step+1 windows containing it; the rate lag runs ONCE per
    series, not once per point) and ONE hash aggregation keyed on
    (t_ms, user) then (t_ms) — keys that grow with retention ×
    resolution, the w3b axis. The oracle re-derives the identical grid
    from the corpus max (generate_series), window-local lag per
    (tm, user) being provably identical to the stream-consecutive
    formulation (see _compile_rangefn). Step divides span, so the
    final row is bit-equal to the instant query (pinned by pytest)."""
    return compile_promql_range(
        spark, sf_dir, PQR1_QUERY,
        step_ms=21_600_000, span_ms=172_800_000,
    )


PQR2_QUERY = "click"
PQR2_ORACLE = f"""
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    grid AS (
        SELECT t - 86400000 + k.k * 1800000 AS tm
        FROM b, generate_series(0, 48) AS k(k)
    ),
    s AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'click' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 86400000 - {STALENESS_MS}
          AND epoch_us(ts) // 1000 <= t
    ),
    g AS (
        SELECT g.tm, s.user_id, s.c, row_number() OVER (
            PARTITION BY g.tm, s.user_id
            ORDER BY s.ms DESC, s.event_id DESC) AS rn
        FROM grid g JOIN s
          ON s.ms > g.tm - {STALENESS_MS} AND s.ms <= g.tm
    )
    SELECT CAST(tm AS BIGINT) AS t_ms, CAST(user_id AS BIGINT) AS user,
           floor(CAST(c AS DOUBLE) / CAST(100 AS DOUBLE) * 1e6) / 1e6
               AS value
    FROM g WHERE rn = 1
"""


@register("pqr2_promql_range_selector", family="PQ", oracle=PQR2_ORACLE)
def pqr2_promql_range_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL RANGE query over a PLAIN SELECTOR — ``click`` on a
    T-anchored grid (span 1d, step 30m → 49 points): each grid point
    holds every series' last sample within the 5-minute staleness
    window (t23's instant vector, gridded — the Grafana raw-metric
    panel shape). Sparse by design at sf0.01 (~10 of 49 points carry a
    sample — absent points produce NO row on either engine, exactly
    Prometheus's staleness behavior). Oracle: the same grid via
    generate_series and a row_number pick of the (ms, event_id)-max
    sample per (tm, user) — deterministic because (ms, event_id) is
    unique."""
    return compile_promql_range(
        spark, sf_dir, PQR2_QUERY,
        step_ms=1_800_000, span_ms=86_400_000,
    )


PQR3_QUERY = (
    "histogram_quantile(0.9, sum by (le) (count_over_time(view_bucket[1d])))"
)
PQR3_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    grid AS (
        SELECT t - 172800000 + k.k * 21600000 AS tm
        FROM b, generate_series(0, 8) AS k(k)
    ),
    s AS (
        SELECT epoch_us(ts) // 1000 AS ms,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b
        WHERE event_type = 'view' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > t - 172800000 - 86400000
          AND epoch_us(ts) // 1000 <= t
    ),
    g AS (
        SELECT g.tm, CAST(count(*) AS BIGINT) AS n,
               [CAST(sum(CASE WHEN c <= 100 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 200 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 500 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 1000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 2000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 5000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 10000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 20000 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(CASE WHEN c <= 50000 THEN 1 ELSE 0 END) AS BIGINT)]
                   AS cums
        FROM grid g JOIN s ON s.ms > g.tm - 86400000 AND s.ms <= g.tm
        GROUP BY 1
    ),
    r AS (
        SELECT tm, n, cums,
               len(list_filter(cums, x -> x * 10 < 9 * n)) AS idx,
               CAST(9 * n AS DOUBLE) / 10 AS rk,
               [1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0] AS bl
        FROM g
    )
    SELECT CAST(tm AS BIGINT) AS t_ms,
           floor(
      (CASE WHEN idx >= len(bl) THEN bl[len(bl)]
            ELSE (CASE WHEN idx = 0 THEN 0.0 ELSE bl[idx] END)
                 + (bl[idx + 1]
                    - CASE WHEN idx = 0 THEN 0.0 ELSE bl[idx] END)
                   * (rk - CAST(CASE WHEN idx = 0 THEN 0
                                     ELSE cums[idx] END AS DOUBLE))
                   / (CAST(cums[idx + 1] AS DOUBLE)
                      - CAST(CASE WHEN idx = 0 THEN 0
                                  ELSE cums[idx] END AS DOUBLE))
       END) * 1e6) / 1e6 AS value
    FROM r
"""


@register("pqr3_promql_range_histogram_quantile", family="PQ", oracle=PQR3_ORACLE)
def pqr3_promql_range_histogram_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PromQL RANGE query ``histogram_quantile(0.9, sum by (le)
    (count_over_time(view_bucket[1d])))`` on a T-anchored grid (span
    2d, step 6h → 9 points) — the p99-over-time dashboard panel (r13,
    VERDICT r12 task #2: the range compiler previously REJECTED the
    terminal functions even though their gridded mechanisms existed as
    hand-built ops). pq11's |bounds| cumulative integer partials
    accumulate per grid point via the j10 bucket expansion (t36's
    posture reached from query text): ONE hash aggregation keyed on
    t_ms — a key that grows with retention × resolution — each output
    row a fixed 10-integer vector, then Prometheus's interpolation as
    one deterministic double expression per point (exact integer
    bucket-pick c_i·10 < 9·n, no float rank ties), truncated tie-free.
    Last grid point ≡ the instant query (pinned by pytest)."""
    return compile_promql_range(
        spark, sf_dir, PQR3_QUERY,
        step_ms=21_600_000, span_ms=172_800_000,
    )


PQR4_QUERY = "predict_linear(purchase[1d], 86400)"
PQR4_ORACLE = """
    WITH b AS (SELECT max(epoch_us(ts) // 1000) AS t FROM events),
    grid AS (
        SELECT t - 172800000 + k.k * 21600000 AS tm
        FROM b, generate_series(0, 8) AS k(k)
    ),
    s AS (
        SELECT g.tm, user_id,
               epoch_us(ts) // 1000 - (g.tm - 86400000) AS tp,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events, b, grid g
        WHERE event_type = 'purchase' AND value IS NOT NULL
          AND epoch_us(ts) // 1000 > g.tm - 86400000
          AND epoch_us(ts) // 1000 <= g.tm
    ),
    g AS (
        SELECT tm, user_id,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(tp) AS HUGEINT) AS st,
               CAST(sum(c) AS HUGEINT) AS sc,
               CAST(sum(CAST(tp AS HUGEINT) * c) AS HUGEINT) AS stc,
               CAST(sum(CAST(tp AS HUGEINT) * tp) AS HUGEINT) AS stt
        FROM s GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    r AS (
        SELECT tm, user_id, n, st, sc,
               n * stc - st * sc AS num,
               n * stt - st * st AS den
        FROM g
    )
    SELECT CAST(tm AS BIGINT) AS t_ms, CAST(user_id AS BIGINT) AS user,
           floor(CAST(sc * den + num * (n * 172800000 - st) AS DOUBLE)
                 / CAST(100 * n * den AS DOUBLE) * 1e6) / 1e6 AS value
    FROM r WHERE den <> 0
"""


@register("pqr4_promql_range_predict_linear", family="PQ", oracle=PQR4_ORACLE)
def pqr4_promql_range_predict_linear(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PromQL RANGE query ``predict_linear(purchase[1d], 86400)`` on a
    T-anchored grid (span 2d, step 6h → 9 points) — the
    disk-will-fill trend panel (r13, VERDICT r12 task #2). pq26's five
    exact decimal(38,0) ≡ HUGEINT regression partials accumulate per
    (t_ms, user) after the j10 bucket expansion, with the rebase
    window-start-relative PER GRID POINT (t' = ms − (t_k − w) ∈ (0, w],
    exactly the instant rebase at T = t_k, so the last grid point is
    bit-equal to the instant query — pinned by pytest). The prediction
    numerator Σc·den + num·(n·x_p − Σx) converts to double ONCE per
    term in the identical expression order on both engines
    (x_p = w + 86400·1000 = 172800000); zero-den (single-ms) series
    drop on both. Shuffle key (t_ms, user): retention × resolution ×
    series — the w3b axis."""
    return compile_promql_range(
        spark, sf_dir, PQR4_QUERY,
        step_ms=21_600_000, span_ms=172_800_000,
    )


def make_promql_http_handler(spark: SparkSession, sf_dir: str):
    """Build the ``query_handler`` for ``RemoteWriteServer`` — the
    Prometheus HTTP API instant query (``GET /api/v1/query``) served by
    the PQ compiler, closing the full reference loop over the wire:
    remote_write in (``/receive``), remote_read back (``/read``), and
    now the dashboard's own query language over the same data
    (``/api/v1/query``). Returns ``(eval_time_seconds, [(labels_dict,
    value), ...])`` in the API's vector shape.

    The per-query ``collect`` is bounded by the same protocol argument
    as the remote_read handler (`ingest_queries.py`): an instant-vector
    response must fit one HTTP body by design — heavy analytics belong
    to the registered batch queries, not the dashboard endpoint. The
    evaluation timestamp honors the spec's ``time`` parameter (r11
    VERDICT task #3 — a client-supplied unix-seconds timestamp becomes
    the T of the t23/t25 convention, so two calls with different
    ``time=`` values see different staleness windows); absent, T =
    corpus max ms as before."""

    def handler(query: str, time_s: float | None = None):
        if time_s is None:
            # ONE resolution of T per call, shared by the compile and
            # the response timestamp
            eval_ms = corpus_max_ms(spark, sf_dir)
            t_s = (eval_ms or 0) / 1000.0
        else:
            eval_ms = int(round(time_s * 1000))
            t_s = time_s
        rows = compile_promql(spark, sf_dir, query, eval_ms=eval_ms).collect()
        out = []
        for r in rows:
            d = r.asDict()
            val = d.pop("value")
            out.append(({k: str(v) for k, v in d.items()}, val))
        return t_s, out

    return handler


def make_promql_metadata_handler(spark: SparkSession, sf_dir: str):
    """Build the ``metadata_handler`` for ``RemoteWriteServer`` — the
    three Prometheus HTTP API metadata routes a Grafana datasource
    calls to populate its dropdowns before it ever sends a query:

    - ``GET /api/v1/labels`` → the label-name list,
    - ``GET /api/v1/label/<name>/values`` → that label's values,
    - ``GET /api/v1/series?match[]=<selector>`` → the label sets of
      matching series.

    Returns ``handler(kind, arg, limit=1000)`` with kind ∈ {'labels',
    'label_values', 'series'} → ``(data, truncated)``. The spec's
    ``limit`` parameter is honored (r12 VERDICT task #5): the sort and
    ``LIMIT N+1`` run INSIDE Spark before the collect, so the driver
    materialization is bounded by the protocol (≤ limit+1 rows), never
    by label cardinality — ``user`` at 100 TB is millions of values and
    previously this was the one route where a client request sized a
    driver collect by data. ``truncated`` feeds the spec's warnings
    array. ``series`` matches over ALL retained samples (the API's
    optional start/end bounds are outside the subset — a series listing
    is a dropdown fill, not a range evaluation)."""

    def handler(kind: str, arg: str | None = None, limit: int = 1000):
        if limit < 1:
            raise PromQLError(f"limit must be positive, got {limit}")

        def capped(rows: list) -> tuple[list, bool]:
            return rows[:limit], len(rows) > limit

        ev = load_table(spark, sf_dir, "events").where(
            F.col("value").isNotNull()
        )
        if kind == "labels":
            return capped(["__name__"] + sorted(_LABELS))
        if kind == "label_values":
            if arg == "__name__":
                rows = (
                    ev.select("event_type").distinct()
                    .orderBy("event_type").limit(limit + 1).collect()
                )
                return capped([r["event_type"] for r in rows])
            if arg in _LABELS:
                # numeric ORDER BY in Spark ≡ the (len, lexico) string
                # order for the non-negative integer ids the data model
                # holds — the sort stays JVM-side, the collect bounded
                rows = (
                    ev.select(_LABELS[arg]).distinct()
                    .orderBy(_LABELS[arg]).limit(limit + 1).collect()
                )
                return capped([str(r[_LABELS[arg]]) for r in rows])
            # unknown label → empty list (the API's behavior)
            return [], False
        if kind == "series":
            sel = parse(arg)
            if not isinstance(sel, Selector):
                raise PromQLError(
                    "series match[] must be a plain selector"
                )
            d = _base(spark, sf_dir, sel)
            rows = (
                d.select(_SERIES).distinct()
                .orderBy(_SERIES).limit(limit + 1).collect()
            )
            return capped(
                [
                    {"__name__": sel.metric, _SERIES: str(r[_SERIES])}
                    for r in rows
                ]
            )
        raise PromQLError(f"unknown metadata kind {kind!r}")

    return handler


def make_promql_range_http_handler(spark: SparkSession, sf_dir: str):
    """Build the ``range_handler`` for ``RemoteWriteServer`` — the
    Prometheus HTTP API range query (``GET /api/v1/query_range``, r11
    VERDICT task #1: the dashboard's PRIMARY call — every Grafana panel
    refresh is one of these). Returns the matrix shape
    ``[(labels_dict, [(t_seconds, value), ...]), ...]`` with per-series
    samples ascending in time, ready for the spec's matrix JSON
    envelope.

    The grid is the client's literal (start, end, step) — Prometheus's
    own alignment — compiled by ``compile_promql_range``'s bucket
    expansion; the resolution cap (11k points, the upstream limit) and
    every grammar rejection surface as PromQLError → the route's 400
    bad_data. The collect is one row per (series, grid point) — bounded
    by the same must-fit-one-HTTP-body protocol argument as the instant
    endpoint."""

    def handler(query: str, start_s: float, end_s: float, step_s: float):
        step_ms = int(round(step_s * 1000))
        df = compile_promql_range(
            spark, sf_dir, query,
            step_ms=step_ms,
            start_ms=int(round(start_s * 1000)),
            end_ms=int(round(end_s * 1000)),
        )
        series: dict[tuple, list] = {}
        label_keys: dict[tuple, dict] = {}
        for r in df.collect():
            d = r.asDict()
            t_ms = d.pop("t_ms")
            val = d.pop("value")
            key = tuple(sorted(d.items()))
            label_keys.setdefault(key, {k: str(v) for k, v in d.items()})
            series.setdefault(key, []).append((t_ms / 1000.0, val))
        return [
            (label_keys[k], sorted(pts)) for k, pts in sorted(series.items())
        ]

    return handler
