"""Weighted-moment kernels, built as Spark SQL expression text.

This is the numerical heart of the engine — the PySpark analog of the
reference's ``_stats.py`` (``/root/reference/src/pandas_weights/_stats.py:14-73``).
Every weighted statistic (global, grouped, resampled, streaming) is built
from these *lazy* expressions, so Catalyst compiles each statistic into a
single partial+final aggregate pass (one shuffle per grouping) with
whole-stage codegen — no Python in the hot path.

Kernels are written once against a small Column-style vocabulary
(``+ - * / >= & ~``, ``isNotNull``, :func:`when`, :func:`call`) and take
their inputs either as :class:`Sql` text or as ``Column`` objects:

* **SQL text in → SQL text out.** The aggregate layers (frame, groupby,
  resample, streaming, pivot, corr) pass :class:`Sql` operands — the
  frame's :meth:`~pandas_weights_spark.frame.WeightedDataFrame._value_sql`
  and :data:`~pandas_weights_spark.frame.WEIGHT_SQL` — so building a plan is pure Python string work,
  and each output column crosses to the JVM once, as one parsed
  ``F.expr`` (:func:`named`). Building the same tree from Column
  operators costs one py4j round trip per node (thousands for a
  ``corr_cov`` matrix).
* **Column in → Column out.** Callers whose operands only exist as
  Columns (window aggregates in ``rolling``, masked values in
  ``inference``, the salted/moment paths in ``groupby``) get a Column
  back; text literals inside the formula become ``F.expr`` leaves.

The text keeps the Column operators' operand order and association
(every binary operator is parenthesised), so Catalyst sees the same
trees either way and results are bit-identical. Literals render as
``1.0D`` (DOUBLE — a bare ``1.0`` is DECIMAL in Spark SQL), integers as
INT, and identifiers are backtick-quoted (:func:`quote`), so column
names with dots, spaces or backticks need no special care.

Semantics reproduced from the reference:

* ``count``  = sum of weights over non-null observations
  (frame.py:189-213): NULL weights always contribute 0.
* ``sum``    = sum of ``w * x`` with pandas ``min_count`` behavior
  (frame.py:215-220): with ``min_count=0`` an all-NULL column yields 0.0,
  with ``min_count>=1`` it yields NULL.
* ``mean``   = ``sum(min_count=1) / count(skipna)`` (frame.py:222-229).
* ``var``    = moment form ``(Σwx² − (Σwx)²/W) / (W − ddof)`` where the
  ddof is subtracted from the *weighted count* — the frequency-weights
  convention (_stats.py:24-33). This forbids Spark's built-in
  ``var_samp``/``stddev`` (wrong ddof base).
* ``corr``   = weighted Pearson with the reference's guard chain
  (_stats.py:36-73): joint validity mask, ``min_periods``, ``W <= ddof``,
  non-positive variance — each guard yields NULL (reference yields NaN;
  we use NULL as the engine-wide missing value, see README).

Divide-by-zero is expressed with ``try_divide`` so the kernels behave
identically under ANSI and legacy SQL modes (Spark 4 defaults ANSI on).
"""

from __future__ import annotations

import math
import operator
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "Sql",
    "Expr",
    "quote",
    "ident",
    "str_lit",
    "lit",
    "call",
    "when",
    "named",
    "to_column",
    "w_count",
    "w_sum",
    "w_sum_of_squares",
    "w_mean",
    "w_var",
    "w_std",
    "variance_from_weighted_moments",
    "w_skew",
    "w_kurt",
    "corr_moment_exprs",
    "corr_from_moments",
    "cov_from_moments",
    "CORR_MOMENTS",
]

_INF = float("inf")


# --- SQL text vocabulary ----------------------------------------------------


def quote(name: str) -> str:
    """Backtick-quoted identifier; embedded backticks are doubled."""
    return "`" + name.replace("`", "``") + "`"


def str_lit(value: str) -> str:
    """Single-quoted SQL string literal (backslash escapes, Spark's
    default string-literal syntax)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _text(value) -> str:
    if isinstance(value, Sql):
        return value.text
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return "CAST('%sInfinity' AS DOUBLE)" % ("-" if value < 0 else "")
        return f"{value!r}D"
    raise TypeError(f"cannot render {value!r} as SQL; wrap it in Sql/ident/lit")


_PY_OPS = {
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": operator.truediv,
    ">=": operator.ge,
    ">": operator.gt,
    "!=": operator.ne,
    "AND": operator.and_,
}


class Sql:
    """A Spark SQL expression as text, with the Column operators.

    Every binary operator is parenthesised, so ``a * b * c`` renders
    ``((a * b) * c)`` — the same left-associated tree the Column
    operators build. Python numbers render as literals; a ``Column``
    operand turns the result into a Column (this side via ``F.expr``).
    """

    __slots__ = ("text",)

    def __init__(self, text: str) -> None:
        self.text = text

    def __str__(self) -> str:
        return self.text

    def __repr__(self) -> str:
        return f"Sql({self.text!r})"

    def _op(self, op: str, other, reflected: bool = False):
        if isinstance(other, Column):
            a, b = F.expr(self.text), other
            return _PY_OPS[op](b, a) if reflected else _PY_OPS[op](a, b)
        a, b = self.text, _text(other)
        if reflected:
            a, b = b, a
        return Sql(f"({a} {op} {b})")

    def __add__(self, o):
        return self._op("+", o)

    def __radd__(self, o):
        return self._op("+", o, True)

    def __sub__(self, o):
        return self._op("-", o)

    def __mul__(self, o):
        return self._op("*", o)

    def __truediv__(self, o):
        return self._op("/", o)

    def __ge__(self, o):
        return self._op(">=", o)

    def __gt__(self, o):
        return self._op(">", o)

    def __ne__(self, o):  # type: ignore[override]
        return self._op("!=", o)

    def __and__(self, o):
        return self._op("AND", o)

    def __invert__(self) -> "Sql":
        return Sql(f"(NOT {self.text})")

    def isNotNull(self) -> "Sql":
        return Sql(f"({self.text} IS NOT NULL)")

    def cast(self, type_name: str) -> "Sql":
        return Sql(f"CAST({self.text} AS {type_name.upper()})")


#: A kernel operand/result: SQL text or a Column.
Expr = Union[Sql, Column]


def ident(name: str) -> Sql:
    """Column reference by name (quoted, so dots are not struct access)."""
    return Sql(quote(name))


def lit(value) -> Sql:
    """A literal operand (``0.0`` → ``0.0D``)."""
    return Sql(_text(value))


def to_column(value) -> Column:
    """Column form of a kernel operand (one ``F.expr`` for text)."""
    if isinstance(value, Column):
        return value
    if isinstance(value, Sql):
        return F.expr(value.text)
    return F.lit(value)


#: SQL function name → ``pyspark.sql.functions`` builder, where they differ
_F_NAMES = {"ln": "log"}


def call(name: str, *args) -> Expr:
    """SQL function call ``name(args…)``; a Column among the arguments
    makes it ``F.<name>(…)`` instead."""
    if any(isinstance(a, Column) for a in args):
        fn = getattr(F, _F_NAMES.get(name, name))
        return fn(*[to_column(a) for a in args])
    return Sql(f"{name}({', '.join(_text(a) for a in args)})")


def when(cond, value) -> Expr:
    """``CASE WHEN cond THEN value END`` (``F.when`` for Columns)."""
    if isinstance(cond, Column) or isinstance(value, Column):
        return F.when(to_column(cond), to_column(value))
    return Sql(f"CASE WHEN {_text(cond)} THEN {_text(value)} END")


def named(expr: Expr, name: str) -> Column:
    """The output column ``expr AS name`` — one parsed ``F.expr`` for
    text, ``alias`` for a Column."""
    if isinstance(expr, Column):
        return expr.alias(name)
    return F.expr(f"{_text(expr)} AS {quote(name)}")


# --- kernels ------------------------------------------------------------------


def _zero() -> Sql:
    return lit(0.0)


def w_count(x: Expr, w: Expr, *, skipna: bool = True) -> Expr:
    """Weighted count: ``Σ w · 1[x IS NOT NULL]`` (frame.py:189-213).

    ``skipna=False`` counts every row's weight regardless of ``x``.
    NULL weights contribute 0 either way. Empty/all-NULL input → 0.0,
    matching pandas ``sum`` with default ``min_count=0``.
    """
    if skipna:
        expr = call("sum", when(x.isNotNull(), w))
    else:
        expr = call("sum", w)
    return call("coalesce", expr, _zero())


def w_sum(x: Expr, w: Expr, *, min_count: int = 0) -> Expr:
    """Weighted sum ``Σ w·x`` with pandas ``min_count`` (frame.py:215-220).

    The product is NULL when either side is NULL, so ``count`` of the
    product equals pandas' count of non-NA weighted values.
    """
    prod = x * w
    total = call("coalesce", call("sum", prod), _zero())
    if min_count > 0:
        return when(call("count", prod) >= min_count, total)
    return total


def w_sum_of_squares(x: Expr, w: Expr, *, min_count: int = 1) -> Expr:
    """``Σ w·x²`` (_stats.py:14-21; default min_count=1 as in reference)."""
    return w_sum(x * x, w, min_count=min_count)


def w_mean(x: Expr, w: Expr, *, skipna: bool = True) -> Expr:
    """Weighted mean = ``sum(min_count=1) / count(skipna)`` (frame.py:222-229)."""
    return call(
        "try_divide", w_sum(x, w, min_count=1), w_count(x, w, skipna=skipna)
    )


def variance_from_weighted_moments(
    ws: Expr, wss: Expr, wc: Expr, *, ddof: int = 1
) -> Expr:
    """``(Σwx² − (Σwx)²/W) / (W − ddof)`` (_stats.py:24-33).

    Pure arithmetic on already-aggregated moment columns — reused by the
    global, grouped, resampled, rolling and streaming variance paths,
    exactly as the reference shares one helper across all three.
    """
    return call(
        "try_divide", wss - call("try_divide", ws * ws, wc), wc - float(ddof)
    )


def w_var(x: Expr, w: Expr, *, ddof: int = 1, skipna: bool = True) -> Expr:
    """Weighted variance in moment form (frame.py:231-241)."""
    return variance_from_weighted_moments(
        w_sum(x, w, min_count=1),
        w_sum_of_squares(x, w, min_count=1),
        w_count(x, w, skipna=skipna),
        ddof=ddof,
    )


def w_std(x: Expr, w: Expr, *, ddof: int = 1, skipna: bool = True) -> Expr:
    """Weighted standard deviation = ``sqrt(var)`` (frame.py:243-251).

    Negative variance (catastrophic cancellation) yields NULL rather than
    NaN so downstream hashing/joins treat it as missing.
    """
    v = w_var(x, w, ddof=ddof, skipna=skipna)
    return when(v >= 0, call("sqrt", v))


def w_min(x: Expr, w: Expr) -> Expr:
    """Minimum observed value carrying probability mass: rows with NULL
    ``x`` or NULL/non-positive weight are excluded — the same mass rule
    as the weighted-quantile family (quantile.py), of which min is the
    q→0⁺ limit. Extension beyond the reference (used by describe())."""
    return call("min", when(w.isNotNull() & (w > 0), x))


def w_max(x: Expr, w: Expr) -> Expr:
    """Maximum observed value carrying probability mass (the q=1
    weighted quantile); same mass rule as :func:`w_min`."""
    return call("max", when(w.isNotNull() & (w > 0), x))


# --- weighted higher moments (extensions beyond the reference) -------------


def _central_moments(x: Expr, w: Expr, *, skipna: bool, upto: int):
    """Weighted central moments via raw power sums: one aggregate pass.

    ``Sk = Σ w·x^k`` with the kernel's left-associated product order
    (``((x*x)*x)*w`` …) — the SQL oracles mirror the same order so the
    IEEE results are bit-identical.
    """
    W = w_count(x, w, skipna=skipna)
    s1 = call("try_divide", w_sum(x, w, min_count=1), W)  # μ
    s2w = call("try_divide", w_sum(x * x, w, min_count=1), W)
    mu = s1
    m2 = s2w - mu * mu
    out = {"W": W, "mu": mu, "m2": m2, "s2w": s2w}
    if upto >= 3:
        s3w = call("try_divide", w_sum(x * x * x, w, min_count=1), W)
        out["s3w"] = s3w
        out["m3"] = s3w - lit(3.0) * mu * s2w + lit(2.0) * mu * mu * mu
    if upto >= 4:
        s4w = call("try_divide", w_sum(x * x * x * x, w, min_count=1), W)
        out["m4"] = (
            s4w
            - lit(4.0) * mu * out["s3w"]
            + lit(6.0) * mu * mu * s2w
            - lit(3.0) * mu * mu * mu * mu
        )
    return out


def w_sem(
    x: Expr, w: Expr, *, ddof: int = 1, skipna: bool = True
) -> Expr:
    """Weighted standard error of the mean: ``std / sqrt(W)`` with the
    weighted count ``W`` in the role pandas' ``n`` plays
    (``DataFrame.sem`` analog under the frequency-weights convention;
    unit weights reproduce pandas exactly). NULL when the std is (W ≤
    ddof, non-positive variance)."""
    sd = w_std(x, w, ddof=ddof, skipna=skipna)
    W = w_count(x, w, skipna=skipna)
    return when(W > 0, call("try_divide", sd, call("sqrt", W)))


def w_skew(x: Expr, w: Expr, *, skipna: bool = True) -> Expr:
    """Weighted skewness ``m3 / m2^1.5`` (population / biased definition,
    the frequency-weights analog of ``scipy.stats.skew(bias=True)``).
    Extension beyond the reference; NULL when ``W <= 0`` or ``m2 <= 0``."""
    m = _central_moments(x, w, skipna=skipna, upto=3)
    ok = (m["W"] > 0) & (m["m2"] > 0)
    return when(
        ok, call("try_divide", m["m3"], m["m2"] * call("sqrt", m["m2"]))
    )


def w_kurt(x: Expr, w: Expr, *, skipna: bool = True) -> Expr:
    """Weighted excess kurtosis ``m4 / m2² − 3`` (population / biased
    definition). Extension beyond the reference; NULL when ``W <= 0`` or
    ``m2 <= 0``."""
    m = _central_moments(x, w, skipna=skipna, upto=4)
    ok = (m["W"] > 0) & (m["m2"] > 0)
    return when(
        ok, call("try_divide", m["m4"], m["m2"] * m["m2"]) - lit(3.0)
    )


# --- weighted Pearson correlation -----------------------------------------

#: Names of the per-pair aggregate moments, in the order produced by
#: :func:`corr_moment_exprs` and consumed by :func:`corr_from_moments`.
CORR_MOMENTS = ("n", "w", "wx", "wy", "wxy", "wxx", "wyy")


def corr_moment_exprs(x: Expr, y: Expr, w: Expr) -> dict[str, Expr]:
    """The seven aggregate moments of one correlation pair.

    All moments are computed under the pair's joint validity mask
    ``x NOT NULL AND y NOT NULL AND w NOT NULL`` (_stats.py:44), so each
    pair in a matrix is "pairwise complete" exactly like the reference.
    """
    valid = x.isNotNull() & y.isNotNull() & w.isNotNull()
    wv = when(valid, w)
    return {
        "n": call("count", when(valid, lit(1))),
        "w": call("sum", wv),
        "wx": call("sum", wv * x),
        "wy": call("sum", wv * y),
        "wxy": call("sum", wv * x * y),
        "wxx": call("sum", wv * x * x),
        "wyy": call("sum", wv * y * y),
    }


def _moments_ok(n: Expr, w: Expr, ddof: int, min_periods: int) -> Expr:
    """The corr/cov guard chain shared by both assemblies."""
    return (
        (n >= min_periods)
        & w.isNotNull()
        & ~call("isnan", w)
        & (call("abs", w) != _INF)
        & (w > float(ddof))
    )


def corr_from_moments(
    n: Expr,
    w: Expr,
    wx: Expr,
    wy: Expr,
    wxy: Expr,
    wxx: Expr,
    wyy: Expr,
    *,
    ddof: int = 1,
    min_periods: int = 1,
) -> Expr:
    """Assemble weighted Pearson r from aggregated moments (_stats.py:36-73).

    Guard chain (each failure → NULL, reference returns NaN):
    ``n < min_periods``; ``W`` NULL/NaN/±inf; ``W <= ddof``;
    ``var_x <= 0`` or ``var_y <= 0``.
    """
    denom = w - float(ddof)
    cov = call("try_divide", wxy - call("try_divide", wx * wy, w), denom)
    var_x = call("try_divide", wxx - call("try_divide", wx * wx, w), denom)
    var_y = call("try_divide", wyy - call("try_divide", wy * wy, w), denom)
    ok = _moments_ok(n, w, ddof, min_periods) & (var_x > 0) & (var_y > 0)
    return when(ok, call("try_divide", cov, call("sqrt", var_x * var_y)))


def cov_from_moments(
    n: Expr,
    w: Expr,
    wx: Expr,
    wy: Expr,
    wxy: Expr,
    *,
    ddof: int = 1,
    min_periods: int = 1,
) -> Expr:
    """Weighted covariance from aggregated moments:
    ``(Σwxy − ΣwxΣwy/W) / (W − ddof)``, frequency-weights ddof as in
    :func:`variance_from_weighted_moments`. Extension beyond the
    reference (it has corr only, _stats.py:36-73); shares the corr guard
    chain minus the positive-variance checks, which only protect corr's
    denominator.
    """
    denom = w - float(ddof)
    cov = call("try_divide", wxy - call("try_divide", wx * wy, w), denom)
    return when(_moments_ok(n, w, ddof, min_periods), cov)


def w_gmean(x: Expr, w: Expr) -> Expr:
    """Weighted geometric mean ``exp(Σ w·ln x / Σ w)`` over rows with
    positive value AND positive weight (the only domain where the
    geometric mean is defined; scipy ``gmean`` analog under frequency
    weights — unit weights reproduce it exactly). NULL when no mass
    qualifies."""
    ok = x.isNotNull() & w.isNotNull() & (x > 0) & (w > 0)
    m = when(ok, w)
    W = call("coalesce", call("sum", m), _zero())
    s = call("sum", m * call("ln", x))
    return when(W > 0, call("exp", call("try_divide", s, W)))


def w_hmean(x: Expr, w: Expr) -> Expr:
    """Weighted harmonic mean ``Σw / Σ(w/x)`` over rows with positive
    value and weight (rates/speeds aggregation; scipy ``hmean`` analog
    under frequency weights). NULL when no mass qualifies."""
    ok = x.isNotNull() & w.isNotNull() & (x > 0) & (w > 0)
    m = when(ok, w)
    W = call("coalesce", call("sum", m), _zero())
    s = call("sum", m / x)
    return when(W > 0, call("try_divide", W, s))
