"""Weighted rolling / expanding window statistics.

The reference lists "weighted rolling and expanding window functions" as
its named future-contribution area (reference README.md:315); this module
supplies them Spark-natively. Each statistic is the same weighted-moment
algebra as the global kernels (_stats.py:14-33), evaluated over a
``Window.rowsBetween`` frame instead of a full-table aggregate — pure
JVM-side window aggregation, no UDFs, whole-stage codegen.

Scale notes
-----------
* ``partition_by`` keeps the window computation fully parallel: each
  partition key's rows sort locally after one hash shuffle. Always set it
  on large data.
* An *unpartitioned* ordered window collapses to a single task in Spark
  (WindowExec requires all rows of a partition on one node). Allowed for
  parity/small data, but ``rolling()`` warns in the docstring rather than
  silently shipping a 100 TB sort to one executor — at scale, callers
  bound it with a partition key (e.g. a date bucket).

Semantics (pandas ``Rolling``/``Expanding`` over the *weighted* frame):

* ``count`` = ``Σ w·1[x valid]`` over the frame; ``sum`` = ``Σ w·x``;
  ``mean`` = sum/count; ``var``/``std`` = moment form with ddof
  subtracted from the weighted count (frequency-weights convention,
  _stats.py:24-33).
* ``min_periods`` gates on the number of rows in the frame where both
  ``x`` and ``w`` are non-null (pandas counts observations, not weight
  mass). Rolling defaults to the window size, expanding to 1.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from pandas_weights_spark import _stats

__all__ = ["WeightedRolling"]

_ColRef = Union[str, Column]


def as_refs(refs: Union[_ColRef, Sequence[_ColRef]]) -> list[_ColRef]:
    """``order_by``/``partition_by`` as a list: a single column name or
    Column is a one-element list (``list("ts")`` would split the name
    into characters)."""
    if isinstance(refs, (str, Column)):
        return [refs]
    return list(refs)


def _cols(refs: Sequence[_ColRef]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in refs]


def _let(col: Column, body) -> Column:
    """LET-bind ``col`` so ``body`` (a Column→Column function) sees it
    as a lambda variable evaluated ONCE — the 1-element ``transform``
    binding (the html.py/quality.py interpreted-HOF LET discipline,
    r15/r16). Higher-order-function folds run interpreted with no
    common-subexpression elimination, so an expression referenced
    twice is otherwise computed twice."""
    return F.get(F.transform(F.array(col), body), 0)


class WeightedRolling:
    """Windowed weighted statistics over a ``WeightedDataFrame``.

    Built via ``WeightedDataFrame.rolling(...)`` / ``.expanding(...)``.
    ``window=None`` means an expanding frame (UNBOUNDED PRECEDING →
    CURRENT ROW).
    """

    def __init__(
        self,
        wdf,
        window: Optional[int],
        order_by: Sequence[_ColRef],
        partition_by: Sequence[_ColRef] = (),
        min_periods: Optional[int] = None,
    ) -> None:
        if window is not None and window < 1:
            raise ValueError("window must be >= 1")
        order_by = as_refs(order_by)
        if not order_by:
            raise ValueError("rolling/expanding requires order_by columns")
        self._wdf = wdf
        self._window = window
        self._order_by = order_by
        self._partition_by = as_refs(partition_by)
        if min_periods is None:
            min_periods = window if window is not None else 1
        self._min_periods = int(min_periods)
        if not self._partition_by:
            import warnings

            warnings.warn(
                "rolling/expanding without partition_by runs the ordered "
                "window in a single partition (one task). Pass partition "
                "keys at scale.",
                stacklevel=2,
            )

    # -- plumbing -----------------------------------------------------------

    def _spec(self) -> WindowSpec:
        spec = Window.partitionBy(*_cols(self._partition_by)).orderBy(
            *_cols(self._order_by)
        )
        if self._window is None:
            return spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return spec.rowsBetween(-(self._window - 1), Window.currentRow)

    def _stat(self, builder) -> DataFrame:
        """Evaluate ``builder(x, w, spec) -> Column`` per numeric column,
        gated by ``min_periods`` valid observations in the frame.

        Partition/order columns play the role of the pandas index: they are
        carried through as plain columns and excluded from the value set
        (mirroring groupby key exclusion, reference frame.py:486).
        """
        wdf = self._wdf
        spec = self._spec()
        w = wdf.weights
        keys = [r for r in self._partition_by if isinstance(r, str)] + [
            r for r in self._order_by if isinstance(r, str)
        ]
        out = []
        for c in wdf.numeric_columns():
            if c in keys:
                continue
            x = wdf._value(c)
            expr = builder(x, w, spec)
            if self._min_periods > 0:
                n_valid = F.count(x * w).over(spec)
                expr = F.when(n_valid >= F.lit(self._min_periods), expr)
            out.append(expr.alias(c))
        if not out:
            raise ValueError("no numeric value columns outside the window keys")
        return wdf.df.select(*keys, *out)

    # -- statistics ---------------------------------------------------------

    def _builder(self, stat: str, ddof: int, skipna: bool):
        """``builder(x, w, spec) -> Column`` for a named statistic."""

        def cnt_of(x, w, spec):
            if skipna:
                return F.sum(F.when(x.isNotNull(), w)).over(spec)
            return F.sum(w).over(spec)

        if stat == "count":
            return lambda x, w, spec: F.coalesce(cnt_of(x, w, spec), F.lit(0.0))
        if stat == "sum":
            return lambda x, w, spec: F.coalesce(
                F.sum(x * w).over(spec), F.lit(0.0)
            )
        if stat == "mean":
            return lambda x, w, spec: F.try_divide(
                F.sum(x * w).over(spec), cnt_of(x, w, spec)
            )
        if stat == "var":
            return lambda x, w, spec: _stats.variance_from_weighted_moments(
                F.sum(x * w).over(spec),
                F.sum((x * x) * w).over(spec),
                cnt_of(x, w, spec),
                ddof=ddof,
            )
        if stat == "std":

            def b(x, w, spec):
                v = _stats.variance_from_weighted_moments(
                    F.sum(x * w).over(spec),
                    F.sum((x * x) * w).over(spec),
                    cnt_of(x, w, spec),
                    ddof=ddof,
                )
                return F.when(v >= 0, F.sqrt(v))

            return b
        if stat in ("skew", "kurt"):
            # windowed analog of _stats.w_skew / w_kurt: same raw power
            # sums (left-associated product order) and the same
            # population/biased central-moment algebra, evaluated over
            # the frame instead of a full-table aggregate
            def b(x, w, spec, _stat=stat):
                W = cnt_of(x, w, spec)
                mu = F.try_divide(F.sum(x * w).over(spec), W)
                s2w = F.try_divide(F.sum((x * x) * w).over(spec), W)
                m2 = s2w - mu * mu
                s3w = F.try_divide(F.sum((x * x * x) * w).over(spec), W)
                m3 = s3w - F.lit(3.0) * mu * s2w + F.lit(2.0) * mu * mu * mu
                ok = (W > 0) & (m2 > 0)
                if _stat == "skew":
                    return F.when(
                        ok, F.try_divide(m3, m2 * F.sqrt(m2))
                    )
                s4w = F.try_divide(
                    F.sum((x * x * x * x) * w).over(spec), W
                )
                m4 = (
                    s4w
                    - F.lit(4.0) * mu * s3w
                    + F.lit(6.0) * mu * mu * s2w
                    - F.lit(3.0) * mu * mu * mu * mu
                )
                return F.when(
                    ok, F.try_divide(m4, m2 * m2) - F.lit(3.0)
                )

            return b
        raise ValueError(f"unknown rolling statistic {stat!r}")

    def col(
        self, stat: str, column: str, ddof: int = 1, skipna: bool = True
    ) -> Column:
        """The windowed statistic for one value column as a bare
        ``Column`` — composable into a caller's own ``select``, so
        several window frames sharing one partition+order (e.g. a 3-row
        rolling mean AND an expanding variance) evaluate in a SINGLE
        WindowExec: one shuffle, one sort, instead of one pass per
        frame. Same min_periods gate as the DataFrame-returning stats.
        """
        wdf = self._wdf
        spec = self._spec()
        x = wdf._value(column)
        if stat == "median":
            expr = self._quantile_expr(x, wdf.weights, spec, 0.5)
        else:
            expr = self._builder(stat, ddof, skipna)(x, wdf.weights, spec)
        if self._min_periods > 0:
            n_valid = F.count(x * wdf.weights).over(spec)
            expr = F.when(n_valid >= F.lit(self._min_periods), expr)
        return expr

    def agg_all(
        self, stats: Sequence[str], ddof: int = 1, skipna: bool = True
    ) -> DataFrame:
        """Several windowed statistics in ONE pass: all stats share the
        frame's WindowSpec, so they evaluate in a single WindowExec (one
        shuffle, one local sort) with columns ``{col}_{stat}``."""
        wdf = self._wdf
        spec = self._spec()
        w = wdf.weights
        keys = [r for r in self._partition_by if isinstance(r, str)] + [
            r for r in self._order_by if isinstance(r, str)
        ]
        builders = {s: self._builder(s, ddof, skipna) for s in stats}
        out = []
        for c in wdf.numeric_columns():
            if c in keys:
                continue
            x = wdf._value(c)
            gate = None
            if self._min_periods > 0:
                gate = F.count(x * w).over(spec) >= F.lit(self._min_periods)
            for s, b in builders.items():
                expr = b(x, w, spec)
                if gate is not None:
                    expr = F.when(gate, expr)
                out.append(expr.alias(f"{c}_{s}"))
        if not out:
            raise ValueError("no numeric value columns outside the window keys")
        return wdf.df.select(*keys, *out)

    # -- pairwise statistics ------------------------------------------------

    def pair_col(
        self,
        stat: str,
        x: str,
        y: str,
        ddof: int = 1,
        min_periods: Optional[int] = None,
    ) -> Column:
        """Windowed weighted pairwise ``corr``/``cov`` between two value
        columns as a bare ``Column`` (pandas ``rolling().corr(other)`` /
        ``cov(other)`` over the weighted frame; the reference README
        names windowed functions as its contribution frontier,
        README.md:315).

        Pairwise NA rule: a row contributes mass only when ``x``, ``y``
        AND ``w`` are all non-null (reference _stats.py:36-73's aligned
        mask, applied per frame). All six moment sums share this
        window's spec, so stacking several ``pair_col``/``col`` exprs in
        one select still evaluates in a SINGLE WindowExec — one shuffle,
        one sort. Guard chain (NULL on failure) follows
        corr_from_moments: W ≤ ddof, non-positive variance, and fewer
        than ``min_periods`` pair-valid rows in the frame.
        """
        if stat not in ("corr", "cov"):
            raise ValueError(f"pairwise statistic must be corr/cov, got {stat!r}")
        wdf = self._wdf
        spec = self._spec()
        w = wdf.weights
        xv = wdf._value(x)
        yv = wdf._value(y)
        valid = xv.isNotNull() & yv.isNotNull() & w.isNotNull()
        # products left-associated like the kernel / oracle SQL:
        # (w*x), (w*x)*y, ... so float results match bit-for-bit
        m = F.when(valid, w)
        n = F.count(m).over(spec)
        sw = F.sum(m).over(spec)
        sx = F.sum(m * xv).over(spec)
        sy = F.sum(m * yv).over(spec)
        sxy = F.sum(m * xv * yv).over(spec)
        mp = self._min_periods if min_periods is None else int(min_periods)
        if stat == "cov":
            return _stats.cov_from_moments(
                n, sw, sx, sy, sxy, ddof=ddof, min_periods=mp
            )
        sxx = F.sum(m * xv * xv).over(spec)
        syy = F.sum(m * yv * yv).over(spec)
        return _stats.corr_from_moments(
            n, sw, sx, sy, sxy, sxx, syy, ddof=ddof, min_periods=mp
        )

    def _pair_frame(self, stat, x, y, ddof, min_periods) -> DataFrame:
        keys = [r for r in self._partition_by if isinstance(r, str)] + [
            r for r in self._order_by if isinstance(r, str)
        ]
        expr = self.pair_col(stat, x, y, ddof=ddof, min_periods=min_periods)
        return self._wdf.df.select(*keys, expr.alias(f"{x}_{y}_{stat}"))

    def corr(
        self,
        x: str,
        y: str,
        ddof: int = 1,
        min_periods: Optional[int] = None,
    ) -> DataFrame:
        """Windowed weighted Pearson correlation of ``x`` vs ``y``;
        output column ``{x}_{y}_corr`` alongside the window keys."""
        return self._pair_frame("corr", x, y, ddof, min_periods)

    def cov(
        self,
        x: str,
        y: str,
        ddof: int = 1,
        min_periods: Optional[int] = None,
    ) -> DataFrame:
        """Windowed weighted covariance of ``x`` vs ``y``; output column
        ``{x}_{y}_cov`` alongside the window keys."""
        return self._pair_frame("cov", x, y, ddof, min_periods)

    @staticmethod
    def _quantile_expr(x: Column, w: Column, spec: WindowSpec, q: float) -> Column:
        """Inverted-CDF weighted quantile of the frame, as pure JVM
        array expressions: collect the frame's mass-carrying (x, w)
        pairs, sort by value, scan for the smallest value whose
        cumulative weight reaches ``q·W``. No Python — collect_list +
        sort_array + two higher-order ``aggregate`` folds, all inside
        the same WindowExec as the moment stats. Cost is O(frame²
        log frame) per partition in the worst case — bounded-window
        frames (rolling N) are the intended use; expanding over a huge
        partition belongs to the quantile/banded-CDF machinery instead.

        Follows the engine's quantile-family definition (ties merged,
        ``w ≤ 0``/NULL excluded), NOT pandas' linear interpolation —
        consistent with ``wt().quantile()``; documented divergence."""
        pair = F.when(
            x.isNotNull() & w.isNotNull() & (w > 0),
            F.struct(x.alias("x"), w.alias("w")),
        )

        # r16 LET discipline: the sorted frame array and the q·W
        # target are each bound ONCE. Unbound, the interpreted HOF
        # path re-sorted the collected frame per reference (tot fold,
        # scan fold, the size guard — 3 sorts per row) and re-ran the
        # whole tot fold PER SCAN ELEMENT (`target` was embedded in
        # the scan lambda's body), an O(frame²) term per row. Same
        # float operations in the same order — values bit-identical.
        def _with_arr(arr: Column) -> Column:
            tot = F.aggregate(
                arr, F.lit(0.0), lambda acc, s: acc + s["w"]
            )

            def _with_target(target: Column) -> Column:
                scan = F.aggregate(
                    arr,
                    F.struct(
                        F.lit(0.0).alias("cum"),
                        F.lit(None).cast("double").alias("ans"),
                    ),
                    lambda acc, s: F.struct(
                        (acc["cum"] + s["w"]).alias("cum"),
                        F.when(acc["ans"].isNotNull(), acc["ans"])
                        .when(
                            acc["cum"] + s["w"] >= target,
                            s["x"].cast("double"),
                        )
                        .alias("ans"),
                    ),
                )
                return F.when(F.size(arr) > 0, scan["ans"])

            return _let(F.lit(float(q)) * tot, _with_target)

        # collect_list drops NULLs, so excluded rows never enter the
        # frame; struct sort orders by x first
        return _let(
            F.sort_array(F.collect_list(pair).over(spec)), _with_arr
        )

    def quantile(self, q: float, skipna: bool = True) -> DataFrame:
        """Windowed weighted quantile (inverted CDF over the frame's
        mass) for every numeric column — see :meth:`_quantile_expr`."""
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile must be in (0, 1], got {q}")
        return self._stat(
            lambda x, w, spec: self._quantile_expr(x, w, spec, q)
        )

    def median(self, skipna: bool = True) -> DataFrame:
        """Windowed weighted median (q=0.5)."""
        return self.quantile(0.5, skipna=skipna)

    def count(self, skipna: bool = True) -> DataFrame:
        return self._stat(self._builder("count", 1, skipna))

    def sum(self) -> DataFrame:
        return self._stat(self._builder("sum", 1, True))

    def mean(self, skipna: bool = True) -> DataFrame:
        return self._stat(self._builder("mean", 1, skipna))

    def var(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._stat(self._builder("var", ddof, skipna))

    def std(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._stat(self._builder("std", ddof, skipna))

    def skew(self, skipna: bool = True) -> DataFrame:
        """Windowed weighted skewness (population/biased m3/m2^1.5 —
        the frame-local analog of _stats.w_skew)."""
        return self._stat(self._builder("skew", 1, skipna))

    def kurt(self, skipna: bool = True) -> DataFrame:
        """Windowed weighted excess kurtosis (population m4/m2^2 - 3)."""
        return self._stat(self._builder("kurt", 1, skipna))
