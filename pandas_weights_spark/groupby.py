"""Weighted grouped aggregation (reference ``frame.py:449-679``,
``series.py:341-481``).

Each statistic compiles to exactly one ``df.groupBy(keys).agg(...)`` —
a single shuffle with map-side partial aggregation — versus the
reference's three independent grouped passes for ``var``
(frame.py:599-609). ``agg_all`` fuses several statistics over the same
grouping into that same single shuffle, which the reference cannot do
at all.

Scale notes (100 TB posture):
* The shuffle is keyed on the grouping columns; AQE handles skewed keys
  and partition coalescing at runtime.
* No ``collect()`` anywhere — results stay distributed.
* ``mode="cube"|"rollup"`` compose the same weighted expressions with
  native grouping sets (SURVEY.md §2.6).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandas_weights_spark import _stats

if TYPE_CHECKING:
    from pandas_weights_spark.frame import WeightedDataFrame

__all__ = ["WeightedGroupBy"]

#: statistic name → kernel builder (x, w, **kwargs) -> expression
#: (SQL text for text operands, a Column for Column operands)
_KERNELS: dict[str, Callable[..., _stats.Expr]] = {
    "count": lambda x, w, **k: _stats.w_count(x, w, skipna=k.get("skipna", True)),
    "sum": lambda x, w, **k: _stats.w_sum(x, w, min_count=k.get("min_count", 0)),
    "mean": lambda x, w, **k: _stats.w_mean(x, w, skipna=k.get("skipna", True)),
    "var": lambda x, w, **k: _stats.w_var(
        x, w, ddof=k.get("ddof", 1), skipna=k.get("skipna", True)
    ),
    "std": lambda x, w, **k: _stats.w_std(
        x, w, ddof=k.get("ddof", 1), skipna=k.get("skipna", True)
    ),
    "sem": lambda x, w, **k: _stats.w_sem(
        x, w, ddof=k.get("ddof", 1), skipna=k.get("skipna", True)
    ),
    "skew": lambda x, w, **k: _stats.w_skew(x, w, skipna=k.get("skipna", True)),
    "kurt": lambda x, w, **k: _stats.w_kurt(x, w, skipna=k.get("skipna", True)),
    "min": lambda x, w, **k: _stats.w_min(x, w),
    "max": lambda x, w, **k: _stats.w_max(x, w),
    "gmean": lambda x, w, **k: _stats.w_gmean(x, w),
    "hmean": lambda x, w, **k: _stats.w_hmean(x, w),
}


def kernels(stats: Sequence[str], **kwargs) -> list[tuple[str, Callable]]:
    """``(suffix, builder(x, w))`` pairs for the named statistics, with
    ``kwargs`` (``ddof``/``skipna``/``min_count``) bound — the input
    :meth:`WeightedDataFrame._stat_columns` expects."""
    bad = [s for s in stats if s not in _KERNELS]
    if bad:
        raise ValueError(f"unknown statistics: {bad}")
    return [
        (f"_{s}", lambda x, w, _k=_KERNELS[s]: _k(x, w, **kwargs))
        for s in stats
    ]


def _join_group_stats(
    df: DataFrame, stats: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Left-join per-group statistics back onto the row frame.

    The scale-safe shape for per-row transforms: the statistics frame is
    one row per group (tiny relative to ``df``), so AQE broadcast-joins
    it at runtime — no forced ``F.broadcast`` hint, because group-key
    cardinality is unbounded and a hinted broadcast of a huge side OOMs
    the executors; a plain shuffle join is safe at any cardinality.

    Uses null-safe key equality (``<=>``) so NULL-key groups keep their
    statistics (matching ``Window.partitionBy`` / pandas ``dropna=False``
    semantics, where NULL is an ordinary group key). The stats frame's
    key columns are renamed before the join and dropped after, so the
    output has exactly ``df``'s columns plus the statistic columns.
    """
    renamed = stats
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__pw_sk_{k}__")
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(renamed[f"__pw_sk_{k}__"])
        cond = c if cond is None else (cond & c)
    out = df.join(renamed, cond, "left")
    return out.drop(*[f"__pw_sk_{k}__" for k in keys])


class WeightedGroupBy:
    """Lazy weighted group-by: ``(WeightedDataFrame, keys)`` pair.

    ``dropna=True`` (pandas groupby default) drops rows whose key is NULL
    before grouping; Spark's native default keeps them, so the filter is
    explicit (SURVEY.md §2.3 row 19). ``sort=True`` orders the result by
    the group keys (pandas ``sort=True`` default — here opt-in because a
    global sort is an extra exchange at scale).
    """

    def __init__(
        self,
        wdf: "WeightedDataFrame",
        keys: Sequence[str],
        dropna: bool = True,
        sort: bool = False,
        mode: str = "groupby",
    ) -> None:
        if not keys:
            raise ValueError("groupby requires at least one key column")
        missing = [k for k in keys if k not in wdf.df.columns]
        if missing:
            raise KeyError(f"group keys not in DataFrame: {missing}")
        if mode not in ("groupby", "cube", "rollup"):
            raise ValueError(f"unknown grouping mode: {mode!r}")
        self._wdf = wdf
        self._keys = list(keys)
        self._dropna = dropna
        self._sort = sort
        self._mode = mode

    # -- plumbing -------------------------------------------------------------

    def __getitem__(self, key):
        """Narrow the aggregated columns (frame.py:468-477)."""
        cols = [key] if isinstance(key, str) else list(key)
        out = WeightedGroupBy(
            self._wdf._subset(cols),
            self._keys,
            dropna=self._dropna,
            sort=self._sort,
            mode=self._mode,
        )
        return out

    def _value_cols(self) -> list[str]:
        """Numeric data columns minus the group keys (frame.py:496-503:
        keys are 'exclusions', never aggregated)."""
        return [c for c in self._wdf.numeric_columns() if c not in self._keys]

    def _grouped(self):
        df = self._wdf.df
        if self._dropna:
            df = df.where(
                F.expr(
                    " AND ".join(
                        f"{_stats.quote(k)} IS NOT NULL" for k in self._keys
                    )
                )
            )
        keys = [F.col(k) for k in self._keys]
        if self._mode == "cube":
            return df.cube(*keys)
        if self._mode == "rollup":
            return df.rollup(*keys)
        return df.groupBy(*keys)

    def _finish(self, out: DataFrame) -> DataFrame:
        if self._sort:
            out = out.orderBy(*self._keys)
        return out

    def _agg(self, builder: Callable[..., _stats.Expr]) -> DataFrame:
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        return self._finish(
            self._grouped().agg(*self._wdf._stat_columns(cols, [("", builder)]))
        )

    # -- statistics (frame.py:512-628) -----------------------------------------

    def count(self, skipna: bool = True) -> DataFrame:
        return self._agg(lambda x, w: _stats.w_count(x, w, skipna=skipna))

    def sum(self, min_count: int = 0) -> DataFrame:
        return self._agg(lambda x, w: _stats.w_sum(x, w, min_count=min_count))

    def mean(self, skipna: bool = True) -> DataFrame:
        return self._agg(lambda x, w: _stats.w_mean(x, w, skipna=skipna))

    def var(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._agg(lambda x, w: _stats.w_var(x, w, ddof=ddof, skipna=skipna))

    def std(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        return self._agg(lambda x, w: _stats.w_std(x, w, ddof=ddof, skipna=skipna))

    def min(self) -> DataFrame:
        """Per-group minimum over mass-carrying rows (the q→0⁺ weighted
        quantile; rows with NULL/non-positive weight are excluded)."""
        return self._agg(lambda x, w: _stats.w_min(x, w))

    def max(self) -> DataFrame:
        """Per-group maximum over mass-carrying rows (the q=1 weighted
        quantile)."""
        return self._agg(lambda x, w: _stats.w_max(x, w))

    def first(self, order_by: Sequence[str]) -> DataFrame:
        """Per-group FIRST non-NULL value of each column along
        ``order_by`` (pandas ``groupby.first`` made deterministic: the
        reference semantics need an explicit order on a distributed
        table). ONE aggregate — ``min_by(x, ord WHERE x valid)`` — no
        window, no sort of the raw rows; weights don't enter (an
        index-aligned pick, like shift/ffill)."""
        return self._ordered_pick(order_by, last=False)

    def last(self, order_by: Sequence[str]) -> DataFrame:
        """Per-group LAST non-NULL value along ``order_by`` — see
        :meth:`first`."""
        return self._ordered_pick(order_by, last=True)

    def _ordered_pick(
        self, order_by: Sequence[str], last: bool
    ) -> DataFrame:
        order_by = list(order_by)
        if not order_by:
            raise ValueError("first/last require order_by columns")
        wdf = self._wdf
        for c in order_by:
            if c not in wdf.df.columns:
                raise KeyError(f"column {c!r} not in frame")
        ord_expr = F.struct(*[F.col(c) for c in order_by])
        pick = F.max_by if last else F.min_by
        cols = [
            c for c in self._value_cols() if c not in order_by
        ]
        aggs = []
        for c in cols:
            x = wdf._value(c)
            # NULL ordering rows are skipped by min_by/max_by, so
            # masking the order with the value's validity yields the
            # first/last NON-NULL value — pandas first/last semantics
            aggs.append(
                pick(x, F.when(x.isNotNull(), ord_expr)).alias(c)
            )
        return self._grouped().agg(*aggs)

    def nth(self, n: int, order_by: Sequence[str]) -> DataFrame:
        """Per-group n-th ROW (0-based; negative counts from the end)
        along ``order_by`` — pandas ``groupby.nth``: the whole row at
        that position, NULLs and all. One window shuffle on the group
        keys (row_number), then a row-local filter."""
        from pyspark.sql import Window

        order_by = list(order_by)
        if not order_by:
            raise ValueError("nth requires order_by columns")
        n = int(n)
        wdf = self._wdf
        cols = [F.col(c) for c in order_by]
        if n >= 0:
            spec = Window.partitionBy(*self._keys).orderBy(*cols)
            target = n + 1
        else:
            spec = Window.partitionBy(*self._keys).orderBy(
                *[c.desc() for c in cols]
            )
            target = -n
        from pandas_weights_spark.frame import WEIGHT_COL

        rn = F.row_number().over(spec)
        return (
            wdf.df.withColumn("__pw_rn__", rn)
            .where(F.col("__pw_rn__") == target)
            .drop("__pw_rn__", WEIGHT_COL)
        )

    def sem(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        """Per-group weighted standard error of the mean (``std/sqrt(W)``,
        frequency-weights convention)."""
        return self._agg(
            lambda x, w: _stats.w_sem(x, w, ddof=ddof, skipna=skipna)
        )

    def gmean(self) -> DataFrame:
        """Per-group weighted geometric mean (positive values/weights)."""
        return self._agg(lambda x, w: _stats.w_gmean(x, w))

    def hmean(self) -> DataFrame:
        """Per-group weighted harmonic mean (positive values/weights)."""
        return self._agg(lambda x, w: _stats.w_hmean(x, w))

    def skew(self, skipna: bool = True) -> DataFrame:
        """Per-group weighted skewness (extension beyond the reference)."""
        return self._agg(lambda x, w: _stats.w_skew(x, w, skipna=skipna))

    def kurt(self, skipna: bool = True) -> DataFrame:
        """Per-group weighted excess kurtosis (extension)."""
        return self._agg(lambda x, w: _stats.w_kurt(x, w, skipna=skipna))

    def quantile(
        self,
        q=0.5,
        exact: bool = True,
        lo: Optional[float] = None,
        hi: Optional[float] = None,
        bins: int = 4096,
    ) -> DataFrame:
        """Per-group weighted quantile(s) (inverted CDF over cumulative
        weight; see pandas_weights_spark.quantile). One shuffle: the
        final groupBy reuses the window's hash partitioning.

        ``exact=False`` switches to the fixed-binning approximation over
        ``[lo, hi]`` (required then) — shuffle volume groups × bins
        instead of rows, error ≤ ``(hi−lo)/bins``. **This is the default
        to reach for at 100 TB**: the exact path sorts every group's
        rows inside its window partition, which degrades when group
        cardinality is low relative to data size."""
        if self._mode != "groupby":
            raise NotImplementedError(
                "quantile is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.quantile import (
            weighted_quantiles,
            weighted_quantiles_binned,
        )

        wdf = self._wdf
        if self._dropna:
            sub = wdf._subset(wdf.columns)
            df = wdf.df
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
            sub._df = df
            wdf = sub
        if exact:
            out = weighted_quantiles(
                wdf, q, subset=self._value_cols(), keys=self._keys
            )
        else:
            if lo is None or hi is None:
                raise ValueError("exact=False needs explicit lo and hi")
            out = weighted_quantiles_binned(
                wdf, q, lo=lo, hi=hi, bins=bins,
                subset=self._value_cols(), keys=self._keys,
            )
        return self._finish(out)

    def median(self) -> DataFrame:
        return self.quantile(0.5)

    def mad(
        self,
        scale: float = 1.0,
        exact: bool = True,
        lo: Optional[float] = None,
        hi: Optional[float] = None,
        bins: int = 4096,
    ) -> DataFrame:
        """Weighted median absolute deviation per group:
        ``scale · median_w(|x − median_w(x)|)`` — the robust spread
        companion to :meth:`std` (extension; pass ``scale≈1.4826`` for
        normal-consistency). Two window shuffles: the group medians (a
        tiny frame) broadcast-join back onto the rows, then the deviation
        median reuses the same inverted-CDF machinery.

        ``exact=False`` routes BOTH median passes through the binned
        approximation over ``[lo, hi]`` (deviations bin over
        ``[0, hi−lo]``) — the 100 TB shape: two groups × bins
        aggregates instead of two per-row sorts; error ≤ 2·(hi−lo)/bins.
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "mad is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.frame import WEIGHT_COL, wt as _wt
        from pandas_weights_spark.quantile import (
            quantile_col_name,
            weighted_quantiles,
            weighted_quantiles_binned,
        )

        if not exact and (lo is None or hi is None):
            raise ValueError("exact=False needs explicit lo and hi")
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        wdf = self._wdf
        df = wdf.df
        if self._dropna:
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
            sub = wdf._subset(wdf.columns)
            sub._df = df
            wdf = sub
        if exact:
            med = weighted_quantiles(wdf, 0.5, subset=cols, keys=self._keys)
        else:
            med = weighted_quantiles_binned(
                wdf, 0.5, lo=lo, hi=hi, bins=bins,
                subset=cols, keys=self._keys,
            )
        # Per-group medians are one row per group — usually tiny, but the
        # key cardinality is unbounded, so no forced broadcast hint: AQE
        # picks broadcast when the frame is small and a safe shuffle join
        # otherwise. Null-safe equality keeps NULL-key groups (window
        # grouping treats NULL as a key; plain `=` would drop them when
        # dropna=False).
        joined = _join_group_stats(df, med, self._keys)
        dev = joined.select(
            *self._keys,
            F.col(WEIGHT_COL),
            *[
                F.abs(
                    wdf._value(c) - F.col(quantile_col_name(c, 0.5))
                ).alias(c)
                for c in cols
            ],
        )
        if exact:
            out = weighted_quantiles(
                _wt(dev, WEIGHT_COL), 0.5, subset=cols, keys=self._keys
            )
        else:
            out = weighted_quantiles_binned(
                _wt(dev, WEIGHT_COL), 0.5,
                lo=0.0, hi=hi - lo, bins=bins,
                subset=cols, keys=self._keys,
            )
        renamed = out.select(
            *self._keys,
            *[
                (F.col(quantile_col_name(c, 0.5)) * F.lit(float(scale))).alias(c)
                for c in cols
            ],
        )
        return self._finish(renamed)

    def agg_all(self, stats: Sequence[str], **kwargs) -> DataFrame:
        """Several statistics in ONE aggregate pass / shuffle.

        Output columns ``{col}_{stat}``. The reference re-groups per
        statistic (SURVEY.md §3.2); here Catalyst fuses the shared moments
        (Σwx appears in mean and var) via common-subexpression elimination
        within a single exchange.
        """
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        exprs = self._wdf._stat_columns(cols, kernels(stats, **kwargs))
        return self._finish(self._grouped().agg(*exprs))

    def agg(self, spec) -> DataFrame:
        """pandas dict-style aggregation in ONE pass: ``agg({"price":
        ["mean", "std"], "qty": "sum"})`` → columns ``price_mean,
        price_std, qty_sum`` from a single fused aggregate (same
        kernel fusion as :meth:`agg_all`, per-column stat lists).
        A plain list/str spec applies to every numeric column
        (``agg_all`` semantics)."""
        if isinstance(spec, (str, list, tuple)):
            stats = [spec] if isinstance(spec, str) else list(spec)
            return self.agg_all(stats)
        if not isinstance(spec, dict) or not spec:
            raise ValueError(
                "agg spec must be a non-empty dict / list / str"
            )
        exprs = []
        for c, stats in spec.items():
            if c not in self._wdf.df.columns:
                raise KeyError(f"column {c!r} not in frame")
            stats = [stats] if isinstance(stats, str) else list(stats)
            exprs += self._wdf._stat_columns([c], kernels(stats))
        return self._finish(self._grouped().agg(*exprs))

    def describe(
        self,
        qs: Sequence[float] = (0.25, 0.5, 0.75),
        exact: bool = True,
        lo: Optional[float] = None,
        hi: Optional[float] = None,
        bins: int = 4096,
    ) -> DataFrame:
        """Per-group weighted summary — pandas ``describe`` over the
        weighted distribution: ``{col}_count/_mean/_std/_min``, one
        ``{col}_p{q}`` per requested quantile, and ``{col}_max``.

        Two passes joined on the group keys: the five moment/extremum
        statistics fuse into ONE aggregate (:meth:`agg_all`), and the
        quantiles ride the usual inverted-CDF window (``exact=False``
        switches to the binned approximation — the 100 TB default, see
        :meth:`quantile`). min/max use the quantile family's mass rule
        (rows with NULL/non-positive weight carry no mass).
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "describe is not defined for cube/rollup grouping sets"
            )
        qs = [float(q) for q in qs]
        moments = self.agg_all(["count", "mean", "std", "min", "max"])
        quants = self.quantile(qs, exact=exact, lo=lo, hi=hi, bins=bins)
        cond = [
            moments[k].eqNullSafe(quants[k]) for k in self._keys
        ]  # null-safe: dropna=False keeps NULL-key groups
        from pandas_weights_spark.quantile import quantile_col_name

        joined = moments.join(quants, on=cond, how="inner")
        order = []
        for c in self._value_cols():
            order.append(moments[f"{c}_count"])
            order.append(moments[f"{c}_mean"])
            order.append(moments[f"{c}_std"])
            order.append(moments[f"{c}_min"])
            for q in qs:
                order.append(quants[quantile_col_name(c, q)])
            order.append(moments[f"{c}_max"])
        return joined.select(*[moments[k] for k in self._keys], *order)

    def cdf(self, bands: int = 256) -> DataFrame:
        """Per-row weighted CDF (percentile-rank) transform against the
        row's group: adds ``{col}_cdf`` for every selected numeric
        column — see :func:`pandas_weights_spark.quantile.weighted_cdf`
        (banded prefix sum; the transform counterpart of
        :meth:`quantile`)."""
        from pandas_weights_spark.quantile import weighted_cdf

        if self._mode != "groupby":
            raise NotImplementedError(
                "cdf is not defined for cube/rollup grouping sets"
            )
        wdf = self._wdf
        if self._dropna:
            df = wdf.df
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
            sub = wdf._subset(wdf.columns)
            sub._df = df
            wdf = sub
        return weighted_cdf(
            wdf, subset=self._value_cols(), keys=self._keys, bands=bands
        )

    def pivot(
        self,
        columns: str,
        values: Optional[Sequence[str]] = None,
        stats: Sequence[str] = ("mean",),
        column_values: Optional[Sequence] = None,
    ) -> DataFrame:
        """Weighted pivot table: the group keys as index, ``columns``
        spread wide, cells = weighted stats — see
        :func:`pandas_weights_spark.pivot.weighted_pivot` (one hash
        aggregate; pass ``column_values`` at scale)."""
        from pandas_weights_spark.pivot import weighted_pivot

        if self._mode != "groupby":
            raise NotImplementedError(
                "pivot is not defined for cube/rollup grouping sets"
            )
        vals = list(values) if values is not None else [
            c for c in self._value_cols() if c != columns
        ]
        return weighted_pivot(
            self._wdf, self._keys, columns, vals, stats=stats,
            column_values=column_values,
        )

    def crosstab(
        self,
        columns: str,
        column_values=None,
        margins: bool = False,
        margins_name: str = "All",
        normalize=False,
    ) -> DataFrame:
        """Weighted contingency table: group keys as index, ``columns``
        spread wide, cells = weight mass — see
        :func:`pandas_weights_spark.pivot.weighted_crosstab`."""
        from pandas_weights_spark.pivot import weighted_crosstab

        if self._mode != "groupby":
            raise NotImplementedError(
                "crosstab is not defined for cube/rollup grouping sets"
            )
        return weighted_crosstab(
            self._wdf, self._keys, columns, column_values=column_values,
            margins=margins, margins_name=margins_name, normalize=normalize,
        )

    def qcut(
        self, col: str, q: int, bands: int = 256, keep_cdf: bool = False
    ) -> DataFrame:
        """Per-group equal-weight-mass discretization: adds
        ``{col}_qbin`` ∈ 0..q−1 against the row's group — see
        :func:`pandas_weights_spark.quantile.weighted_qcut`."""
        from pandas_weights_spark.quantile import weighted_qcut

        if self._mode != "groupby":
            raise NotImplementedError(
                "qcut is not defined for cube/rollup grouping sets"
            )
        wdf = self._wdf
        if self._dropna:
            df = wdf.df
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
            sub = wdf._subset(wdf.columns)
            sub._df = df
            wdf = sub
        return weighted_qcut(
            wdf, col, q, keys=self._keys, bands=bands, keep_cdf=keep_cdf
        )

    def winsorize(
        self,
        subset=None,
        lower: float = 0.05,
        upper: float = 0.95,
        exact: bool = True,
        bands: int = 1000,
        range_bounds=None,
    ) -> DataFrame:
        """Clip every numeric column at its GROUP's weighted
        ``[lower, upper]`` quantiles: adds ``{col}_wins`` — see
        :func:`pandas_weights_spark.quantile.weighted_winsorize`."""
        from pandas_weights_spark.quantile import weighted_winsorize

        if self._mode != "groupby":
            raise NotImplementedError(
                "winsorize is not defined for cube/rollup grouping sets"
            )
        wdf = self._wdf
        if self._dropna:
            df = wdf.df
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
            sub = wdf._subset(wdf.columns)
            sub._df = df
            wdf = sub
        return weighted_winsorize(
            wdf, subset=subset, keys=self._keys, lower=lower, upper=upper,
            exact=exact, bands=bands, range_bounds=range_bounds,
        )

    def robust_zscore(
        self,
        subset=None,
        exact: bool = True,
        bands: int = 1000,
        range_bounds=None,
    ) -> DataFrame:
        """Per-row robust standardization against the row's GROUP
        weighted median/IQR: adds ``{col}_rz`` — see
        :func:`pandas_weights_spark.quantile.weighted_robust_zscore`."""
        from pandas_weights_spark.quantile import weighted_robust_zscore

        if self._mode != "groupby":
            raise NotImplementedError(
                "robust_zscore is not defined for cube/rollup grouping sets"
            )
        wdf = self._wdf
        if self._dropna:
            df = wdf.df
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
            sub = wdf._subset(wdf.columns)
            sub._df = df
            wdf = sub
        return weighted_robust_zscore(
            wdf, subset=subset, keys=self._keys, exact=exact, bands=bands,
            range_bounds=range_bounds,
        )

    def zscore(self, ddof: int = 1, skipna: bool = True) -> DataFrame:
        """Per-row standardization against the row's GROUP weighted
        moments: adds ``{col}_z = (x − μ_g) / σ_g`` for every numeric
        column (extension — the transform counterpart of the aggregates,
        pandas ``groupby.transform('zscore')``-style).

        Scale shape: ``groupBy(keys).agg(moment sums)`` produces one tiny
        row per group, which AQE broadcast-joins back onto the rows; the
        standardization is then a pure map. (A ``Window.partitionBy(keys)``
        formulation is numerically identical but shuffles the ENTIRE table
        into one task per distinct key — with 3 return flags that is 3
        tasks for 100 TB. The agg+join shape keeps the big side's
        partitioning untouched.) The moments are the same expressions the
        aggregate path uses, so the statistics agree exactly with
        :meth:`mean`/:meth:`std`. Degenerate groups (σ ≤ 0 or W ≤ ddof)
        yield NULL.
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "zscore is not defined for cube/rollup grouping sets"
            )
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to standardize")
        df = self._wdf.df
        if self._dropna:
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
        w = self._wdf.weights
        aggs = []
        for c in cols:
            x = self._wdf._value(c)
            mask = F.when(x.isNotNull(), w) if skipna else w
            aggs.append(
                F.coalesce(F.sum(mask), F.lit(0.0)).alias(f"__pw_zW_{c}__")
            )
            aggs.append(F.sum(x * w).alias(f"__pw_z1_{c}__"))
            aggs.append(F.sum(x * x * w).alias(f"__pw_z2_{c}__"))
        moments = df.groupBy(*[F.col(k) for k in self._keys]).agg(*aggs)
        joined = _join_group_stats(df, moments, self._keys)
        out_cols = [F.col(c) for c in df.columns]
        for c in cols:
            x = self._wdf._value(c)
            W = F.col(f"__pw_zW_{c}__")
            s1 = F.col(f"__pw_z1_{c}__")
            s2 = F.col(f"__pw_z2_{c}__")
            var = _stats.variance_from_weighted_moments(s1, s2, W, ddof=ddof)
            mu = F.try_divide(s1, W)
            z = F.when(var > 0, F.try_divide(x - mu, F.sqrt(var)))
            out_cols.append(z.alias(f"{c}_z"))
        return joined.select(*out_cols)

    def impute(
        self,
        strategy: str = "mean",
        skipna: bool = True,
        **quantile_kwargs,
    ) -> DataFrame:
        """Fill each numeric column's NULLs with its GROUP's weighted
        statistic: adds ``{col}_imp = coalesce(x, stat_g)`` for every
        selected numeric column — the missing-value counterpart of
        :meth:`zscore` (pandas ``groupby.transform`` + ``fillna``).

        ``strategy``: ``"mean"`` (weighted mean), ``"median"``
        (weighted median via the grouped inverted-CDF quantile pass —
        ``**quantile_kwargs`` forwards ``exact``/``lo``/``hi``/``bins``
        for the binned 100 TB path) or ``"zero"``. Same scale shape as
        zscore: one small stat row per group, AQE-broadcast joined
        back, row-local coalesce — never a ``Window.partitionBy(keys)``
        funnel. An all-NULL group leaves its rows NULL (no global
        fallback — surface, don't invent data).
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "impute is not defined for cube/rollup grouping sets"
            )
        if strategy not in ("mean", "median", "zero"):
            raise ValueError(
                f"strategy must be 'mean', 'median' or 'zero', got "
                f"{strategy!r}"
            )
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to impute")
        df = self._wdf.df
        if self._dropna:
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
        if strategy == "zero":
            return df.select(
                *[F.col(c) for c in df.columns],
                *[
                    F.coalesce(
                        self._wdf._value(c).cast("double"), F.lit(0.0)
                    ).alias(f"{c}_imp")
                    for c in cols
                ],
            )
        if strategy == "median":
            from pandas_weights_spark.quantile import quantile_col_name

            med = self.quantile(0.5, **quantile_kwargs)
            stats = med.select(
                *self._keys,
                *[
                    F.col(quantile_col_name(c, 0.5)).alias(
                        f"__pw_imed_{c}__"
                    )
                    for c in cols
                ],
            )
            joined = _join_group_stats(df, stats, self._keys)
            out_cols = [F.col(c) for c in df.columns]
            for c in cols:
                x = self._wdf._value(c)
                out_cols.append(
                    F.coalesce(
                        x.cast("double"), F.col(f"__pw_imed_{c}__")
                    ).alias(f"{c}_imp")
                )
            return joined.select(*out_cols)
        w = self._wdf.weights
        aggs = []
        for c in cols:
            x = self._wdf._value(c)
            mask = F.when(x.isNotNull(), w) if skipna else w
            aggs.append(
                F.coalesce(F.sum(mask), F.lit(0.0)).alias(f"__pw_iW_{c}__")
            )
            aggs.append(F.sum(x * w).alias(f"__pw_i1_{c}__"))
        moments = df.groupBy(*[F.col(k) for k in self._keys]).agg(*aggs)
        joined = _join_group_stats(df, moments, self._keys)
        out_cols = [F.col(c) for c in df.columns]
        for c in cols:
            x = self._wdf._value(c)
            mu = F.try_divide(
                F.col(f"__pw_i1_{c}__"), F.col(f"__pw_iW_{c}__")
            )
            out_cols.append(
                F.coalesce(x.cast("double"), mu).alias(f"{c}_imp")
            )
        return joined.select(*out_cols)

    def value_counts(
        self,
        k: Optional[int] = None,
        dropna_values: bool = True,
        normalize: bool = False,
    ) -> DataFrame:
        """Per-group weight mass per distinct value of the single
        selected column — the grouped analog of the frame-level
        ``value_counts`` (pandas ``groupby.value_counts``):
        ``(keys…, <col>, count[, share])``. ``k`` keeps only each
        group's top-k heaviest values (ties break to the smaller
        value) via :func:`~pandas_weights_spark.topk.partitioned_topk`
        — group-limit pushdown below the threshold, salted two-stage
        above it, never a full per-group sort of the value table.
        ``normalize=True`` adds each value's share of its group's mass.

        Narrow first (``grouped[["col"]].value_counts()``). One
        (keys, value) hash aggregate; the optional top-k and the share
        window run on the AGGREGATED table (groups × distinct values).
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "value_counts is not defined for cube/rollup"
            )
        cols = self._value_cols()
        if len(cols) != 1:
            raise ValueError(
                "value_counts needs exactly one value column; select "
                "with grouped[['col']]"
            )
        c = cols[0]
        # the output adds 'count' (and optionally 'share') columns —
        # a value/key column with one of those literal names would
        # produce duplicate columns and ambiguous references
        # downstream (ADVICE r5), so refuse up front
        reserved = {"count"} | ({"share"} if normalize else set())
        clash = reserved & ({c} | set(self._keys))
        if clash:
            raise ValueError(
                f"value_counts output reserves column name(s) "
                f"{sorted(clash)}; rename the input column(s) first"
            )
        df = self._wdf.df
        if self._dropna:
            for kk in self._keys:
                df = df.where(F.col(kk).isNotNull())
        x = self._wdf._value(c)
        if dropna_values:
            df = df.where(x.isNotNull())
        w = self._wdf.weights
        m = F.when(w > 0, w).otherwise(F.lit(0.0))
        agg = df.groupBy(*[F.col(kk) for kk in self._keys], x.alias(c)).agg(
            F.sum(m).alias("count")
        )
        if normalize:
            tot = Window.partitionBy(*[F.col(kk) for kk in self._keys])
            agg = agg.withColumn(
                "share", F.try_divide(F.col("count"), F.sum("count").over(tot))
            )
        if k is not None:
            from pandas_weights_spark.topk import partitioned_topk

            agg = partitioned_topk(
                agg,
                part_by=self._keys,
                order_by=[F.col("count").desc(), F.col(c).asc()],
                k=int(k),
                salt_by=[F.col(c)],
            ).drop("__pw_rank__")
        return self._finish(agg)

    def mode(self, dropna_values: bool = True) -> DataFrame:
        """Per-group weighted mode of the single selected value column:
        ``(keys…, <col>, count)`` where ``count`` is the winning value's
        weight mass. Ties break to the smallest value.

        Narrow first (``grouped[["col"]].mode()``). Two exchanges: the
        (keys, value) mass aggregate, then a per-key ``max_by`` argmax —
        an ordinary aggregation with map-side partials, NOT a
        ``Window.partitionBy(keys)``: with a low-cardinality key a window
        would funnel every distinct (key, value) row into a handful of
        sort tasks, while the argmax aggregate stays fully parallel (the
        same scale argument as :meth:`zscore`, groupby.py:345).
        """
        if self._mode != "groupby":
            raise NotImplementedError("mode is not defined for cube/rollup")
        cols = self._value_cols()
        if len(cols) != 1:
            raise ValueError(
                "mode needs exactly one value column; select with "
                "grouped[['col']]"
            )
        c = cols[0]
        df = self._wdf.df
        if self._dropna:
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
        if dropna_values:
            df = df.where(F.col(c).isNotNull())
        mass = df.groupBy(*self._keys, c).agg(
            F.coalesce(F.sum(self._wdf.weights), F.lit(0.0)).alias("count")
        )
        # argmax by (count desc, value asc): max_by over the lexicographic
        # (count, -value) struct. The cast-to-double tie-breaker keeps
        # bool/int columns orderable under unary minus.
        winner = F.max_by(
            F.struct(F.col(c).alias("value"), F.col("count").alias("count")),
            F.struct(
                F.col("count").alias("m"),
                (-F.col(c).cast("double")).alias("t"),
            ),
        )
        out = (
            mass.groupBy(*self._keys)
            .agg(winner.alias("__pw_win__"))
            .select(
                *self._keys,
                F.col("__pw_win__.value").alias(c),
                F.col("__pw_win__.count").alias("count"),
            )
        )
        return self._finish(out)

    def agg_all_salted(
        self, stats: Sequence[str], salt_buckets: int = 32, **kwargs
    ) -> DataFrame:
        """:meth:`agg_all` with explicit skew salting: identical output,
        two-stage execution.

        Stage 1 groups on ``(keys…, salt)`` where ``salt`` spreads each
        hot key over ``salt_buckets`` reducers and computes the *moment
        sums* (Σw masked, Σwx, Σwx², valid count). Stage 2 re-groups on
        the keys alone — at most ``|groups| × salt_buckets`` rows cross
        the second exchange — sums the moments (they are associative),
        and assembles the statistics. Use when a group key is so hot
        that AQE skew handling is not enough; for well-distributed keys
        prefer :meth:`agg_all` (one shuffle).

        Supports ``count/sum/mean/var/std/skew/kurt``. ``min_count``/
        ``min_periods`` guards need the *global* valid count, which is
        carried as a moment, so semantics match :meth:`agg_all` exactly.
        """
        if self._mode != "groupby":
            raise NotImplementedError("salting applies to plain groupby only")
        cols = self._value_cols()
        if not cols:
            raise ValueError("no numeric columns to aggregate")
        bad = [s for s in stats if s not in _KERNELS]
        if bad:
            raise ValueError(f"unknown statistics: {bad}")
        skipna = kwargs.get("skipna", True)
        ddof = kwargs.get("ddof", 1)
        min_count = kwargs.get("min_count", 0)
        need4 = any(s in ("skew", "kurt") for s in stats)

        df = self._wdf.df
        if self._dropna:
            for k in self._keys:
                df = df.where(F.col(k).isNotNull())
        w = self._wdf.weights
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))

        # stage 1: per-(keys, salt) moment sums — map-side partials make
        # each hot key's load 1/salt_buckets of the rows per reducer
        partial = []
        for c in cols:
            x = self._wdf._value(c)
            wv = F.when(x.isNotNull(), w)
            partial += [
                F.sum(wv).alias(f"__{c}_cw"),  # Σw over valid x
                F.sum(w).alias(f"__{c}_aw"),  # Σw over all rows
                F.count(x * w).alias(f"__{c}_n"),  # valid (x, w) pairs
                F.sum(x * w).alias(f"__{c}_s1"),
                F.sum(x * x * w).alias(f"__{c}_s2"),
            ]
            if need4:
                partial += [
                    F.sum(x * x * x * w).alias(f"__{c}_s3"),
                    F.sum(x * x * x * x * w).alias(f"__{c}_s4"),
                ]
        stage1 = df.withColumn("__salt__", salt).groupBy(
            *self._keys, "__salt__"
        ).agg(*partial)

        # stage 2: merge moments per key, assemble statistics
        merged = stage1.groupBy(*self._keys).agg(
            *[
                F.sum(f"__{c}_{m}").alias(f"__{c}_{m}")
                for c in cols
                for m in (
                    ("cw", "aw", "n", "s1", "s2", "s3", "s4")
                    if need4
                    else ("cw", "aw", "n", "s1", "s2")
                )
            ]
        )
        out_exprs = []
        for c in cols:
            cw = F.coalesce(F.col(f"__{c}_cw"), F.lit(0.0))
            aw = F.coalesce(F.col(f"__{c}_aw"), F.lit(0.0))
            n = F.col(f"__{c}_n")
            s1 = F.col(f"__{c}_s1")
            s2 = F.col(f"__{c}_s2")
            W = cw if skipna else aw
            # min_count applies to `sum` only; mean/var/skew/kurt always
            # guard at 1 valid pair, exactly like the agg_all kernels
            s1g = F.when(n >= F.lit(1), s1)
            for s in stats:
                if s == "count":
                    e = W
                elif s == "sum":
                    e = (
                        F.when(n >= F.lit(min_count), F.coalesce(s1, F.lit(0.0)))
                        if min_count > 0
                        else F.coalesce(s1, F.lit(0.0))
                    )
                elif s == "mean":
                    e = F.try_divide(s1g, W)
                elif s in ("var", "std"):
                    v = _stats.variance_from_weighted_moments(
                        s1g, F.when(n >= 1, s2), W, ddof=ddof
                    )
                    e = v if s == "var" else F.when(v >= 0, F.sqrt(v))
                else:  # skew / kurt — population central moments
                    mu = F.try_divide(s1g, W)
                    s2w = F.try_divide(F.when(n >= 1, s2), W)
                    m2 = s2w - mu * mu
                    s3w = F.try_divide(F.col(f"__{c}_s3"), W)
                    if s == "skew":
                        m3 = (
                            s3w - F.lit(3.0) * mu * s2w
                            + F.lit(2.0) * mu * mu * mu
                        )
                        e = F.when(
                            (W > 0) & (m2 > 0),
                            F.try_divide(m3, m2 * F.sqrt(m2)),
                        )
                    else:
                        s4w = F.try_divide(F.col(f"__{c}_s4"), W)
                        m4 = (
                            s4w
                            - F.lit(4.0) * mu * s3w
                            + F.lit(6.0) * mu * mu * s2w
                            - F.lit(3.0) * mu * mu * mu * mu
                        )
                        e = F.when(
                            (W > 0) & (m2 > 0),
                            F.try_divide(m4, m2 * m2) - F.lit(3.0),
                        )
                out_exprs.append(e.alias(f"{c}_{s}"))
        return self._finish(merged.select(*self._keys, *out_exprs))

    # -- correlation (frame.py:630-660) ----------------------------------------

    def corr(
        self,
        method: str = "pearson",
        min_periods: int = 1,
        ddof: int = 1,
    ) -> DataFrame:
        """Per-group pairwise weighted Pearson, long form
        ``(keys…, col_x, col_y, corr)``.

        Unlike the reference — which iterates groups on the driver
        (frame.py:645-651) — this is one distributed
        ``groupBy(keys).agg(<all pair moments>)`` followed by a JVM-side
        unpivot; group cardinality is unbounded.
        """
        if self._mode != "groupby":
            raise NotImplementedError(
                "corr is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.corr import grouped_corr

        return grouped_corr(
            self._wdf,
            self._keys,
            dropna=self._dropna,
            sort=self._sort,
            method=method,
            min_periods=min_periods,
            ddof=ddof,
        )

    def cov(self, min_periods: int = 1, ddof: int = 1) -> DataFrame:
        """Per-group pairwise weighted covariance, long form
        ``(keys…, col_x, col_y, cov)`` — extension beyond the reference
        (corr only); same single-shuffle plan as :meth:`corr`."""
        if self._mode != "groupby":
            raise NotImplementedError(
                "cov is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.corr import grouped_cov

        return grouped_cov(
            self._wdf,
            self._keys,
            dropna=self._dropna,
            sort=self._sort,
            min_periods=min_periods,
            ddof=ddof,
        )

    # -- apply (frame.py:662-679) -----------------------------------------------

    def apply(self, func, schema) -> DataFrame:
        """``applyInPandas`` over each group's *pre-weighted* rows."""
        if self._mode != "groupby":
            raise NotImplementedError(
                "apply is not defined for cube/rollup grouping sets"
            )
        from pandas_weights_spark.apply import grouped_apply

        return grouped_apply(self, func, schema)

    # -- iteration (frame.py:463-466) --------------------------------------------

    def __iter__(self):
        """Yield ``(key, WeightedDataFrame-of-group)`` pairs.

        Driver-side parity convenience (reference frame.py:463-466).
        Collects the DISTINCT KEYS only (not the data); each yielded group
        is a filtered lazy view. Documented small-cardinality only — at
        scale use ``agg_all``/``apply`` instead.
        """
        key_rows = (
            self._wdf.df.select(*self._keys).distinct().orderBy(*self._keys).collect()
        )
        for row in key_rows:
            if self._dropna and any(row[k] is None for k in self._keys):
                continue
            cond = None
            for k in self._keys:
                c = F.col(k).eqNullSafe(F.lit(row[k]))
                cond = c if cond is None else (cond & c)
            sub = self._wdf._subset(self._wdf.columns)
            sub._df = self._wdf.df.where(cond)
            key = row[self._keys[0]] if len(self._keys) == 1 else tuple(row)
            yield key, sub
