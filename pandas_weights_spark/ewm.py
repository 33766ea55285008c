"""Weighted exponentially-weighted-moment (EWM) statistics.

``wdf.ewm(order_by=..., alpha=...)`` generalizes pandas
``DataFrame.ewm(adjust=True, ignore_na=False)`` to per-row weights: at
row ``i`` (position ``p_i`` within its partition in ``order_by`` order)

    mean_i = Σ_j ρ^(p_i−p_j) · w_j · x_j  /  Σ_j ρ^(p_i−p_j) · w_j

over valid rows ``j ≤ i`` (``x`` and ``w`` non-NULL), with ``ρ = 1−α``.
Invalid rows contribute no mass but still advance the decay clock —
exactly pandas ``ignore_na=False``. With unit weights this reproduces
``pandas.DataFrame.ewm(...).mean()/var()/std()`` bit-for-bit in exact
arithmetic (pinned by the differential tests). The reference library has
no EWM surface; pandas does, and recency-weighting a training corpus is
the weighted use case.

Scale design — banded rescale, not a per-row geometric sum
----------------------------------------------------------
The naive formulations both fail: a sliding window re-sums O(n·depth)
terms, and the classic prefix trick ``ρ^p · Σ ρ^(−p_j)·t_j`` overflows
``double`` once ``p·log10(1/ρ) > 308``. Instead rows are cut into bands
of ``B = ⌊75 / log10(1/ρ)⌋`` rows, so every exponent that is ever
materialized stays within ±1e150 even for the squared-decay sum:

1. position ``p`` via ``row_number`` per partition;
2. in-band prefix sums of ``t_j · ρ^(−r_j)`` (``r`` = offset in band)
   under a window partitioned by (keys, band);
3. the previous band's total via a RANGE frame over the band index on
   the same sort — no join, no extra exchange.

The whole plan has ONE exchange, on the bare partition keys (pinned by
test_ewm_one_exchange_bounded_windows): the ``row_number`` window needs
every row of a key in one task, so a single giant key is still one
sort task. What the (keys, band) sub-partitioning buys is *bounded
window-operator state* — each prefix-sum frame holds ≤ B rows, so
memory/spill per window partition is capped regardless of key size —
not extra task parallelism.

A row's value combines its in-band prefix with the previous band's
total decayed by ``ρ^B ≤ 1e-37``; bands further back are dropped —
their multiplier is ``ρ^2B ≤ 1e-75``, beneath double precision relative
to the retained terms, so the result equals the exact sum to machine
precision. No unbounded ordered window anywhere.

``var(bias=False)`` uses the pandas debias factor
``D² / (D² − V)`` with ``V = Σ ρ^(2(p_i−p_j)) · w_j²`` — the same
banded machinery at decay ``ρ²``.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandas_weights_spark.rolling import as_refs

__all__ = ["WeightedEWM"]

_ColRef = Union[str, Column]

_P = "__pw_ewm_p__"
_BAND = "__pw_ewm_band__"
_R = "__pw_ewm_r__"


def resolve_alpha(
    alpha: Optional[float] = None,
    com: Optional[float] = None,
    span: Optional[float] = None,
    halflife: Optional[float] = None,
) -> float:
    """pandas ewm decay parametrizations → alpha (exactly one given)."""
    given = [v is not None for v in (alpha, com, span, halflife)]
    if sum(given) != 1:
        raise ValueError("pass exactly one of alpha / com / span / halflife")
    if alpha is not None:
        a = float(alpha)
    elif com is not None:
        if com < 0:
            raise ValueError("com must be >= 0")
        a = 1.0 / (1.0 + float(com))
    elif span is not None:
        if span < 1:
            raise ValueError("span must be >= 1")
        a = 2.0 / (float(span) + 1.0)
    else:
        if halflife <= 0:
            raise ValueError("halflife must be > 0")
        a = 1.0 - math.exp(math.log(0.5) / float(halflife))
    if not 0.0 < a <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {a}")
    return a


class WeightedEWM:
    """EWM statistics over a ``WeightedDataFrame`` — built via
    ``WeightedDataFrame.ewm(...)``. Emits the partition/order key
    columns plus one transformed column per numeric value column
    (the same output shape as :class:`rolling.WeightedRolling`)."""

    def __init__(
        self,
        wdf,
        order_by: Sequence[_ColRef] = (),
        partition_by: Sequence[_ColRef] = (),
        alpha: Optional[float] = None,
        com: Optional[float] = None,
        span: Optional[float] = None,
        halflife=None,
        min_periods: int = 0,
        adjust: bool = True,
        ignore_na: bool = False,
        times: Optional[str] = None,
    ) -> None:
        order_by = as_refs(order_by)
        partition_by = as_refs(partition_by)
        if any(not isinstance(r, str) for r in partition_by):
            raise ValueError("ewm partition_by entries must be column names")
        self._wdf = wdf
        self._partition_by = list(partition_by)
        self._times = times
        if times is not None:
            # pandas times= semantics: decay by elapsed time; requires a
            # DURATION halflife, defaults, and (like pandas) mean() only
            if not (adjust and not ignore_na):
                raise NotImplementedError(
                    "times= supports adjust=True, ignore_na=False"
                )
            if halflife is None or any(
                v is not None for v in (alpha, com, span)
            ):
                raise ValueError(
                    "times= requires halflife= (a duration) and no other "
                    "decay parametrization"
                )
            import datetime as _dt

            if isinstance(halflife, _dt.timedelta):
                secs = halflife.total_seconds()
            elif isinstance(halflife, str):
                import pandas as _pd

                secs = _pd.Timedelta(halflife).total_seconds()
            else:
                secs = float(halflife)  # numeric: same units as `times`
            if secs <= 0:
                raise ValueError("halflife must be a positive duration")
            self._halflife_secs = secs
            self._alpha = None
            self._order_by = list(order_by) if order_by else [times]
        else:
            if not order_by:
                raise ValueError("ewm requires order_by columns")
            self._order_by = list(order_by)
            self._alpha = resolve_alpha(alpha, com, span, halflife)
        self._min_periods = int(min_periods)
        self._adjust = bool(adjust)
        self._ignore_na = bool(ignore_na)
        if not self._partition_by:
            import warnings

            warnings.warn(
                "ewm without partition_by assigns positions in a single "
                "global window partition (one task for the row_number "
                "pass). Pass partition keys at scale.",
                stacklevel=2,
            )

    # -- banded prefix machinery -------------------------------------------

    def _band_size(self, rho: float) -> int:
        if rho == 0.0:  # alpha == 1: only the current row matters
            return 1
        decades = -math.log10(rho)
        if decades <= 0:
            raise ValueError("alpha must be > 0")
        return max(1, int(75.0 / decades))

    def _key_cols(self) -> list[str]:
        return [r for r in self._partition_by if isinstance(r, str)] + [
            r for r in self._order_by if isinstance(r, str)
        ]

    def _stat(self, kind: str, bias: bool = False) -> DataFrame:
        if self._times is not None:
            if kind != "mean":
                raise NotImplementedError(
                    "times= supports mean() only (pandas restriction)"
                )
            return self._stat_times()
        # alpha == 1 degenerates identically for every flag combination
        # (only the current row has mass), so the fast shared-band path
        # covers it.
        if (self._adjust and not self._ignore_na) or self._alpha == 1.0:
            return self._stat_fast(kind, bias)
        return self._stat_general(kind, bias)

    def _stat_times(self) -> DataFrame:
        """Time-decayed EWM mean (pandas ``ewm(halflife=..., times=...)``
        generalized to per-row weights): weight of row j at row i is
        ``w_j · 0.5^((t_i − t_j)/halflife)`` — decay by ELAPSED TIME,
        so irregular sampling is handled exactly.

        The decay exponent in decades is the real-valued
        ``L_j = (t_j/halflife)·log10(2)``; banding on ``floor(L/75)``
        is exactly the machinery of the flag variants (constant offsets
        cancel in N/D, so no anchor subtraction is needed). Bands here
        bound the EXPONENT RANGE per band — a band holds whatever rows
        fall inside 75·halflife/log10(2) of time, so window-state is
        bounded by data density, not row count. ONE exchange on the
        partition keys. Rows with NULL ``times`` carry no mass and
        output NULL (pandas raises on NaT instead). Shared band
        columns: all value columns ride one in-band WindowExec.

        Divergence at extreme gaps: after ~250 halflives with no
        observations the carried mass is < 1e-75 of a unit weight and
        the banded sum underflows to NULL, where pandas would still
        echo the ancient mean — the weights there are far beneath
        double precision relative to any new observation.
        """
        wdf = self._wdf
        keys = self._key_cols()
        pcols = [F.col(c) if isinstance(c, str) else c for c in self._partition_by]
        ocols = [F.col(c) if isinstance(c, str) else c for c in self._order_by]
        w = wdf.weights
        tcol = self._times
        cols = [
            c
            for c in wdf.numeric_columns()
            if c not in keys and c != tcol
        ]
        if not cols:
            raise ValueError("no numeric value columns outside the ewm keys")
        LN10 = math.log(10.0)
        DEC = 75.0
        # timestamp -> epoch seconds; numeric times pass through.
        # TIMESTAMP_NTZ / DATE cannot cast straight to double — route
        # through the session-zoned type (value-preserving under the
        # engine's pinned spark.sql.session.timeZone=UTC, same rule as
        # sources.load_stream).
        # Anchored to the partition minimum: constant offsets cancel in
        # N/D mathematically, but epoch-scale L (~1e7 decades) loses
        # ~7 digits in the in-band remainder L - 75*band — anchoring
        # keeps L at data-range scale so the remainder stays full
        # precision. The min rides the same exchange (unordered window).
        from pyspark.sql.types import DateType, TimestampNTZType

        ttype = wdf.df.schema[tcol].dataType
        tsec = F.col(tcol)
        if isinstance(ttype, (TimestampNTZType, DateType)):
            tsec = tsec.cast("timestamp")
        tsec = tsec.cast("double")
        anchor_win = Window.partitionBy(*pcols)
        tmin = F.min(tsec).over(anchor_win)
        L = (tsec - tmin) / F.lit(self._halflife_secs) * F.lit(
            math.log10(2.0)
        )

        pos_win = Window.partitionBy(*pcols).orderBy(*ocols)
        base = wdf.df.select(
            "*",
            (F.row_number().over(pos_win) - 1).alias(_P),
        ).select(
            "*",
            F.floor(L / F.lit(DEC)).cast("long").alias(_BAND),
            (L - F.lit(DEC) * F.floor(L / F.lit(DEC))).alias(_R),
        )
        up = F.exp(F.lit(LN10) * F.col(_R))
        down = F.exp(F.lit(-LN10) * F.col(_R))
        carry1 = F.lit(10.0 ** -DEC)

        terms = []
        names = []
        for c in cols:
            x = wdf._value(c)
            valid = (
                x.isNotNull() & w.isNotNull() & F.col(tcol).isNotNull()
            )
            m = F.when(valid, w).otherwise(F.lit(0.0))
            xz = F.when(valid, x).otherwise(F.lit(0.0))
            terms += [
                (m * up).alias(f"__tD_{c}__"),
                (m * xz * up).alias(f"__tN_{c}__"),
            ]
            names += [f"__tD_{c}__", f"__tN_{c}__"]
            if self._min_periods > 0:
                terms.append(valid.cast("long").alias(f"__tc_{c}__"))
                names.append(f"__tc_{c}__")
        staged = base.select("*", *terms)
        in_win = (
            Window.partitionBy(*pcols, F.col(_BAND))
            .orderBy(F.col(_P))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        prefixed = staged.select(
            "*", *[F.sum(n).over(in_win).alias(f"__p{n}") for n in names]
        )
        prev_win = (
            Window.partitionBy(*pcols)
            .orderBy(F.col(_BAND))
            .rangeBetween(-1, -1)
        )
        all_prev_win = (
            Window.partitionBy(*pcols)
            .orderBy(F.col(_BAND))
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        carry_exprs = []
        for n in names:
            if n.startswith("__tc_"):
                carry_exprs.append(
                    F.coalesce(F.sum(n).over(all_prev_win), F.lit(0)).alias(
                        f"__c{n}"
                    )
                )
            else:
                carry_exprs.append(
                    F.coalesce(F.sum(n).over(prev_win), F.lit(0.0)).alias(
                        f"__c{n}"
                    )
                )
        j = prefixed.select("*", *carry_exprs)
        out_cols = []
        for c in cols:
            D = (
                F.col(f"__p__tD_{c}__") + carry1 * F.col(f"__c__tD_{c}__")
            ) * down
            N = (
                F.col(f"__p__tN_{c}__") + carry1 * F.col(f"__c__tN_{c}__")
            ) * down
            expr = F.when(D > 0, F.try_divide(N, D))
            if self._min_periods > 0:
                n_valid = F.col(f"__p__tc_{c}__") + F.col(f"__c__tc_{c}__")
                expr = F.when(n_valid >= F.lit(self._min_periods), expr)
            out_cols.append(expr.alias(c))
        sel_keys = [k for k in keys]
        if tcol not in sel_keys:
            sel_keys.append(tcol)
        return j.select(*sel_keys, *out_cols)

    def _stat_fast(self, kind: str, bias: bool = False) -> DataFrame:
        wdf = self._wdf
        alpha = self._alpha
        rho = 1.0 - alpha
        B = self._band_size(rho)
        keys = self._key_cols()
        pcols = [F.col(c) if isinstance(c, str) else c for c in self._partition_by]
        ocols = [F.col(c) if isinstance(c, str) else c for c in self._order_by]
        w = wdf.weights

        cols = [c for c in wdf.numeric_columns() if c not in keys]
        if not cols:
            raise ValueError("no numeric value columns outside the ewm keys")

        pos_win = Window.partitionBy(*pcols).orderBy(*ocols)
        base = wdf.df.select(
            "*",
            (F.row_number().over(pos_win) - 1).alias(_P),
        ).select(
            "*",
            F.expr(f"`{_P}` div {B}").alias(_BAND),
            (F.col(_P) % F.lit(B)).cast("double").alias(_R),
        )

        # ln(1/rho)·r and ln(1/rho)·(B-1-r) both stay <= 75 decades.
        if rho > 0.0:
            ln_inv = math.log(1.0 / rho)
            up = F.exp(F.lit(ln_inv) * F.col(_R))  # rho^(-r)
            down = F.exp(F.lit(-ln_inv) * F.col(_R))  # rho^(+r)
            up2 = F.exp(F.lit(2.0 * ln_inv) * F.col(_R))
            carry1 = F.lit(rho**B)  # rho^B   (>= 1e-75 by band sizing)
            carry2 = F.lit(rho ** (2 * B))  # rho^2B (>= 1e-150)
        else:
            up = down = up2 = F.lit(1.0)
            carry1 = carry2 = F.lit(0.0)

        part_keys = [*pcols, F.col(_BAND)]
        in_win = (
            Window.partitionBy(*part_keys)
            .orderBy(F.col(_P))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

        # per-column scaled terms; NULL-safe mass rule of the kernels
        need_var = kind in ("var", "std")
        terms: list[Column] = []
        names: list[str] = []
        for c in cols:
            x = wdf._value(c)
            valid = x.isNotNull() & w.isNotNull()
            m = F.when(valid, w).otherwise(F.lit(0.0))
            # xz: x with invalid rows zeroed, NOT left NULL — `m * x` is
            # 0 * NULL = NULL, and a NULL term makes the in-band prefix
            # sum NULL whenever every row so far in the band is invalid,
            # silently dropping the carried value at band starts.
            xz = F.when(valid, x).otherwise(F.lit(0.0))
            terms += [
                (m * up).alias(f"__tD_{c}__"),
                (m * xz * up).alias(f"__tN_{c}__"),
            ]
            names += [f"__tD_{c}__", f"__tN_{c}__"]
            if need_var:
                terms.append((m * xz * xz * up).alias(f"__tM_{c}__"))
                names.append(f"__tM_{c}__")
                if not bias:
                    terms.append((m * m * up2).alias(f"__tV_{c}__"))
                    names.append(f"__tV_{c}__")
            if self._min_periods > 0:
                terms.append(valid.cast("long").alias(f"__tc_{c}__"))
                names.append(f"__tc_{c}__")

        staged = base.select("*", *terms)
        # one WindowExec for every in-band prefix (shared spec)
        prefixed = staged.select(
            "*", *[F.sum(n).over(in_win).alias(f"__p{n}") for n in names]
        )

        # Previous band's total as a RANGE frame over the band index —
        # same partitioning, and the (keys, band, p) sort from the
        # prefix window already satisfies the (keys, band) order, so
        # this adds NO exchange, NO extra sort, and NO self-join (an
        # earlier join formulation re-scanned the whole input for the
        # carry branch). Bands are dense per partition (positions are
        # contiguous), so band b−1 is the full previous band.
        prev_win = (
            Window.partitionBy(*pcols)
            .orderBy(F.col(_BAND))
            .rangeBetween(-1, -1)
        )
        all_prev_win = (
            Window.partitionBy(*pcols)
            .orderBy(F.col(_BAND))
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        carry_exprs = []
        for n in names:
            if n.startswith("__tc_"):  # counts don't decay: exact total
                carry_exprs.append(
                    F.coalesce(
                        F.sum(n).over(all_prev_win), F.lit(0)
                    ).alias(f"__c{n}")
                )
            else:
                carry_exprs.append(
                    F.coalesce(F.sum(n).over(prev_win), F.lit(0.0)).alias(
                        f"__c{n}"
                    )
                )
        j = prefixed.select("*", *carry_exprs)

        out_cols: list[Column] = []
        for c in cols:
            D = (F.col(f"__p__tD_{c}__") + carry1 * F.col(f"__c__tD_{c}__")) * down
            N = (F.col(f"__p__tN_{c}__") + carry1 * F.col(f"__c__tN_{c}__")) * down
            mean = F.try_divide(N, D)
            if kind == "mean":
                expr = mean
            else:
                M = (
                    F.col(f"__p__tM_{c}__") + carry1 * F.col(f"__c__tM_{c}__")
                ) * down
                biased = F.try_divide(M, D) - mean * mean
                if bias:
                    var = biased
                else:
                    V = (
                        F.col(f"__p__tV_{c}__")
                        + carry2 * F.col(f"__c__tV_{c}__")
                    ) * down * down
                    # D^2 - V is exactly 0 for a lone observation in
                    # exact math, but the banded exp() rescale leaves
                    # ~1e-16 relative garbage that the debias ratio
                    # then amplifies; a relative threshold restores the
                    # pandas denominator<=0 -> NaN behavior.
                    denom = D * D - V
                    var = F.when(
                        denom > F.lit(1e-10) * (D * D),
                        F.try_divide(D * D, denom) * biased,
                    )
                if kind == "var":
                    expr = var
                else:
                    expr = F.when(var >= 0, F.sqrt(var))
            expr = F.when(D > 0, expr)
            if self._min_periods > 0:
                n_valid = F.col(f"__p__tc_{c}__") + F.col(f"__c__tc_{c}__")
                expr = F.when(n_valid >= F.lit(self._min_periods), expr)
            out_cols.append(expr.alias(c))
        return j.select(*keys, *out_cols)

    def _stat_general(self, kind: str, bias: bool = False) -> DataFrame:
        """``ignore_na=True`` and/or ``adjust=False`` — same banded
        assembly as the fast path, with the decay exponent generalized
        from a shared integer position to a per-column real log-decay
        ``L``:

        * ``ignore_na=True``: the decay clock ticks only on valid rows
          (pandas relative positions), so ``L_j = q_j·log10(1/ρ)`` with
          ``q`` = running count of valid rows — per column, because
          validity is per column.
        * ``adjust=False``: the pandas renormalizing recursion
          ``y_t = (o·W·y + α·w_t·x_t)/(o·W + α·w_t)``, ``W`` reset to
          ``w_t`` after each observation (unit weights reproduce pandas
          exactly), unrolls to the variable-decay kernel
          ``y_t = Σ_j g_j·x_j·10^(L_j−L_t)`` with
          ``g_j = α·w_j/(o_j·w_prev + α·w_j)`` (first valid row: 1) and
          ``L`` the running sum of ``log10(1/f_j)``,
          ``f_j = 1 − g_j``. The kernel weights telescope to 1, so the
          same ``N/D`` assembly applies with ``D ≈ 1``, and the
          ``bias=False`` debias factor ``D²/(D²−V)`` reduces to the
          pandas ``1/(1−Σc²)``. Requires strictly positive weights
          (rows with ``w ≤ 0`` are treated as invalid) — the recursion
          renormalizes by running weight mass, which must not vanish.

        Banding happens on ``floor(L/75)`` so every materialized power
        of 10 stays within ±1e150 (±75 decades single decay, ±150 for
        the squared-decay debias sum) — the fast path's guarantee,
        band-local.

        Scale shape: still ONE exchange on the bare partition keys —
        the per-column in-band windows partition by (keys, band_c) and
        the carry windows by (keys), and hash partitioning on (keys)
        satisfies both clusterings, so Catalyst adds sorts, not
        shuffles. Per-column window passes replace the fast path's
        single shared pass: the variants cost O(#columns) sorts.
        """
        wdf = self._wdf
        alpha = self._alpha
        rho = 1.0 - alpha
        keys = self._key_cols()
        pcols = [F.col(c) if isinstance(c, str) else c for c in self._partition_by]
        ocols = [F.col(c) if isinstance(c, str) else c for c in self._order_by]
        w = wdf.weights
        cols = [c for c in wdf.numeric_columns() if c not in keys]
        if not cols:
            raise ValueError("no numeric value columns outside the ewm keys")
        need_var = kind in ("var", "std")

        LN10 = math.log(10.0)
        DEC = 75.0  # decades per band
        d = -math.log10(rho)  # decades of decay per clock tick

        pos_win = Window.partitionBy(*pcols).orderBy(*ocols)
        pos_cum = pos_win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pos_prev = pos_win.rowsBetween(Window.unboundedPreceding, -1)

        def _valid(x):
            v = x.isNotNull() & w.isNotNull()
            if not self._adjust:
                v = v & (w > 0)
            return v

        # layer 1: position + per-column valid-row clock (one WindowExec)
        lay1 = [(F.row_number().over(pos_win) - 1).alias(_P)]
        for c in cols:
            v = _valid(wdf._value(c))
            if self._ignore_na:
                lay1.append(
                    F.sum(v.cast("double")).over(pos_cum).alias(f"__q_{c}__")
                )
        staged = wdf.df.select("*", *lay1)
        q_of = {
            c: (
                F.col(f"__q_{c}__")
                if self._ignore_na
                else (F.col(_P) + F.lit(1.0))
            )
            for c in cols
        }

        # layer 2 (adjust=False): previous valid row's weight and clock
        if not self._adjust:
            lay2 = []
            for c in cols:
                v = _valid(wdf._value(c))
                lay2.append(
                    F.last(F.when(v, w), ignorenulls=True)
                    .over(pos_prev)
                    .alias(f"__pw_{c}__")
                )
                lay2.append(
                    F.last(F.when(v, q_of[c]), ignorenulls=True)
                    .over(pos_prev)
                    .alias(f"__pq_{c}__")
                )
            staged = staged.select("*", *lay2)

        # layer 3: per-row log-decay step + kernel mass g
        g_of: dict[str, Column] = {}
        if self._adjust:
            L_of = {c: q_of[c] * F.lit(d) for c in cols}
            for c in cols:
                v = _valid(wdf._value(c))
                g_of[c] = F.when(v, w).otherwise(F.lit(0.0))
        else:
            lay3 = []
            for c in cols:
                v = _valid(wdf._value(c))
                pw = F.col(f"__pw_{c}__")
                gap = q_of[c] - F.col(f"__pq_{c}__")
                # z = log10(α·w / (ρ^gap · w_prev)); computed in log
                # space so century-long gaps can't underflow ρ^gap
                z = (
                    F.log10(F.when(w > 0, F.lit(alpha) * w))
                    - F.log10(F.when(pw > 0, pw))
                    + gap * F.lit(d)
                )
                zc = F.least(F.greatest(z, F.lit(-300.0)), F.lit(300.0))
                # log10(1/f) = log10(1 + 10^z), overflow-safe form
                step = F.greatest(z, F.lit(0.0)) + F.log10(
                    F.lit(1.0) + F.pow(F.lit(10.0), -F.abs(zc))
                )
                lay3.append(
                    F.when(v & pw.isNotNull(), step)
                    .otherwise(F.lit(0.0))
                    .alias(f"__c_{c}__")
                )
                g_of[c] = (
                    F.when(v & pw.isNull(), F.lit(1.0))
                    .when(
                        v,
                        F.try_divide(
                            F.lit(1.0),
                            F.lit(1.0) + F.pow(F.lit(10.0), -zc),
                        ),
                    )
                    .otherwise(F.lit(0.0))
                )
            staged = staged.select("*", *lay3)
            # layer 4: L = running sum of the log-decay steps
            staged = staged.select(
                "*",
                *[
                    F.sum(f"__c_{c}__").over(pos_cum).alias(f"__L_{c}__")
                    for c in cols
                ],
            )
            L_of = {c: F.col(f"__L_{c}__") for c in cols}

        # layer 5: band split + scaled terms (all pure row-local math)
        lay5 = []
        term_names: dict[str, list[str]] = {}
        for c in cols:
            x = wdf._value(c)
            v = _valid(x)
            band = F.floor(L_of[c] / F.lit(DEC)).cast("long")
            rp = L_of[c] - F.lit(DEC) * band
            up = F.exp(F.lit(LN10) * rp)
            up2 = F.exp(F.lit(2.0 * LN10) * rp)
            g = g_of[c]
            xz = F.when(v, x).otherwise(F.lit(0.0))
            lay5 += [
                band.alias(f"__band_{c}__"),
                rp.alias(f"__rp_{c}__"),
                (g * up).alias(f"__tD_{c}__"),
                (g * xz * up).alias(f"__tN_{c}__"),
            ]
            names = [f"__tD_{c}__", f"__tN_{c}__"]
            if need_var:
                lay5.append((g * xz * xz * up).alias(f"__tM_{c}__"))
                names.append(f"__tM_{c}__")
                if not bias:
                    lay5.append((g * g * up2).alias(f"__tV_{c}__"))
                    names.append(f"__tV_{c}__")
            if self._min_periods > 0:
                lay5.append(v.cast("long").alias(f"__tc_{c}__"))
                names.append(f"__tc_{c}__")
            term_names[c] = names
        staged = staged.select("*", *lay5)

        # layers 6+7 per column: in-band prefix + previous-band carry.
        # hashpartitioning(keys) satisfies both (keys, band_c) and
        # (keys) clustering, so these add sorts but no exchange.
        carry1 = F.lit(10.0 ** -DEC)
        carry2 = F.lit(10.0 ** (-2 * DEC))
        exprs = []
        for c in cols:
            in_win = (
                Window.partitionBy(*pcols, F.col(f"__band_{c}__"))
                .orderBy(F.col(_P))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            prev_win = (
                Window.partitionBy(*pcols)
                .orderBy(F.col(f"__band_{c}__"))
                .rangeBetween(-1, -1)
            )
            all_prev_win = (
                Window.partitionBy(*pcols)
                .orderBy(F.col(f"__band_{c}__"))
                .rangeBetween(Window.unboundedPreceding, -1)
            )
            for n in term_names[c]:
                exprs.append(F.sum(n).over(in_win).alias(f"__p{n}"))
                if n.startswith("__tc_"):
                    exprs.append(
                        F.coalesce(
                            F.sum(n).over(all_prev_win), F.lit(0)
                        ).alias(f"__c{n}")
                    )
                else:
                    exprs.append(
                        F.coalesce(F.sum(n).over(prev_win), F.lit(0.0)).alias(
                            f"__c{n}"
                        )
                    )
        j = staged.select("*", *exprs)

        out_cols: list[Column] = []
        for c in cols:
            down = F.exp(F.lit(-LN10) * F.col(f"__rp_{c}__"))
            D = (F.col(f"__p__tD_{c}__") + carry1 * F.col(f"__c__tD_{c}__")) * down
            N = (F.col(f"__p__tN_{c}__") + carry1 * F.col(f"__c__tN_{c}__")) * down
            mean = F.try_divide(N, D)
            if kind == "mean":
                expr = mean
            else:
                M = (
                    F.col(f"__p__tM_{c}__") + carry1 * F.col(f"__c__tM_{c}__")
                ) * down
                biased = F.try_divide(M, D) - mean * mean
                if bias:
                    var = biased
                else:
                    V = (
                        F.col(f"__p__tV_{c}__")
                        + carry2 * F.col(f"__c__tV_{c}__")
                    ) * down * down
                    # D^2 - V is exactly 0 for a lone observation in
                    # exact math, but the banded exp() rescale leaves
                    # ~1e-16 relative garbage that the debias ratio
                    # then amplifies; a relative threshold restores the
                    # pandas denominator<=0 -> NaN behavior.
                    denom = D * D - V
                    var = F.when(
                        denom > F.lit(1e-10) * (D * D),
                        F.try_divide(D * D, denom) * biased,
                    )
                if kind == "var":
                    expr = var
                else:
                    expr = F.when(var >= 0, F.sqrt(var))
            expr = F.when(D > 0, expr)
            if self._min_periods > 0:
                n_valid = F.col(f"__p__tc_{c}__") + F.col(f"__c__tc_{c}__")
                expr = F.when(n_valid >= F.lit(self._min_periods), expr)
            out_cols.append(expr.alias(c))
        return j.select(*keys, *out_cols)

    # -- pairwise statistics ------------------------------------------------

    def _pair_stat(self, kind: str, x: str, y: str, bias: bool) -> DataFrame:
        """Single-stat wrapper over :meth:`pair_stats`."""
        return self.pair_stats(x, y, stats=(kind,), bias=bias)

    def pair_stats(
        self,
        x: str,
        y: str,
        stats: Sequence[str] = ("cov", "corr"),
        bias: bool = False,
    ) -> DataFrame:
        """EWM weighted pairwise cov/corr of two columns (pandas
        ``ewm().cov(other)`` / ``corr(other)`` generalized to per-row
        weights; default flags ``adjust=True, ignore_na=False``).
        Requesting several ``stats`` fuses them into ONE banded window
        pass — the cross-moment prefix sums are shared, only the final
        row-local algebra differs per statistic.

        Pairwise-complete mask (x, y AND w non-null — pandas aligns the
        pair before the recursion); masked rows still advance the decay
        clock. Same banded-rescale machinery as :meth:`_stat_fast` with
        cross-moment terms (Σρ^Δ·w·x·y etc.); ``bias=False`` applies
        the pandas debias factor ``D²/(D²−V)`` to cov and both
        variances (it cancels in corr). ONE exchange on the partition
        keys, like every EWM statistic.
        """
        stats = tuple(stats)
        bad = [s for s in stats if s not in ("cov", "corr")]
        if bad or not stats:
            raise ValueError(
                f"pair stats must be a non-empty subset of cov/corr, "
                f"got {stats!r}"
            )
        if self._adjust is False or self._ignore_na or self._times is not None:
            raise NotImplementedError(
                "ewm pairwise cov/corr supports the default "
                "adjust=True, ignore_na=False flags (no times=)"
            )
        wdf = self._wdf
        alpha = self._alpha
        rho = 1.0 - alpha
        B = self._band_size(rho)
        keys = self._key_cols()
        pcols = [F.col(c) if isinstance(c, str) else c for c in self._partition_by]
        ocols = [F.col(c) if isinstance(c, str) else c for c in self._order_by]
        w = wdf.weights

        pos_win = Window.partitionBy(*pcols).orderBy(*ocols)
        base = wdf.df.select(
            "*",
            (F.row_number().over(pos_win) - 1).alias(_P),
        ).select(
            "*",
            F.expr(f"`{_P}` div {B}").alias(_BAND),
            (F.col(_P) % F.lit(B)).cast("double").alias(_R),
        )
        if rho > 0.0:
            ln_inv = math.log(1.0 / rho)
            up = F.exp(F.lit(ln_inv) * F.col(_R))
            down = F.exp(F.lit(-ln_inv) * F.col(_R))
            up2 = F.exp(F.lit(2.0 * ln_inv) * F.col(_R))
            carry1 = F.lit(rho**B)
            carry2 = F.lit(rho ** (2 * B))
        else:
            up = down = up2 = F.lit(1.0)
            carry1 = carry2 = F.lit(0.0)

        xv = wdf._value(x)
        yv = wdf._value(y)
        valid = xv.isNotNull() & yv.isNotNull() & w.isNotNull()
        m = F.when(valid, w).otherwise(F.lit(0.0))
        xz = F.when(valid, xv).otherwise(F.lit(0.0))
        yz = F.when(valid, yv).otherwise(F.lit(0.0))
        need_corr = "corr" in stats
        terms = [
            (m * up).alias("__tD__"),
            (m * xz * up).alias("__tX__"),
            (m * yz * up).alias("__tY__"),
            (m * xz * yz * up).alias("__tXY__"),
        ]
        names = ["__tD__", "__tX__", "__tY__", "__tXY__"]
        if need_corr or not bias:
            # corr needs both variances; unbiased cov needs V
            terms.append((m * m * up2).alias("__tV__"))
            names.append("__tV__")
        if need_corr:
            terms += [
                (m * xz * xz * up).alias("__tXX__"),
                (m * yz * yz * up).alias("__tYY__"),
            ]
            names += ["__tXX__", "__tYY__"]
        if self._min_periods > 0:
            terms.append(valid.cast("long").alias("__tc__"))
            names.append("__tc__")

        staged = base.select("*", *terms)
        in_win = (
            Window.partitionBy(*pcols, F.col(_BAND))
            .orderBy(F.col(_P))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        prefixed = staged.select(
            "*", *[F.sum(n).over(in_win).alias(f"__p{n}") for n in names]
        )
        prev_win = (
            Window.partitionBy(*pcols)
            .orderBy(F.col(_BAND))
            .rangeBetween(-1, -1)
        )
        all_prev_win = (
            Window.partitionBy(*pcols)
            .orderBy(F.col(_BAND))
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        carry_exprs = []
        for n in names:
            if n == "__tc__":
                carry_exprs.append(
                    F.coalesce(F.sum(n).over(all_prev_win), F.lit(0)).alias(
                        f"__c{n}"
                    )
                )
            else:
                carry_exprs.append(
                    F.coalesce(F.sum(n).over(prev_win), F.lit(0.0)).alias(
                        f"__c{n}"
                    )
                )
        j = prefixed.select("*", *carry_exprs)

        def tot(n: str, second_order: bool = False) -> Column:
            c = carry2 if second_order else carry1
            v = (F.col(f"__p{n}") + c * F.col(f"__c{n}")) * down
            return v * down if second_order else v

        D = tot("__tD__")
        X = tot("__tX__")
        Y = tot("__tY__")
        XY = tot("__tXY__")
        mx = F.try_divide(X, D)
        my = F.try_divide(Y, D)
        cov_b = F.try_divide(XY, D) - mx * my
        if need_corr or not bias:
            V = tot("__tV__", second_order=True)
            denom = D * D - V
            factor = F.when(
                denom > F.lit(1e-10) * (D * D), F.try_divide(D * D, denom)
            )
        out_cols = []
        for kind in stats:
            if kind == "cov":
                expr = cov_b if bias else factor * cov_b
            else:
                XX = tot("__tXX__")
                YY = tot("__tYY__")
                var_x = F.try_divide(XX, D) - mx * mx
                var_y = F.try_divide(YY, D) - my * my
                # the debias factor cancels in the ratio; the guard (a
                # lone effective observation) must still null the result
                expr = F.when(
                    factor.isNotNull() & (var_x > 0) & (var_y > 0),
                    F.try_divide(cov_b, F.sqrt(var_x * var_y)),
                )
            expr = F.when(D > 0, expr)
            if self._min_periods > 0:
                n_valid = F.col("__p__tc__") + F.col("__c__tc__")
                expr = F.when(n_valid >= F.lit(self._min_periods), expr)
            out_cols.append(expr.alias(f"{x}_{y}_{kind}"))
        return j.select(*keys, *out_cols)

    def cov(self, x: str, y: str, bias: bool = False) -> DataFrame:
        """EWM weighted covariance of ``x`` vs ``y``; output column
        ``{x}_{y}_cov`` alongside the partition/order keys."""
        return self._pair_stat("cov", x, y, bias)

    def corr(self, x: str, y: str) -> DataFrame:
        """EWM weighted Pearson correlation of ``x`` vs ``y``; output
        column ``{x}_{y}_corr`` (the pandas debias factor cancels)."""
        return self._pair_stat("corr", x, y, bias=False)

    # -- statistics ---------------------------------------------------------

    def mean(self) -> DataFrame:
        """EWM weighted mean per numeric column (pandas ``ewm().mean()``
        at unit weights)."""
        return self._stat("mean")

    def var(self, bias: bool = False) -> DataFrame:
        """EWM weighted variance; ``bias=False`` applies the pandas
        debias factor ``D²/(D²−V)``."""
        return self._stat("var", bias=bias)

    def std(self, bias: bool = False) -> DataFrame:
        return self._stat("std", bias=bias)
