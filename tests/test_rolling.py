"""Weighted rolling / expanding window statistics (engine extension; the
reference names these as future work, reference README.md:315). Goldens
hand-computed with the weighted-moment algebra of _stats.py."""

import math

import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt
from tests.conftest import approx


@pytest.fixture(scope="module")
def ts(spark):
    # (t, x, w): weighted series ordered by t
    return spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 2.0, 2.0), (3, 3.0, 1.0), (4, None, 3.0), (5, 5.0, 2.0)],
        "t int, x double, w double",
    )


def col(df, name="x"):
    return [r[name] for r in df.orderBy("t").collect()]


class TestRolling:
    def test_sum_window2(self, ts):
        got = col(wt(ts, "w").rolling(2, order_by=["t"]).sum())
        # w·x: 1, 4, 3, NULL, 10 ; 2-row sums with min_periods=2
        assert got == [None, approx(5.0), approx(7.0), None, None]

    def test_sum_min_periods1(self, ts):
        got = col(wt(ts, "w").rolling(2, order_by=["t"], min_periods=1).sum())
        assert got == [approx(1.0), approx(5.0), approx(7.0), approx(3.0), approx(10.0)]

    def test_count(self, ts):
        got = col(wt(ts, "w").rolling(2, order_by=["t"], min_periods=1).count())
        # count = Σ w over rows with valid x: [1, 3, 3, 1, 2]
        assert got == [approx(1.0), approx(3.0), approx(3.0), approx(1.0), approx(2.0)]

    def test_mean(self, ts):
        got = col(wt(ts, "w").rolling(2, order_by=["t"], min_periods=1).mean())
        assert got == [
            approx(1.0),
            approx(5.0 / 3.0),
            approx(7.0 / 3.0),
            approx(3.0),
            approx(5.0),
        ]

    def test_var_std(self, ts):
        got = col(wt(ts, "w").rolling(2, order_by=["t"]).var())
        # bucket t=2: s=5, ss=1+8=9, c=3 → (9-25/3)/2 = 1/3
        # bucket t=3: s=7, ss=8+9=17, c=3 → (17-49/3)/2 = 1/3
        assert got[0] is None
        assert got[1] == approx(1.0 / 3.0)
        assert got[2] == approx(1.0 / 3.0)
        assert got[3] is None and got[4] is None
        std = col(wt(ts, "w").rolling(2, order_by=["t"]).std())
        assert std[1] == approx(math.sqrt(1.0 / 3.0))

    def test_var_single_valid_row_null(self, ts):
        # min_periods=1, window over (x=3, x=NULL): c=1 → c-ddof=0 → NULL
        got = col(wt(ts, "w").rolling(2, order_by=["t"], min_periods=1).var())
        assert got[3] is None

    def test_partitioned(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 1.0, 1.0), ("a", 2, 2.0, 1.0), ("b", 1, 10.0, 2.0)],
            "g string, t int, x double, w double",
        )
        out = (
            wt(df, "w")
            .rolling(2, order_by=["t"], partition_by=["g"], min_periods=1)
            .sum()
            .orderBy("g", "t")
            .collect()
        )
        assert [r["x"] for r in out] == [approx(1.0), approx(3.0), approx(20.0)]
        assert out[0]["g"] == "a" and out[2]["g"] == "b"

    @pytest.mark.parametrize("form", ["str", "column"])
    def test_bare_order_and_partition_refs(self, spark, form):
        # a single name/Column is a one-element list, not a character
        # sequence ("ts" once split into t, s -> UNRESOLVED_COLUMN)
        df = spark.createDataFrame(
            [("a", 1, 1.0, 1.0), ("a", 2, 2.0, 3.0), ("a", 3, 4.0, 1.0),
             ("b", 1, 10.0, 2.0), ("b", 2, 7.0, 1.0)],
            "key string, ts int, x double, w double",
        )
        ref = {"str": lambda c: c, "column": F.col}[form]
        wdf = wt(df, "w")

        def values(stats):
            # a Column ref is not carried into the output: compare the
            # value multisets
            return sorted(r["x"] for r in stats.mean().collect())

        assert values(
            wdf.rolling(
                2, order_by=ref("ts"), partition_by=ref("key"), min_periods=1
            )
        ) == values(
            wdf.rolling(2, order_by=["ts"], partition_by=["key"], min_periods=1)
        )
        assert values(
            wdf.expanding(order_by=ref("ts"), partition_by=ref("key"))
        ) == values(wdf.expanding(order_by=["ts"], partition_by=["key"]))

    def test_window_validation(self, ts):
        with pytest.raises(ValueError):
            wt(ts, "w").rolling(0, order_by=["t"])
        with pytest.raises(ValueError):
            wt(ts, "w").rolling(2, order_by=[])


class TestExpanding:
    def test_sum(self, ts):
        got = col(wt(ts, "w").expanding(order_by=["t"]).sum())
        assert got == [
            approx(1.0),
            approx(5.0),
            approx(8.0),
            approx(8.0),
            approx(18.0),
        ]

    def test_mean(self, ts):
        got = col(wt(ts, "w").expanding(order_by=["t"]).mean())
        # cnt: 1, 3, 4, 4, 6
        assert got == [
            approx(1.0),
            approx(5.0 / 3.0),
            approx(2.0),
            approx(2.0),
            approx(3.0),
        ]

    def test_var_matches_global_at_end(self, ts):
        # the last expanding var equals the whole-table weighted var
        exp = col(wt(ts, "w").expanding(order_by=["t"]).var())
        glob = wt(ts, "w").var(subset=["x"]).collect()[0]["x"]
        assert exp[-1] == approx(glob)

    def test_min_periods(self, ts):
        got = col(wt(ts, "w").expanding(order_by=["t"], min_periods=3).sum())
        assert got[:2] == [None, None]
        assert got[2] == approx(8.0)
        # t=4 frame still has only 3 valid observations (NULL x skipped)
        assert got[3] == approx(8.0)


def test_agg_all_one_window_exec(spark):
    import pandas_weights_spark.plans as P
    from pandas_weights_spark import wt

    df = spark.createDataFrame(
        [(1, i, float(i % 7), 1.0 + i % 3) for i in range(40)],
        "g int, i int, v double, w double",
    )
    wdf = wt(df, "w")
    roll = wdf.rolling(3, order_by=["i"], partition_by=["g"])
    out = roll.agg_all(["count", "sum", "mean", "var", "std"])
    plan = P.physical_plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan
    rows = {r["i"]: r for r in out.collect()}
    single = {r["i"]: r for r in roll.mean().collect()}
    for i, r in rows.items():
        assert r["v_mean"] == single[i]["v"], i  # identical expressions


class TestPairwise:
    """Rolling/expanding weighted corr & cov (pair_col / corr / cov)."""

    def _pdf(self, seed=0, n=120, n_keys=3, nan_frac=0.12):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(seed)
        x = rng.normal(size=n)
        y = 0.6 * x + rng.normal(scale=0.5, size=n)
        x[rng.random(n) < nan_frac] = np.nan
        y[rng.random(n) < nan_frac] = np.nan
        return pd.DataFrame(
            {
                "g": rng.integers(0, n_keys, n),
                "i": np.arange(n),
                "x": x,
                "y": y,
                "w": np.ones(n),
            }
        )

    def _pandas_pair(self, pdf, stat, window, min_periods):
        # pandas rolling corr/cov with a pairwise-complete mask: blank
        # half-valid rows in BOTH columns first (pandas' own rolling
        # corr keeps x-valid rows in x's moments even when y is NaN;
        # our kernel uses the aligned mask of the reference,
        # _stats.py:36-73)
        import numpy as np
        import pandas as pd

        parts = []
        for g, grp in pdf.sort_values("i").groupby("g"):
            m = grp["x"].notna() & grp["y"].notna()
            x = grp["x"].where(m)
            y = grp["y"].where(m)
            if window is None:
                r = x.expanding(min_periods=min_periods)
            else:
                r = x.rolling(window, min_periods=min_periods)
            s = r.corr(y) if stat == "corr" else r.cov(y)
            parts.append(pd.DataFrame({"g": g, "i": grp["i"], "v": s}))
        out = pd.concat(parts).sort_values(["g", "i"]).reset_index(drop=True)
        return out["v"].to_numpy()

    @pytest.mark.parametrize("stat", ["corr", "cov"])
    @pytest.mark.parametrize("window,min_periods", [(5, 3), (None, 2)])
    def test_differential_vs_pandas(self, spark, stat, window, min_periods):
        import numpy as np

        pdf = self._pdf(seed=9)
        sdf = spark.createDataFrame(pdf)
        w = wt(sdf, "w")
        r = (
            w.rolling(window, order_by=["i"], partition_by=["g"],
                      min_periods=min_periods)
            if window is not None
            else w.expanding(order_by=["i"], partition_by=["g"],
                             min_periods=min_periods)
        )
        out = getattr(r, stat)("x", "y").toPandas()
        got = (
            out.sort_values(["g", "i"]).reset_index(drop=True)[f"x_y_{stat}"]
            .to_numpy()
        )
        exp = self._pandas_pair(pdf, stat, window, min_periods)
        np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12,
                                   equal_nan=True)

    def test_weighted_handrolled(self, spark):
        # per-row weights vs a direct weighted-moment computation
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(5)
        n, W = 40, 3
        x = rng.normal(size=n)
        y = rng.normal(size=n)
        wv = rng.uniform(0.5, 2.5, size=n)
        pdf = pd.DataFrame({"i": np.arange(n), "x": x, "y": y, "w": wv})
        out = (
            wt(spark.createDataFrame(pdf), "w")
            .rolling(W, order_by=["i"], min_periods=W)
            .cov("x", "y")
            .toPandas()
            .sort_values("i")["x_y_cov"]
            .to_numpy()
        )
        exp = np.full(n, np.nan)
        for i in range(W - 1, n):
            s = slice(i - W + 1, i + 1)
            sw = wv[s].sum()
            cov = (
                (wv[s] * x[s] * y[s]).sum()
                - (wv[s] * x[s]).sum() * (wv[s] * y[s]).sum() / sw
            ) / (sw - 1.0)
            exp[i] = cov
        np.testing.assert_allclose(out, exp, rtol=1e-9, equal_nan=True)

    def test_single_window_exec_when_stacked(self, spark, ts):
        # corr + cov + a plain rolling mean in one select = ONE Window node
        w = wt(ts.withColumn("y", F.col("x") * 2 + 1), "w")
        r = w.rolling(2, order_by=["t"], min_periods=1)
        df = w.df.select(
            "t",
            r.pair_col("corr", "x", "y").alias("c"),
            r.pair_col("cov", "x", "y").alias("v"),
            r.col("mean", "x").alias("m"),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window") <= 1 or plan.count("WindowExec") <= 1
        rows = df.orderBy("t").collect()
        # perfectly linear y=2x+1 -> corr 1 wherever defined
        assert rows[1]["c"] == approx(1.0)

    def test_pair_col_rejects_unknown(self, ts):
        with pytest.raises(ValueError):
            wt(ts, "w").rolling(2, order_by=["t"]).pair_col("kurt", "x", "x")


class TestRollingHigherMoments:
    def test_skew_kurt_vs_handrolled(self, spark):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(12)
        n, W = 60, 7
        x = rng.normal(size=n) ** 3  # skewed data
        wv = rng.uniform(0.5, 2.5, size=n)
        pdf = pd.DataFrame({"i": np.arange(n), "x": x, "w": wv})
        wdf = wt(spark.createDataFrame(pdf), "w")
        got_s = (
            wdf.rolling(W, order_by=["i"], min_periods=W).skew()
            .toPandas().sort_values("i")["x"].to_numpy()
        )
        got_k = (
            wdf.rolling(W, order_by=["i"], min_periods=W).kurt()
            .toPandas().sort_values("i")["x"].to_numpy()
        )
        exp_s = np.full(n, np.nan)
        exp_k = np.full(n, np.nan)
        for i in range(W - 1, n):
            s = slice(i - W + 1, i + 1)
            ww, xx = wv[s], x[s]
            Wt = ww.sum()
            mu = (ww * xx).sum() / Wt
            m2 = (ww * xx * xx).sum() / Wt - mu * mu
            m3 = (ww * xx**3).sum() / Wt - 3 * mu * ((ww * xx * xx).sum() / Wt) + 2 * mu**3
            m4 = (
                (ww * xx**4).sum() / Wt
                - 4 * mu * ((ww * xx**3).sum() / Wt)
                + 6 * mu * mu * ((ww * xx * xx).sum() / Wt)
                - 3 * mu**4
            )
            if m2 > 0:
                exp_s[i] = m3 / m2**1.5
                exp_k[i] = m4 / (m2 * m2) - 3.0
        np.testing.assert_allclose(got_s, exp_s, rtol=1e-9, equal_nan=True)
        np.testing.assert_allclose(got_k, exp_k, rtol=1e-9, equal_nan=True)

    def test_agg_all_includes_higher_moments(self, spark, ts):
        out = (
            wt(ts, "w")
            .rolling(2, order_by=["t"], min_periods=1)
            .agg_all(["mean", "skew", "kurt"])
        )
        assert {"x_mean", "x_skew", "x_kurt"} <= set(out.columns)
        # constant window (single valid value) -> m2 = 0 -> NULL
        rows = out.orderBy("t").collect()
        assert rows[0]["x_skew"] is None


class TestRollingQuantile:
    def test_matches_manual_weighted_median(self, spark):
        from pandas_weights_spark import wt

        rows = [
            (1, 1.0, 1.0), (2, 9.0, 3.0), (3, 5.0, 1.0),
            (4, 2.0, 2.0), (5, 7.0, 1.0),
        ]
        df = spark.createDataFrame(rows, "i int, x double, w double")
        out = {
            r["i"]: r["x"]
            for r in wt(df, "w")
            .rolling(3, order_by=["i"], min_periods=1)
            .median()
            .collect()
        }

        def med(sub):
            pairs = sorted((x, w) for _, x, w in sub)
            tot = sum(w for _, w in pairs)
            cum = 0.0
            for x, w in pairs:
                cum += w
                if cum >= 0.5 * tot:
                    return x

        assert out[1] == med(rows[:1])
        assert out[2] == med(rows[:2])      # mass-weighted: 9 wins
        assert out[3] == med(rows[:3])
        assert out[4] == med(rows[1:4])
        assert out[5] == med(rows[2:5])

    def test_quantile_excludes_nonpositive_and_null(self, spark):
        from pandas_weights_spark import wt

        rows = [
            (1, 100.0, 0.0), (2, None, 5.0), (3, 1.0, 1.0), (4, 3.0, 1.0),
        ]
        df = spark.createDataFrame(rows, "i int, x double, w double")
        out = {
            r["i"]: r["x"]
            for r in wt(df, "w")
            .rolling(4, order_by=["i"], min_periods=1)
            .quantile(1.0)
            .collect()
        }
        # zero-weight 100.0 and NULL x carry no mass
        assert out[4] == 3.0

    def test_min_periods_gates(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [(1, 1.0, 1.0), (2, 2.0, 1.0), (3, 3.0, 1.0)],
            "i int, x double, w double",
        )
        out = {
            r["i"]: r["x"]
            for r in wt(df, "w")
            .rolling(3, order_by=["i"], min_periods=3)
            .median()
            .collect()
        }
        assert out[1] is None and out[2] is None
        assert out[3] == 2.0

    def test_pure_jvm(self, spark):
        import pandas_weights_spark.plans as P
        from pandas_weights_spark import wt

        df = spark.createDataFrame(
            [(1, 1, 1.0, 1.0)], "g int, i int, x double, w double"
        )
        out = (
            wt(df, "w")
            .rolling(3, order_by=["i"], partition_by=["g"], min_periods=1)
            .median()
        )
        assert not P.has_python_eval(out)

    def test_bad_q_raises(self, spark):
        from pandas_weights_spark import wt

        df = spark.createDataFrame([(1, 1.0, 1.0)], "i int, x double, w double")
        with pytest.raises(ValueError, match="quantile"):
            wt(df, "w").rolling(2, order_by=["i"]).quantile(0.0)
