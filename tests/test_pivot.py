"""Weighted pivot table (pivot.py) vs pandas pivot_table + plan pins."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_weights_spark import wt


def _pdf(seed=43, n=200):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "g": rng.integers(0, 3, n),
            "cat": rng.choice(["a", "b", "c"], n),
            "x": rng.normal(10, 2, n),
            "w": rng.integers(1, 5, n).astype(float),
        }
    )


class TestVsPandas:
    def test_weighted_mean_cells(self, spark):
        pdf = _pdf()
        out = {
            r["g"]: r
            for r in wt(spark.createDataFrame(pdf), "w")
            .groupby("g")
            .pivot("cat", values=["x"])
            .collect()
        }
        for (g, cat), grp in pdf.groupby(["g", "cat"]):
            exp = (grp["w"] * grp["x"]).sum() / grp["w"].sum()
            assert out[g][f"x_{cat}"] == pytest.approx(exp, rel=1e-12)

    def test_unit_weights_match_pandas_pivot_table(self, spark):
        pdf = _pdf(seed=47)
        pdf["w"] = 1.0
        got = {
            r["g"]: r
            for r in wt(spark.createDataFrame(pdf), "w")
            .groupby("g")
            .pivot("cat", values=["x"], stats=("mean", "sum"))
            .collect()
        }
        exp = pd.pivot_table(
            pdf, index="g", columns="cat", values="x",
            aggfunc=["mean", "sum"],
        )
        for g in exp.index:
            for cat in ("a", "b", "c"):
                assert got[g][f"x_{cat}_mean"] == pytest.approx(
                    exp.loc[g, ("mean", cat)], rel=1e-12
                )
                assert got[g][f"x_{cat}_sum"] == pytest.approx(
                    exp.loc[g, ("sum", cat)], rel=1e-12
                )

    def test_explicit_domain_and_null_value(self, spark):
        df = spark.createDataFrame(
            [("g1", "a", 1.0, 2.0), ("g1", None, 5.0, 1.0),
             ("g1", "zz", 9.0, 1.0)],
            "g string, cat string, x double, w double",
        )
        row = (
            wt(df, "w")
            .groupby("g")
            .pivot("cat", values=["x"], column_values=["a", None])
            .collect()[0]
        )
        # NULL is an ordinary pivot value; 'zz' outside the domain is dropped
        assert row["x_a"] == 1.0
        assert row["x_NULL"] == 5.0
        assert "x_zz" not in row.asDict()

    def test_empty_cell_is_null_and_guards(self, spark):
        df = spark.createDataFrame(
            [("g1", "a", 1.0, 1.0)], "g string, cat string, x double, w double"
        )
        wdf = wt(df, "w")
        row = (
            wdf.groupby("g")
            .pivot("cat", values=["x"], column_values=["a", "b"])
            .collect()[0]
        )
        assert row["x_b"] is None
        with pytest.raises(ValueError, match="stats must be"):
            wdf.groupby("g").pivot("cat", values=["x"], stats=("nope",))
        with pytest.raises(KeyError):
            wdf.groupby("g").pivot("missing", values=["x"])

    def test_slug_collision_raises(self, spark):
        # "a b" and "a_b" both slug to x_a_b: refuse up front instead of
        # emitting two same-named columns (AMBIGUOUS_REFERENCE later)
        df = spark.createDataFrame(
            [("g1", "a b", 1.0, 1.0), ("g1", "a_b", 2.0, 1.0)],
            "g string, cat string, x double, w double",
        )
        wdf = wt(df, "w")
        with pytest.raises(ValueError, match="pivot cell name collision"):
            wdf.groupby("g").pivot(
                "cat", values=["x"], column_values=["a b", "a_b"]
            )
        with pytest.raises(ValueError, match=r"\['x_a_b'\]"):
            wdf.groupby("g").pivot("cat", values=["x"])

    def test_cell_shadowing_index_raises(self, spark):
        df = spark.createDataFrame(
            [("g1", "1", 1.0, 1.0)], "x_1 string, cat string, x double, w double"
        )
        with pytest.raises(ValueError, match="collision"):
            wt(df, "w").groupby("x_1").pivot(
                "cat", values=["x"], column_values=["1"]
            )

    def test_plan_single_aggregate(self, spark):
        import pandas_weights_spark.plans as P

        df = spark.createDataFrame(
            [(1, "a", 1.0, 1.0)], "g int, cat string, x double, w double"
        )
        out = (
            wt(df, "w")
            .groupby("g")
            .pivot("cat", values=["x"], stats=("mean", "sum", "var"),
                   column_values=["a", "b", "c"])
        )
        plan = P.physical_plan(out)
        # 9 cells, still one exchange + map-side partials, no Expand/pivot
        assert P.count_exchanges(out) == 1, plan
        assert "partial_" in plan
        assert "Window" not in plan
        assert not P.has_python_eval(out)
