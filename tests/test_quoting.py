"""Column names that are not plain identifiers — a dot (``F.col`` would
read it as struct access), a space, a backtick and non-ASCII letters —
flow through the weighted layers unchanged: every kernel references its
column as a backtick-quoted identifier. Values are checked against
numpy."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pandas_weights_spark import wt

NAMES = ["a.b", "has space", "back`tick", "ünï"]


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(11)
    n = 80
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, n),
            "cat": rng.choice(["p", "q"], n),
            "ts": [
                dt.datetime(2024, 1, 1) + dt.timedelta(hours=int(h))
                for h in rng.integers(0, 96, n)
            ],
            "w": rng.uniform(0.5, 2.0, n),
        }
    )
    for i, name in enumerate(NAMES):
        pdf[name] = rng.normal(i, 1.0 + i, n)
    return pdf, spark.createDataFrame(pdf)


def _mean(x, w):
    return np.sum(w * x) / np.sum(w)


def _cov(x, y, w):
    W = np.sum(w)
    return (np.sum(w * x * y) - np.sum(w * x) * np.sum(w * y) / W) / (W - 1)


def test_frame_mean_var(data):
    pdf, df = data
    mean = wt(df, "w").mean(subset=NAMES).collect()[0]
    var = wt(df, "w").var(subset=NAMES).collect()[0]
    w = pdf["w"].to_numpy()
    for name in NAMES:
        x = pdf[name].to_numpy()
        assert mean[name] == pytest.approx(_mean(x, w), rel=1e-9)
        assert var[name] == pytest.approx(_cov(x, x, w), rel=1e-9)


def test_groupby_agg_all(data):
    pdf, df = data
    out = {
        r["k"]: r
        for r in wt(df, "w")
        .groupby("k")[NAMES]
        .agg_all(["count", "sum", "mean", "var", "std"])
        .collect()
    }
    for k, g in pdf.groupby("k"):
        w = g["w"].to_numpy()
        for name in NAMES:
            x = g[name].to_numpy()
            r = out[k]
            assert r[f"{name}_count"] == pytest.approx(w.sum(), rel=1e-9)
            assert r[f"{name}_sum"] == pytest.approx(np.sum(w * x), rel=1e-9)
            assert r[f"{name}_mean"] == pytest.approx(_mean(x, w), rel=1e-9)
            assert r[f"{name}_var"] == pytest.approx(_cov(x, x, w), rel=1e-9)
            assert r[f"{name}_std"] == pytest.approx(
                np.sqrt(_cov(x, x, w)), rel=1e-9
            )


def test_corr_cov(data):
    pdf, df = data
    rows = wt(df, "w").corr_cov(subset=NAMES).collect()
    assert len(rows) == len(NAMES) ** 2
    w = pdf["w"].to_numpy()
    for r in rows:
        x = pdf[r["col_x"]].to_numpy()
        y = pdf[r["col_y"]].to_numpy()
        cov = _cov(x, y, w)
        corr = cov / np.sqrt(_cov(x, x, w) * _cov(y, y, w))
        assert r["cov"] == pytest.approx(cov, rel=1e-9)
        assert r["corr"] == pytest.approx(corr, rel=1e-9)


def test_resample(data):
    pdf, df = data
    out = {
        r["ts"]: r
        for r in wt(df, "w")[NAMES].resample("1D", on="ts").sum().collect()
    }
    day = pdf["ts"].dt.floor("D")
    assert sorted(out) == sorted(d.to_pydatetime() for d in day.unique())
    for d, g in pdf.groupby(day):
        w = g["w"].to_numpy()
        for name in NAMES:
            got = out[d.to_pydatetime()][name]
            assert got == pytest.approx(np.sum(w * g[name].to_numpy()), rel=1e-9)


def test_pivot(data):
    pdf, df = data
    out = {
        r["k"]: r
        for r in wt(df, "w")
        .groupby("k")
        .pivot("cat", values=NAMES, stats=("mean",))
        .collect()
    }
    for (k, cat), g in pdf.groupby(["k", "cat"]):
        w = g["w"].to_numpy()
        for name in NAMES:
            assert out[k][f"{name}_{cat}"] == pytest.approx(
                _mean(g[name].to_numpy(), w), rel=1e-9
            )
