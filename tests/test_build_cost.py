"""Plan-build cost guard.

The weighted-statistic layers build their plans as SQL text and hand
each output column to the JVM as one parsed expression, so a layer call
costs a bounded number of py4j round trips (building the same trees from
Column operators took 1.6k-3.7k). Resampling with a rule whose bucket
grid does not depend on the first timestamp runs no Spark job at build;
rules whose grid does still anchor, and their buckets still match
pandas.
"""

import datetime as dt
import itertools

import numpy as np
import pandas as pd
import pytest
from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection

from pandas_weights_spark import wt
from pandas_weights_spark.streaming import weighted_resample_stream

MAX_COMMANDS = 250

_groups = itertools.count()


def _py4j_commands(monkeypatch, build):
    """py4j commands sent while ``build()`` runs (after one warm-up)."""
    build()
    sent = [0]
    for cls in (ClientServerConnection, GatewayConnection):
        orig = cls.send_command

        def counting(self, command, _orig=orig):
            sent[0] += 1
            return _orig(self, command)

        monkeypatch.setattr(cls, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.undo()
    return sent[0]


def _jobs(spark, build):
    """Spark jobs started while ``build()`` runs."""
    sc = spark.sparkContext
    group = f"build-cost-{next(_groups)}"
    sc.setJobGroup(group, "plan build")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(3)
    n = 200
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n),
            "a": rng.normal(size=n),
            "b": rng.normal(size=n),
            "w": rng.uniform(0.1, 2.0, n),
            "ts": [
                dt.datetime(2023, 2, 14, 9, 0) + dt.timedelta(minutes=int(m))
                for m in rng.integers(0, 60 * 24 * 400, n)
            ],
        }
    )
    return pdf, spark.createDataFrame(pdf)


@pytest.mark.parametrize(
    "layer",
    ["agg_all", "corr_cov", "frame_var", "resample_agg_all"],
)
def test_layer_call_py4j_commands(frame, monkeypatch, layer):
    _, df = frame
    build = {
        "agg_all": lambda: wt(df, "w")
        .groupby("k")[["a", "b"]]
        .agg_all(["count", "sum", "mean", "var", "std"]),
        "corr_cov": lambda: wt(df, "w").corr_cov(subset=["a", "b"]),
        "frame_var": lambda: wt(df, "w").var(subset=["a", "b"]),
        "resample_agg_all": lambda: wt(df, "w")[["a", "b"]]
        .resample("12H", on="ts")
        .agg_all(["count", "sum", "mean"]),
    }[layer]
    sent = _py4j_commands(monkeypatch, build)
    assert 0 < sent <= MAX_COMMANDS


def test_resample_stream_py4j_commands(spark, frame, monkeypatch, tmp_path):
    _, df = frame
    df.write.parquet(str(tmp_path / "events"))
    stream = spark.readStream.schema(df.schema).parquet(str(tmp_path / "events"))
    sent = _py4j_commands(
        monkeypatch,
        lambda: weighted_resample_stream(
            stream, weights="w", on="ts", rule="6H", value_cols=["a", "b"]
        ),
    )
    assert 0 < sent <= MAX_COMMANDS


@pytest.mark.parametrize("rule", ["12H", "1D", "MS", "QE"])
def test_anchor_free_rules_run_no_job(spark, frame, rule):
    _, df = frame
    out, jobs = _jobs(
        spark, lambda: wt(df, "w")[["a"]].resample(rule, on="ts").sum()
    )
    assert jobs == []
    assert out.count() > 0


@pytest.mark.parametrize("rule", ["3ME", "5h"])
def test_anchored_rules_still_anchor(spark, frame, rule):
    pdf, df = frame
    out, jobs = _jobs(
        spark, lambda: wt(df, "w")[["a"]].resample(rule, on="ts").sum()
    )
    assert len(jobs) >= 1
    got = {r["ts"]: r["a"] for r in out.collect()}
    wx = (pdf["w"] * pdf["a"]).rename("wx")
    grouped = pd.concat([pdf["ts"], wx], axis=1).set_index("ts").resample(rule)
    want = grouped["wx"].sum()[grouped["wx"].count() > 0]
    assert sorted(got) == [t.to_pydatetime() for t in want.index]
    for t, v in want.items():
        assert got[t.to_pydatetime()] == pytest.approx(v, rel=1e-9)
