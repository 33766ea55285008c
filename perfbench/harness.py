"""Session set-up, op execution and output checking.

All Spark and environment settings that affect a measurement are fixed
here, in :func:`spark_conf` and :func:`pinned_env`, and recorded in every
result by :func:`environment`.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time
from typing import Callable

import numpy as np
import pandas as pd

CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 2 * CORES


def spark_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.master": f"local[{CORES}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.default.parallelism": str(CORES),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData",
    }


def pinned_env(root: str, run_dir: str) -> dict[str, str]:
    """Environment for this process, the JVM it launches and the Python
    workers."""
    path = os.environ.get("PYTHONPATH", "")
    return {
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": run_dir,
        "TZ": "UTC",
    }


def environment(spark, root: str, seed: int) -> dict:
    commit = None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        commit = out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    src = hashlib.sha256()
    pkg = os.path.join(root, "pandas_weights_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    src.update(f.read())
    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "git_commit": commit,
        "source_sha256": src.hexdigest()[:16],
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "nproc": os.cpu_count(),
        "cores": CORES,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
    }


def start_session(run_dir: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for k, v in spark_conf(run_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Ctx:
    """What ops see: the session, the registered inputs, the models that
    come with them, a DuckDB connection over the same files, and per-op
    output paths."""

    def __init__(self, spark, inputs, duck, run_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.duck = duck
        self.run_dir = run_dir
        self._dfs: dict = {}
        self._memo: dict = {}
        self.streams = 0
        self.stream_groups: list[str] = []

    def register(self) -> None:
        for name, path in self.inputs.tables.items():
            if name != "events_stream":
                self._dfs[name] = self.spark.read.parquet(path)

    def df(self, name: str):
        return self._dfs[name]

    def model(self, name: str):
        return self.inputs.facts[name]

    def path(self, op_name: str) -> str:
        return os.path.join(self.run_dir, "out", op_name)

    def sql(self, query: str) -> pd.DataFrame:
        return self.duck.execute(query).df()

    def memo(self, key, fn: Callable):
        """``fn()``, computed once per key (oracle results, loaded inputs)."""
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]


def duck_connection(inputs):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for name, path in inputs.tables.items():
        if name == "events_stream":
            continue
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def resolve_keys(op) -> list[str]:
    keys = []
    for k in op.keys:
        v = op.params.get(k, k)
        keys.extend(v if isinstance(v, tuple) else [v])
    return keys


def materialise(ctx, op, df, checked: bool):
    """Run the op's result to its sink: the ``noop`` writer (or the op's
    own write) when timed; with ``checked`` the rows are collected over
    Arrow instead and returned as pandas."""
    if op.sink == "none":
        return None
    if op.sink == "stream":
        ctx.streams += 1
        name = f"perfbench_stream_{ctx.streams}"
        writer = (df.writeStream.outputMode("complete").trigger(availableNow=True)
                  .option("checkpointLocation",
                          os.path.join(ctx.run_dir, "checkpoints", name)))
        writer = (writer.format("memory").queryName(name) if checked
                  else writer.format("noop"))
        q = writer.start()
        # stream batches run under the query's own job group
        ctx.stream_groups.append(str(q.runId))
        try:
            q.awaitTermination()
        finally:
            q.stop()
        if not checked:
            return None
        out = ctx.spark.table(name).toArrow().to_pandas()
        ctx.spark.catalog.dropTempView(name)
        return out
    if op.sink == "parquet":
        df.write.mode("overwrite").parquet(ctx.path(op.name))
        return pd.read_parquet(ctx.path(op.name)) if checked else None
    if checked:
        return df.toArrow().to_pandas()
    df.write.mode("overwrite").format("noop").save()
    return None


def _normalise(col: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        return col.astype("datetime64[us]").astype("int64")
    return col


def compare(actual: pd.DataFrame, expected: pd.DataFrame, keys, rtol) -> str | None:
    """None when ``actual`` holds the rows of ``expected`` (extra actual
    columns are ignored), else a one-line description of the first
    difference. Floats compare with a relative tolerance: both engines
    sum in different orders."""
    missing = [c for c in expected.columns if c not in actual.columns]
    if missing:
        return f"missing columns {missing} (have {list(actual.columns)})"
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    a = actual[list(expected.columns)].apply(_normalise)
    e = expected.apply(_normalise)
    order = list(keys) or list(e.columns)
    a = a.sort_values(order, na_position="last", kind="mergesort").reset_index(drop=True)
    e = e.sort_values(order, na_position="last", kind="mergesort").reset_index(drop=True)
    for c in e.columns:
        x, y = a[c], e[c]
        if pd.api.types.is_float_dtype(y) or pd.api.types.is_float_dtype(x):
            xv = pd.to_numeric(x, errors="coerce").to_numpy(dtype=np.float64)
            yv = pd.to_numeric(y, errors="coerce").to_numpy(dtype=np.float64)
            ok = np.isclose(xv, yv, rtol=rtol, atol=1e-9, equal_nan=True)
        else:
            ok = (x.astype(str).to_numpy() == y.astype(str).to_numpy())
        if not ok.all():
            i = int(np.argmin(ok))
            return (f"column {c} row {i}: got {x.iloc[i]!r}, expected {y.iloc[i]!r}"
                    f" ({int((~ok).sum())} rows differ)")
    return None


def check(ctx, op, actual) -> str | None:
    if op.check is not None:
        return op.check(ctx, op.params, actual)
    expected = ctx.memo(("expected", op.signature()),
                        lambda: op.expected(ctx, op.params))
    return compare(actual, expected, resolve_keys(op), op.rtol)


def run_op(ctx, op, checked: bool):
    """Layer call then materialisation. Returns (build_s, exec_s, rows)."""
    t0 = time.perf_counter()
    df = op.build(ctx, op.params)
    t1 = time.perf_counter()
    rows = materialise(ctx, op, df, checked)
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, rows

