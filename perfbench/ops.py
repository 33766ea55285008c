"""The workloads' operations, each with its output check.

An :class:`Op` is one call into one layer (module) of
``pandas_weights_spark``. ``build`` performs the layer call and returns
the lazy result; the harness times that call, then times materialising
the result. ``expected`` computes the correct output independently —
DuckDB SQL over the same parquet files, or plain Python/numpy where SQL
cannot express the algorithm — and ``keys`` names the columns that
identify an output row. Ops whose result is a set with a tolerance
(near-duplicate recall, cell-restricted search) supply ``check`` instead.

``plan(workload, seed)`` draws each op's parameters from fixed menus with
the seed (and, for ``dashboard``, permutes the order), so the same seed
always yields the same op list.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np
import pandas as pd

LAYERS = (
    "sources", "frame", "groupby", "resample", "corr", "pivot", "quantile",
    "rolling", "ewm", "sample", "streaming", "functions.text",
    "functions.quality", "functions.dedup", "functions.decontam",
    "functions.similarity",
)


@dataclass
class Op:
    name: str
    layer: str
    params: dict
    reads: tuple  # input tables the op scans (rows come from the inputs)
    build: Callable  # (ctx, params) -> DataFrame
    keys: tuple = ()
    expected: Optional[Callable] = None  # (ctx, params) -> pandas.DataFrame
    check: Optional[Callable] = None  # (ctx, params, actual) -> problem | None
    sink: str = "noop"  # "noop" | "stream" | "parquet" (writes are the work)
    rtol: float = 1e-7

    def signature(self) -> tuple:
        return (self.name, self.layer, tuple(sorted(self.params.items())))


# ---------------------------------------------------------------------------
# SQL helpers mirroring the library's weighted-statistic semantics: a row
# counts for column x when x is non-NULL; var uses frequency weights with
# ddof subtracted from the weighted count.


def _wstat(x: str, w: str, stat: str) -> str:
    c = f"COALESCE(SUM(CASE WHEN {x} IS NOT NULL THEN {w} END), 0.0)"
    s = f"SUM({x} * {w})"
    ss = f"SUM({x} * {x} * {w})"
    var = f"(({ss} - {s} * {s} / {c}) / NULLIF({c} - 1.0, 0.0))"
    return {
        "count": c,
        "sum": f"COALESCE({s}, 0.0)",
        "mean": f"({s} / NULLIF({c}, 0.0))",
        "var": var,
        "std": f"CASE WHEN {var} >= 0 THEN sqrt({var}) END",
    }[stat]


def _stats_sql(cols, w, stats) -> str:
    return ", ".join(
        f"{_wstat(c, w, s)} AS {c}_{s}" for c in cols for s in stats
    )


def _inv_cdf_sql(table: str, x: str, w: str, keys, qs) -> str:
    """Inverted-CDF weighted quantiles: the smallest x whose cumulative
    mass (RANGE frame, ties together) reaches q of the group's mass."""
    part = f"PARTITION BY {', '.join(keys)}" if keys else ""
    ksel = "".join(f"{k}, " for k in keys)
    grp = f"GROUP BY {', '.join(keys)}" if keys else ""
    outs = ", ".join(
        f"MIN(CASE WHEN m > 0 AND cw >= {q!r} * tw THEN x END) AS {x}_p{_pct(q)}"
        for q in qs
    )
    return f"""
        WITH b AS (
          SELECT {ksel}{x} AS x,
                 CASE WHEN {x} IS NOT NULL AND {w} > 0 THEN {w} ELSE 0 END AS m
          FROM {table}
        ), c AS (
          SELECT {ksel}x, m,
                 SUM(m) OVER ({part} ORDER BY x
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 SUM(m) OVER ({part}) AS tw
          FROM b
        )
        SELECT {ksel}{outs} FROM c {grp}
    """


def _pct(q: float) -> str:
    p = q * 100.0
    return str(int(p)) if float(int(p)) == p else str(p).replace(".", "_")


# ---------------------------------------------------------------------------
# dashboard: short weighted queries on fixed tables

_W = "l_quantity"
_DASH_COLS = ("l_extendedprice", "l_discount", "l_tax")


def _wli(ctx):
    from pandas_weights_spark import wt

    return wt(ctx.df("lineitem"), _W)


def _d_grp(ctx, p):
    return _wli(ctx).groupby(p["key"])[list(p["cols"])].agg_all(list(p["stats"]))


def _d_grp_expected(ctx, p):
    return ctx.sql(
        f"SELECT {p['key']}, {_stats_sql(p['cols'], _W, p['stats'])} "
        f"FROM lineitem GROUP BY {p['key']}"
    )


def _d_moments(ctx, p):
    return getattr(_wli(ctx), p["stat"])(subset=list(p["cols"]))


def _d_moments_expected(ctx, p):
    return ctx.sql(
        "SELECT " + ", ".join(f"{_wstat(c, _W, p['stat'])} AS {c}" for c in p["cols"])
        + " FROM lineitem"
    )


def _pair_sql(x, y, w, keys=()):
    m = f"CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN {w} END"
    sw, sx, sy = f"SUM({m})", f"SUM({m} * {x})", f"SUM({m} * {y})"
    sxy, sxx, syy = (f"SUM({m} * {x} * {y})", f"SUM({m} * {x} * {x})",
                     f"SUM({m} * {y} * {y})")
    cov = f"(({sxy} - {sx} * {sy} / {sw}) / NULLIF({sw} - 1.0, 0.0))"
    vx = f"(({sxx} - {sx} * {sx} / {sw}) / NULLIF({sw} - 1.0, 0.0))"
    vy = f"(({syy} - {sy} * {sy} / {sw}) / NULLIF({sw} - 1.0, 0.0))"
    ksel = "".join(f"{k}, " for k in keys)
    grp = f" GROUP BY {', '.join(keys)}" if keys else ""
    return (f"SELECT {ksel}'{x}' AS col_x, '{y}' AS col_y, "
            f"{cov} / sqrt({vx} * {vy}) AS corr, {cov} AS cov "
            f"FROM lineitem{grp}")


def _d_corr(ctx, p):
    return _wli(ctx).corr_cov(subset=list(p["cols"]))


def _d_corr_expected(ctx, p):
    cols = p["cols"]
    return ctx.sql(" UNION ALL ".join(
        _pair_sql(x, y, _W) for x in cols for y in cols))


def _d_pivot(ctx, p):
    return _wli(ctx).groupby(p["key"]).pivot(
        "l_linestatus", values=[p["col"]], stats=("mean", "sum"),
        column_values=["F", "O"],
    )


def _d_pivot_expected(ctx, p):
    x = p["col"]
    cells = []
    for v in ("F", "O"):
        xm = f"CASE WHEN l_linestatus = '{v}' THEN {x} END"
        for stat in ("mean", "sum"):
            cells.append(f"{_wstat(f'({xm})', _W, stat)} AS {x}_{v}_{stat}")
    return ctx.sql(f"SELECT {p['key']}, {', '.join(cells)} FROM lineitem "
                   f"GROUP BY {p['key']}")


_FIXED_RULES = {"6H": 21_600, "12H": 43_200, "1D": 86_400}


def _d_resample_fixed(ctx, p):
    from pandas_weights_spark import wt

    ev = ctx.df("events").select("ts", "value", "w")
    return wt(ev, "w")[["value"]].resample(p["rule"], on="ts").agg_all(
        ["count", "sum", "mean"])


def _bucket_expected(ctx, table, ts, origin_sql, secs, cols, w, stats):
    us = secs * 1_000_000
    return ctx.sql(
        f"WITH o AS ({origin_sql}) SELECT "
        f"(SELECT org FROM o) + CAST(FLOOR((epoch_us({ts}) - (SELECT org FROM o))"
        f" / {us}) AS BIGINT) * {us} AS {ts}, {_stats_sql(cols, w, stats)} "
        f"FROM {table} WHERE {ts} IS NOT NULL GROUP BY 1")


def _d_resample_fixed_expected(ctx, p):
    return _bucket_expected(
        ctx, "events", "ts",
        "SELECT epoch_us(date_trunc('day', MIN(ts))) AS org FROM events",
        _FIXED_RULES[p["rule"]], ["value"], "w", ["count", "sum", "mean"])


# calendar rule -> (anchor, unit months, total months), pandas semantics
_CAL_RULES = {"MS": ("start", 1, 1), "QS": ("start", 3, 3),
              "ME": ("end", 1, 1), "3ME": ("end", 1, 3), "QE": ("end", 3, 3)}


def _d_resample_cal(ctx, p):
    wdf = _wli(ctx)[[p["col"]]]
    return getattr(wdf.resample(p["rule"], on="l_shipdate"), p["stat"])()


def _d_resample_cal_expected(ctx, p):
    anchor, u, total = _CAL_RULES[p["rule"]]
    x = p["col"]
    m = "(year(l_shipdate) * 12 + month(l_shipdate) - 1)"
    first = f"(SELECT MIN({m}) FROM lineitem)"
    if anchor == "start":
        a = f"({first} - {first} % {u})"
        lm = f"({a} + CAST(FLOOR(({m} - {a}) / {total}.0) AS BIGINT) * {total})"
        day = "make_date(CAST(FLOOR(lm / 12.0) AS INT), CAST(lm % 12 + 1 AS INT), 1)"
    else:
        a = f"({first} - {first} % {u} + {u - 1})"
        lm = f"({a} + CAST(CEIL(({m} - {a}) / {total}.0) AS BIGINT) * {total})"
        day = ("last_day(make_date(CAST(FLOOR(lm / 12.0) AS INT), "
               "CAST(lm % 12 + 1 AS INT), 1))")
    return ctx.sql(
        f"SELECT CAST({day} AS TIMESTAMP) AS l_shipdate, "
        f"{_wstat(x, _W, p['stat'])} AS {x} FROM "
        f"(SELECT {lm} AS lm, {x}, {_W} FROM lineitem WHERE l_shipdate IS NOT NULL)"
        " GROUP BY lm")


def _d_stream(ctx, p):
    from pandas_weights_spark.sources import load_table_stream
    from pandas_weights_spark.streaming import weighted_resample_stream

    stream = load_table_stream(ctx.spark, ctx.inputs.tables["events_stream"],
                               "events")
    return weighted_resample_stream(
        stream, weights="w", on="ts", rule=p["rule"],
        stats=("count", "sum", "mean"), value_cols=["value"])


def _d_stream_expected(ctx, p):
    out = _bucket_expected(ctx, "events", "ts", "SELECT 0 AS org",
                           _FIXED_RULES[p["rule"]], ["value"], "w",
                           ["count", "sum", "mean"])
    return out.rename(columns={"ts": "window_start"})


def _d_median(ctx, p):
    from pandas_weights_spark.quantile import weighted_quantiles

    return weighted_quantiles(_wli(ctx), [0.5], subset=[p["col"]], keys=[p["key"]])


def _d_median_expected(ctx, p):
    return ctx.sql(_inv_cdf_sql("lineitem", p["col"], _W, [p["key"]], [0.5]))


def _wevents(ctx):
    from pandas_weights_spark import wt

    return wt(ctx.df("events").select("event_id", "user_id", "ts", "value", "w"),
              "w")


def _d_rolling(ctx, p):
    return _wevents(ctx).rolling(p["window"], order_by=["ts", "event_id"],
                                 partition_by=["user_id"]).mean()


def _d_rolling_expected(ctx, p):
    n = p["window"]
    win = (f"(PARTITION BY user_id ORDER BY ts, event_id "
           f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)")
    return ctx.sql(
        f"SELECT event_id, CASE WHEN COUNT(value * w) OVER {win} >= {n} THEN "
        f"SUM(value * w) OVER {win} / SUM(CASE WHEN value IS NOT NULL THEN w END) "
        f"OVER {win} END AS value FROM events")


def _d_ewm(ctx, p):
    return _wevents(ctx)[["value"]].ewm(
        order_by=["ts", "event_id"], partition_by=["user_id"], alpha=p["alpha"]
    ).mean()


def _d_ewm_expected(ctx, p):
    # pandas adjust=True / ignore_na=False EWM of w*x over EWM of w on the
    # same valid rows: the common normaliser cancels, leaving the weighted
    # recursion the library implements
    d = ctx.sql("SELECT event_id, user_id, value, w FROM events "
                "ORDER BY user_id, ts, event_id")
    valid = d["value"].notna() & d["w"].notna()
    d["_wx"] = (d["value"] * d["w"]).where(valid)
    d["_w"] = d["w"].where(valid)
    g = d.groupby("user_id", sort=False)
    num = g["_wx"].ewm(alpha=p["alpha"]).mean().droplevel(0)
    den = g["_w"].ewm(alpha=p["alpha"]).mean().droplevel(0)
    return pd.DataFrame({"event_id": d["event_id"], "value": (num / den).loc[d.index]})


def _d_sample(ctx, p):
    from pandas_weights_spark.sample import stratified_sample
    from pyspark.sql import functions as F

    return stratified_sample(
        ctx.df("orders"), F.col("o_totalprice"), p["n"], by=["o_orderstatus"],
        key_cols=["o_orderkey"], seed=p["seed"],
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def _d_sample_expected(ctx, p):
    from pandas_weights_spark.sample import uniform_hash_sql

    u = uniform_hash_sql(["o_orderkey"], p["seed"])
    return ctx.sql(
        f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM (SELECT *, "
        f"row_number() OVER (PARTITION BY o_orderstatus ORDER BY "
        f"{u} / o_totalprice, o_orderkey) AS rk FROM orders "
        f"WHERE o_totalprice > 0) WHERE rk <= {p['n']}")


def _dashboard(rng: random.Random) -> list[Op]:
    def pick(menu):
        return menu[rng.randrange(len(menu))]

    def two(menu):
        return tuple(sorted(rng.sample(list(menu), 2)))

    li = ("lineitem",)
    ops = [
        Op("grp", "groupby",
           {"key": pick(["l_returnflag", "l_linestatus", "l_suppkey", "l_partkey"]),
            "cols": two(_DASH_COLS), "stats": ("count", "sum", "mean", "var", "std")},
           li, _d_grp, ("key",), _d_grp_expected),
        Op("moments", "frame",
           {"stat": pick(["mean", "var", "std"]), "cols": two(_DASH_COLS)},
           li, _d_moments, (), _d_moments_expected),
        Op("corr", "corr", {"cols": two(_DASH_COLS)},
           li, _d_corr, ("col_x", "col_y"), _d_corr_expected, rtol=1e-6),
        Op("pivot", "pivot",
           {"key": pick(["l_returnflag", "l_suppkey"]), "col": pick(_DASH_COLS)},
           li, _d_pivot, ("key",), _d_pivot_expected),
        Op("resample_fixed", "resample", {"rule": pick(list(_FIXED_RULES))},
           ("events",), _d_resample_fixed, ("ts",), _d_resample_fixed_expected),
        Op("resample_calendar", "resample",
           {"rule": pick(list(_CAL_RULES)), "col": pick(_DASH_COLS),
            "stat": pick(["sum", "mean"])},
           li, _d_resample_cal, ("l_shipdate",), _d_resample_cal_expected),
        Op("stream_resample", "streaming", {"rule": pick(["6H", "12H", "1D"])},
           ("events",), _d_stream, ("window_start",), _d_stream_expected,
           sink="stream"),
        Op("grp_median", "quantile",
           {"key": pick(["l_returnflag", "l_linestatus"]), "col": pick(_DASH_COLS)},
           li, _d_median, ("key",), _d_median_expected),
        Op("rolling", "rolling", {"window": pick([3, 5])}, ("events",), _d_rolling,
           ("event_id",), _d_rolling_expected, rtol=1e-6),
        Op("ewm", "ewm", {"alpha": pick([0.1, 0.3])}, ("events",), _d_ewm,
           ("event_id",), _d_ewm_expected, rtol=1e-6),
        Op("stratified_sample", "sample",
           {"n": pick([50, 100]), "seed": rng.randrange(1000)},
           ("orders",), _d_sample, ("o_orderkey",), _d_sample_expected),
    ]
    rng.shuffle(ops)
    return ops


# ---------------------------------------------------------------------------
# corpus: LLM-data pipeline over documents and embeddings

_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars", "score")
_DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
               "n_chars long, score double")


def _docs_pd(ctx):
    return ctx.memo("docs", lambda: ctx.sql(
        f"SELECT {', '.join(_DOC_COLS)} FROM documents ORDER BY doc_id"))


def _survivor_ids(ctx):
    def compute():
        d = _docs_pd(ctx)
        key = d["text"].str.strip().str.lower()
        return set(d.groupby(key)["doc_id"].min())

    return ctx.memo("survivors", compute)


def _c_shards_write(ctx, p):
    from pandas_weights_spark.sources.jsonl import to_jsonl_shards

    return to_jsonl_shards(ctx.df("documents"), list(_DOC_COLS),
                           n_shards=p["shards"], gzip_shard=True)


def _c_shards_write_check(ctx, p, actual):
    n = int(actual["n_records"].sum())
    if n != len(_docs_pd(ctx)) or actual["shard"].nunique() != len(actual):
        return f"shards hold {n} records in {len(actual)} rows"
    return None


def _c_shards_read(ctx, p):
    from pandas_weights_spark.sources.jsonl import from_jsonl_shards

    shards = ctx.spark.read.parquet(ctx.path("shards_write"))
    return from_jsonl_shards(shards, _DOC_SCHEMA).select(*_DOC_COLS)


def _c_text(ctx, p):
    from pandas_weights_spark.functions import text as T
    from pyspark.sql import functions as F

    t = F.col("text")
    return ctx.df("documents").select(
        "doc_id", T.token_count(t).alias("n_tok"),
        T.bpe_token_count(t).alias("n_bpe"),
        T.occurrences(t, p["needle"]).alias("n_needle"),
        T.fingerprint(t).alias("fp"))


def _c_text_expected(ctx, p):
    from pandas_weights_spark.functions.text import BPE_TOKEN_PATTERN

    d = _docs_pd(ctx)
    pat = re.compile(BPE_TOKEN_PATTERN)
    toks = d["text"].str.strip().str.split(r"\s+", regex=True)
    return pd.DataFrame({
        "doc_id": d["doc_id"],
        "n_tok": toks.map(len).astype("int64"),
        "n_bpe": d["text"].map(lambda s: len(pat.findall(s))),
        "n_needle": d["text"].map(lambda s: float(s.count(p["needle"]))),
        "fp": d["text"].str.lower().str.strip().str.split(r"\s+", regex=True).map(
            lambda ws: hashlib.md5(" ".join(sorted(set(ws))).encode()).hexdigest()),
    })


def _c_quality(ctx, p):
    from pandas_weights_spark.functions.quality import quality_flags
    from pyspark.sql import functions as F

    flags = quality_flags(F.col("text"), min_words=p["min_words"])
    return ctx.df("documents").select(
        "doc_id", *[c.alias(k) for k, c in flags.items()])


def _c_quality_check(ctx, p, actual):
    d = _docs_pd(ctx).set_index("doc_id")
    a = actual.set_index("doc_id").sort_index()
    if len(a) != len(d):
        return f"{len(a)} rows for {len(d)} documents"
    n_words = d["text"].str.strip().str.split(r"\s+", regex=True).map(len)
    want = (n_words >= p["min_words"]) & (n_words <= 100_000)
    if not (a["ok_word_count"].astype(bool) == want.loc[a.index]).all():
        return "ok_word_count disagrees with the word count"
    flags = [c for c in a.columns if c.startswith("ok_")]
    if not (a["keep"].astype(bool) == a[flags].astype(bool).all(axis=1)).all():
        return "keep is not the conjunction of the rule flags"
    return None


def _shingles(text: str, n: int) -> frozenset:
    toks = text.strip().split()
    if len(toks) < n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _c_near(ctx, p):
    from pandas_weights_spark.functions.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        ctx.df("documents").select("doc_id", "text"), "text", "doc_id",
        threshold=p["threshold"], num_hashes=p["hashes"], bands=p["bands"],
        shingle_size=3)


# the LSH stage is probabilistic: at 32 hashes in 8 bands a pair at the
# injected edit distance (Jaccard ~0.8) is a candidate with p ~ 0.98
NEAR_DUP_RECALL_FLOOR = 0.9


def _c_near_check(ctx, p, actual):
    d = _docs_pd(ctx).set_index("doc_id")["text"]
    sh = {}

    def jac(a, b):
        for i in (a, b):
            if i not in sh:
                sh[i] = _shingles(d[i], 3)
        return round(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6)

    for a, b, j in actual[["id_a", "id_b", "jaccard"]].itertuples(index=False):
        if not a < b or abs(jac(a, b) - j) > 1e-9 or j < p["threshold"]:
            return f"pair ({a}, {b}) reports jaccard {j}, exact {jac(a, b)}"
    found = set(zip(actual["id_a"], actual["id_b"]))
    truth = [tuple(sorted(x)) for x in ctx.inputs.facts["near_pairs"]
             + ctx.inputs.facts["exact_pairs"]]
    truth = [x for x in truth if jac(*x) >= p["threshold"]]
    recall = sum(x in found for x in truth) / max(1, len(truth))
    if recall < NEAR_DUP_RECALL_FLOOR:
        return f"near-duplicate recall {recall:.3f} below {NEAR_DUP_RECALL_FLOOR}"
    return None


def _c_decontam(ctx, p):
    from pandas_weights_spark.functions.decontam import decontaminate
    from pyspark.sql import functions as F

    docs = ctx.df("documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id").isin(ctx.inputs.facts["bench_ids"])).select(
        "text")
    return decontaminate(docs, "text", "doc_id", bench, n=p["n"],
                         threshold=p["threshold"], hash_shingles=False).select(
        "doc_id")


def _c_decontam_check(ctx, p, actual):
    d = _docs_pd(ctx).set_index("doc_id")["text"]
    bench = set().union(*(_shingles(d[i], p["n"])
                          for i in ctx.inputs.facts["bench_ids"]))
    keep = set()
    for i, t in d.items():
        s = _shingles(t, p["n"])
        if len(s & bench) / len(s) < p["threshold"]:
            keep.add(i)
    got = set(actual["doc_id"])
    return f"{len(got ^ keep)} surviving ids differ" if got != keep else None


def _c_write(ctx, p):
    from pandas_weights_spark.functions.dedup import exact_dedup
    from pandas_weights_spark.sources.sinks import write_partitioned

    survivors = exact_dedup(ctx.df("documents"), "text", "doc_id")
    write_partitioned(survivors.select("doc_id", "lang", "n_chars"),
                      ctx.path("survivors_write"), ["lang"])
    return None


def _c_write_check(ctx, p, actual):
    got = ctx.sql(
        f"SELECT doc_id, lang FROM read_parquet('{ctx.path('survivors_write')}"
        "/*/*.parquet', hive_partitioning = true)")
    if set(got["doc_id"]) != _survivor_ids(ctx) or got["doc_id"].duplicated().any():
        return f"written survivors hold {len(got)} rows"
    if set(got["doc_id"]) & {b for _, b in ctx.inputs.facts["exact_pairs"]}:
        return "an injected exact duplicate survived"
    return None


def _emb_np(ctx):
    def load():
        e = ctx.sql("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id")
        v = np.array(e["embedding"].tolist(), dtype=np.float64)
        return e["vec_id"].to_numpy(), v / np.linalg.norm(v, axis=1, keepdims=True)

    return ctx.memo("emb", load)


def _c_ivf(ctx, p):
    from pandas_weights_spark.functions.similarity import topk_ivf
    from pyspark.sql import functions as F

    emb = ctx.df("embeddings")
    queries = emb.where(F.col("vec_id").isin(list(p["queries"]))).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return topk_ivf(queries, emb, k=p["k"], n_cells=p["cells"],
                    nprobe=p["nprobe"], centroids=ctx.model("centroids"))


def _c_ivf_check(ctx, p, actual):
    """Each query's neighbours must be the exact cosine top-k among the
    vectors assigned to its ``nprobe`` nearest cells."""
    ids, unit = _emb_np(ctx)
    c = np.array(ctx.model("centroids"), dtype=np.float64)
    scores = unit @ (c / np.linalg.norm(c, axis=1, keepdims=True)).T
    cell = scores.argmax(axis=1)
    for q in p["queries"]:
        qi = np.searchsorted(ids, q)
        probe = np.argsort(-scores[qi])[:p["nprobe"]]
        cos = np.where(np.isin(cell, probe), unit @ unit[qi], -np.inf)
        best = np.sort(cos)[::-1][:p["k"]]
        got = actual[actual["query_id"] == q].sort_values("rank")
        if len(got) != min(p["k"], np.isfinite(best).sum()):
            return f"query {q}: {len(got)} neighbours"
        exact = cos[np.searchsorted(ids, got["neighbor_id"].to_numpy())]
        if (np.abs(got["cosine"].to_numpy() - exact) > 1e-5).any():
            return f"query {q}: reported cosines differ from exact"
        if (np.abs(np.sort(exact)[::-1] - best[:len(got)]) > 1e-5).any():
            return f"query {q}: not the top {p['k']} of the probed cells"
    return None


def _corpus(rng: random.Random, n_vecs: int) -> list[Op]:
    def pick(menu):
        return menu[rng.randrange(len(menu))]

    d, e = ("documents",), ("embeddings",)
    queries = tuple(sorted(rng.sample(range(n_vecs), 8)))
    return [
        Op("shards_write", "sources", {"shards": pick([4, 8])}, d,
           _c_shards_write, check=_c_shards_write_check, sink="parquet"),
        Op("shards_read", "sources", {}, ("shards",), _c_shards_read, ("doc_id",),
           lambda ctx, p: _docs_pd(ctx)),
        Op("text_metrics", "functions.text", {"needle": pick(["data", "spark", "row"])},
           d, _c_text, ("doc_id",), _c_text_expected),
        Op("quality_flags", "functions.quality", {"min_words": pick([50, 60])}, d,
           _c_quality, check=_c_quality_check),
        Op("near_dedup", "functions.dedup",
           {"threshold": 0.5, "hashes": 32, "bands": 8}, d, _c_near,
           check=_c_near_check),
        Op("decontaminate", "functions.decontam",
           {"n": 13, "threshold": pick([0.5, 0.8])}, d, _c_decontam,
           check=_c_decontam_check),
        Op("topk_ivf", "functions.similarity",
           {"queries": queries, "k": 5, "cells": 8, "nprobe": pick([2, 4])},
           e, _c_ivf, check=_c_ivf_check),
        Op("survivors_write", "sources", {}, d, _c_write, check=_c_write_check,
           sink="none"),
    ]


def plan(workload: str, seed: int, n_vecs: int = 0) -> list[Op]:
    """The seeded op list of one workload pass."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "dashboard":
        return _dashboard(rng)
    if workload == "corpus":
        return _corpus(rng, n_vecs)
    raise ValueError(f"unknown workload {workload!r}")
