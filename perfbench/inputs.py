"""Seeded input generation for the benchmark workloads.

Every table is produced by numpy from an explicit seed and written as
parquet under a cache directory keyed by (workload, seed, size), so a
seed always yields byte-identical inputs and a second run with the same
seed skips generation. The program under test only ever sees the
generated files.

* ``dashboard`` tables are fixed: TPC-H-shaped ``lineitem`` and ``orders``
  plus an ``events`` table, generated from one internal seed.
  The workload seed only permutes and parametrises the query mix.
* ``corpus`` is a fixed base of documents and embeddings; the workload
  seed injects a stated share of exact and near-duplicate documents and
  draws the decontamination benchmark and the IVF quantizer's start.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FORMAT_VERSION = 4
FIXED_SEED = 20240101

DASHBOARD_ROWS = {
    "lineitem": 100_000,
    "orders": 25_000,
    "events": 20_000,
}
CORPUS_DOCS = 600
CORPUS_VECS = 300
EMBED_DIM = 64
# shares of the base corpus re-injected by the workload seed
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
NEAR_DUP_EDITS = 2
IVF_CELLS = 8
_DAY_US = 86_400 * 1_000_000

_VOCAB = (
    "the a of and to in is for on with data spark query table row column "
    "value group window stream batch merge filter join sort hash scan key "
    "order line part small big fast slow vector index shard token model "
    "train test weight sample mean median share count total region nation "
    "market price ship date year month week day hour event user signal "
    "score quality source corpus text word lang"
).split()


@dataclass
class Inputs:
    """Generated files of one workload: ``tables`` maps a table name to
    a parquet file (or, for ``events_stream``, a directory)."""

    tables: dict[str, str]
    rows: dict[str, int]
    fingerprint: str
    facts: dict = field(default_factory=dict)


def _ts(day: str, micros: np.ndarray) -> pa.Array:
    base = np.datetime64(day, "s").astype("datetime64[us]")
    return pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def dashboard_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(FIXED_SEED)
    n_li, n_o, n_e = (DASHBOARD_ROWS[t] for t in ("lineitem", "orders", "events"))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = rng.integers(900, 2100, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_li),
        "l_partkey": rng.integers(0, 20_000, n_li),
        "l_suppkey": rng.integers(0, 1_000, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * unit + rng.integers(0, 100, n_li) / 100, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts("1995-01-01", rng.integers(0, 2_520, n_li) * _DAY_US),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, 2_500, n_o),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_o), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2_520, n_o) * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_e))
    events = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": rng.integers(0, 1_500, n_e),
        "event_type": pa.array(np.array(["view", "click", "purchase", "signup", "error"])
                               [rng.integers(0, 5, n_e)]),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "w": rng.integers(1, 8, n_e).astype(np.float64),
    })
    return {"lineitem": lineitem, "orders": orders, "events": events}


def _doc_text(rng, n_words: int) -> str:
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), n_words)]
    # a per-document rare token keeps unrelated documents far apart
    words[rng.integers(0, n_words)] = f"t{rng.integers(0, 10**9)}"
    return " ".join(words)


def corpus_tables(seed: int) -> tuple[dict[str, pa.Table], dict]:
    base = np.random.default_rng(FIXED_SEED + 1)
    n = CORPUS_DOCS
    texts = [_doc_text(base, int(base.integers(60, 120))) for _ in range(n)]
    langs = np.array(["en", "de", "fr", "es", "zh"])[base.integers(0, 5, n)]
    sources = np.array([f"src{i}" for i in range(20)])[base.integers(0, 20, n)]
    scores = np.round(base.uniform(0.0, 1.0, n), 4)
    vecs = base.normal(0.0, 1.0, (CORPUS_VECS, EMBED_DIM))

    rng = np.random.default_rng([seed, 2])
    n_exact = int(round(n * EXACT_DUP_SHARE))
    n_near = int(round(n * NEAR_DUP_SHARE))
    picks = rng.choice(n, size=n_exact + n_near, replace=False)
    ids = list(range(n))
    exact_pairs, near_pairs = [], []
    for j, src in enumerate(picks):
        new_id = n + j
        words = texts[src].split(" ")
        if j >= n_exact:
            for pos in rng.choice(len(words), NEAR_DUP_EDITS, replace=False):
                words[pos] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            near_pairs.append((int(src), new_id))
        else:
            exact_pairs.append((int(src), new_id))
        texts.append(" ".join(words))
        ids.append(new_id)
        langs = np.append(langs, langs[src])
        sources = np.append(sources, sources[src])
        scores = np.append(scores, np.round(rng.uniform(0.0, 1.0), 4))
    order = rng.permutation(len(ids))
    documents = pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(langs[order]),
        "source": pa.array(sources[order]),
        "n_chars": pa.array(np.array([len(texts[i]) for i in order], dtype=np.int64)),
        "score": pa.array(scores[order]),
    })

    allv = vecs.astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(len(allv), dtype=np.int64),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": (np.arange(len(allv)) % 10).astype(np.int32),
    })
    # benchmark texts for decontamination: a seeded 2% of base documents
    bench_ids = sorted(int(i) for i in rng.choice(n, size=n // 50, replace=False))
    facts = {
        "centroids": _kmeans_cosine(allv.astype(np.float64), IVF_CELLS, rng),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "bench_ids": bench_ids,
    }
    return {"documents": documents, "embeddings": embeddings}, facts


def _kmeans_cosine(vecs: np.ndarray, k: int, rng, iters: int = 5) -> list:
    """Spherical k-means: the IVF quantizer the similarity ops apply.
    Trained here, once per input set, so the program receives it as an
    input (the train-once/apply-many pattern) rather than refitting it
    in every run."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cent = unit[rng.choice(len(unit), size=k, replace=False)]
    for _ in range(iters):
        cell = (unit @ cent.T).argmax(axis=1)
        for c in range(k):
            members = unit[cell == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / np.linalg.norm(m)
    return np.round(cent, 6).tolist()


def fingerprint(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def generate(workload: str, seed: int) -> tuple[dict[str, pa.Table], dict]:
    """In-memory tables (and injected-duplicate facts) for one workload."""
    if workload == "dashboard":
        return dashboard_tables(), {}
    if workload == "corpus":
        return corpus_tables(seed)
    raise ValueError(f"unknown workload {workload!r}")


def _cache_key(workload: str, seed: int) -> str:
    if workload == "dashboard":
        size = "-".join(f"{DASHBOARD_ROWS[t]}" for t in sorted(DASHBOARD_ROWS))
        return f"dashboard-fixed-{size}-v{FORMAT_VERSION}"
    return f"corpus-s{seed}-{CORPUS_DOCS}d{CORPUS_VECS}v-v{FORMAT_VERSION}"


def _write(tables: dict[str, pa.Table], out: str) -> dict[str, str]:
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, paths[name])
    if "events" in tables:
        # file-stream source: a directory holding only the events table
        d = os.path.join(out, "events_stream")
        os.makedirs(d)
        pq.write_table(tables["events"], os.path.join(d, "events.parquet"))
        paths["events_stream"] = d
    return paths


def prepare(workload: str, seed: int, cache_root: str) -> Inputs:
    """Generate (or reuse) the workload's files under ``cache_root``."""
    out = os.path.join(cache_root, _cache_key(workload, seed))
    manifest = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest):
        tables, facts = generate(workload, seed)
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rel = {k: os.path.relpath(v, tmp) for k, v in _write(tables, tmp).items()}
        meta = {
            "tables": rel,
            "rows": {k: t.num_rows for k, t in tables.items()},
            "fingerprint": fingerprint(tables),
            "facts": facts,
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(manifest) as f:
        meta = json.load(f)
    return Inputs(
        tables={k: os.path.join(out, v) for k, v in meta["tables"].items()},
        rows=meta["rows"],
        fingerprint=meta["fingerprint"],
        facts=meta["facts"],
    )
