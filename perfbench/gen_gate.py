"""Seeded generator for the gate-query tables.

Writes the tables the benchmark's gate queries and their oracles read
-- ``lineitem``, ``events``, ``documents`` and ``embeddings`` (the
kmeans oracles that ``all_oracles()`` builds are fitted on it) -- one
parquet file per table, with the column names, types and value domains
of the engine's gate test data. ``SCALE`` plays the role of the TPC-H
scale factor for the relational tables (lineitem ~ 6M x SCALE rows); the
corpus tables have fixed sizes because the similarity queries' cost is
set by their job count, not their row count.

Near-duplicate documents (copies with an appended ``dup`` token) and
near-duplicate embedding pairs are planted at fixed positions, so that
the dedup and near-dup queries return non-empty results of the same
shape for every seed.

Same ``seed`` gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.002                 # TPC-H-style scale factor of lineitem, events
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = (["en"] * 44) + (["zh"] * 15) + (["es"] * 15) + (["de"] * 14) + \
    (["fr"] * 12)
N_DOCUMENTS = 400
N_EMBEDDINGS = 400
DUP_EVERY = 20
EMBED_DIM = 64
N_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400 * 1_000_000


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _write(out: Path, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, out / f"{name}.parquet", compression="snappy")
    return table.num_rows


def _ts(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), pa.timestamp("us"))


def generate(out_dir: Path, seed: int) -> dict:
    """Write every table into ``out_dir``, plus ``tables.json`` with the
    row count of each; return those counts."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * SCALE))
    n_part = max(100, int(200_000 * SCALE))
    n_ord = max(500, int(1_500_000 * SCALE))
    n_events = max(1000, int(1_000_000 * SCALE))
    rows = {}

    # orders and parts only shape lineitem: order dates set ship dates,
    # part prices set extended prices
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = d0 + rng.integers(0, (d1 - d0) // _US_PER_DAY + 1,
                              n_ord) * _US_PER_DAY
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part] *
                                    rng.uniform(0.95, 1.05, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(odate[l_order]
                          + rng.integers(1, 122, n_li) * _US_PER_DAY)})

    e0 = _us(dt.datetime(2024, 1, 1))
    ets = np.sort(e0 + rng.integers(0, 30 * _US_PER_DAY, n_events))
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ets),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(N_DOCUMENTS):
        if i % DUP_EVERY in (DUP_EVERY - 2, DUP_EVERY - 1):
            # near-duplicate of the document before it; the positions are
            # fixed so that every seed gives the same near-duplicate graph
            # shape (clusters of three), only different text
            texts.append(texts[-1] + " dup")
        else:
            n = int(rng.integers(40, 100))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    rows["documents"] = _write(out, "documents", {
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, N_LABELS, N_EMBEDDINGS).astype(np.int32)
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    vecs = centers[labels] * 0.15 + rng.normal(size=(N_EMBEDDINGS, EMBED_DIM))
    for i in range(20, N_EMBEDDINGS, 37):
        # planted near-duplicate pairs
        vecs[i] = vecs[i - 20] + rng.normal(scale=0.02, size=EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels})
    (out / "tables.json").write_text(json.dumps(rows, sort_keys=True) + "\n")
    return rows

