"""Seeded input generator for the benchmark.

Every input a workload reads is derived here from the workload seed
alone, so the same seed gives byte-identical tables. The tables follow
the engine's testdata schemas and value ranges (FIXTURES.md section A):
TPC-H-shaped `orders` and `lineitem`, plus `events`, `documents` and
`embeddings`, at the row counts of one of the engine's fixture scales.
The classifier fixture `lineitem_clf` is not written here: the engine
derives it from `lineitem` and the oracle evaluates the engine's own
`LINEITEM_CLF_SQL` over the same file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table and workload, at the engine's fixture scales (testdata
# row counts; lineitem has about four lines per order). `cv_keel` runs
# at sf0.1, the scale of the paper-protocol keys: 150k orders, 600k
# lineitem rows, where the fit and the scorer's per-row work is about
# half a fold. `corpus` runs at sf0.01, so that a full evaluation fits
# its time budget; perfbench/README.md ("Scale") has the measured cost
# of its keys at both scales.
SIZES = {
    "cv_keel": {"orders": 150_000},
    "corpus": {"orders": 15_000, "events": 10_000, "documents": 500, "embeddings": 500},
}
# `cv_keel` warms up on a fold of a second set at sf0.01 row counts: the
# KEEL descriptor fixes the fuzzy partitions, so the engine runs the same
# code on it as on the measured fold, at a fraction of the cost.
WARM_UP_SIZES = {"cv_keel": {"orders": 15_000}}
DIM = 64

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "zh", "fr", "es")
# Words the Gopher quality rules count as stopwords, so that most
# generated documents pass the stopword rule and some fail it.
_STOPWORDS = ("the", "a", "data", "of", "to")
_BOILERPLATE = (
    "all rights reserved by the original publisher of this page",
    "click here to subscribe to the weekly newsletter for updates",
    "this article was automatically translated and may contain errors",
    "cookies help us deliver our services to readers everywhere",
    "share this story with your friends on any social network",
)

_MS_2024 = 1_704_067_200_000  # 2024-01-01T00:00:00Z in ms
_MS_1995 = 788_918_400_000  # 1995-01-01T00:00:00Z in ms
_DAY_MS = 86_400_000


@dataclass
class Inputs:
    """Paths and sizes of one generated input set."""

    seed: int
    sf_dir: str
    rows: dict[str, int] = field(default_factory=dict)
    bytes: dict[str, int] = field(default_factory=dict)
    warm_up: Inputs | None = None

    def path(self, table: str) -> str:
        return os.path.join(self.sf_dir, f"{table}.parquet")

    def summary(self) -> dict:
        out = {"seed": self.seed, "rows": self.rows, "bytes": self.bytes}
        if self.warm_up is not None:
            out["warm_up"] = self.warm_up.summary()
        return out


def _write(inp: Inputs, name: str, table: pa.Table) -> None:
    path = inp.path(name)
    pq.write_table(table, path)
    inp.rows[name] = table.num_rows
    inp.bytes[name] = os.path.getsize(path)


def _ts_ms(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n // 10, n).astype(np.int64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n, p=[0.49, 0.49, 0.02])),
            "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n), 2),
            "o_orderdate": _ts_ms(_MS_1995 + rng.integers(0, 2404, n) * _DAY_MS),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
        }
    )


def _lineitem(rng: np.random.Generator, orders: pa.Table) -> pa.Table:
    okeys = orders["o_orderkey"].to_numpy()
    lines = rng.integers(1, 8, len(okeys))
    l_orderkey = np.repeat(okeys, lines)
    # 1..k within each order: distinct (orderkey, linenumber) pairs
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    n = len(l_orderkey)
    partkey = rng.integers(0, 20_000, n).astype(np.int64)
    price = 900.0 + (partkey % 1_201).astype(np.float64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    discount = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship = _MS_1995 + rng.integers(1, 2499, n) * _DAY_MS
    return pa.table(
        {
            "l_orderkey": l_orderkey.astype(np.int64),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price, 2),
            "l_discount": discount,
            "l_tax": tax,
            # as in the testdata, flag and status are uniform and
            # independent of the features: R is a third of the rows, the
            # `lineitem_clf` class balance (IR about 2)
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts_ms(ship),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts_us = _MS_2024 * 1_000 + rng.integers(0, 29 * _DAY_MS * 1_000, n)
    return pa.table(
        {
            "event_id": rng.permutation(n).astype(np.int64),
            "ts": pa.array(ts_us.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": rng.integers(1, n // 10, n).astype(np.int64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n, p=[0.4, 0.05, 0.1, 0.05, 0.4])),
            "value": np.round(rng.exponential(20.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ten", "ra", "su", "ve", "dor", "an", "is", "pe", "qu", "zo", "bel", "ni", "tra"]
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(1, 4))
        words.add("".join(syll[i] for i in rng.integers(0, len(syll), k)))
    return list(_STOPWORDS) + sorted(words - set(_STOPWORDS))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = _vocabulary(rng, 3_000)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    lengths = rng.integers(25, 90, n)
    flat = rng.choice(len(vocab), int(lengths.sum()), p=p)
    docs = np.split(flat, np.cumsum(lengths)[:-1])
    texts: list[str] = []
    for i, toks in enumerate(docs):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = [vocab[t] for t in toks]
        if i > 10 and r < 0.10:  # near duplicate: an earlier text, 2 words swapped out
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
        elif r < 0.25:  # shared boilerplate span
            words += _BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))].split(" ")
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, DIM))
    # unit vectors, like the engine's fixture: the integer-micro
    # distance kernels assume components within [-1, 1]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), type=pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels})


def generate(seed: int, workload: str, sf_dir: str) -> Inputs:
    """Write every table `workload` reads into `sf_dir`, and its warm-up
    set, if it has one, into `sf_dir/warm_up`."""
    inp = _generate(seed, SIZES[workload], sf_dir)
    if workload in WARM_UP_SIZES:
        inp.warm_up = _generate(seed, WARM_UP_SIZES[workload], os.path.join(sf_dir, "warm_up"))
    return inp


def _generate(seed: int, size: dict[str, int], sf_dir: str) -> Inputs:
    os.makedirs(sf_dir, exist_ok=True)
    inp = Inputs(seed=seed, sf_dir=sf_dir)
    # one child stream per table: adding a table never changes another
    names = ("orders", "events", "documents", "embeddings")
    rng = dict(zip(names, map(np.random.default_rng, np.random.SeedSequence(seed).spawn(4))))
    orders = _orders(rng["orders"], size["orders"])
    _write(inp, "orders", orders)
    _write(inp, "lineitem", _lineitem(rng["orders"], orders))
    for name, make in (("events", _events), ("documents", _documents), ("embeddings", _embeddings)):
        if name in size:
            _write(inp, name, make(rng[name], size[name]))
    return inp
