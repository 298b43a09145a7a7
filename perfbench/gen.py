"""Seeded input generator: the TPC-H-shaped ``customer``, ``orders`` and
``lineitem`` tables (the ones the benchmark's specs and frame read), the
``events`` stream, the ``documents`` corpus and the ``embeddings`` table,
with the column names and types the suite specs read (see the
repository's TESTDATA.md for the reference shapes). Everything derives from one
``numpy`` generator, so the same seed writes the same parquet bytes.

``sf`` scales the relational tables as TPC-H does (lineitem = 6M * sf);
``n_docs`` and ``n_vecs`` size the text and vector tables separately.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line fast query index "
    "batch shard token model cache plan scan row"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=1 << 20,
    )


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def relational(rng: np.random.Generator, out_dir: str, sf: float,
               with_lineitem: bool = True) -> None:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    odate = EPOCH_1995 + rng.integers(0, 2400, n_ord) * np.timedelta64(1, "D")
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    if not with_lineitem:
        return
    okey = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_line), 2)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": odate[okey] + rng.integers(1, 122, n_line)
        * np.timedelta64(1, "D"),
    })


def events(rng: np.random.Generator, out_dir: str, n: int) -> None:
    n_users = max(10, n // 66)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(1.0, 50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def doc_texts(rng: np.random.Generator, n: int, dup_share: float = 0.1) -> list[str]:
    """Word soup over a small vocabulary; ``dup_share`` of the documents
    are near-copies of an earlier one (a few words replaced), so the
    similarity joins find real pairs, and a handful are exact copies."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return texts


def documents(rng: np.random.Generator, out_dir: str, n: int) -> None:
    texts = doc_texts(rng, n)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, out_dir: str, n: int, dim: int = 64) -> None:
    """Ten Gaussian clusters on the unit sphere, float32 like the suite's
    testdata, with a label per vector."""
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(scale=0.6, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def generate(out_dir: str, seed: int, *, sf: float = 0.0,
             with_lineitem: bool = True, n_events: int = 0,
             n_docs: int = 0, n_vecs: int = 0) -> str:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    if sf:
        relational(rng, out_dir, sf, with_lineitem)
    if n_events:
        events(rng, out_dir, n_events)
    if n_docs:
        documents(rng, out_dir, n_docs)
    if n_vecs:
        embeddings(rng, out_dir, n_vecs)
    return out_dir
