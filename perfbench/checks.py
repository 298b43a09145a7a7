"""Output checks made outside the program: DuckDB over the same parquet,
numpy recomputation, and a pandas replay of the corpus verbs.

Every check raises :class:`CheckFailed` with a short reason; the
workloads run them outside their timed regions.
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
import pandas as pd


class CheckFailed(AssertionError):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated parquet table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column, values as
    their ``repr`` strings — the comparison the repository's own oracle
    tests make (tests/conftest.py)."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: "NULL" if pd.isna(v) else repr(v))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    g, w = canonical(got), canonical(want)
    if list(g.columns) != list(w.columns):
        raise CheckFailed(f"{what}: columns {list(g.columns)} != {list(w.columns)}")
    if len(g) != len(w):
        raise CheckFailed(f"{what}: {len(g)} rows, expected {len(w)}")
    if not g.equals(w):
        bad = (g != w).any(axis=1)
        raise CheckFailed(
            f"{what}: {int(bad.sum())} rows differ, first:\n"
            f"{g[bad].head(2)}\nexpected:\n{w[bad].head(2)}"
        )


def knn_scores(got: pd.DataFrame, data_dir: str, query_id: int, k: int,
               what: str) -> None:
    """A top-k cosine answer's properties, recomputed in numpy from the
    ``embeddings`` parquet: k distinct ids other than the query, each
    score equal to the exact cosine (to the 6 decimals the answer
    keeps), scores non-increasing."""
    import numpy as np  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    row = dict(zip(ids.tolist(), range(len(ids))))
    q = vecs[row[query_id]]
    ids_got = got["vec_id"].tolist()
    expect(len(ids_got) == k, f"{what}: {len(ids_got)} rows, expected {k}")
    expect(len(set(ids_got)) == k and query_id not in ids_got
           and all(i in row for i in ids_got),
           f"{what}: ids {ids_got} not {k} distinct existing non-query ids")
    v = vecs[[row[i] for i in ids_got]]
    cos = v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    err = np.abs(got["cosine"].to_numpy() - cos).max()
    expect(err <= 1e-6, f"{what}: a score is {err:.2e} off its numpy cosine")
    expect(bool((np.diff(got["cosine"].to_numpy()) <= 0).all()),
           f"{what}: scores increase: {got['cosine'].tolist()}")


# -- corpus replay ----------------------------------------------------------

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def fingerprint(text: str) -> str:
    """The suite's portable exact-dedup key: md5 of the lower-cased,
    trimmed, whitespace-collapsed text (functions/text.py fingerprint)."""
    return hashlib.md5(_WS.sub(" ", text).strip(" ").lower().encode()).hexdigest()


class CorpusReplay:
    """The corpus a sequence of verbs should leave, replayed in pandas.
    Rows are keyed by ``doc_id``; ``batches[k]`` holds the ids the k-th
    append admitted, for ``as_of_batch`` prefix counts."""

    COLS = ["doc_id", "text", "lang", "source", "n_chars"]

    def __init__(self):
        self.rows = pd.DataFrame(columns=self.COLS)
        self.batch_sizes: list[int] = []

    def _live_fps(self) -> set[str]:
        return {fingerprint(t) for t in self.rows["text"]}

    def append(self, batch: pd.DataFrame) -> None:
        """Exact-fingerprint admission: the least id per fingerprint in
        the batch, and only fingerprints not live already."""
        b = batch.assign(_fp=batch["text"].map(fingerprint))
        b = b.sort_values("doc_id").drop_duplicates("_fp")
        b = b[~b["_fp"].isin(self._live_fps())]
        self.rows = pd.concat([self.rows, b[self.COLS]], ignore_index=True)
        self.batch_sizes.append(len(b))

    def update(self, mask_fn, assign: dict) -> None:
        m = mask_fn(self.rows)
        for col, fn in assign.items():
            self.rows.loc[m, col] = self.rows.loc[m].apply(fn, axis=1)

    def delete(self, mask_fn) -> None:
        self.rows = self.rows[~mask_fn(self.rows)].reset_index(drop=True)

    def merge(self, source: pd.DataFrame, set_cols=("text",)) -> None:
        """Matched keys take the source's ``set_cols``; unmatched rows are
        inserted unless their fingerprint is live after the update or
        repeats an earlier-keyed insert."""
        live = set(self.rows["doc_id"])
        matched = source[source["doc_id"].isin(live)].set_index("doc_id")
        for col in set_cols:
            m = self.rows["doc_id"].isin(matched.index)
            self.rows.loc[m, col] = self.rows.loc[m, "doc_id"].map(matched[col])
        fresh = source[~source["doc_id"].isin(live)].sort_values("doc_id")
        fresh = fresh.assign(_fp=fresh["text"].map(fingerprint))
        fresh = fresh.drop_duplicates("_fp")
        fresh = fresh[~fresh["_fp"].isin(self._live_fps())]
        self.rows = pd.concat([self.rows, fresh[self.COLS]], ignore_index=True)

    def prefix_counts(self) -> list[int]:
        out, n = [], 0
        for s in self.batch_sizes:
            n += s
            out.append(n)
        return out

    def expect(self) -> pd.DataFrame:
        out = self.rows[self.COLS].copy()
        out["doc_id"] = out["doc_id"].astype("int64")
        out["n_chars"] = out["n_chars"].astype("int64")
        return out
