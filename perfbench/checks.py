"""Independent output checks. Each one derives the expected answer
without the engine code path under test, and all of them run after the
timed phase.

- Registry queries: the query's DuckDB oracle twin, compared
  order-insensitively (a copy of the repository's oracle compare, kept
  here so the benchmark's checks cannot drift with the test suite).
- IVF probes: numpy top-k over the probed cells, read with pyarrow from
  the index snapshot the probe saw.
- BM25 probes: a pure-Python BM25 over the corpus the probe saw, with
  the engine's formula (k1=1.2, b=0.75, single-space tokens, scores
  rounded to 6 places, ties by ascending id).
- Loan scoring: ``p_approve`` against MLlib's batch ``transform`` of the
  same record, within 1e-9 (the batch frame is built by the workload).
- Versioned tables: a DuckDB model of the table, built from the source
  parquet with the same appends and upserts applied; a committed
  snapshot must have the model's row count and digest.
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


# -- registry queries ------------------------------------------------------
def duck_connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return f"{v:.6f}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        tuple(_canon_value(v) for v in row) for row in df[cols].itertuples(index=False)
    )


def _cells_close(a: str, b: str) -> bool:
    if a == b:
        return True
    try:
        fa, fb = float(a), float(b)
    except ValueError:
        return False
    return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a multiset of rows (column
    names, row count, values with a 1e-9 numeric tolerance)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = canonical_rows(got), canonical_rows(want)
    if g == w:
        return None
    for a, b in zip(g, w):
        if not all(_cells_close(x, y) for x, y in zip(a, b)):
            return f"row {a} != {b}"
    return None


class VersionedModel:
    """A DuckDB model of a versioned table: the rows of source view
    ``table`` that satisfy ``start``, then the same appends and upserts
    the workload commits."""

    def __init__(self, con: duckdb.DuckDBPyConnection, table: str, start: str, key: str) -> None:
        self.con, self.table, self.key = con, table, key
        con.sql(f"CREATE TABLE model AS SELECT * FROM {table} WHERE {start}")
        self.columns = [r[0] for r in con.sql("DESCRIBE model").fetchall()]

    def append(self, where: str) -> None:
        self.con.sql(f"INSERT INTO model SELECT * FROM {self.table} WHERE {where}")

    def upsert(self, rows: pd.DataFrame) -> None:
        """Replace the rows whose key is in ``rows`` and insert the rest."""
        self.con.register("batch", rows)
        try:
            self.con.sql(f"DELETE FROM model WHERE {self.key} IN (SELECT {self.key} FROM batch)")
            cols = ", ".join(self.columns)
            self.con.sql(f"INSERT INTO model ({cols}) SELECT {cols} FROM batch")
        finally:
            self.con.unregister("batch")

    def query(self, sql: str) -> pd.DataFrame:
        """``sql`` over the model, which it names ``model``."""
        return self.con.sql(sql).df()

    def digest(self, relation: str) -> tuple[int, int]:
        """Row count and an order-insensitive digest of every column."""
        cells = ", ".join(f"CAST({c} AS VARCHAR)" for c in self.columns)
        n, h = self.con.sql(f"SELECT count(*), sum(hash({cells})) FROM {relation}").fetchone()
        return int(n), int(h or 0)

    def matches(self, files: list[str]) -> str | None:
        """None when the parquet ``files`` of a snapshot hold exactly the
        model's rows."""
        if not files:
            return "snapshot has no files"
        listed = ", ".join(f"'{f}'" for f in files)
        got = self.digest(f"read_parquet([{listed}], union_by_name = true)")
        want = self.digest("model")
        if got != want:
            return f"snapshot holds {got[0]} rows (digest {got[1]}), model {want[0]} ({want[1]})"
        return None


# -- IVF ---------------------------------------------------------------------
def index_version(path: str) -> int:
    """Latest committed manifest version of an index; 0 for a flat build."""
    log = os.path.join(path, "_index_log")
    if not os.path.isdir(log):
        return 0
    vs = [int(n[1:-5]) for n in os.listdir(log) if n.startswith("v") and n.endswith(".json")]
    return max(vs, default=0)


def ivf_view(path: str, version: int) -> dict:
    """The IVF snapshot at ``version``: {centroids, cells: {cell: rel},
    n_probe} with paths relative to the index root."""
    if version == 0:
        cells = {
            d.split("=", 1)[1]: f"cells/{d}"
            for d in os.listdir(os.path.join(path, "cells"))
            if d.startswith("cell=")
        }
        doc = {"centroids": "centroids", "cells": cells}
        sidecar = os.path.join(path, "ivfmeta.json")
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                doc.update(json.load(f))
    else:
        with open(os.path.join(path, "_index_log", f"v{version}.json")) as f:
            doc = json.load(f)
    n_probe = int(doc.get("recommend", {}).get("n_probe", 6))
    return {"centroids": doc["centroids"], "cells": doc["cells"], "n_probe": n_probe}


def ivf_cell_ids(path: str, version: int) -> set[int]:
    view = ivf_view(path, version)
    out: set[int] = set()
    for rel in view["cells"].values():
        out.update(pq.read_table(os.path.join(path, rel), columns=["vec_id"])["vec_id"].to_pylist())
    return out


def ivf_reference(path: str, version: int, qvec: list[float], k: int) -> list[tuple[int, float]]:
    """Exact cosine top-k within the cells the probe ranks first."""
    view = ivf_view(path, version)
    cent = pq.read_table(os.path.join(path, view["centroids"])).to_pydict()
    q = np.asarray(qvec, dtype=np.float64)
    order = sorted(
        zip(cent["cell"], cent["centroid"]),
        key=lambda cc: (float(((np.asarray(cc[1]) - q) ** 2).sum()), cc[0]),
    )
    cands: list[tuple[int, float]] = []
    for cell, _ in order[: view["n_probe"]]:
        rel = view["cells"].get(str(cell))
        if rel is None:
            continue
        t = pq.read_table(os.path.join(path, rel), columns=["vec_id", "arr"]).to_pydict()
        for vid, arr in zip(t["vec_id"], t["arr"]):
            a = np.asarray(arr, dtype=np.float64)
            cos = float(a @ q / (np.linalg.norm(a) * np.linalg.norm(q)))
            cands.append((int(vid), round(cos, 6)))
    cands.sort(key=lambda c: (-c[1], c[0]))
    return cands[:k]


def topk_matches(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 tol: float) -> str | None:
    """Top-k equality that tolerates reordering among (near-)tied scores:
    the score lists agree position by position, and every returned id
    carries the reference score."""
    if len(got) != len(want):
        return f"{len(got)} hits != {len(want)}"
    for (gi, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return f"score {gs} != {ws} (id {gi})"
    ref = dict(want)
    for gi, gs in got:
        if gi in ref and abs(ref[gi] - gs) > tol:
            return f"id {gi} score {gs} != {ref[gi]}"
        if gi not in ref and abs(gs - want[-1][1]) > tol:
            return f"id {gi} not in the reference top-k"
    return None


# -- loan scoring --------------------------------------------------------------
SCORE_TOL = 1e-9


def score_matches(got: dict, prediction: int, p_approve: float) -> str | None:
    """Single-row scoring against the batch transform of the same record."""
    if got["prediction"] != prediction or abs(got["p_approve"] - p_approve) > SCORE_TOL:
        return f"scored {got}, batch transform gives ({prediction}, {p_approve})"
    return None


# -- BM25 --------------------------------------------------------------------
K1, B = 1.2, 0.75


def bm25_reference(corpus: dict[int, str], terms: list[str], k: int) -> list[tuple[int, float]]:
    toks = {i: [t for t in text.strip(" ").split(" ") if t] for i, text in corpus.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    tfs = {i: Counter(t) for i, t in toks.items()}
    scores: dict[int, float] = {}
    for term in set(terms):
        df = sum(1 for c in tfs.values() if term in c)
        if df == 0:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for i, c in tfs.items():
            tf = c.get(term, 0)
            if tf:
                dl = len(toks[i])
                scores[i] = scores.get(i, 0.0) + idf * (tf * (K1 + 1.0)) / (
                    tf + K1 * (1.0 - B + B * dl / avgdl)
                )
    ranked = sorted(((i, round(s, 6)) for i, s in scores.items()), key=lambda c: (-c[1], c[0]))
    return ranked[:k]
