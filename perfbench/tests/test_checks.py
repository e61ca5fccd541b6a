"""Every output check accepts the right answer and rejects a corrupted one."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks


def test_frames_match_is_order_insensitive_and_rejects_corruption():
    want = pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.25]})
    got = pd.DataFrame({"v": [2.25, 1.5], "k": ["b", "a"]})
    assert checks.frames_match(got, want) is None
    bad = got.copy()
    bad.loc[0, "v"] = 2.2501
    assert checks.frames_match(bad, want) is not None
    assert checks.frames_match(got.iloc[:1], want) is not None
    assert checks.frames_match(got.rename(columns={"v": "w"}), want) is not None


@pytest.fixture()
def flat_ivf(tmp_path):
    """A two-cell flat IVF layout, as a fresh build writes it."""
    root = tmp_path / "ivf"
    cent = pa.table({"cell": pa.array([0, 1], pa.int32()),
                     "centroid": [[1.0, 0.0], [0.0, 1.0]]})
    os.makedirs(root / "centroids")
    pq.write_table(cent, root / "centroids" / "part-0.parquet")
    cells = {0: [(1, [1.0, 0.1]), (2, [0.9, 0.3])], 1: [(3, [0.1, 1.0]), (4, [0.2, 0.8])]}
    for c, rows in cells.items():
        os.makedirs(root / "cells" / f"cell={c}")
        pq.write_table(
            pa.table({"vec_id": [r[0] for r in rows], "arr": [r[1] for r in rows]}),
            root / "cells" / f"cell={c}" / "part-0.parquet",
        )
    (root / "ivfmeta.json").write_text(json.dumps({"recommend": {"n_probe": 1}}))
    return str(root)


def test_ivf_reference_probes_only_the_nearest_cells(flat_ivf):
    assert checks.index_version(flat_ivf) == 0
    assert checks.ivf_cell_ids(flat_ivf, 0) == {1, 2, 3, 4}
    ref = checks.ivf_reference(flat_ivf, 0, [1.0, 0.05], k=3)
    assert [i for i, _ in ref] == [1, 2]  # n_probe=1: cell 0 only
    q = np.array([1.0, 0.05])
    a = np.array([0.9, 0.3])
    assert ref[1][1] == round(float(a @ q / np.linalg.norm(a) / np.linalg.norm(q)), 6)


def test_topk_check_rejects_wrong_ids_and_scores(flat_ivf):
    ref = checks.ivf_reference(flat_ivf, 0, [1.0, 0.05], k=2)
    assert checks.topk_matches(list(ref), ref, 1.5e-6) is None
    assert checks.topk_matches([(ref[0][0], ref[0][1] + 1e-4), ref[1]], ref, 1.5e-6)
    assert checks.topk_matches([ref[0], (3, ref[1][1] - 0.2)], ref, 1.5e-6)
    assert checks.topk_matches([ref[0], (9, ref[1][1])], ref, 1.5e-6) is None  # a tie
    assert checks.topk_matches(ref[:1], ref, 1.5e-6)


def test_ivf_view_reads_a_committed_manifest(flat_ivf):
    os.makedirs(os.path.join(flat_ivf, "_index_log"))
    with open(os.path.join(flat_ivf, "_index_log", "v1.json"), "w") as f:
        json.dump({"version": 1, "centroids": "centroids",
                   "cells": {"1": "cells/cell=1"}, "recommend": {"n_probe": 2}}, f)
    assert checks.index_version(flat_ivf) == 1
    assert checks.ivf_cell_ids(flat_ivf, 1) == {3, 4}
    assert [i for i, _ in checks.ivf_reference(flat_ivf, 1, [0.0, 1.0], k=5)] == [3, 4]


def test_bm25_reference_formula_and_rejection():
    corpus = {1: "a b a", 2: "b c", 3: "c c c d"}
    ref = checks.bm25_reference(corpus, ["a", "c"], k=10)
    n, avgdl = 3, 3.0

    def term(tf, df, dl):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    want = sorted([(1, round(term(2, 1, 3), 6)), (2, round(term(1, 2, 2), 6)),
                   (3, round(term(3, 2, 4), 6))], key=lambda c: (-c[1], c[0]))
    assert ref == want
    assert checks.topk_matches(ref, want, 1.5e-6) is None
    assert checks.topk_matches(list(reversed(ref)), want, 1.5e-6)
    assert checks.bm25_reference(corpus, ["zzz"], k=10) == []


def test_score_check_rejects_a_perturbed_probability():
    got = {"prediction": 1, "p_approve": 0.8123456789}
    assert checks.score_matches(got, 1, 0.8123456789) is None
    assert checks.score_matches(got, 1, 0.8123456789 + 1e-8)
    assert checks.score_matches(got, 0, 0.8123456789)


def test_versioned_model_tracks_appends_and_upserts_and_rejects_corruption(tmp_path):
    src = tmp_path / "src.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3, 4], "day": [1, 1, 2, 3], "v": [1.0, 2.0, 3.0, 4.0]}),
                   src)
    con = checks.duckdb.connect()
    con.sql(f"CREATE VIEW src AS SELECT * FROM '{src}'")
    model = checks.VersionedModel(con, "src", "day <= 1", "k")
    model.append("day = 2")
    model.upsert(pd.DataFrame({"k": [2, 9], "day": [1, 1], "v": [20.0, 9.0]}))

    def snapshot(name, rows):
        path = tmp_path / name
        pq.write_table(pa.table({"k": [r[0] for r in rows], "day": [r[1] for r in rows],
                                 "v": [r[2] for r in rows]}), path)
        return [str(path)]

    good = [(1, 1, 1.0), (2, 1, 20.0), (3, 2, 3.0), (9, 1, 9.0)]
    assert model.matches(snapshot("a.parquet", good[:2]) + snapshot("b.parquet", good[2:])) is None
    assert model.matches(snapshot("c.parquet", good[:3]))  # a row missing
    assert model.matches(snapshot("d.parquet", good[:3] + [(9, 1, 9.5)]))  # a changed value
    assert model.matches(snapshot("e.parquet", good + [(3, 2, 3.0)]))  # a duplicate
    assert model.matches([])
