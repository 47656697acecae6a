"""The benchmark's input generator: seeded, and doing what it intends.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import filecmp
import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(p, d) for p in glob.glob(os.path.join(d, "**", "*"), recursive=True) if os.path.isfile(p))


def _same_tree(a: str, b: str) -> bool:
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


def test_catalog_same_seed_same_files(tmp_path):
    gen.write_catalog(str(tmp_path / "a"), seed=5, sf=0.001)
    gen.write_catalog(str(tmp_path / "b"), seed=5, sf=0.001)
    gen.write_catalog(str(tmp_path / "c"), seed=6, sf=0.001)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_catalog_shapes_match_the_fixture_schemas(tmp_path):
    counts = gen.write_catalog(str(tmp_path), seed=1, sf=0.01)
    assert counts["lineitem"] == 60_000 and counts["orders"] == 15_000
    assert counts["region"] == 5 and counts["nation"] == 25
    for name in counts:
        f = pq.ParquetFile(tmp_path / f"{name}.parquet")
        assert f.metadata.num_row_groups == 1
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    planted = [d for d in docs if d["text"].endswith(" dup")]
    assert 0.02 < len(planted) / len(docs) < 0.10
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    emb = np.array(pq.read_table(tmp_path / "embeddings.parquet")["embedding"].to_pylist())
    assert emb.shape[1] == 64
    np.testing.assert_allclose(np.linalg.norm(emb, axis=1), 1.0, rtol=1e-5)


def test_listview_same_seed_same_files(tmp_path):
    p1 = gen.write_listview(str(tmp_path / "a"), seed=9, n_rows=3000, n_list=400)
    p2 = gen.write_listview(str(tmp_path / "b"), seed=9, n_rows=3000, n_list=400)
    p3 = gen.write_listview(str(tmp_path / "c"), seed=10, n_rows=3000, n_list=400)
    assert p1 == p2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert p1 != p3


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_listview_plan_recomputed_from_files(tmp_path, seed):
    """Counts and truncation boundaries, recomputed from the written
    files alone, match what the generator says it intended."""
    n_rows, n_list = 5000, 700
    plan = gen.write_listview(str(tmp_path), seed=seed, n_rows=n_rows, n_list=n_list)
    assert json.loads((tmp_path / "plan.json").read_text()) == plan.__dict__

    lv = pq.read_table(tmp_path / "listview").sort_by("row_ord").to_pydict()
    assert lv["row_ord"] == list(range(1, n_rows + 1))
    assert len(set(lv["row_id"])) == n_rows
    visible = sum(lv["visible"])
    applied_rows = [
        v and e and not r for v, e, r in zip(lv["visible"], lv["editable"], lv["readonly"])
    ]
    assert plan.rows == n_rows
    assert plan.visible == visible
    assert plan.applied == sum(applied_rows)
    assert plan.skipped == visible - sum(applied_rows)
    # FIXTURES.md §B proportions
    assert abs(1 - visible / n_rows - 0.30) < 0.03
    assert abs(sum(lv["readonly"]) / n_rows - 0.10) < 0.02
    assert abs(1 - sum(lv["editable"]) / n_rows - 0.05) < 0.015

    # pasted blob: blank lines present and dropped; fewer values than rows
    lines = (tmp_path / "pasted.txt").read_text().split("\n")
    kept = [line for line in lines if line.strip()]
    assert len(kept) < len(lines) - 1  # some blank lines besides the trailing one
    assert plan.list_values == len(kept) == n_list < visible

    # values table: more values than visible rows
    zv = pq.read_table(tmp_path / "zip_values.parquet").to_pydict()
    assert zv["ord"] == list(range(1, len(zv["ord"]) + 1))
    assert plan.zip_values == len(zv["ord"]) > visible

    # truncation boundary: the i-th visible row takes value i while values last
    vis_ord, list_applied, zip_applied = 0, 0, 0
    for is_visible, is_applied in zip(lv["visible"], applied_rows):
        vis_ord += is_visible
        if is_applied:
            list_applied += vis_ord <= len(kept)
            zip_applied += vis_ord <= len(zv["ord"])
    assert plan.list_applied == list_applied
    assert plan.zip_applied == zip_applied == plan.applied
    assert 0 < plan.list_applied < plan.applied
