"""Seeded input generators for the benchmark (numpy + pyarrow only).

Two families, both pure functions of ``seed``:

* :func:`write_catalog` — the ten fixture tables the catalog queries
  read (``schemas.TABLE_NAMES``), shaped like the repository's test
  fixtures (FIXTURES.md §A): same columns, types, key ranges, categorical
  vocabularies and per-scale-factor row counts, one row group per
  file, plus ~5% planted near-duplicate documents.
* :func:`write_listview` — one Odoo list view (FIXTURES.md §B:
  ~30% hidden, ~10% readonly, ~5% non-editable) with the value inputs
  the three bulk-update ops consume: a pasted multi-line blob (blank
  lines, fewer values than visible rows) and a values table with more
  values than visible rows. The intended outcome of every op is
  computed here from the same arrays and returned as a
  :class:`ListviewPlan`; ``perfbench/tests/test_gen.py`` recomputes it
  independently from the written files.

Nothing here imports the program under test: the generator must not
share code with what it checks.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the fixtures (FIXTURES.md §A): scans of
    # these tables are single-task, which is a property the catalog is tuned for
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _keyed(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()])


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (lineitem ≈ 6M·sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(50, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _keyed("Customer#", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _keyed("Supplier#", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, STATUSES, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US, pa.timestamp("us")
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(
                _EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US, pa.timestamp("us")
            ),
        }
    )
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))]
            texts.append(" ".join(words.tolist()))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def write_catalog(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# listview
# ---------------------------------------------------------------------------
#: partition count of the committed target (the ``part`` column)
TARGET_PARTS = 4
#: files the generated list view is split into
LISTVIEW_FILES = 4
#: the constant op's value for the ``name`` column
CONST_NAME = "bulk-updated"


@dataclass
class ListviewPlan:
    """What the generator intends each op to do. Every count is over
    the listview as generated (ops touch disjoint columns, so one op's
    guards never depend on another op's writes)."""

    rows: int
    visible: int
    applied: int  # visible & editable & not readonly
    skipped: int  # visible but guarded
    list_values: int  # non-blank lines of the pasted blob
    list_applied: int  # applied rows whose visible ordinal <= list_values
    zip_values: int  # rows of the values table
    zip_applied: int  # applied rows whose visible ordinal <= zip_values


def listview_arrays(seed: int, n_rows: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, 2])
    # distinct, shuffled record ids: row_ord (DOM position) and row_id
    # (record identity) are unrelated, as in a sorted Odoo list view
    row_id = rng.permutation(n_rows).astype(np.int64) * 7 + 13
    return {
        "row_ord": np.arange(1, n_rows + 1, dtype=np.int64),
        "row_id": row_id,
        "visible": rng.random(n_rows) < 0.70,
        "editable": rng.random(n_rows) < 0.95,
        "readonly": rng.random(n_rows) < 0.10,
        "qty": rng.integers(0, 100, n_rows).astype(np.int32),
        "active": rng.random(n_rows) < 0.5,
        "partner_id": rng.integers(0, 50, n_rows).astype(np.int64),
        "part": (row_id % TARGET_PARTS).astype(np.int32),
    }


def write_listview(out_dir: str, seed: int, n_rows: int, n_list: int) -> ListviewPlan:
    """Write ``listview/part-*.parquet``, ``pasted.txt`` (the multi-line
    blob) and ``zip_values.parquet`` under ``out_dir``, plus ``plan.json``."""
    os.makedirs(out_dir, exist_ok=True)
    a = listview_arrays(seed, n_rows)
    rng = np.random.default_rng([seed, 3])
    lv = pa.table(
        {
            "row_ord": a["row_ord"],
            "row_id": a["row_id"],
            "visible": a["visible"],
            "editable": a["editable"],
            "readonly": a["readonly"],
            "name": pa.array([f"rec_{r}" for r in a["row_id"].tolist()]),
            "qty": a["qty"],
            "active": a["active"],
            "partner_id": a["partner_id"],
            "part": a["part"],
        }
    )
    # several files, as a list view exported page by page, so that its scan
    # is not a single task (Spark does not split a small parquet file)
    lv_dir = os.path.join(out_dir, "listview")
    os.makedirs(lv_dir, exist_ok=True)
    step = -(-n_rows // LISTVIEW_FILES)
    for i in range(LISTVIEW_FILES):
        _write(lv.slice(i * step, step), os.path.join(lv_dir, f"part-{i:05d}.parquet"))

    # pasted blob: n_list numeric lines with ~10% blank / whitespace-only
    # lines mixed in (dropped by the parse) and a trailing newline
    lines: list[str] = []
    for v in rng.integers(100, 10_000, n_list).tolist():
        if rng.random() < 0.10:
            lines.append(" " * int(rng.integers(0, 3)))
        lines.append(str(v))
    with open(os.path.join(out_dir, "pasted.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    visible = int(a["visible"].sum())
    # values table longer than the visible rows: the surplus is dropped
    n_zip = visible + int(rng.integers(1, max(2, visible // 10)))
    pq.write_table(
        pa.table(
            {
                "ord": np.arange(1, n_zip + 1, dtype=np.int64),
                "v": rng.integers(1000, 50_000, n_zip).astype(np.int64),
            }
        ),
        os.path.join(out_dir, "zip_values.parquet"),
    )

    applied = a["visible"] & a["editable"] & ~a["readonly"]
    vis_ord = np.cumsum(a["visible"])  # 1-based ordinal among visible rows
    plan = ListviewPlan(
        rows=n_rows,
        visible=visible,
        applied=int(applied.sum()),
        skipped=int((a["visible"] & ~applied).sum()),
        list_values=n_list,
        list_applied=int((applied & (vis_ord <= n_list)).sum()),
        zip_values=n_zip,
        zip_applied=int((applied & (vis_ord <= n_zip)).sum()),
    )
    with open(os.path.join(out_dir, "plan.json"), "w") as fh:
        json.dump(asdict(plan), fh, sort_keys=True)
    return plan
