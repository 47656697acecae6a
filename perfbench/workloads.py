"""The benchmark's workloads: inputs, ops and correctness checks.

Each workload stages seeded inputs, then exposes a list of ops. An op
runs through :class:`spans.Recorder` phases (``build`` / ``drain`` /
``commit``) and returns an :class:`Outcome`; ``check`` compares the
outcome with what the warm-up (oracle) pass established. The catalog
workloads reuse ``bench.drain``, ``oracle.compare`` and
``registry.all_queries()`` rather than copies of them.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import bench
from pyspark.sql import functions as F

from odoo_batch_processing_spark import oracle, registry
from odoo_batch_processing_spark.operators.bulk_update import (
    bulk_update_run,
    parse_multiline,
    zip_join_update,
)
from odoo_batch_processing_spark.sources.sinks import merge_into_partitioned

from perfbench import gen

#: scale factor of the generated catalog tables (lineitem = 60k rows)
CATALOG_SF = 0.01

#: batch core queries timed by ``catalog_batch``: a six-way TPC-H join
#: (scan, shuffle and Catalyst), a standing MinHash index probe (pins
#: intermediates with ``session.materialize_once``) and a text-statistics
#: pipeline (expression building in ``functions``/``operators``)
BATCH_QUERIES = (
    "q09_profit_by_nation_year",
    "x3_minhash_indexed",
    "x5_gopher_repetition",
    "s_r18_throttled_update",
)

#: listview size and pasted-list length of ``bulk_update_listview``
LISTVIEW_ROWS = 50_000
LISTVIEW_LIST = 2_000


@dataclass
class Outcome:
    rows: int  # result rows drained, or listview rows updated and committed
    digest: tuple = ()
    extra: dict = field(default_factory=dict)


def drain_hash(df):
    """``bench.drain`` plus the hash it computes (and then discards): the
    drain's own ``collect`` is observed, so the drain is not re-implemented.
    Returns (rows, hash, the DataFrame the drain collected)."""
    seen = []
    cls = type(df)
    collect = cls.collect

    def observed(self):
        rows = collect(self)
        seen.append((self, rows))
        return rows

    cls.collect = observed
    try:
        n = bench.drain(df)
    finally:
        cls.collect = collect
    drained, rows = seen[-1]
    return n, rows[0]["h"], drained


# ---------------------------------------------------------------------------
# catalog workloads
# ---------------------------------------------------------------------------
class CatalogQuery:
    def __init__(self, wl: "CatalogWorkload", name: str, fn):
        self.wl, self.name, self.fn = wl, name, fn

    def run(self, rec) -> Outcome:
        with rec.phase("build"):
            df = self.fn(self.wl.spark, self.wl.sf_dir)
        with rec.phase("drain"):
            n, h, drained = drain_hash(df)
        rec.catalyst(drained)
        return Outcome(rows=n, digest=(n, h), extra={"df": df})


class CatalogWorkload:
    """Core catalog queries over a seeded sf0.01-shaped table set."""

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name = name
        self.queries = queries
        self.expected: dict[str, tuple] = {}
        self.oracle_issues: dict[str, list[str]] = {}

    def stage(self, spark, work_dir: str, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(work_dir, "catalog")
        gen.write_catalog(self.sf_dir, seed, CATALOG_SF)
        catalog = registry.all_queries()
        self._ops = [CatalogQuery(self, q, catalog[q]) for q in self.queries]

    def ops(self, pass_id: int) -> list:
        """The pass's ops, in a seeded order."""
        order = list(self._ops)
        random.Random(self.seed * 1_000_003 + pass_id).shuffle(order)
        return order

    def oracle_check(self, op, outcome: Outcome) -> None:
        """Warm-up only: compare the op's result with its DuckDB oracle
        and remember its drain digest for the timed passes."""
        self.expected[op.name] = outcome.digest
        sql = registry.all_oracles().get(op.name)
        if sql is None:
            self.oracle_issues[op.name] = ["no oracle SQL"]
            return
        con = oracle.duckdb_connection(self.sf_dir)
        try:
            res = oracle.compare(op.name, outcome.extra["df"], con, sql)
        finally:
            con.close()
        if not res.ok:
            self.oracle_issues[op.name] = res.issues

    def check(self, op, outcome: Outcome) -> bool:
        return op.name not in self.oracle_issues and outcome.digest == self.expected.get(op.name)


# ---------------------------------------------------------------------------
# bulk_update_listview
# ---------------------------------------------------------------------------
class BulkOp:
    """One of the paper's bulk edits of the list view — a constant, a
    pasted value list or a table-sized positional zip — committed to the
    partitioned target."""

    def __init__(self, wl: "ListviewWorkload", name: str):
        self.wl, self.name = wl, name

    def run(self, rec) -> Outcome:
        wl, lv, plan = self.wl, self.wl.listview, self.wl.plan
        vis, edit, ro = F.col("visible"), F.col("editable"), F.col("readonly")
        extra: dict = {}
        with rec.phase("build"):
            if self.name == "constant":
                res = bulk_update_run(lv, "name", gen.CONST_NAME, ["row_ord"], vis, edit, ro)
                updated, rows, extra = res.updated, plan.applied, _counts(res)
            elif self.name == "pasted_list":
                t0 = time.perf_counter()
                values = parse_multiline(wl.blob)
                parse_s = time.perf_counter() - t0
                res = bulk_update_run(
                    lv, "qty", values, ["row_ord"], vis, edit, ro, spark=wl.spark
                )
                updated, rows = res.updated, plan.list_applied
                extra = dict(_counts(res), parse_s=parse_s, n_values=len(values))
            else:
                updated = zip_join_update(
                    lv,
                    ["row_ord"],
                    "partner_id",
                    wl.zip_values,
                    ["ord"],
                    "v",
                    visible=vis,
                    apply_when=edit & ~ro,
                )
                rows = plan.zip_applied
        with rec.phase("commit"):
            merge_into_partitioned(
                wl.spark,
                wl.target,
                updated.filter(vis & edit & ~ro),
                key="row_id",
                partition_by="part",
            )
        rec.current["counters"].update(
            rows_updated=rows, visible=plan.visible, parse_s=extra.get("parse_s", 0.0)
        )
        return Outcome(rows=rows, extra=extra)


def _counts(res) -> dict:
    return {
        "all_rows": res.all_rows,
        "visible_rows": res.visible_rows,
        "success_count": res.success_count,
        "skipped_count": res.skipped_count,
        "outcome": res.outcome,
    }


class ListviewWorkload:
    """The paper's bulk update on a seeded list view, committed to a
    partitioned parquet target."""

    name = "bulk_update_listview"

    def __init__(self, n_rows: int = LISTVIEW_ROWS, n_list: int = LISTVIEW_LIST):
        self.n_rows, self.n_list = n_rows, n_list
        self._expected: dict[str, tuple] = {}

    def stage(self, spark, work_dir: str, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.dir = os.path.join(work_dir, "listview")
        self.plan = gen.write_listview(self.dir, seed, self.n_rows, self.n_list)
        with open(os.path.join(self.dir, "pasted.txt")) as fh:
            self.blob = fh.read()
        lv_dir = os.path.join(self.dir, "listview")
        self.listview = spark.read.parquet(lv_dir)
        self.zip_values = spark.read.parquet(os.path.join(self.dir, "zip_values.parquet"))
        self.target = os.path.join(self.dir, "target")
        self.listview.write.partitionBy("part").parquet(self.target)
        self._ops = [
            BulkOp(self, n) for n in ("constant", "pasted_list", "zip_values")
        ]
        lv_bytes = sum(e.stat().st_size for e in os.scandir(lv_dir))
        self.bytes_per_row = lv_bytes / max(1, self.n_rows)

    def ops(self, pass_id: int) -> list:
        order = list(self._ops)
        random.Random(self.seed * 1_000_003 + pass_id).shuffle(order)
        return order

    def oracle_check(self, op, outcome: Outcome) -> None:
        pass  # every op is checked against DuckDB in check()

    def check(self, op, outcome: Outcome) -> bool:
        p, x = self.plan, outcome.extra
        if "success_count" in x and (
            x["all_rows"],
            x["visible_rows"],
            x["success_count"],
            x["skipped_count"],
            x["outcome"],
        ) != (p.rows, p.visible, p.applied, p.skipped, "success"):
            return False
        if "n_values" in x and x["n_values"] != p.list_values:
            return False
        return self.read_back() == self.expected_state(op.name)

    def read_back(self) -> tuple:
        r = self.spark.read.parquet(self.target).agg(*_checksum_cols()).first()
        return tuple(int(v or 0) for v in r)

    def expected_state(self, op_name: str) -> tuple:
        """Target checksums after ``op_name`` committed, from DuckDB SQL
        over the generated files (every op commits the full set of
        applied rows from the generated list view, so the target after
        an op depends on that op alone)."""
        if op_name not in self._expected:
            import duckdb

            con = duckdb.connect()
            try:
                row = con.execute(_expected_sql(self.dir, op_name)).fetchone()
            finally:
                con.close()
            self._expected[op_name] = tuple(int(v or 0) for v in row)
        return self._expected[op_name]


def _checksum_cols():
    name_hit = F.col("name") == F.lit(gen.CONST_NAME)
    return [
        F.count(F.lit(1)),
        F.sum("qty"),
        F.sum("partner_id"),
        F.sum(F.when(name_hit, F.col("row_id"))),
        F.sum(F.col("row_id") * F.col("qty")),
        F.sum(F.col("row_id") * F.col("partner_id")),
    ]


def _expected_sql(d: str, op_name: str) -> str:
    name = f"CASE WHEN applied THEN '{gen.CONST_NAME}' ELSE name END" if op_name == "constant" else "name"
    qty = (
        "CASE WHEN applied AND p.line IS NOT NULL THEN CAST(p.line AS INTEGER) ELSE qty END"
        if op_name == "pasted_list"
        else "qty"
    )
    partner = (
        "CASE WHEN applied AND z.v IS NOT NULL THEN z.v ELSE partner_id END"
        if op_name == "zip_values"
        else "partner_id"
    )
    return f"""
    WITH lv AS (
        SELECT *, visible AND editable AND NOT readonly AS applied,
               CASE WHEN visible THEN
                   sum(visible::INTEGER) OVER (ORDER BY row_ord ROWS UNBOUNDED PRECEDING)
               END AS vo
        FROM read_parquet('{d}/listview/*.parquet')),
    lines AS (
        SELECT unnest(l) AS line, generate_subscripts(l, 1) AS i
        FROM (SELECT string_split(content, chr(10)) AS l FROM read_text('{d}/pasted.txt'))),
    pasted AS (
        SELECT row_number() OVER (ORDER BY i) AS ord, line FROM lines WHERE trim(line) <> ''),
    st AS (
        SELECT row_id, {name} AS name, {qty} AS qty, {partner} AS partner_id
        FROM lv
        LEFT JOIN pasted p ON p.ord = lv.vo
        LEFT JOIN read_parquet('{d}/zip_values.parquet') z ON z.ord = lv.vo)
    SELECT count(*), sum(qty), sum(partner_id),
           sum(CASE WHEN name = '{gen.CONST_NAME}' THEN row_id END),
           sum(row_id * qty), sum(row_id * partner_id)
    FROM st"""


WORKLOADS = {
    "catalog_batch": lambda: CatalogWorkload("catalog_batch", BATCH_QUERIES),
    "bulk_update_listview": ListviewWorkload,
}
