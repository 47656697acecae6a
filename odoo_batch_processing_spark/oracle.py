"""Self-check harness mirroring the driver's DuckDB-oracle comparison.

The driver runs every ``queries()`` entry at sf0.01 and compares it to
``oracle_sql()`` via DuckDB on row-count + schema + order-insensitive
value-hash. This module reproduces that gate locally so a mismatch is
caught before the round ends — and, unlike a bare hash, reports WHERE
the results diverge (first differing row, max float delta).

Comparison normalization: columns sorted by name (the driver sorts by
column name before hashing), rows sorted by their full value tuple,
floats compared exactly (the engine's determinism policy — decimal
aggregation surfaced as double — is designed to make exact equality
hold; see functions/exprs.py).
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from odoo_batch_processing_spark.schemas import TABLE_NAMES
from odoo_batch_processing_spark.session import release_materialized


def duckdb_connection(sf_dir: str):
    """A DuckDB connection with every fixture registered as a view —
    the same pre-registration the driver's harness performs."""
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        return float(v)
    if isinstance(v, int):
        return int(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, _dt.date):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, bytes):
        return v
    # numpy scalars and Decimal
    if hasattr(v, "item"):
        return _norm_value(v.item())
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v) if not isinstance(v, str) else v


def _rows_sorted(columns, rows):
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(row[i]) for i in idx) for row in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [columns[i] for i in idx], out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    issues: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for issue in self.issues:
            msg += f"\n       - {issue}"
        return msg


def compare(name: str, spark_df: DataFrame, con, sql: str) -> CompareResult:
    """Run both sides and diff them the way the driver does."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(sql)
    o_cols = [d[0] for d in rel.description]
    o_rows = rel.fetchall()

    issues: list[str] = []
    if sorted(s_cols) != sorted(o_cols):
        issues.append(f"schema mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
    # Spark can't produce DECIMAL/HUGEINT result columns unless asked;
    # a Decimal or int128-ranged value in the oracle output means the
    # SQL is missing a CAST (e.g. DuckDB SUM(BIGINT) → HUGEINT,
    # quantile over DECIMAL → DECIMAL) and the driver's stricter
    # schema compare would flag it even though values coerce equal.
    if o_rows:
        import decimal

        for j, v in enumerate(o_rows[0]):
            if isinstance(v, decimal.Decimal):
                issues.append(
                    f"oracle column {o_cols[j]!r} is DECIMAL — add a CAST (driver schema check would fail)"
                )
            if isinstance(v, int) and abs(v) > 2**63 - 1:
                issues.append(f"oracle column {o_cols[j]!r} overflows BIGINT (HUGEINT?)")
    if len(s_rows) != len(o_rows):
        issues.append(f"row count mismatch: {len(s_rows)} vs {len(o_rows)}")
    if not issues:
        _, s_sorted = _rows_sorted(s_cols, s_rows)
        _, o_sorted = _rows_sorted(o_cols, o_rows)
        n_bad = 0
        max_float_delta = 0.0
        first_bad = None
        for i, (a, b) in enumerate(zip(s_sorted, o_sorted)):
            if a != b:
                n_bad += 1
                if first_bad is None:
                    first_bad = (i, a, b)
                for x, y in zip(a, b):
                    if isinstance(x, float) and isinstance(y, float) and not (
                        math.isnan(x) and math.isnan(y)
                    ):
                        max_float_delta = max(max_float_delta, abs(x - y))
        if n_bad:
            issues.append(
                f"{n_bad}/{len(s_sorted)} rows differ; first at #{first_bad[0]}:\n"
                f"         spark : {first_bad[1]}\n"
                f"         oracle: {first_bad[2]}\n"
                f"         max float delta: {max_float_delta:.3e}"
            )
    return CompareResult(name, not issues, len(s_rows), len(o_rows), issues)


def check_all(
    spark: SparkSession,
    sf_dir: str,
    only: list[str] | None = None,
    extended: bool = False,
) -> list[CompareResult]:
    """Run registered queries against their oracles at ``sf_dir``.

    ``extended=False`` sweeps the driver-facing ``registry.CORE``;
    ``extended=True`` sweeps the whole catalog. Explicit ``only`` names
    resolve against the full (extended) catalog either way.
    """
    from odoo_batch_processing_spark.registry import all_oracles, all_queries

    queries = all_queries(extended=extended or bool(only))
    oracles = all_oracles(extended=extended or bool(only))
    if only:
        unknown = set(only) - set(queries)
        if unknown:
            raise KeyError(f"unknown query name(s): {sorted(unknown)}")
    con = duckdb_connection(sf_dir)
    results = []
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        # release persisted intermediates (session.materialize_once)
        # between queries: a 120-query sweep would otherwise pin a
        # cached relation per dedup/curation/x4 query in executor
        # storage for the whole run (release_materialized also drains
        # the tracking list so it can't grow across the sweep)
        release_materialized()
        spark.catalog.clearCache()
        if name not in oracles:
            df = fn(spark, sf_dir)
            n = df.count()
            results.append(CompareResult(name, True, n, -1, ["rows-only (no oracle)"]))
            continue
        try:
            results.append(compare(name, fn(spark, sf_dir), con, oracles[name]))
        except Exception as exc:  # surface, keep checking the rest
            results.append(CompareResult(name, False, -1, -1, [f"exception: {exc!r}"]))
    return results
