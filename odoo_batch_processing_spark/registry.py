"""Catalog of every implemented query and its DuckDB oracle.

``__spark_entry__.py`` (the driver contract) is a thin shim over this
module. Each operator/plan module in :data:`_MODULES` exports one
``QUERIES`` dict (name → callable(spark, sf_dir) → DataFrame) and one
``ORACLES`` dict (name → ANSI SQL for DuckDB); ops that are not
SQL-expressible appear in ``QUERIES`` only and get the driver's weaker
rows-only check.

Two tiers, decided here and nowhere else:

* **core** — the names in :data:`CORE`, in driver order. The driver's
  bounded correctness run records the first :data:`CORE_CAP` catalog
  entries, so the core covers EVERY operator family. ``all_queries()``
  and ``all_oracles()`` return exactly these entries.
* **the rest** — redundant variants and micro-queries kept
  oracle-checkable locally (``tools/oracle_check.py --extended``) and
  exercised by tests, but outside the driver's window by design.
  ``extended=True`` returns the whole catalog in ``_MODULES`` order.

Moving a query between tiers is an edit to :data:`CORE` alone.

Invariants enforced by tests/test_registry.py:
* every oracle key has a query key;
* names are unique across modules;
* every CORE name is defined, and CORE has at most CORE_CAP entries;
* every query returns a DataFrame with at least one column, and
  column names match between the Spark result and the oracle result.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    "odoo_batch_processing_spark.plans.analytics",
    "odoo_batch_processing_spark.plans.advanced",
    "odoo_batch_processing_spark.plans.tpch_rest",
    "odoo_batch_processing_spark.operators.asof",
    "odoo_batch_processing_spark.operators.scd",
    "odoo_batch_processing_spark.operators.bulk_update",
    "odoo_batch_processing_spark.operators.dedup",
    "odoo_batch_processing_spark.operators.similarity",
    "odoo_batch_processing_spark.operators.text",
    "odoo_batch_processing_spark.operators.curation",
    "odoo_batch_processing_spark.operators.jsonops",
    "odoo_batch_processing_spark.operators.windows",
    "odoo_batch_processing_spark.operators.approx",
    "odoo_batch_processing_spark.operators.setops",
    "odoo_batch_processing_spark.operators.skew",
    "odoo_batch_processing_spark.operators.grouped",
    "odoo_batch_processing_spark.operators.graph",
    "odoo_batch_processing_spark.operators.pyapi",
    "odoo_batch_processing_spark.operators.multimodal",
    "odoo_batch_processing_spark.operators.profile",
    "odoo_batch_processing_spark.operators.ivm",
    "odoo_batch_processing_spark.sources.sinks",
    "odoo_batch_processing_spark.sources.pyds",
    "odoo_batch_processing_spark.sources.layout",
    "odoo_batch_processing_spark.streaming.queries",
)


#: The driver's correctness run records exactly the first 50 catalog
#: entries; the core tier must fit inside that window.
CORE_CAP = 50

#: The driver-facing core, in driver order. Every other catalog entry
#: is reachable only through ``extended=True``.
CORE: tuple[str, ...] = (
    "q01_pricing_summary",
    "q09_profit_by_nation_year",
    "agg_grouping_sets",
    "sql_recursive_hierarchy",
    "range_join_follows",
    "pit_tier_at_purchase",
    "r02_visibility_filter",
    "r07_broadcast_update",
    "r09_zip_join_update",
    "r10_limit",
    "r16_outcome_classify",
    "x3_neardup_survivors",
    "x3_embedding_neardup",
    "x3_containment",
    "x3_minhash_indexed",
    "x4_ivf_trained_recall",
    "x4_int8_topk",
    "x4_ivf_indexed_multiprobe",
    "x5_unigram_surprisal",
    "x5_gopher_repetition",
    "x9_curation_pipeline",
    "x9_difficulty_deciles",
    "x9_crypto_shred",
    "x6_variant_shred",
    "w_rolling_median5",
    "x7_event_transitions",
    "x7_funnel_steps",
    "x8_hll_merge",
    "set_ops_chain",
    "skew_salted_agg",
    "grouped_pandas_ranks",
    "g_pagerank_simgraph",
    "mm_binary_meta",
    "mm_decode_features",
    "profile_robust_outliers",
    "dq_expectations",
    "ivm_refresh",
    "r21_merge",
    "src_jsonl_roundtrip",
    "lake_compact_roundtrip",
    "s_stream_stream_join",
    "s_x7_stream_hourly",
    "s_r18_throttled_update",
    "s_r17_progress",
    "s_r19_cancel",
    "s_stateful_totals",
    "s_stream_stream_left_join",
    "s_x2_stream_dedup_wm",
    "s_r22_manifest_counts",
    "s_x3_stream_incremental_neardup",
)


def _collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    import importlib

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        try:
            mod = importlib.import_module(modname)
        except ModuleNotFoundError as exc:
            # Skip ONLY when the module itself is absent (not built yet
            # in an incremental round). A ModuleNotFoundError raised by
            # an import *inside* an existing module (missing transitive
            # dep, typo'd import) must fail loudly — swallowing it would
            # silently drop a whole query family from the catalog.
            if exc.name != modname:
                raise
            continue
        for name, fn in mod.QUERIES.items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} in {modname}")
            queries[name] = fn
        for name, sql in mod.ORACLES.items():
            if name in oracles:
                raise ValueError(f"duplicate oracle name {name!r} in {modname}")
            oracles[name] = sql
    missing = set(oracles) - set(queries)
    if missing:
        raise ValueError(f"oracles without queries: {sorted(missing)}")
    undefined = [name for name in CORE if name not in queries]
    if undefined:
        raise ValueError(f"CORE names no module defines: {undefined}")
    return queries, oracles


def all_queries(extended: bool = False) -> dict[str, QueryFn]:
    queries = _collect()[0]
    return queries if extended else {name: queries[name] for name in CORE}


def all_oracles(extended: bool = False) -> dict[str, str]:
    oracles = _collect()[1]
    if extended:
        return oracles
    return {name: oracles[name] for name in CORE if name in oracles}
