"""Property-based tests (hypothesis) for the reference-semantics
operators — SURVEY.md §7.1 M5: R13 coercion, R14 parse/clamp, R9
truncation hold for arbitrary inputs, not just the golden cases."""

from __future__ import annotations

import random
import re

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(max_examples=8, deadline=None)


# --- R13: coerced == (value is not None and value.lower() == 'true') -------
@given(st.lists(st.text(max_size=12), min_size=1, max_size=40))
@SETTINGS
def test_r13_property(spark, raws):
    from odoo_batch_processing_spark.operators.bulk_update import coerce_checkbox_boolean

    df = spark.createDataFrame([(i, v) for i, v in enumerate(raws)], "i int, raw string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", coerce_checkbox_boolean(F.col("raw")).alias("c")).collect()
    }
    for i, v in enumerate(raws):
        assert got[i] is (v is not None and v.lower() == "true")


# --- R14: model = trunc-toward-zero parse, clamp negatives, reject garbage -
_NUMERIC = re.compile(r"^[+-]?(\d+(\.\d*)?|\.\d+)$")


def _model_r14(s: str | None) -> int | None:
    if s is None or not _NUMERIC.match(s.strip()):
        return None  # the reject path (NaN guard)
    value = float(s)
    if value != value or abs(value) > 2**31 - 1:
        return None
    return max(0, int(value))  # int() truncates toward zero like parseInt


num_strings = st.one_of(
    st.integers(-10**6, 10**6).map(str),
    st.floats(-1e6, 1e6, allow_nan=False).map(lambda x: f"{x:.3f}"),
    st.text(alphabet="0123456789.-+ abc", max_size=8),
)


@given(st.lists(num_strings, min_size=1, max_size=40))
@SETTINGS
def test_r14_property(spark, raws):
    from odoo_batch_processing_spark.operators.bulk_update import parse_wait_time

    df = spark.createDataFrame([(i, v) for i, v in enumerate(raws)], "i int, raw string")
    got = {
        r["i"]: r["w"]
        for r in df.select("i", parse_wait_time(F.trim(F.col("raw"))).alias("w")).collect()
    }
    for i, v in enumerate(raws):
        assert got[i] == _model_r14(v), f"input {v!r}: got {got[i]}, model {_model_r14(v)}"


# --- R9: |output| == n_visible; |updated| == min(n_visible, n_values) ------
@given(st.integers(0, 60), st.integers(0, 60))
@SETTINGS
def test_r9_truncation_property(spark, n_rows, n_values):
    from odoo_batch_processing_spark.operators.bulk_update import zip_join_update

    rows = spark.range(n_rows).select(
        F.col("id").alias("ord"), F.lit("old").alias("val")
    )
    values = spark.createDataFrame(
        [(i, f"new{i}") for i in range(n_values)] or [(None, None)],
        "vord int, v string",
    ).filter(F.col("vord").isNotNull())
    out = zip_join_update(rows, ["ord"], "val", values, ["vord"], "v").collect()
    assert len(out) == n_rows
    n_updated = sum(1 for r in out if r["val"] != "old")
    assert n_updated == min(n_rows, n_values)


# --- R21 MERGE: result == dict-semantics upsert, for arbitrary keys -------
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25, unique=True),
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=10, unique=True),
)
@SETTINGS
def test_r21_merge_property(spark, tmp_path_factory, base_keys, upd_keys):
    """merge_into_partitioned == {**base, **updates} over any key sets
    (updates may hit existing keys or insert new ones)."""
    from odoo_batch_processing_spark.sources.sinks import merge_into_partitioned

    target_dir = str(tmp_path_factory.mktemp("merge-prop") / "target")
    base = {k: float(k) for k in base_keys}
    upd = {k: -float(k) - 1.0 for k in upd_keys}
    spark.createDataFrame(
        [(k, "p" if k % 2 == 0 else "q", v) for k, v in base.items()],
        "k bigint, part string, v double",
    ).write.partitionBy("part").parquet(target_dir)
    updates = spark.createDataFrame(
        [(k, "p" if k % 2 == 0 else "q", v) for k, v in upd.items()],
        "k bigint, part string, v double",
    )
    merged = merge_into_partitioned(spark, target_dir, updates, key="k", partition_by="part")
    got = {r["k"]: r["v"] for r in merged.collect()}
    assert got == {**base, **upd}


# --- EP1 list mode: bulk_update_run == zip_join_update reference ---------
_flags = st.tuples(st.sampled_from([True, False, None]), st.booleans(), st.booleans())


@given(
    st.lists(_flags, max_size=30),
    st.lists(st.sampled_from(["", "  ", "a", "b c", "Z"]), max_size=40),
    st.booleans(),
    st.randoms(use_true_random=False),
)
@example(flags=[(True, True, False)] * 3, values=[], null_key=False, rnd=random.Random(0))
@SETTINGS
def test_bulk_update_list_mode_matches_zip_join(spark, flags, values, null_key, rnd):
    """List-mode bulk_update_run (bounded top-n zip) gives the values,
    counts and outcome of the whole-table zip_join_update, over hidden
    (incl. NULL-visible), readonly and non-editable rows, lists shorter
    and longer than the visible rows, blank values and the empty list."""
    from odoo_batch_processing_spark.operators.bulk_update import (
        bulk_update_run,
        zip_join_update,
    )

    keys = list(range(len(flags)))
    rnd.shuffle(keys)
    if null_key and keys:
        keys[0] = None  # a NULL order key sorts first on both paths
    df = spark.createDataFrame(
        [(k, i, vis, ed, ro, f"old{i}") for i, (k, (vis, ed, ro)) in enumerate(zip(keys, flags))],
        "row_ord bigint, row_id int, visible boolean, editable boolean, "
        "readonly boolean, name string",
    )
    vis = F.coalesce(F.col("visible"), F.lit(False))
    applied = vis & F.col("editable") & ~F.col("readonly")
    res = bulk_update_run(
        df, "name", values, ["row_ord"], F.col("visible"), F.col("editable"),
        F.col("readonly"), spark=spark,
    )
    vals = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(values)], "ord bigint, v string"
    )
    ref = zip_join_update(
        df, ["row_ord"], "name", vals, ["ord"], "v", visible=vis, apply_when=applied
    )
    got = {r["row_id"]: r["name"] for r in res.updated.collect()}
    assert len(got) == len(flags)
    assert got == {r["row_id"]: r["name"] for r in ref.collect()}
    n_vis = sum(1 for v, _, _ in flags if v)
    n_applied = sum(1 for v, ed, ro in flags if v and ed and not ro)
    assert (res.all_rows, res.visible_rows, res.success_count, res.skipped_count, res.error_count) == (
        len(flags), n_vis, n_applied, n_vis - n_applied, 0,
    )
    assert res.outcome == ("success" if n_applied else "nothing-updated")


# --- X4 multi-probe: Spark probe cells == pure-Python reference ------------
def _model_probe_cells(vec: list[float], bits: int = 3, nprobe: int = 2) -> list[int]:
    cell = sum((1 << (bits - 1 - i)) for i in range(bits) if vec[i] > 0)
    order = sorted(range(bits), key=lambda i: (abs(vec[i]), i))
    return [cell] + [cell ^ (1 << (bits - 1 - i)) for i in order[: nprobe - 1]]


@given(
    st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, width=32), min_size=4, max_size=6
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(1, 4),
)
@SETTINGS
def test_ivf_probe_cells_property(spark, vecs, nprobe):
    from odoo_batch_processing_spark.operators.similarity import ivf_probe_cells

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i int, v array<float>"
    )
    got = {
        r["i"]: list(r["p"])
        for r in df.select(
            "i", ivf_probe_cells(F.col("v"), bits=3, nprobe=nprobe).alias("p")
        ).collect()
    }
    for i, v in enumerate(vecs):
        # float32 storage: model must see the same rounded values Spark reads
        import struct

        v32 = [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        assert got[i] == _model_probe_cells(v32, nprobe=nprobe), (v, nprobe)


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.text(max_size=8)),
        min_size=1,
        max_size=30,
    ),
    st.randoms(),
)
@settings(max_examples=15, deadline=None)
def test_checksum_permutation_invariant_property(spark, rows, rng):
    """table_checksum is invariant under any permutation/partitioning
    of the same multiset of rows — including rows with NULL text."""
    from odoo_batch_processing_spark.operators.profile import table_checksum

    typed = [(int(k), t if t else None) for k, t in rows]
    shuffled = list(typed)
    rng.shuffle(shuffled)
    a = spark.createDataFrame(typed, "doc_id bigint, text string")
    b = spark.createDataFrame(shuffled, "doc_id bigint, text string").repartition(5)
    ca = table_checksum(a, ("doc_id", "text")).first()
    cb = table_checksum(b, ("doc_id", "text")).first()
    assert (ca["n_rows"], ca["checksum"]) == (cb["n_rows"], cb["checksum"])


@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("abc")),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_transition_matrix_rows_are_distributions(spark, pairs):
    """Per-source transition probabilities sum to 1 and n aggregates
    exactly — for ANY pair multiset."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.operators.windows import transition_matrix

    df = spark.createDataFrame(pairs, "from_type string, to_type string")
    out = transition_matrix(df)
    sums = {
        r["from_type"]: (r["total_p"], r["total_n"])
        for r in out.groupBy("from_type")
        .agg(F.sum("p").alias("total_p"), F.sum("n").alias("total_n"))
        .collect()
    }
    from collections import Counter

    expected = Counter(p[0] for p in pairs)
    assert set(sums) == set(expected)
    for ft, (tp, tn) in sums.items():
        assert abs(tp - 1.0) < 1e-9
        assert tn == expected[ft]


@settings(max_examples=30, deadline=None)
@given(ns=st.lists(st.integers(min_value=1, max_value=2**62), min_size=1, max_size=40))
def test_floor_log2_property(spark, ns):
    """floor_log2 (binary-string length trick) == math.floor(log2(n))
    for positive ints across the full bigint range — the determinism
    primitive under x5_unigram_surprisal / x5_bm25_topk."""
    import math

    from odoo_batch_processing_spark.operators.text import floor_log2

    df = spark.createDataFrame([(int(n),) for n in ns], "n bigint")
    got = {r["n"]: r["fl2"] for r in df.select("n", floor_log2(F.col("n")).alias("fl2")).collect()}
    for n in ns:
        assert got[n] == n.bit_length() - 1, n
        assert got[n] == math.floor(math.log2(n)) or n >= 2**48  # float log2 inexact up high


# --- distributed_ordinal == with_ordinal for arbitrary keys/prefixes ------
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 1000), st.text(max_size=6)),
        min_size=1,
        max_size=80,
    ),
    st.integers(1, 3),
    st.integers(2, 9),
)
@SETTINGS
def test_distributed_ordinal_property(spark, rows, n_bucket_cols, n_parts):
    """Round-6 core-primitive property: for ANY input whose (a, b, s)
    tuple is a unique key, the deterministic-boundary distributed
    ordinal equals the global-window ordinal row-for-row, for any
    bucket-prefix length and partition count. (The round-5
    implementation violated this whenever Catalyst declined to reuse
    the sampled range exchange.)"""
    import pandas as pd

    from odoo_batch_processing_spark.operators.bulk_update import (
        distributed_ordinal,
        with_ordinal,
    )

    uniq = sorted(set(rows))  # full-tuple unique key, deterministic order
    pdf = pd.DataFrame(uniq, columns=["a", "b", "s"])
    df = spark.createDataFrame(pdf).repartition(4)
    keys = ["a", "b", "s"]
    bucket_cols = keys[:n_bucket_cols]
    got = sorted(
        map(
            tuple,
            distributed_ordinal(
                df, keys, n_parts=n_parts, validate_unique=True,
                bucket_cols=bucket_cols,
            ).collect(),
        )
    )
    want = sorted(map(tuple, with_ordinal(df, keys).collect()))
    assert got == want


# --- bind(value, body) == body applied to value, for any value type --------
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.integers(min_value=-(2**31), max_value=2**31),
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_bind_is_identity_let_property(spark, vals):
    """exprs.bind is a pure let-binding: for any value expression and
    body, ``bind(v, f)`` must equal ``f(v)`` — including NULL values,
    NULL-producing bodies, and array-typed values (array-of-array via
    ``array(value)`` is the load-bearing trick). The point of bind is
    performance (evaluate once per row), never semantics."""
    from odoo_batch_processing_spark.functions.exprs import bind

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v long")
    got = df.select(
        "i",
        # scalar value, arithmetic body (NULL propagates)
        bind(F.col("v") * 2, lambda x: x + F.col("i")).alias("b_scalar"),
        (F.col("v") * 2 + F.col("i")).alias("d_scalar"),
        # array value, HOF body over the bound variable
        bind(
            F.array(F.col("v"), F.col("i"), F.lit(None).cast("long")),
            lambda a: F.size(F.filter(a, lambda x: x.isNotNull())),
        ).alias("b_arr"),
        F.size(
            F.filter(
                F.array(F.col("v"), F.col("i"), F.lit(None).cast("long")),
                lambda x: x.isNotNull(),
            )
        ).alias("d_arr"),
        # string value, conditional body
        bind(
            F.concat(F.lit("p"), F.col("v").cast("string")),
            lambda s: F.when(F.length(s) > 3, s).otherwise(F.lit("short")),
        ).alias("b_str"),
        F.when(
            F.length(F.concat(F.lit("p"), F.col("v").cast("string"))) > 3,
            F.concat(F.lit("p"), F.col("v").cast("string")),
        )
        .otherwise(F.lit("short"))
        .alias("b_ref"),
    ).collect()
    for r in got:
        assert r["b_scalar"] == r["d_scalar"], r
        assert r["b_arr"] == r["d_arr"], r
        assert r["b_str"] == r["b_ref"], r


# --- sessionize_chunked == single-Window sessionize for ANY event set ------
_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 5000)),  # (user, minute)
    min_size=1,
    max_size=60,
)


@given(_events, st.sampled_from([1, 7, 37, 240]))
@SETTINGS
def test_sessionize_chunked_property(spark, events, chunk_minutes):
    """The chunk-stitch decomposition is exact for arbitrary event
    sets and chunk widths — including widths far below the session
    gap (every session straddles many chunks), duplicate timestamps,
    and sparse users. The single Window is the executable spec."""
    import datetime as dt

    from odoo_batch_processing_spark.operators.windows import (
        sessionize_chunked,
        sessionize_window,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, i, base + dt.timedelta(minutes=m)) for i, (u, m) in enumerate(events)
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")

    expected = sorted(tuple(r) for r in sessionize_window(ev).collect())
    got = sorted(
        tuple(r) for r in sessionize_chunked(ev, chunk_minutes=chunk_minutes).collect()
    )
    assert got == expected


# --- deterministic_dedup NULL contract (round 12) ---------------------------
# Reference model of the documented contract: drop NULL-id rows, then
# one survivor per key group (NULLs group together, SQL GROUP BY
# semantics), survivor = row with minimal id. Generated ids are unique
# per row (the operator's documented precondition), so the survivor is
# fully determined and the model is exact.
dedup_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 6)),  # key (small domain → collisions)
        st.one_of(st.none(), st.integers(0, 10**6)),  # id (unique-ified below)
        st.text(max_size=5),  # payload
    ),
    min_size=1,
    max_size=30,
)


@given(dedup_rows)
@SETTINGS
def test_deterministic_dedup_null_contract_property(spark, rows):
    from odoo_batch_processing_spark.operators.dedup import deterministic_dedup

    # enforce the documented uniqueness precondition on non-NULL ids
    seen: set[int] = set()
    uniq = []
    for k, i, v in rows:
        if i is not None:
            while i in seen:
                i += 1
            seen.add(i)
        uniq.append((k, i, v))

    expected: dict[object, tuple] = {}
    for k, i, v in uniq:
        if i is None:
            continue  # NULL ids can never survive
        if k not in expected or i < expected[k][1]:
            expected[k] = (k, i, v)

    df = spark.createDataFrame(uniq, "k int, id bigint, v string")
    got = {
        r["k"]: (r["k"], r["id"], r["v"])
        for r in deterministic_dedup(df, ["k"], "id").collect()
    }
    assert got == expected
