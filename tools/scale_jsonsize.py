#!/usr/bin/env python
"""JSON-props-SIZE scale ladder: certify the x6 family is linear in
bytes-per-props-blob, closing the one "documented, unladdered" row of
SCALE.md's data-axis certification matrix.

Same construction as the other axis ladders: corpora with FIXED total
JSON volume (N·bytes ≈ const) and rising bytes-per-blob (×1, 4, 16).
`from_json` with an explicit schema, `get_json_object`, and the
VARIANT parse are all single-pass over the string, so every stage
should stay ~flat; a per-row quadratic (e.g. an accidental re-parse
per extracted path multiplied by path count growing with the blob)
would rise toward 16×.

The fabricated props keep the fixture's `"k"` key FIRST and append a
pad field, so typed extraction finds real values (rows stay
meaningful) while the blob grows.

    python tools/scale_jsonsize.py [--base-events 200000] [--base-bytes 64]

Writes SCALE_JSONSIZE.json; exit 1 if any stage is flagged — by the
absolute top-rung rule (> FLAG_RATIO) or by family divergence
(tools/ladder_flags.py: per-rung ratio > 2× the family median and
≥ 1.5 — the int8 lesson applied to every axis ladder).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ladder import AxisSpec, main  # noqa: E402

MULTS = (1, 4, 16)
FLAG_RATIO = 4.0

STAGES = (
    "x6_json_extract",  # from_json(schema) + get_json_object twin
    "x6_json_grouped",  # parse pushed into the scan projection, then agg
    "x6_null_safe_eq",  # get_json_object present + missing paths
    "x6_variant_shred",  # parse_json once -> typed variant_get paths
)


def build_corpus(spark, out: str, n_events: int, props_bytes: int) -> None:
    """n_events synthetic events whose props blob is ~props_bytes of
    JSON: the fixture's ``{"k": <int>}`` shape plus a deterministic pad
    string. All six fixture columns are present so any x6 query's
    projection resolves."""
    from pyspark.sql import functions as F

    pad_len = max(0, props_bytes - 24)  # overhead: {"k": NN, "pad": ""}
    ev = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.xxhash64(F.col("id")), F.lit(86400 * 30))
        ).alias("ts"),
        F.pmod(F.xxhash64(F.col("id") * 3), F.lit(1000)).alias("user_id"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("buy")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64(F.col("id") * 7), F.lit(10000)) / 100.0).alias("value"),
        F.concat(
            F.lit('{"k": '),
            F.pmod(F.xxhash64(F.col("id") * 11), F.lit(100)).cast("string"),
            F.lit(', "pad": "'),
            F.repeat(F.lit("x"), pad_len),
            F.lit('"}'),
        ).alias("props"),
    )
    ev.repartition(16).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )


def _rung(spark, args, mult: int, corpus: str) -> dict:
    n_events, nbytes = args.base_events // mult, args.base_bytes * mult
    build_corpus(spark, corpus, n_events, nbytes)
    return {"n_events": n_events, "props_bytes": nbytes}


SPEC = AxisSpec(
    metric="scale_jsonsize",
    artifact="SCALE_JSONSIZE.json",
    stages=STAGES,
    options=(("--base-events", 200_000), ("--base-bytes", 64)),
    rung=_rung,
    scratch="jsonsize",
    mults=MULTS,
    warm_every_rung=True,
    flag_key="flagged_size_superlinear",
    flag_ratio=FLAG_RATIO,
)


if __name__ == "__main__":
    raise SystemExit(main(SPEC))
