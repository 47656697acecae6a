#!/usr/bin/env python
"""Embedding-DIMENSION scale ladder: certify the vector family is
linear in dimensions-per-vector, not just in corpus size.

Why this exists (round 8): the corpus-count ladders replicate VECTORS,
so per-vector cost is a constant they cannot see — exactly the axis of
the round-7 ``normalized()`` finding (CollapseProject inlined the norm
fold into the transform lambda, Θ(d²) per row, 50× wall at d=512).
That bug is fixed and plan-scanned (tests/plan_scan.py), but nothing
certified the family's RUNTIME along d — the doc-length ladder
(tools/scale_doclen.py) is the text-side twin of this tool.

Mechanics: fabricate corpora with FIXED total float volume
(N·d ≈ const) and rising dimensions-per-vector (d × 1, 4, 16). Every
stage here is Θ(N·d) by design (pair sets shrink as N falls), so a
healthy engine stays ~flat across rungs while a per-vector quadratic
(Θ(N·d²) = volume·d) rises ~linearly in d — 16× by the last rung.

Flagging: two rules (tools/ladder_flags.py). Absolute —
seconds(rung)/seconds(rung0) > FLAG_RATIO on the last rung; loose
threshold (4×) because longer vectors legitimately shift work between
stages. Family divergence — at each rung, a stage whose ratio exceeds
2× the family median (and ≥1.5) flags even under the absolute line:
the pre-fix int8 Θ(d²) measured only ×2.4 at d×16 and was caught
solely by divergence from the flat-down family trend.

    python tools/scale_dim.py [--base-vecs 40000] [--base-dim 32]

Writes SCALE_DIM.json; exit 1 if any stage is flagged.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ladder import AxisSpec, main  # noqa: E402

#: dimensions-per-vector multipliers; vectors scale 1/M so volume is
#: constant. The ladder runs a rung deeper than the doc-length ladder
#: (×64 → d=2048 at the default base) because vector stages carry
#: higher fixed floors relative to their Θ(N·d) work: the pre-fix int8
#: quadratic measured only ×2.4 at d×16 — real, but under the flag
#: line; at ×64 a per-vector quadratic costs 64× rung-0 compute and
#: cannot hide under the floor.
MULTS = (1, 4, 16, 64)
FLAG_RATIO = 4.0

#: one stage per distinct d-consuming code path in the vector family
STAGES = (
    "x4_cosine_topk",  # brute force: normalize + broadcast pair dots
    "x4_ivf_topk",  # sign-bit cells + in-cell dots
    "x4_ivf_multiprobe",  # probe-cell selection (|v_i| sort) + probes
    "x4_int8_topk",  # quantize + integer dots
    "x4_kmeans_cells",  # medoid training loop (k broadcast dots/iter)
    "x3_embedding_neardup",  # in-cell all-pairs nearest neighbor
)


def build_corpus(spark, out: str, n_vecs: int, dim: int) -> None:
    """n_vecs synthetic embeddings of exactly ``dim`` float dims in
    (-2, 2) (signs balanced so the sign-bit cells populate evenly,
    like the fixture corpus), 10 labels — the fixture schema
    (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)."""
    from pyspark.sql import functions as F

    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                (F.xxhash64(F.col("id") * 131 + i) % 2001) / F.lit(1000.0)
            ).cast("float"),
        ).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    )
    emb.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )


def _rung(spark, args, mult: int, corpus: str) -> dict:
    n_vecs, dim = args.base_vecs // mult, args.base_dim * mult
    build_corpus(spark, corpus, n_vecs, dim)
    return {"n_vecs": n_vecs, "dim": dim}


SPEC = AxisSpec(
    metric="scale_dim",
    artifact="SCALE_DIM.json",
    stages=STAGES,
    options=(("--base-vecs", 40000), ("--base-dim", 32)),
    rung=_rung,
    scratch="dim",
    mults=MULTS,
    warm_every_rung=True,
    flag_key="flagged_dim_superlinear",
    flag_ratio=FLAG_RATIO,
)


if __name__ == "__main__":
    raise SystemExit(main(SPEC))
