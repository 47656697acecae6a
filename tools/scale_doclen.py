#!/usr/bin/env python
"""Document-LENGTH scale ladder: certify the text/shingle family is
linear in tokens-per-document, not just in corpus size.

Why this exists (round 8): the corpus-count ladders (scale_smoke /
scale_suite) replicate DOCS, so per-document cost is a constant they
cannot see — the Θ(T²) shingle re-tokenization (85× at 1 000-token
docs) was invisible to both while sitting in 16 queries. This ladder
varies the other axis: it fabricates corpora with FIXED total token
volume (N·T ≈ const) and rising tokens-per-doc (T × 1, 4, 16), so a
pipeline that is linear in token volume stays ~flat across the rungs
while a per-doc quadratic rises ~linearly in T (16× by the last rung).

Flagging: seconds(rung)/seconds(rung0) > FLAG_RATIO on the last rung
(T ×16, volume ×1). The threshold is loose (4×) because longer docs
legitimately shift work between stages (more shingles per doc, fewer
docs/pairs) — the quadratic signature this exists to catch is ≳10×.
A second, RELATIVE rule (tools/ladder_flags.py) flags a stage whose
per-rung ratio exceeds 2× the family median even under the absolute
line — the rule that would have caught int8's ×2.4-at-d×16.

    python tools/scale_doclen.py [--base-docs 4000] [--base-tokens 64]

Writes SCALE_DOCLEN.json; exit 1 if any stage is flagged.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ladder import AxisSpec, main  # noqa: E402

#: tokens-per-doc multipliers; docs scale 1/M so volume is constant
MULTS = (1, 4, 16)
FLAG_RATIO = 4.0

#: the length-sensitive stages: every family that tokenizes/shingles
#: per document (the 16-query round-8 blast radius, one per builder)
STAGES = (
    "x3_ngram_jaccard",  # dedup.shingles (width 3)
    "x3_minhash_lsh",  # shingles -> minhash signatures
    "x3_simhash",  # token-fold simhash
    "x5_doc_sim_cosine",  # text._trigrams inverted index
    "x5_gopher_repetition",  # _bigrams + token stats
    "x5_chunk_dedup_frac",  # chunk builder (width 10)
    "x9_curation_pipeline",  # quality gates: shingles(text, 5) + folds
    "x5_text_features",  # per-row token features (control: no shingles)
    # bigram LM (round 16): bigrams per doc = tokens-1, so this axis
    # is exactly its work driver; the map-side arrays_zip build must
    # stay linear in T while the constant-volume model joins shrink
    # with n_docs
    "x5_bigram_surprisal",
    # multimodal: payload = utf-8(text), so tokens-per-doc IS the
    # payload-BYTES axis — the round-7 Θ(bytes²) finding's axis,
    # previously certified only via corpus count
    "mm_neardup",  # hex-shingle simhash over payload
    "mm_decode_features",  # Arrow-batched numpy decode per payload
    "mm_frame_sample",  # fixed-size frame split (substring per frame)
)


def build_corpus(
    spark, out: str, n_docs: int, n_tokens: int, vocab: int = 500, files: int = 8
) -> None:
    """n_docs synthetic docs of exactly n_tokens tokens from a small
    shared vocabulary (so shingles do collide across docs, exercising
    the df/pair paths like real text). ``vocab`` widens the vocabulary
    for callers that need LOW cross-doc similarity (tools/scale_cores:
    at 16k docs the default 500-word vocabulary welds the corpus into
    one giant near-dup component and CC hits its iteration cap —
    per-doc compute is the thing under test there, not pair volume).
    ``files`` controls the written layout: THIS ladder keeps the
    historical 8-file layout so its rung timings stay comparable to
    the committed artifact (r18 measured: an 8→64 re-layout speeds the
    many-doc rung 0 ~25%, which alone shifts every divergence ratio);
    scale_cores passes 64 so its scan arrives split past the core
    counts under test."""
    from pyspark.sql import functions as F

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(n_tokens)),
                lambda i: F.concat(
                    F.lit("w"),
                    ((F.xxhash64(F.col("id") * 7 + i) % vocab) + vocab).cast("string"),
                ),
            ),
            " ",
        ).alias("text"),
    ).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("synthetic").alias("source"),
        F.length("text").alias("n_chars"),
    )
    docs.repartition(files).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )


def _rung(spark, args, mult: int, corpus: str) -> dict:
    n_docs, n_tokens = args.base_docs // mult, args.base_tokens * mult
    build_corpus(spark, corpus, n_docs, n_tokens)
    return {"n_docs": n_docs, "tokens_per_doc": n_tokens}


SPEC = AxisSpec(
    metric="scale_doclen",
    artifact="SCALE_DOCLEN.json",
    stages=STAGES,
    options=(("--base-docs", 4000), ("--base-tokens", 64)),
    rung=_rung,
    scratch="doclen",
    mults=MULTS,
    flag_key="flagged_length_superlinear",
    flag_ratio=FLAG_RATIO,
    # the one pair-emitting stage: at fixed token volume longer docs
    # legitimately yield far more near-dup pairs (x29 rows for x1.6
    # sec at T x16), so its rows may outgrow its seconds
    output_bound=("mm_neardup",),
)


if __name__ == "__main__":
    raise SystemExit(main(SPEC))
