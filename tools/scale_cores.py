#!/usr/bin/env python
"""Compute-bound CORE-COUNT scaling rung (OPTIMIZATION r18, VERDICT
r17 #5): certify that the fan_out'ed per-document pipelines actually
parallelize with cores once compute dominates.

Why this exists: the driver's own scaling axis re-runs the sf0.1 bench
at 8 vs 32 cpus, and every ratio lands in 0.6-1.1 — at fixture scale
every row is fixed-cost (trigger cadence, scalar jobs, driver-side
planning), so that axis measures overhead, not parallelism, and the
round's plan arguments about 100 TB behavior had no measured rung to
stand on. This ladder makes compute dominate: a fabricated corpus with
~60× the sf0.1 token volume (same builder as tools/scale_doclen.py),
over the catalog's most compute-per-row core queries, run in FRESH
subprocesses at SPARK_GRAFT_CPUS ∈ {8, 32} (core count binds at
session build, hence subprocesses — the same mechanism the driver's
own low-cpu rerun uses).

Pass criterion (VERDICT r17 #5's done bar): ≥2 queries with
sec(c8)/sec(c32) ≥ 2.5 — the fan_out widenings demonstrably use the
extra cores when there is work to spread. The ratio cannot reach the
full ×4 core ratio: the scalar-job/planning floor measured by the
sf0.1 axis is still in the numerator and denominator.

    python tools/scale_cores.py [--docs 4000] [--tokens 1024]

Writes SCALE_CORES.json; exit 1 if fewer than MIN_PASSING queries
reach MIN_RATIO.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: compute-per-row queries: per-doc token folds + the bigram agg
#: (gopher, core), the pure per-row featurization (text_features) and
#: the per-row HOF gate folds (quality_gates) — both extended tier but
#: exercising exactly the fan_out machinery the core rows share — and
#: the tf/model shuffle pair (surprisal, core) kept as the labeled
#: SHUFFLE-BOUND CONTROL: local-mode shuffles are disk/memory-bandwidth
#: bound, so rows dominated by an exchange are NOT expected to reach
#: the pass ratio on one box (on a cluster that axis is network-bound
#: instead — guide §2.2). NOT x3_neardup_survivors: the
#: synthetic builder derives every doc's token stream from one shared
#: hash sequence (doc d+1 = doc d shifted by 7 tokens), so consecutive
#: docs are near-duplicates BY CONSTRUCTION and at ≥16k docs the
#: corpus welds into one 15k-node CC chain that exceeds the
#: propagation budget — a corpus artifact, not an engine behavior.
QUERIES = (
    "x5_gopher_repetition",
    "x5_text_features",
    "x9_quality_gates",
    "x5_unigram_surprisal",
)
CORES = (32, 8)
REPS = 3
MIN_RATIO = 2.5
MIN_PASSING = 2


def _child(cpus: int, docs: int, tokens: int) -> None:
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import get_spark
    from odoo_batch_processing_spark.sources.sinks import scratch_dir
    from tools.ladder import timed_drain
    from tools.scale_doclen import build_corpus

    spark = get_spark("scale-cores", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = scratch_dir(f"cores-{docs}x{tokens}-v50k")
    # wide vocabulary: per-doc compute is the thing under test, not
    # cross-doc pair volume (see build_corpus's vocab docstring);
    # 64 files so the scan ARRIVES split past both core counts — the
    # corpus-scale shape where fan_out no-ops (an 8-file layout capped
    # every pure-map c8/c32 ratio at ~2: the scan+fan_out leg ran
    # 8-wide at any core count)
    build_corpus(spark, corpus, docs, tokens, vocab=50_000, files=64)
    queries = all_queries(extended=True)
    out: dict[str, float] = {}
    for name in QUERIES:
        timed_drain(spark, queries[name], corpus)  # warm (JVM, footers, codegen)
        out[name] = round(timed_drain(spark, queries[name], corpus, REPS)["sec"], 3)
    print(json.dumps({"cpus": cpus, "sec": out}))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--docs", type=int, default=32000)
    parser.add_argument("--tokens", type=int, default=1024)
    parser.add_argument("--child-cpus", type=int, default=None)
    args = parser.parse_args()

    if args.child_cpus is not None:
        _child(args.child_cpus, args.docs, args.tokens)
        return 0

    per_cores: dict[int, dict[str, float]] = {}
    for cpus in CORES:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--child-cpus",
                str(cpus),
                "--docs",
                str(args.docs),
                "--tokens",
                str(args.tokens),
            ],
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
        line = proc.stdout.strip().splitlines()[-1]
        row = json.loads(line)
        per_cores[row["cpus"]] = row["sec"]
        print(f"[c{cpus}] {row['sec']}", file=sys.stderr)

    ratios = {
        name: round(per_cores[8][name] / per_cores[32][name], 2)
        for name in QUERIES
        if per_cores[32].get(name)
    }
    passing = [n for n, r in ratios.items() if r >= MIN_RATIO]
    payload = {
        "metric": "scale_cores",
        "docs": args.docs,
        "tokens_per_doc": args.tokens,
        "reps": REPS,
        "stat": "min",
        "sec_c32": per_cores[32],
        "sec_c8": per_cores[8],
        "ratio_c8_over_c32": ratios,
        "min_ratio": MIN_RATIO,
        "min_passing": MIN_PASSING,
        "passing": passing,
        "ok": len(passing) >= MIN_PASSING,
    }
    with open(os.path.join(REPO, "SCALE_CORES.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
        fh.write("\n")
    print(json.dumps(payload, indent=1))
    return 0 if payload["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
