#!/usr/bin/env python
"""Full-suite scale ladder: every CORE query at sf0.1 and at an M×
key-shifted clone, with a per-query scale ratio.

``tools/scale_smoke.py`` ladders 7 headline pipelines over a
documents/embeddings-only corpus; this tool answers the complementary
question the smoke cannot: does ANY of the ~50 core queries scale
superlinearly when the WHOLE star schema grows M×? (A hidden
all-pairs term, a broadcast that flips to shuffle, a window that
collapses to one partition — these show up as ratio ≫ M.)

Corpus construction (replica ``rep`` of M, keys shifted so every
replica is a disjoint, internally-consistent copy of the original
star schema — joins line up per replica, never across replicas):

* ``region``/``nation`` — copied unchanged (bounded dimensions; at
  100 TB these stay 5/25 rows, so growing them would distort plans).
* ``customer/supplier/part/orders/lineitem/events`` — every key
  column shifted by ``rep * K_domain`` where ``K_domain`` spans the
  union of the key's occurrences (e.g. K_cust covers both
  ``c_custkey`` and ``events.user_id``), preserving FK joins.
* ``documents``/``embeddings`` — the scale_smoke scheme (every 4th
  replica an exact copy, others token-interposed so they share no
  shingles): replicating text verbatim would grow dup CLUSTERS to
  size M and the pair count to ~n·M², a quadratic planted in the
  DATA that would mask what the tool measures — plan scalability.

Timing: each query runs ``--reps`` times at each scale in one warm
session (caches cleared between reps, as in bench.py); the reported
stat is the MIN — noise on this shared box is strictly additive, so
min is the cleanest scaling signal. ``ratio = scaled/base``;
``norm = ratio/M``; queries with ``norm > --flag-at`` (default 1.5)
and base ≥ 0.2 s are flagged superlinear (sub-0.2 s queries are
latency-floor-dominated: fixed per-query overhead ~0.1-0.2 s swamps
the data term, and streaming queries are trigger-bound by design —
their norm carries no scaling information). That trigger-cadence
caveat covers the two round-5 core promotions explicitly:
``s_stream_stream_left_join`` processes a FIXED 3-batch source (corpus
+ 2 watermark-heartbeat sentinels) whatever the corpus size, and
``s_x2_stream_dedup_wm`` a fixed 2-batch replay — their "scaling" is
micro-batch count plus per-batch data volume, so a norm ≪ 1 is the
expected shape, not evidence of sublinear magic (round-6 measured:
0.18 and 0.26).

Usage:
    python tools/scale_suite.py [--mult 8] [--reps 2] [--sf-dir ...]

Writes SCALE_SUITE.json and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# key domains: table -> [(key_col, domain)]; a domain's offset K is
# max(value)+1 over EVERY column mapped to it, so shifted replicas
# never collide with any original key occurrence
KEY_DOMAINS = {
    "customer": [("c_custkey", "cust")],
    "supplier": [("s_suppkey", "supp")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [
        ("l_orderkey", "order"),
        ("l_partkey", "part"),
        ("l_suppkey", "supp"),
    ],
    "events": [("event_id", "event"), ("user_id", "cust")],
}


def build_star(spark, sf_dir: str, mult: int, out: str) -> dict[str, int]:
    """Write the M× star-schema clone; returns per-table row counts."""
    from pyspark.sql import functions as F

    from odoo_batch_processing_spark.sources.loader import load_table

    counts: dict[str, int] = {}
    # pass 1: compute one offset per key domain across all usages
    offsets: dict[str, int] = {}
    tables = {name: load_table(spark, sf_dir, name) for name in KEY_DOMAINS}
    for name, cols in KEY_DOMAINS.items():
        for col, domain in cols:
            mx = tables[name].agg(F.max(col)).first()[0] or 0
            offsets[domain] = max(offsets.get(domain, 0), int(mx) + 1)

    reps = spark.range(mult).select(F.col("id").alias("__rep"))
    for name, cols in KEY_DOMAINS.items():
        df = tables[name].crossJoin(F.broadcast(reps))
        for col, domain in cols:
            df = df.withColumn(
                col, (F.col(col) + F.col("__rep") * offsets[domain]).cast(
                    dict(df.dtypes)[col]
                )
            )
        df = df.drop("__rep")
        out_path = os.path.join(out, f"{name}.parquet")
        df.write.mode("overwrite").parquet(out_path)
        # count the WRITTEN files (footer metadata, no data scan) —
        # df.count() would re-execute the whole crossJoin lineage
        counts[name] = spark.read.parquet(out_path).count()
    for name in ("region", "nation"):
        df = load_table(spark, sf_dir, name)
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
        counts[name] = df.count()
    # documents + embeddings: reuse the smoke's planted-cluster scheme
    from tools.scale_smoke import build_corpus

    counts["documents"] = build_corpus(spark, sf_dir, mult, out)
    return counts


def time_suite(spark, queries, sf_dir: str, reps: int) -> dict[str, dict]:
    from tools.ladder import timed_drain

    out: dict[str, dict] = {}
    for name, fn in sorted(queries.items()):
        try:
            t = timed_drain(spark, fn, sf_dir, reps)
            out[name] = {"sec": round(t["sec"], 4), "rows": t["rows"]}
        except Exception as exc:
            print(f"scale_suite: {name} failed at {sf_dir}: {exc!r}", file=sys.stderr)
            out[name] = {"sec": -1.0, "rows": -1}
        print(f"  {name:28s} {out[name]['sec']:8.2f}s  {out[name]['rows']}r", file=sys.stderr)
        # same hygiene as bench.py: drop Python-side DataFrame refs
        # promptly so the ContextCleaner releases localCheckpoint RDD
        # blocks between queries — the suite executes ~100 queries in
        # one session and late-session pinned blocks are the GC-stall
        # shape behind the round-12 x3_embedding_neardup transient
        import gc

        gc.collect()
    return out


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    parser.add_argument("--mult", type=int, default=8)
    parser.add_argument("--reps", type=int, default=2)
    parser.add_argument("--flag-at", type=float, default=1.5)
    parser.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    parser.add_argument(
        "--only",
        default=None,
        help="comma-separated query subset; results MERGE into an existing "
        "SCALE_SUITE.json instead of replacing it (patch a fixed query "
        "without re-running the suite)",
    )
    parser.add_argument(
        "--reuse-dir",
        default=None,
        help="existing M-times clone dir to reuse instead of rebuilding",
    )
    args = parser.parse_args()

    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import get_spark
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("scale-suite", cpus=args.cpus, shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in names if n not in queries]
        if unknown:
            parser.error(f"unknown queries: {unknown}")
        queries = {n: queries[n] for n in names}

    if args.reuse_dir:
        scaled_dir = args.reuse_dir
        counts = {}
    else:
        scaled_dir = scratch_dir(f"scale-suite-{args.mult}x")
        t0 = time.perf_counter()
        counts = build_star(spark, args.sf_dir, args.mult, scaled_dir)
        print(f"built {args.mult}x corpus in {time.perf_counter()-t0:.1f}s: "
              + " ".join(f"{k}={v}" for k, v in counts.items()), file=sys.stderr)

    # warmup (JVM/codegen/parquet footers) outside the timed loops
    next(iter(sorted(queries.items())))[1](spark, args.sf_dir).count()

    print(f"--- base ({args.sf_dir}) ---", file=sys.stderr)
    base = time_suite(spark, queries, args.sf_dir, args.reps)
    print(f"--- scaled ({args.mult}x) ---", file=sys.stderr)
    scaled = time_suite(spark, queries, scaled_dir, args.reps)

    per_query: dict[str, dict] = {}
    flagged: list[str] = []
    for name in sorted(queries):
        b, s = base[name]["sec"], scaled[name]["sec"]
        ratio = round(s / b, 3) if b > 0 and s > 0 else None
        norm = round(ratio / args.mult, 3) if ratio is not None else None
        per_query[name] = {
            "base_sec": b,
            "scaled_sec": s,
            "base_rows": base[name]["rows"],
            "scaled_rows": scaled[name]["rows"],
            "ratio": ratio,
            "norm": norm,
        }
        if norm is not None and norm > args.flag_at and b >= 0.2 and not name.startswith("s_"):
            flagged.append(name)
            per_query[name]["superlinear"] = True

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(repo, "SCALE_SUITE.json")
    if args.only and os.path.exists(out_path):
        with open(out_path) as fh:
            payload = json.load(fh)
        payload["queries"].update(per_query)
        payload["flagged_superlinear"] = sorted(
            set(payload.get("flagged_superlinear", [])) - set(per_query)
            | set(flagged)
        )
        if counts:
            payload["table_rows"] = counts
    else:
        payload = {
            "metric": "scale_suite",
            "mult": args.mult,
            "reps": args.reps,
            "stat": "min",
            "base_sf_dir": args.sf_dir,
            "table_rows": counts,
            "queries": per_query,
            "flagged_superlinear": flagged,
        }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, separators=(",", ":"))
        fh.write("\n")
    print(json.dumps({"metric": "scale_suite", "mult": args.mult,
                      "flagged_superlinear": flagged,
                      "n_queries": len(per_query)}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
