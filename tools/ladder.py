"""One runner for the axis scale ladders (scale_dim, scale_doclen,
scale_jsonsize, scale_smoke).

Every axis ladder is the same loop: per rung, build a corpus in a fresh
scratch dir, warm the stages, then time each stage's forcing drain from
a clean cache; flag the per-stage curves (tools/ladder_flags.py) and
write ``SCALE_<AXIS>.json``. The axis scripts declare only what differs
(:class:`AxisSpec`), so every receipt is measured the same way.

Three pieces:

* :func:`timed_drain` — the one timing block: release pins, clear the
  cache, time ``bench.drain``; min over reps. scale_suite and
  scale_cores time their queries through it too.
* :func:`summarize` — pure: per-rung results → the axis's payload,
  flags included. tests/test_ladder.py replays the committed artifacts
  through it.
* :func:`run_axis` — the rung loop, progress on stderr, the artifact,
  the exit code (1 iff a stage is flagged).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

from tools.ladder_flags import flagged_stages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class AxisSpec:
    """What one axis ladder declares; :func:`run_axis` does the rest."""

    #: payload ``metric``; the Spark app is named after it
    metric: str
    #: written at the repo root
    artifact: str
    stages: tuple[str, ...]
    #: CLI flag → default, recorded in the payload in this order; a
    #: ``--mults`` entry (comma list) supplies the rungs when ``mults``
    #: is empty and is not recorded
    options: tuple[tuple[str, object], ...]
    #: ``(spark, args, mult, corpus_dir) -> rung fields``: builds the
    #: rung's corpus and returns the fields its result row records
    rung: Callable
    #: scratch-dir prefix; a rung's corpus is ``<scratch>-<mult>x``
    scratch: str
    mults: tuple[int, ...] = ()
    #: True: warm every stage on every rung; False: on the first only
    warm_every_rung: bool = False
    #: payload key of the flagged-stage list; None records no flags
    flag_key: str | None = None
    flag_ratio: float = 4.0
    #: stages that emit an output relation (pairs) whose rows may
    #: outgrow their seconds — the only ones whose rows reach the
    #: output-bound waiver (tools/ladder_flags.flagged_stages)
    output_bound: tuple[str, ...] = ()


def timed_drain(spark, fn, corpus: str, reps: int = 1) -> dict:
    """Run ``fn(spark, corpus)`` to completion ``reps`` times from a
    clean slate; ``{"sec": min wall seconds, "rows": output rows}``.

    The pins and cache are dropped before every rep: otherwise a rep
    re-reads what its warm-up (or an earlier stage) persisted and
    measures a cache read instead of the pipeline."""
    from bench import drain
    from odoo_batch_processing_spark.session import release_materialized

    best, rows = float("inf"), -1
    for _ in range(reps):
        release_materialized()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows = drain(fn(spark, corpus))
        best = min(best, time.perf_counter() - t0)
    return {"sec": best, "rows": rows}


def _param_names(spec: AxisSpec) -> list[str]:
    return [
        flag.lstrip("-").replace("-", "_")
        for flag, _ in spec.options
        if flag != "--mults"
    ]


def summarize(spec: AxisSpec, params: dict, results: list[dict]) -> dict:
    """The axis payload for ``results`` (one row per rung, as
    :func:`run_axis` records them); ``params`` holds the recorded CLI
    values. Flags apply both ladder_flags rules, with output rows
    passed only for the spec's ``output_bound`` stages."""
    payload = {"metric": spec.metric}
    payload.update((k, params[k]) for k in _param_names(spec))
    if spec.flag_key is not None:
        stage_secs = {
            s: [r["stages"][s]["sec"] for r in results] for s in spec.stages
        }
        stage_rows = {
            s: [r["stages"][s]["rows"] for r in results] for s in spec.output_bound
        }
        flagged, divergence = flagged_stages(
            stage_secs, spec.flag_ratio, stage_rows=stage_rows
        )
        payload.update(
            mults=list(spec.mults),
            flag_ratio=spec.flag_ratio,
            **{spec.flag_key: flagged},
            divergence=divergence,
        )
    payload["results"] = results
    return payload


def run_axis(spec: AxisSpec, args: argparse.Namespace) -> int:
    """Run every rung, write the artifact, print its JSON line; returns
    the exit code."""
    from bench import drain
    from odoo_batch_processing_spark.registry import all_queries
    from odoo_batch_processing_spark.session import get_spark
    from odoo_batch_processing_spark.sources.sinks import scratch_dir

    mults = spec.mults or tuple(int(m) for m in args.mults.split(","))
    spark = get_spark(
        spec.metric.replace("_", "-"), cpus=args.cpus, shuffle_partitions=args.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries(extended=True)

    results = []
    for i, mult in enumerate(mults):
        corpus = scratch_dir(f"{spec.scratch}-{mult}x")
        row = {"mult": mult, **spec.rung(spark, args, mult, corpus), "stages": {}}
        if spec.warm_every_rung or i == 0:  # codegen, footers, JVM
            for name in spec.stages:
                drain(queries[name](spark, corpus))
        for name in spec.stages:
            t = timed_drain(spark, queries[name], corpus)
            row["stages"][name] = {"sec": round(t["sec"], 2), "rows": t["rows"]}
        results.append(row)
        print(
            " ".join(f"{k}={v}" for k, v in row.items() if k != "stages") + "  "
            + "  ".join(f"{s}={v['sec']:.2f}s/{v['rows']}r" for s, v in row["stages"].items()),
            file=sys.stderr,
        )

    params = {k: getattr(args, k) for k in _param_names(spec)}
    payload = summarize(spec, params, results)
    div = payload.get("divergence", {})
    for name in spec.stages:
        secs = [r["stages"][name]["sec"] for r in results]
        dr = div.get(name, {}).get("divergent_rungs")
        print(
            f"{name:26s} " + "  ".join(f"{s:6.2f}" for s in secs)
            + f"  (x{secs[-1] / max(secs[0], 0.01):.1f}"
            + (f"  DIVERGENT@{dr}" if dr else "") + ")",
            file=sys.stderr,
        )

    line = json.dumps(payload, separators=(",", ":"))
    with open(os.path.join(REPO, spec.artifact), "w") as fh:
        fh.write(line + "\n")
    print(line)
    return 1 if payload.get(spec.flag_key) else 0


def main(spec: AxisSpec, argv: list[str] | None = None) -> int:
    """CLI entry of an axis script: its options plus ``--cpus``."""
    parser = argparse.ArgumentParser()
    for flag, default in spec.options:
        parser.add_argument(flag, type=type(default), default=default)
    parser.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    return run_axis(spec, parser.parse_args(argv))
