#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the repository root::

    python3 perfbench/run.py --workload catalog_batch --seed 1 --seconds 10 --trace 0

One process, one SparkSession at ``local[<cores>]``, one closed-loop
client: each op starts when the previous one has finished. A run is

1. set-up: start the session, then ``SETUP_CYCLES`` times stage the
   seeded inputs into a fresh directory and run one warm-up pass. The
   first warm-up pass is also the oracle pass (DuckDB comparison; its
   time is excluded from every metric);
2. timed passes for ``--seconds`` seconds, each op checked against the
   warm-up result (checks are excluded from every metric);
3. with ``--trace 1``: untraced and traced passes alternate (event log,
   streaming progress listener, job descriptions), and the per-layer
   metrics of the traced passes replace the end-to-end ones.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``perfbench/README.md`` defines every metric and workload.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up cycles per run: two keep a run near one minute (README.md, "Sizes")
SETUP_CYCLES = 2
MIN_PASSES = 2
#: share of the VM's CPU time taken by the hypervisor (steal) above
#: which a pass counts as disturbed (see Run.measured)
STEAL_LIMIT = 0.04

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
}


def _environment() -> int:
    """Pin the host settings the benchmark depends on; returns cores."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # a run writes only inside the checkout
    scratch = os.path.join(ROOT, ".perfbench")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # every JVM the session starts (launcher and driver): temp files in the
    # checkout, and no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    # Python workers import the package too
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cores


def _adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, so the
    Python workers that outlive the driver JVM are re-parented here and
    ``_shutdown`` can wait for them (Linux ``PR_SET_CHILD_SUBREAPER``)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = fh.read().rsplit(")", 1)[1].split()[1]
            except (OSError, IndexError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def _shutdown(timeout_s: float = 60.0) -> None:
    """Stop the session, end the driver JVM and every process the run
    started, and wait until each has ended, on every path out of a run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                for q in spark.streams.active:
                    q.stop()
            SparkContext._active_spark_context.stop()
    except Exception as exc:  # the JVM is ended below either way
        print(f"perfbench: session stop failed: {exc!r}", file=sys.stderr)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        kids = _children()
        if not kids:
            return
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    os.kill(pid, sig)
            except (ChildProcessError, ProcessLookupError):
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class RssSampler:
    """Peak resident memory of the driver JVM plus this Python process."""

    def __init__(self, pids: list[int], period_s: float = 0.05):
        self.pids, self.period_s = pids, period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Run:
    def __init__(self, spark, wl, workload: str, spans_mod):
        self.spark, self.wl, self.workload, self.spans = spark, wl, workload, spans_mod
        self.attempted = 0
        self.failed = 0
        self.warmup_failures: list[str] = []
        self.passes: list[dict] = []

    def op(self, rec, pass_id: int, op) -> tuple:
        """One op, timed, then the session release; returns (outcome or
        None, wall seconds, error or None, the op record)."""
        from odoo_batch_processing_spark.session import release_materialized

        rec.begin_op(pass_id, op.name)
        t0 = time.perf_counter()
        try:
            outcome, err = op.run(rec), None
        except Exception as exc:  # a failing op is counted, never dropped
            outcome, err = None, exc
        wall = time.perf_counter() - t0
        record = rec.end_op(wall)
        t1 = time.perf_counter()
        release_materialized()
        self.spark.catalog.clearCache()
        release_s = time.perf_counter() - t1
        record["release_s"] = release_s
        record["pinned_after_op"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        if err is not None:
            print(f"perfbench: {op.name} failed: {err!r}", file=sys.stderr)
        return outcome, wall, err, record

    def setup(self, work: str, seed: int) -> list[float]:
        rec = self.spans.Recorder(self.spark, self.workload, tracing=False)
        cycles = []
        for cycle in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            excluded = 0.0
            self.wl.stage(self.spark, os.path.join(work, f"setup{cycle}"), seed)
            for op in self.wl.ops(-1 - cycle):
                outcome, _, err, _ = self.op(rec, -1 - cycle, op)
                t1 = time.perf_counter()
                ok = err is None
                if ok:
                    if cycle == 0:
                        self.wl.oracle_check(op, outcome)
                    ok = self.wl.check(op, outcome)
                if not ok:
                    self.warmup_failures.append(f"setup{cycle}/{op.name}")
                excluded += time.perf_counter() - t1
            cycles.append(time.perf_counter() - t0 - excluded)
        return cycles

    def timed(self, seconds: float, rec) -> list[dict]:
        """Passes for ``seconds``, at least ``MIN_PASSES``."""
        deadline = time.perf_counter() + seconds
        first = len(self.passes)
        while len(self.passes) - first < MIN_PASSES or time.perf_counter() < deadline:
            self.one_pass(rec)
        return self.passes[first:]

    def one_pass(self, rec) -> dict:
        """One timed pass; every op is checked and counted in
        ``attempted``/``failed``."""
        p = len(self.passes)
        pass_s, slowest, samples = 0.0, 0.0, []
        cpu0 = _cpu_jiffies()
        for op in self.wl.ops(p):
            outcome, wall, err, record = self.op(rec, p, op)
            pass_s += wall + record["release_s"]
            ok = err is None and self.wl.check(op, outcome)
            self.attempted += 1
            self.failed += not ok
            slowest = max(slowest, wall if ok else math.inf)
            samples.append(
                {
                    "op": op.name,
                    "wall_s": wall if ok else math.inf,
                    "op_s": wall,
                    "rows": outcome.rows if ok else 0,
                    "release_s": record["release_s"],
                    "pinned": record["pinned_after_op"],
                }
            )
        cpu1 = _cpu_jiffies()
        steal = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
        self.passes.append(
            {"pass": p, "pass_s": pass_s, "slowest_op_s": slowest, "steal": steal, "samples": samples}
        )
        return self.passes[-1]

    def measured(self, passes: list[dict] | None = None) -> list[dict]:
        """The passes the metrics use. A pass during which the hypervisor
        took more than ``STEAL_LIMIT`` of the VM's CPU time measured the
        host, not the program, so the undisturbed passes are used when
        there are any."""
        passes = self.passes if passes is None else passes
        clean = [q for q in passes if q["steal"] <= STEAL_LIMIT]
        return clean or passes


def end_to_end(run: Run, setup_s: float) -> tuple[dict, dict]:
    passes = run.measured()
    samples = [s for p in passes for s in p["samples"]]
    walls = [s["wall_s"] for s in samples]
    op_time = sum(s["op_s"] for s in samples)
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "op_p50_s": statistics.median(walls),
        # a run has too few op samples for a high percentile with ten
        # samples beyond it, so the tail is each pass's slowest op
        "op_tail_s": statistics.median(p["slowest_op_s"] for p in passes),
        "rows_per_s": sum(s["rows"] for s in samples) / op_time,
    }
    by_op: dict[str, list] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(round(s["op_s"], 3))
    detail = {
        "op_samples": len(walls),
        "pass_s": [round(p["pass_s"], 3) for p in run.passes],
        "pass_steal": [round(p["steal"], 3) for p in run.passes],
        "passes_measured": len(passes),
        "op_s": by_op,
    }
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = _environment()
    try:
        from perfbench import spans, workloads
        from odoo_batch_processing_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc!r}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    _adopt_orphans()
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            cpus=cores,
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload]()
        run = Run(spark, wl, args.workload, spans)
        cycles = run.setup(work, args.seed)
        setup_s = get_spark_s + statistics.median(cycles)
        untraced = spans.Recorder(spark, args.workload, tracing=False)
        if not args.trace:
            run.timed(args.seconds, untraced)
            metrics, detail = end_to_end(run, setup_s)
            units = END_TO_END
        else:
            metrics, detail, units = traced(spark, run, args, cores, work, get_spark_s, spans)
        detail.update(setup_cycles_s=cycles, get_spark_s=get_spark_s)
        oracle_issues = getattr(wl, "oracle_issues", {})
        correct = run.failed == 0 and not run.warmup_failures and not oracle_issues
        detail.update(warmup_failures=run.warmup_failures, oracle_issues=oracle_issues)
        print("perfbench detail: " + json.dumps(detail, default=str), file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
                }
            ),
            flush=True,
        )
        return 0
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)


def traced(spark, run: Run, args, cores: int, work: str, get_spark_s: float, spans):
    """A ``--trace 1`` run: untraced and traced passes alternate for
    ``--seconds`` (so JIT warm-up biases neither side of the overhead
    estimate); the per-layer metrics come from the traced passes."""
    untraced = spans.Recorder(spark, args.workload, tracing=False)
    rec = spans.Recorder(spark, args.workload, tracing=True)
    trig = spans.make_trigger_log()
    base, traced_passes, events = [], [], []
    deadline = time.perf_counter() + args.seconds
    with RssSampler([os.getpid(), spark.sparkContext._gateway.proc.pid]) as rss:
        while len(traced_passes) < MIN_PASSES or time.perf_counter() < deadline:
            base.append(run.one_pass(untraced))
            log = spans.EventLog(spark, os.path.join(work, "eventlog"), len(run.passes))
            spark.streams.addListener(trig)
            log.start()
            try:
                traced_passes.append(run.one_pass(rec))
            finally:
                events += log.stop()
                spark.streams.removeListener(trig)
    tree = spans.build_spans(args.workload, rec.ops, events, trig.triggers)
    self_ms = spans.self_time_ms(tree)
    for s in tree:
        s["self_ms"] = self_ms[s["id"]]
    out_dir = os.path.join(ROOT, ".perfbench", "trace")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
    with open(stem + ".spans.jsonl", "w") as fh:
        for s in tree:
            fh.write(json.dumps(s, default=str) + "\n")
    with open(stem + ".raw.json", "w") as fh:
        json.dump({"ops": rec.ops, "events": events, "triggers": trig.triggers}, fh)

    m = spans.layer_metrics(tree, cores)
    detail = {
        "trigger_tail_percentile": m.pop("streaming.trigger_tail_q"),
        "traced_passes": len(traced_passes),
        "op_accounting": spans.op_accounting(tree),
    }
    n = len(traced_passes)
    samples = [s for p in traced_passes for s in p["samples"]]
    m["session.get_spark_s"] = get_spark_s
    m["process.peak_rss_mb"] = rss.peak_kb / 1024
    m["session.release_s"] = sum(s["release_s"] for s in samples) / n
    m["session.pinned_after_op"] = statistics.mean(s["pinned"] for s in samples)
    counters = [o["counters"] for o in rec.ops]
    bulk = [c for c in counters if "rows_updated" in c]
    builds = [
        ph["end"] - ph["start"]
        for o in rec.ops
        if "rows_updated" in o["counters"]
        for ph in o["phases"]
        if ph["name"] == "build"
    ]
    m["bulk_update.parse_s"] = sum(c.get("parse_s", 0.0) for c in bulk) / n
    m["bulk_update.run_s"] = sum(builds) / n
    m["bulk_update.eager_jobs"] = m["build.eager_jobs"] if bulk else 0.0
    m["bulk_update.applied_frac"] = (
        sum(c["rows_updated"] for c in bulk) / sum(c["visible"] for c in bulk) if bulk else 0.0
    )
    changed_bytes = sum(c["rows_updated"] for c in bulk) / n * getattr(run.wl, "bytes_per_row", 0)
    m["sinks.write_amp"] = m["sinks.output_bytes"] / changed_bytes if changed_bytes else 0.0
    m["trace.overhead_frac"] = (
        statistics.median(p["pass_s"] for p in run.measured(traced_passes))
        / statistics.median(p["pass_s"] for p in run.measured(base))
        - 1
    )
    m["error_rate"] = run.failed / run.attempted
    metrics = {k: m.get(k, 0.0) for k in spans.PER_LAYER}
    units = {k: unit for k, (unit, _) in spans.PER_LAYER.items()}
    return metrics, detail, units


if __name__ == "__main__":
    sys.exit(main())
