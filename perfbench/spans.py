"""Traced-run plumbing: span recording, event-log parsing, layer metrics.

A traced run records, from the benchmark's own files only:

* one op record per op call (wall window, phase windows, Catalyst
  phase times of the drain DataFrame, op counters) — see
  :class:`Recorder`;
* the Spark event log of the timed passes, written by an
  ``EventLoggingListener`` attached to the running context for the
  traced passes only (:class:`EventLog`);
* every streaming progress event (:class:`TriggerLog`).

:func:`build_spans` joins them into the hierarchy
``workload → pass → op → {build, drain, commit} → job → stage``: a job
belongs to the phase named in its job description
(``<workload>/<pass>/<op>/<phase>``), or — for jobs submitted by a
stream execution thread, which overrides the description — to the
phase whose wall window contains its submission time.
:func:`layer_metrics` turns the spans into the per-layer metrics the
benchmark reports. Both are pure functions of their inputs, which is
what ``perfbench/tests/test_spans.py`` exercises on a checked-in
event-log fragment.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

#: sub-packages eager jobs are charged to, by the package file in the
#: job's call site (stream execution jobs: ``streaming``); ``session``
#: is the package's top-level session.py
MODULES = ("plans", "operators", "functions", "sources", "streaming", "session", "other")
STREAM_DURATIONS = ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")

#: every per-layer metric a traced run reports: name → (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "lower"),
    "session.release_s": ("s", "lower"),
    "session.pinned_after_op": ("count", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "build.wall_s": ("s", "lower"),
    "build.nojob_s": ("s", "lower"),
    "build.eager_job_s": ("s", "lower"),
    "build.eager_jobs": ("count", "lower"),
    **{f"build.eager_job_s.{m}": ("s", "lower") for m in MODULES},
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "drain.wall_s": ("s", "lower"),
    "drain.nojob_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_s": ("s", "lower"),
    "exec.max_task_s": ("s", "lower"),
    "exec.single_task_stage_s": ("s", "lower"),
    "exec.sched_wait_s": ("s", "lower"),
    "exec.core_busy_frac": ("ratio", "higher"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.gc_s": ("s", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "sources.input_rows": ("count", "lower"),
    "sources.scan_task_s": ("s", "lower"),
    "sinks.commit_s": ("s", "lower"),
    "sinks.output_bytes": ("bytes", "lower"),
    "sinks.output_rows": ("count", "lower"),
    "sinks.write_amp": ("ratio", "lower"),
    "bulk_update.parse_s": ("s", "lower"),
    "bulk_update.run_s": ("s", "lower"),
    "bulk_update.eager_jobs": ("count", "lower"),
    "bulk_update.applied_frac": ("ratio", "higher"),
    "streaming.triggers": ("count", "lower"),
    "streaming.data_trigger_frac": ("ratio", "higher"),
    "streaming.trigger_gap_s": ("s", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.input_rows": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_memory_bytes": ("bytes", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.trigger_p50_ms": ("ms", "lower"),
    "streaming.trigger_tail_ms": ("ms", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.unaccounted_frac": ("ratio", "lower"),
    "error_rate": ("ratio", "lower"),
}

_CALLSITE_RE = re.compile(r"odoo_batch_processing_spark/(?:(\w+)/)?(\w+)\.py")


# ---------------------------------------------------------------------------
# recording (in-process)
# ---------------------------------------------------------------------------
class Recorder:
    """Collects op records; tags Spark jobs with their phase when tracing."""

    def __init__(self, spark, workload: str, tracing: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.tracing = tracing
        self.ops: list[dict] = []
        self.current: dict | None = None

    def begin_op(self, pass_id: int, name: str) -> dict:
        self.current = {
            "workload": self.workload,
            "pass": pass_id,
            "op": name,
            "start": time.time(),
            "phases": [],
            "catalyst_ms": {},
            "counters": {},
        }
        return self.current

    def end_op(self, wall_s: float) -> dict:
        rec, self.current = self.current, None
        rec["end"] = time.time()
        rec["wall_s"] = wall_s
        if self.tracing:
            self.sc.setJobDescription(None)
            self.ops.append(rec)
        return rec

    @contextmanager
    def phase(self, name: str):
        rec = self.current
        if self.tracing:
            self.sc.setJobDescription(f"{rec['workload']}/{rec['pass']}/{rec['op']}/{name}")
        start = time.time()
        try:
            yield
        finally:
            rec["phases"].append({"name": name, "start": start, "end": time.time()})

    def catalyst(self, drained_df) -> None:
        """Catalyst phase times of the DataFrame a drain executed."""
        if not self.tracing:
            return
        phases = drained_df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            self.current["catalyst_ms"][str(kv._1())] = float(kv._2().durationMs())


class EventLog:
    """An event log of one window of the run (one traced pass), written
    by an ``EventLoggingListener`` attached to the live context."""

    def __init__(self, spark, out_dir: str, window: int):
        sc = spark.sparkContext
        jvm, self._jsc = sc._jvm, sc._jsc.sc()
        os.makedirs(out_dir, exist_ok=True)
        log_id = f"{sc.applicationId}-trace-{window}"
        self.path = os.path.join(out_dir, log_id)
        conf = (
            self._jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            log_id,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(out_dir)),
            conf,
            self._jsc.hadoopConfiguration(),
        )

    def start(self) -> None:
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    def stop(self) -> list[dict]:
        """Detach, flush and return the parsed events."""
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        with open(self.path) as fh:
            return [json.loads(line) for line in fh if line.strip()]


def make_trigger_log():
    """A minimal StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class TriggerLog(StreamingQueryListener):
        def __init__(self):
            self.triggers: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.triggers.append(
                {
                    "timestamp": p.timestamp,
                    "durationMs": dict(p.durationMs or {}),
                    "numInputRows": int(p.numInputRows or 0),
                    "stateRows": sum(int(s.numRowsTotal or 0) for s in ops),
                    "stateMemoryBytes": sum(int(s.memoryUsedBytes or 0) for s in ops),
                    "stateCommitMs": sum(int(s.commitTimeMs or 0) for s in ops),
                }
            )

    return TriggerLog()


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------
def parse_events(events: list[dict]) -> tuple[dict, dict]:
    """Jobs and stages of an event log, with per-stage task lists."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"],
                "end": None,
                "desc": props.get("spark.job.description"),
                "callsite": props.get("callSite.short", ""),
                "stage_ids": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                stages.setdefault(sid, {"id": sid, "job": ev["Job ID"], "tasks": []})
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {"id": info["Stage ID"], "job": None, "tasks": []})
            st["submit"] = info.get("Submission Time")
            st["complete"] = info.get("Completion Time")
            st["n_tasks"] = info.get("Number of Tasks", 0)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            inp, out = m.get("Input Metrics") or {}, m.get("Output Metrics") or {}
            dur = info["Finish Time"] - info["Launch Time"]
            stages.setdefault(ev["Stage ID"], {"id": ev["Stage ID"], "job": None, "tasks": []})[
                "tasks"
            ].append(
                {
                    "dur_ms": dur,
                    "wait_ms": max(
                        0,
                        dur
                        - m.get("Executor Run Time", 0)
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0),
                    ),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "in_bytes": inp.get("Bytes Read", 0),
                    "in_rows": inp.get("Records Read", 0),
                    "out_bytes": out.get("Bytes Written", 0),
                    "out_rows": out.get("Records Written", 0),
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs, stages


def module_of(callsite: str) -> str:
    m = _CALLSITE_RE.search(callsite or "")
    if not m:
        return "other"
    sub, mod = m.groups()
    if sub in MODULES:
        return sub
    return "session" if sub is None and mod == "session" else "other"


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _iso_ms(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp() * 1000


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
def build_spans(workload: str, ops: list[dict], events: list[dict], triggers=()) -> list[dict]:
    """The span tree of a traced window (times in epoch ms)."""
    jobs, stages = parse_events(events)
    spans: list[dict] = []
    root = f"{workload}"
    if not ops:
        return spans
    spans.append(
        {
            "id": root,
            "parent": None,
            "kind": "workload",
            "name": workload,
            "start": min(o["start"] for o in ops) * 1000,
            "end": max(o["end"] for o in ops) * 1000,
        }
    )
    by_pass: dict[int, list[dict]] = defaultdict(list)
    for o in ops:
        by_pass[o["pass"]].append(o)
    phase_spans: list[dict] = []
    for p, pops in sorted(by_pass.items()):
        pid = f"{root}/{p}"
        spans.append(
            {
                "id": pid,
                "parent": root,
                "kind": "pass",
                "name": str(p),
                "start": min(o["start"] for o in pops) * 1000,
                "end": max(o["end"] for o in pops) * 1000,
            }
        )
        for o in pops:
            oid = f"{pid}/{o['op']}"
            spans.append(
                {
                    "id": oid,
                    "parent": pid,
                    "kind": "op",
                    "name": o["op"],
                    "start": o["start"] * 1000,
                    "end": o["end"] * 1000,
                    "wall_ms": o["wall_s"] * 1000,
                    "catalyst_ms": o.get("catalyst_ms", {}),
                    "counters": o.get("counters", {}),
                }
            )
            for ph in o["phases"]:
                span = {
                    "id": f"{oid}/{ph['name']}",
                    "parent": oid,
                    "kind": "phase",
                    "name": ph["name"],
                    "start": ph["start"] * 1000,
                    "end": ph["end"] * 1000,
                }
                spans.append(span)
                phase_spans.append(span)
    by_id = {s["id"]: s for s in phase_spans}
    for job in sorted(jobs.values(), key=lambda j: j["id"]):
        parent = by_id.get(job["desc"]) if job["desc"] else None
        if parent is None:
            # stream execution threads replace the description: attribute
            # by the wall window that contains the submission
            parent = next(
                (s for s in phase_spans if s["start"] <= job["start"] <= s["end"]), None
            )
        if parent is None:
            continue
        jid = f"job-{job['id']}"
        spans.append(
            {
                "id": jid,
                "parent": parent["id"],
                "kind": "job",
                "name": job["callsite"],
                "start": job["start"],
                "end": job["end"],
                "module": "streaming" if "runId = " in (job["desc"] or "") else module_of(job["callsite"]),
            }
        )
        for sid in job["stage_ids"]:
            st = stages.get(sid)
            if not st or st.get("submit") is None:
                continue  # skipped stage (its output was reused)
            tasks = st["tasks"]
            spans.append(
                {
                    "id": f"stage-{sid}",
                    "parent": jid,
                    "kind": "stage",
                    "name": str(sid),
                    "start": st["submit"],
                    "end": st["complete"],
                    "n_tasks": len(tasks),
                    **{
                        k: sum(t[k] for t in tasks)
                        for k in (
                            "dur_ms",
                            "wait_ms",
                            "gc_ms",
                            "in_bytes",
                            "in_rows",
                            "out_bytes",
                            "out_rows",
                            "sw_bytes",
                            "sr_bytes",
                            "spill_bytes",
                        )
                    },
                    "max_task_ms": max((t["dur_ms"] for t in tasks), default=0),
                    "scan_task_ms": sum(t["dur_ms"] for t in tasks if t["in_bytes"] > 0),
                }
            )
    for i, trig in enumerate(triggers):
        t0 = _iso_ms(trig["timestamp"])
        parent = next((s for s in phase_spans if s["start"] <= t0 <= s["end"]), None)
        if parent is None:
            continue
        spans.append(
            {
                "id": f"trigger-{i}",
                "parent": parent["id"],
                "kind": "trigger",
                "name": "trigger",
                "start": t0,
                "end": t0 + trig["durationMs"].get("triggerExecution", 0),
                **{k: v for k, v in trig.items() if k != "timestamp"},
            }
        )
    return spans


def self_time_ms(spans: list[dict]) -> dict[str, float]:
    """Per span: its duration minus the part its children cover."""
    kids: dict[str, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_ms(kids[s["id"]], s["start"], s["end"])
        for s in spans
    }


def op_accounting(spans: list[dict]) -> list[dict]:
    """Per op: wall time split into no-job, eager jobs, Catalyst, drain
    execution and commit. No-job time is the part of the build and drain
    phases that no job (and, in the drain, no Catalyst phase) covers:
    Python/py4j expression building, AQE re-planning between a drain's
    jobs, trigger gaps. The phases are timed separately from the op, so
    ``wall_ms - accounted_ms`` is the op time no phase covers."""
    children: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = []
    for op in (s for s in spans if s["kind"] == "op"):
        acc = {
            "op": op["id"],
            "wall_ms": op["wall_ms"],
            "build_nojob_ms": 0.0,
            "drain_nojob_ms": 0.0,
            "eager_ms": 0.0,
            "catalyst_ms": sum(op["catalyst_ms"].values()),
            "drain_ms": 0.0,
            "commit_ms": 0.0,
        }
        for ph in (p for p in children[op["id"]] if p["kind"] == "phase"):
            wall = ph["end"] - ph["start"]
            if ph["name"] == "commit":
                acc["commit_ms"] += wall
                continue
            jobs = [(j["start"], j["end"]) for j in children[ph["id"]] if j["kind"] == "job"]
            busy = union_ms(jobs, ph["start"], ph["end"])
            if ph["name"] == "build":
                acc["eager_ms"] += busy
                acc["build_nojob_ms"] += wall - busy
            else:
                acc["drain_ms"] += busy
                acc["drain_nojob_ms"] += wall - busy - acc["catalyst_ms"]
        acc["nojob_ms"] = acc["build_nojob_ms"] + acc["drain_nojob_ms"]
        acc["accounted_ms"] = sum(
            acc[k] for k in ("nojob_ms", "eager_ms", "catalyst_ms", "drain_ms", "commit_ms")
        )
        out.append(acc)
    return out


# ---------------------------------------------------------------------------
# layer metrics
# ---------------------------------------------------------------------------
def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of a traced window, as means per pass."""
    by_id = {s["id"]: s for s in spans}
    stages_of: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["kind"] == "stage":
            stages_of[s["parent"]].append(s)
    n_pass = max(1, sum(1 for s in spans if s["kind"] == "pass"))

    def phase_of(span):
        while span is not None and span["kind"] != "phase":
            span = by_id.get(span["parent"])
        return span

    m: dict[str, float] = defaultdict(float, dict.fromkeys(PER_LAYER, 0.0))
    acc = op_accounting(spans)
    for a in acc:
        m["build.eager_job_s"] += a["eager_ms"] / 1000
        m["build.nojob_s"] += a["build_nojob_ms"] / 1000
        m["drain.nojob_s"] += a["drain_nojob_ms"] / 1000
    exec_windows = []
    busy_ms = 0.0
    eager_by_module: dict[tuple, list] = defaultdict(list)
    for s in spans:
        if s["kind"] == "phase":
            dur = (s["end"] - s["start"]) / 1000
            if s["name"] == "build":
                m["build.wall_s"] += dur
            elif s["name"] == "drain":
                m["drain.wall_s"] += dur
            elif s["name"] == "commit":
                m["sinks.commit_s"] += dur
        elif s["kind"] == "op":
            for k in ("analysis", "optimization", "planning"):
                m[f"catalyst.{k}_ms"] += s["catalyst_ms"].get(k, 0.0)
    for j in (s for s in spans if s["kind"] == "job"):
        ph = phase_of(j)
        job_stages = stages_of[j["id"]]
        for st in job_stages:
            m["sources.input_bytes"] += st["in_bytes"]
            m["sources.input_rows"] += st["in_rows"]
            m["sources.scan_task_s"] += st["scan_task_ms"] / 1000
        if ph["name"] == "build":
            m["build.eager_jobs"] += 1
            eager_by_module[(ph["id"], j["module"])].append((j["start"], j["end"]))
            continue
        exec_windows.append((j["start"], j["end"]))
        m["exec.jobs"] += 1
        for st in job_stages:
            m["exec.stages"] += 1
            m["exec.tasks"] += st["n_tasks"]
            m["exec.task_s"] += st["dur_ms"] / 1000
            busy_ms += st["dur_ms"]
            m["exec.max_task_s"] = max(m["exec.max_task_s"], st["max_task_ms"] / 1000)
            if st["n_tasks"] == 1:
                m["exec.single_task_stage_s"] += (st["end"] - st["start"]) / 1000
            m["exec.sched_wait_s"] += st["wait_ms"] / 1000
            m["exec.gc_s"] += st["gc_ms"] / 1000
            m["exec.shuffle_write_bytes"] += st["sw_bytes"]
            m["exec.shuffle_read_bytes"] += st["sr_bytes"]
            m["exec.spill_bytes"] += st["spill_bytes"]
            if ph["name"] == "commit":
                m["sinks.output_bytes"] += st["out_bytes"]
                m["sinks.output_rows"] += st["out_rows"]
    for (phase_id, module), jobs in eager_by_module.items():
        # only the part of a job inside the build window is eager time,
        # and concurrent jobs count once (the clip op_accounting applies)
        ph = by_id[phase_id]
        m[f"build.eager_job_s.{module}"] += union_ms(jobs, ph["start"], ph["end"]) / 1000
    exec_ms = union_ms(exec_windows, float("-inf"), float("inf"))
    core_busy = busy_ms / (cores * exec_ms) if exec_ms > 0 else 0.0

    trig = [s for s in spans if s["kind"] == "trigger"]
    trig_ms = sorted(t["durationMs"].get("triggerExecution", 0) for t in trig)
    m["streaming.triggers"] = len(trig)
    for t in trig:
        for k in STREAM_DURATIONS:
            m[f"streaming.{_snake(k)}_ms"] += t["durationMs"].get(k, 0)
        m["streaming.input_rows"] += t["numInputRows"]
        m["streaming.state_rows"] += t["stateRows"]
        m["streaming.state_memory_bytes"] += t["stateMemoryBytes"]
        m["streaming.state_commit_ms"] += t["stateCommitMs"]
    streaming_builds = {phase_of(t)["id"] for t in trig}
    m["streaming.trigger_gap_s"] = (
        sum((by_id[b]["end"] - by_id[b]["start"]) for b in streaming_builds) - sum(trig_ms)
    ) / 1000

    out = {k: v / n_pass for k, v in m.items()}
    # ratios, maxima and distributions are not per-pass sums
    out["exec.max_task_s"] = m["exec.max_task_s"]
    out["exec.core_busy_frac"] = core_busy
    out["streaming.data_trigger_frac"] = (
        sum(1 for t in trig if t["numInputRows"] > 0) / len(trig) if trig else 0.0
    )
    tail_q, tail = tail_percentile(trig_ms)
    out["streaming.trigger_p50_ms"] = statistics.median(trig_ms) if trig_ms else 0.0
    out["streaming.trigger_tail_ms"] = tail
    out["streaming.trigger_tail_q"] = tail_q
    walls = sum(a["wall_ms"] for a in acc)
    out["trace.unaccounted_frac"] = (
        sum(abs(a["wall_ms"] - a["accounted_ms"]) for a in acc) / walls if walls else 0.0
    )
    return out


def _snake(name: str) -> str:
    return re.sub(r"(?<!^)(?=[A-Z])", "_", name).lower()


def tail_percentile(samples) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    its value (nearest rank). Fewer than 11 samples: the maximum."""
    xs = sorted(samples)
    if not xs:
        return 0.0, 0.0
    if len(xs) <= 10:
        return 100.0, xs[-1]
    idx = len(xs) - 11  # ten samples lie above this one
    return 100.0 * (idx + 1) / len(xs), xs[idx]
