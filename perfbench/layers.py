"""Tracing for the ``--trace 1`` run, all of it from outside the program.

- Spark's event log (enabled through ``get_spark(extra_conf=...)``,
  uncompressed, not rolling) gives per-job, per-stage and per-task engine
  counters. Batch job calls are tagged with ``setJobDescription(<job>)``;
  the hot-path reader threads tag theirs with the thread-inherited
  ``addJobTag``.
- ``session_cache.session_scoped`` is wrapped in every module that imported
  it, counting calls, hits (store membership checked before each call) and
  build time.
- Spans from the workload modules cover each public call.
- The overhead is the traced run's basis (median warm pass; for the hot
  path, the stream phase) minus that of an untraced run of the same
  workload and seed, made by the same invocation just before.

``Hooks.per_layer`` folds these into the per-layer metrics named in
``BENCHMARK.json``; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

from batch import ANALYTICS, CURATION, FAMILIES
from common import Tracer, median

MB = 1024.0 * 1024.0
# SQL timing accumulators (milliseconds) of the Python UDF operators.
PYTHON_WORKER_TIMERS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


class Hooks:
    def __init__(self, run_id: str, trace: bool, log_dir: str):
        from common import event_log_conf

        self.trace = trace
        self.tracer = Tracer(run_id, enabled=trace)
        self.log_dir = log_dir
        self.extra_conf = event_log_conf(log_dir) if trace else {}
        self.cache = {"calls": 0, "hits": 0, "builds": 0, "build_s": 0.0}
        self._restore: list[tuple] = []

    # -- session_cache -------------------------------------------------
    def attach(self) -> None:
        if not self.trace:
            return
        from cognitive_score_bigdata_spark import session_cache

        original = session_cache.session_scoped
        counts, tracer = self.cache, self.tracer

        def session_scoped(store, spark, key, build):
            counts["calls"] += 1
            if (spark.sparkContext.applicationId, *key) in store:
                counts["hits"] += 1
                return original(store, spark, key, build)
            t0 = time.time()
            try:
                return original(store, spark, key, build)
            finally:
                counts["builds"] += 1
                counts["build_s"] += time.time() - t0
                tracer.record("session_cache.build", t0, time.time())

        for module in list(sys.modules.values()):
            if getattr(module, "session_scoped", None) is original:
                self._restore.append((module, original))
                module.session_scoped = session_scoped

    def detach(self) -> None:
        for module, original in self._restore:
            module.session_scoped = original
        self._restore.clear()

    # -- folding ---------------------------------------------------------
    def per_layer(self, workload: str, record: dict, out_dir: str, reference_s: float) -> dict:
        """The per-layer metrics; ``reference_s`` is the untraced run's
        ``trace_basis_s``, for the tracing overhead."""
        app_id = record["facts"]["app_id"]
        log = EventLog(os.path.join(self.log_dir, app_id))
        spans = self.tracer
        spans.dump(os.path.join(out_dir, f"{spans.run_id}.spans.json"))
        m: dict[str, float] = {name: 0.0 for name in layer_metric_names()}

        setup = [s for s in spans.spans if s.name == "session.get_spark"]
        m["session.get_spark_s"] = median([s.end - s.start for s in setup])
        m["sources.run_etl_s"] = median(spans.durations("sources.run_etl"))
        m["ml.train_s"] = median(spans.durations("ml.train"))

        c = self.cache
        m["session_cache.calls"] = c["calls"]
        m["session_cache.builds"] = c["builds"]
        m["session_cache.build_s"] = c["build_s"]
        m["session_cache.hit_ratio"] = c["hits"] / c["calls"] if c["calls"] else 0.0

        passes = max(1, len(spans.durations("pass")))
        calls = [s for s in spans.spans if s.name.startswith("queries.")]
        for name in ANALYTICS + CURATION:
            m[f"queries.{name}.s"] = median([s.end - s.start for s in calls if s.name == f"queries.{name}"])
        jobs = [j for j in log.jobs.values() if j["desc"] in set(ANALYTICS + CURATION)]
        busy = 0.0
        for s in calls:
            busy += _union([(max(j["start"], s.start), min(j["end"], s.end)) for j in jobs
                            if j["desc"] == s.name[len("queries."):] and j["end"] > s.start and j["start"] < s.end])
        m["queries.driver_s"] = (sum(s.end - s.start for s in calls) - busy) / passes
        tasks = [t for j in jobs for t in log.tasks_of(j)]
        m["queries.jobs"] = len(jobs) / passes
        m["queries.stages"] = sum(len(j["stages"]) for j in jobs) / passes
        m["queries.tasks"] = len(tasks) / passes
        m["io.input_mb"] = sum(t["in_bytes"] for t in tasks) / MB / passes
        m["io.input_rows"] = sum(t["in_rows"] for t in tasks) / passes

        engine = log.all_tasks() if workload == "hot_path" else tasks
        per = max(1, passes if workload != "hot_path" else 1)
        m["spark.executor_cpu_s"] = sum(t["cpu_ns"] for t in engine) / 1e9 / per
        m["spark.executor_run_s"] = sum(t["run_ms"] for t in engine) / 1e3 / per
        m["spark.gc_s"] = sum(t["gc_ms"] for t in engine) / 1e3 / per
        m["spark.shuffle_read_mb"] = sum(t["sr_bytes"] for t in engine) / MB / per
        m["spark.shuffle_write_mb"] = sum(t["sw_bytes"] for t in engine) / MB / per
        m["spark.spill_mb"] = sum(t["spill_bytes"] for t in engine) / MB / per
        m["spark.python_worker_s"] = sum(t["py_ms"] for t in engine) / 1e3 / per
        m["spark.task_skew"] = log.worst_skew({t["stage"] for t in engine})

        for fam, names in FAMILIES.items():
            fj = [j for j in jobs if j["desc"] in names]
            ft = [t for j in fj for t in log.tasks_of(j)]
            m[f"operators.{fam}.s"] = sum(s.end - s.start for s in calls if s.name[len("queries."):] in names) / passes
            m[f"operators.{fam}.jobs"] = len(fj) / passes
            m[f"operators.{fam}.shuffle_mb"] = sum(t["sr_bytes"] + t["sw_bytes"] for t in ft) / MB / passes

        for key, value in record.get("layers", {}).items():
            m[key] = value
        for tag, prefix in (("dashboard", "serving.dashboard"), ("predict", "ml.score_requests")):
            n_calls = len(spans.durations(f"reader.{tag}"))
            tagged = [j for j in log.jobs.values() if tag in j["tags"] or j["desc"] == f"reader.{tag}"]
            if n_calls:
                m[f"{prefix}_jobs_per_call"] = len(tagged) / n_calls
                if tag == "dashboard":
                    m["serving.dashboard_tasks_per_call"] = sum(len(log.tasks_of(j)) for j in tagged) / n_calls

        m["trace.overhead_s"] = record["report"]["trace_basis_s"] - reference_s
        return m


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_ms", "_ms_p50", "_ms_max")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_skew")):
        return "ratio"
    if name.endswith(("_rows", "rows_per_batch_p50")):
        return "rows"
    return "count"


def layer_metric_names() -> list[str]:
    """Every per-layer metric, in ``BENCHMARK.json`` order."""
    names = ["session.get_spark_s", "sources.run_etl_s", "ml.train_s",
             "session_cache.calls", "session_cache.builds", "session_cache.build_s", "session_cache.hit_ratio"]
    names += [f"queries.{j}.s" for j in ANALYTICS + CURATION]
    names += ["queries.driver_s", "queries.jobs", "queries.stages", "queries.tasks", "io.input_mb", "io.input_rows"]
    names += [f"spark.{k}" for k in ("executor_cpu_s", "executor_run_s", "gc_s", "shuffle_read_mb",
                                     "shuffle_write_mb", "spill_mb", "task_skew", "python_worker_s")]
    names += [f"operators.{f}.{k}" for f in FAMILIES for k in ("s", "jobs", "shuffle_mb")]
    names += [f"streaming.{k}" for k in ("batches", "rows_per_batch_p50", "trigger_ms_p50", "add_batch_ms_p50",
                                         "wal_commit_ms_p50", "commit_offsets_ms_p50",
                                         "upsert_latest_state_ms_p50", "write_raw_batch_ms_p50",
                                         "state_rows", "state_memory_mb", "state_commit_ms", "backlog_files_max")]
    names += ["sources.generator_late_ms_max", "serving.dashboard_jobs_per_call",
              "serving.dashboard_tasks_per_call", "ml.score_requests_jobs_per_call",
              "trace.overhead_s"]
    return names


LAYER_UNITS = {name: _unit(name) for name in layer_metric_names()}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EventLog:
    """The few facts of a Spark event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, list] = defaultdict(list)
        if not os.path.exists(path) and os.path.exists(path + ".inprogress"):
            path += ".inprogress"
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "desc": props.get("spark.job.description") or "",
                "tags": set(filter(None, (props.get("spark.job.tags") or "").split(","))),
                "start": e["Submission Time"] / 1000.0,
                "end": float("inf"),
                "stages": list(e.get("Stage IDs", [])),
            }
            self.jobs[e["Job ID"]] = job
            for sid in job["stages"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            py_ms = sum(
                float(acc.get("Update") or 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", [])
                if acc.get("Name") in PYTHON_WORKER_TIMERS
            )
            self.stage_tasks[e["Stage ID"]].append({
                "stage": e["Stage ID"],
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "run_ms": tm.get("Executor Run Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                "in_bytes": inp.get("Bytes Read", 0),
                "in_rows": inp.get("Records Read", 0),
                "py_ms": py_ms,
            })

    def tasks_of(self, job: dict) -> list[dict]:
        return [t for sid in job["stages"] for t in self.stage_tasks.get(sid, [])]

    def all_tasks(self) -> list[dict]:
        return [t for ts in self.stage_tasks.values() for t in ts]

    def worst_skew(self, stages: set) -> float:
        """Max over stages (>= 2 tasks) of max / median task run time."""
        worst = 0.0
        for sid in stages:
            runs = [t["run_ms"] for t in self.stage_tasks.get(sid, [])]
            if len(runs) >= 2 and median(runs) > 0:
                worst = max(worst, max(runs) / median(runs))
        return worst

