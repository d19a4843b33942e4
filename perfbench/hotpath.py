"""The ``hot_path`` workload: the serving side, with writes beside reads.

Set-up, timed from the start of the process: a session, seeded CPMS CSVs
from ``sources.fixtures.generate_cpms_csvs``, ``sources.cpms_etl.run_etl``
into parquet, and ``ml.pipeline.train``.

Then ``streaming.pipeline.run_ingest_pipeline(available_now=False)`` reads
the files that ``eventgen.py`` (a separate process, open loop) drops at a
``low`` and a ``high`` rate and then as a backlog. Once the first
micro-batch has committed, a closed loop of two client threads runs until
the stream has drained: one calls ``serving.dashboard_stats`` over the ETL
tables, the other ``ml.pipeline.score_requests(...).collect()`` for one
request against the live latest-state table. A request that fails, for
instance because the stream replaced a state file while it was read, is a
failed operation.

Checks, all after the stream has stopped and all derived from the
generator's log or from DuckDB, never from the engine's own output:

- the raw lake holds each distinct ``event_id`` exactly once;
- the latest-state table equals max-by-event-time per user;
- every dashboard payload equals the same SQL run in DuckDB over the ETL
  parquet;
- each predict row has a score in [40, 100], ``Critical`` exactly when the
  score is below 50.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import subprocess
import sys
import threading
import time
from decimal import Decimal

import duckdb

from common import HERE, load_config, median, new_session, peak_rss_mb, quantile, session_facts

# The latest-state table's schema, given so that reading the live table
# does not infer it from footers the stream may be rewriting.
STATE_SCHEMA = (
    "user_id string, ts timestamp, heart_rate decimal(18,3), steps decimal(18,3), "
    "calories decimal(18,3), bucket int"
)
DASHBOARD_SQL = """
WITH recent AS (
  SELECT s.user_id, s.cognitive_score, s."timestamp",
         COALESCE(r.heart_rate, 0) AS heart_rate,
         CASE WHEN s.cognitive_score < 50 THEN 'Critical' ELSE 'Normal' END AS status
  FROM scores s JOIN users u ON s.user_id = u.user_id
  LEFT JOIN risks r ON s.user_id = r.user_id AND s."timestamp" = r."timestamp"
  ORDER BY s."timestamp" DESC, s.user_id ASC LIMIT 50)
SELECT * FROM recent
"""
DASHBOARD_AGG_SQL = """
SELECT count(*) FILTER (WHERE cognitive_score < 50) AS critical_alerts,
       avg(cognitive_score) AS avg_score
FROM scores
"""


def _setup(cfg: dict, seed: int, work: str, extra_conf: dict, tracer, origin: float):
    from cognitive_score_bigdata_spark.ml.pipeline import train
    from cognitive_score_bigdata_spark.sources.cpms_etl import run_etl
    from cognitive_score_bigdata_spark.sources.fixtures import generate_cpms_csvs

    csv_dir = os.path.join(work, "csv")
    etl_dir = os.path.join(work, "etl")
    t0 = time.time()
    spark = new_session("perfbench-hot-path", extra_conf)
    t1 = time.time()
    generate_cpms_csvs(csv_dir, n_users=cfg["etl_users"], seed=seed)
    t2 = time.time()
    run_etl(
        spark,
        os.path.join(csv_dir, "users.csv"),
        os.path.join(csv_dir, "cognitive_scores.csv"),
        os.path.join(csv_dir, "tracking_risks.csv"),
        etl_dir,
    )
    t3 = time.time()
    model = train(spark, seed=42)
    t4 = time.time()
    for name, a, b in (("session.get_spark", t0, t1), ("sources.generate_cpms_csvs", t1, t2),
                       ("sources.run_etl", t2, t3), ("ml.train", t3, t4)):
        tracer.record(name, a, b)
    return spark, model, etl_dir, t4 - origin


class Readers:
    """Two closed-loop clients on their own threads."""

    def __init__(self, spark, model, etl_dir: str, state_dir: str, cfg: dict, seed: int, tracer):
        self.spark, self.model, self.state_dir, self.tracer = spark, model, state_dir, tracer
        self.tables = [spark.read.parquet(os.path.join(etl_dir, t)) for t in ("users", "cognitive_scores", "tracking_risks")]
        self.users = [f"user-{k}" for k in range(cfg["user_keys"])]
        random.Random(seed).shuffle(self.users)
        self.stop = threading.Event()
        self.calls: dict[str, list[tuple[float, float]]] = {"dashboard": [], "predict": []}
        self.outputs: dict[str, list] = {"dashboard": [], "predict": []}
        self.errors: list[str] = []
        self.threads = [threading.Thread(target=self._loop, args=(k,), daemon=True) for k in ("dashboard", "predict")]

    def _dashboard(self):
        from cognitive_score_bigdata_spark.serving import dashboard_stats

        return dashboard_stats(*self.tables)

    def _predict(self, i: int):
        from cognitive_score_bigdata_spark.ml.pipeline import score_requests

        request = self.spark.createDataFrame(
            [(self.users[i % len(self.users)], 7.0, 4, 100, 5.5, 300.0, 55, "Light")],
            "user_id string, sleep_duration double, stress_level int, caffeine_intake int, "
            "screen_time double, reaction_time double, memory_test_score int, exercise_frequency string",
        )
        state = self.spark.read.schema(STATE_SCHEMA).parquet(self.state_dir)
        return [r.asDict() for r in score_requests(self.model, request, state).collect()]

    def _loop(self, kind: str) -> None:
        self.spark.sparkContext.addJobTag(kind)
        self.spark.sparkContext.setJobDescription(f"reader.{kind}")
        i = 0
        while not self.stop.is_set():
            t0 = time.time()
            try:
                out = self._dashboard() if kind == "dashboard" else self._predict(i)
            except Exception as exc:  # a failed request is a failed operation
                self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
                out = None
            t1 = time.time()
            self.tracer.record(f"reader.{kind}", t0, t1, ok=out is not None)
            self.calls[kind].append((t0, t1))
            if out is not None:
                self.outputs[kind].append(out)
            i += 1

    def start(self):
        for t in self.threads:
            t.start()

    def join(self):
        self.stop.set()
        for t in self.threads:
            if t.ident is not None:
                t.join(timeout=120)


def _wrap_stream_sinks(tracer) -> callable:
    """Span the two public functions the stream's foreachBatch calls."""
    from cognitive_score_bigdata_spark.streaming import pipeline

    originals = {n: getattr(pipeline, n) for n in ("write_raw_batch", "upsert_latest_state")}

    def wrap(name, fn):
        def wrapped(*a, **k):
            t0 = time.time()
            try:
                return fn(*a, **k)
            finally:
                tracer.record(f"streaming.{name}", t0, time.time())

        return wrapped

    for n, fn in originals.items():
        setattr(pipeline, n, wrap(n, fn))
    return lambda: [setattr(pipeline, n, fn) for n, fn in originals.items()]


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _commit_times(checkpoint: str) -> dict[int, float]:
    d = os.path.join(checkpoint, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()}


def _files_per_batch(checkpoint: str) -> dict[int, int]:
    d = os.path.join(checkpoint, "sources", "0")
    out = {}
    for n in os.listdir(d):
        if n.isdigit():
            with open(os.path.join(d, n)) as f:
                out[int(n)] = sum(1 for line in f.read().splitlines()[1:] if line.strip())
    return out


def check_stream(log: dict, raw_dir: str, state_dir: str) -> tuple[list[str], dict[str, int]]:
    """Raw lake and latest-state table against the generator's log.
    Returns (failures, event_id -> micro-batch id)."""
    con = duckdb.connect()
    failures: list[str] = []
    raw = con.execute(
        f"SELECT event_id, __batch_id FROM read_parquet('{raw_dir}/**/*.parquet', hive_partitioning=true)"
    ).fetchall()
    batch_of: dict[str, int] = {}
    for eid, bid in raw:
        if eid in batch_of:
            failures.append(f"raw lake: event {eid} stored more than once")
        batch_of[eid] = int(bid)
    missing = sorted(set(log["events"]) - set(batch_of))
    extra = sorted(set(batch_of) - set(log["events"]))
    if missing:
        failures.append(f"raw lake: {len(missing)} events missing, first {missing[0]}")
    if extra:
        failures.append(f"raw lake: {len(extra)} unknown events, first {extra[0]}")

    want: dict[str, dict] = {}
    for ev in log["events"].values():
        cur = want.get(ev["user_id"])
        if cur is None or ev["ts_ms"] > cur["ts_ms"]:
            want[ev["user_id"]] = ev
    got = con.execute(
        "SELECT user_id, epoch_ms(ts::TIMESTAMP) AS ts_ms, heart_rate, steps, calories "
        f"FROM read_parquet('{state_dir}/*/*.parquet', hive_partitioning=true)"
    ).fetchall()
    con.close()
    seen = set()
    for user, ts_ms, hr, steps, cal in got:
        if user in seen:
            failures.append(f"latest state: user {user} has more than one row")
        seen.add(user)
        ev = want.get(user)
        row = (int(round(ts_ms)), Decimal(hr), Decimal(steps), Decimal(cal))
        exp = ev and (ev["ts_ms"], Decimal(ev["heart_rate"]), Decimal(ev["steps"]), Decimal(ev["calories"]))
        if row != exp:
            failures.append(f"latest state: user {user} is {row}, expected {exp}")
    for user in sorted(set(want) - seen):
        failures.append(f"latest state: user {user} missing")
    return failures, batch_of


def expected_dashboard(etl_dir: str) -> dict:
    con = duckdb.connect()
    for view, table in (("users", "users"), ("scores", "cognitive_scores"), ("risks", "tracking_risks")):
        glob_ = f"{etl_dir}/{table}/*.parquet" if table == "users" else f"{etl_dir}/{table}/*/*.parquet"
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{glob_}', hive_partitioning=true)")
    rows = con.execute(DASHBOARD_SQL).fetchall()
    crit, avg = con.execute(DASHBOARD_AGG_SQL).fetchone()
    con.close()
    recent = [
        {"user_id": u, "cognitive_score": s, "timestamp": str(ts), "heart_rate": int(hr), "status": st}
        for u, s, ts, hr, st in rows
    ]
    return {"recent_checks": recent, "critical_alerts": crit, "avg_cognitive_score": int(avg) if recent else 0}


def check_dashboard(payload: dict, want: dict) -> str | None:
    key = lambda r: json.dumps(r, sort_keys=True)  # noqa: E731
    for k in ("critical_alerts", "avg_cognitive_score"):
        if payload.get(k) != want[k]:
            return f"dashboard {k} = {payload.get(k)!r}, expected {want[k]!r}"
    got = sorted(map(key, payload.get("recent_checks", [])))
    exp = sorted(map(key, want["recent_checks"]))
    for a, b in itertools.zip_longest(got, exp):
        if a != b:
            return f"dashboard recent_checks differ: first got {a} expected {b}"
    return None


def check_predict(rows: list[dict]) -> str | None:
    if len(rows) != 1:
        return f"predict returned {len(rows)} rows"
    score, status = rows[0]["score"], rows[0]["status"]
    if not (40 <= score <= 100):
        return f"predict score {score} outside [40, 100]"
    if (status == "Critical") != (score < 50):
        return f"predict status {status} for score {score}"
    return None


def _latencies(log: dict, batch_of: dict, commits: dict, phase: str) -> list[float]:
    return [
        1000.0 * (commits[batch_of[eid]] - ev["due"])
        for eid, ev in log["events"].items()
        if ev["phase"] == phase and eid in batch_of and batch_of[eid] in commits
    ]


def run(seed: int, seconds: float, work: str, origin: float, hooks) -> dict:
    cfg = load_config()
    tracer = hooks.tracer
    extra = {**hooks.extra_conf, "spark.sql.streaming.numRecentProgressUpdates": "1000"}
    spark, model, etl_dir, setup_s = _setup(cfg, seed, work, extra, tracer, origin)
    hooks.attach()
    restore = _wrap_stream_sinks(tracer) if hooks.trace else (lambda: None)

    from cognitive_score_bigdata_spark.streaming.pipeline import run_ingest_pipeline

    dirs = {k: os.path.join(work, k) for k in ("drop", "stage", "raw", "state", "checkpoint")}
    for d in ("drop", "stage"):
        os.makedirs(dirs[d])
    gen_settings = {
        "seed": seed, "drop_dir": dirs["drop"], "stage_dir": dirs["stage"], "log": os.path.join(work, "events.json"),
        "phase_s": seconds, **{k: cfg[k] for k in ("tick_ms", "events_per_file", "user_keys", "low_eps", "high_eps",
                                                   "backlog_files", "duplicate_share", "out_of_order_share",
                                                   "out_of_order_max_s")},
    }
    readers = Readers(spark, model, etl_dir, dirs["state"], cfg, seed, tracer)
    gen = query = None
    failures: list[str] = []
    try:
        t_stream = time.time()
        gen_settings["start"] = t_stream + 0.5
        with open(os.path.join(work, "gen.json"), "w") as f:
            json.dump(gen_settings, f)
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "eventgen.py"), os.path.join(work, "gen.json")])
        query = run_ingest_pipeline(spark, dirs["drop"], dirs["raw"], dirs["state"], dirs["checkpoint"],
                                    available_now=False)
        first = os.path.join(dirs["checkpoint"], "commits", "0")
        while not os.path.exists(first):
            if query.exception() is not None or time.time() - t_stream > 60:
                raise RuntimeError(f"stream made no first commit: {query.exception()}")
            time.sleep(0.02)
        first_commit_s = os.stat(first).st_mtime - gen_settings["start"]
        readers.start()
        if gen.wait(timeout=2 * seconds + 60) != 0:
            raise RuntimeError(f"event generator exited with {gen.returncode}")
        query.processAllAvailable()
    finally:
        readers.join()
        if query is not None:
            query.stop()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        restore()
    progress = _progress(query)
    rss = peak_rss_mb(spark)
    facts = session_facts(spark)
    hooks.detach()

    # Checks and folding, outside every timed interval.
    with open(gen_settings["log"]) as f:
        log = json.load(f)
    stream_failures, batch_of = check_stream(log, dirs["raw"], dirs["state"])
    failures += stream_failures + readers.errors
    want = expected_dashboard(etl_dir)
    for payload in readers.outputs["dashboard"]:
        problem = check_dashboard(payload, want)
        if problem:
            failures.append(problem)
    for rows in readers.outputs["predict"]:
        problem = check_predict(rows)
        if problem:
            failures.append(problem)

    commits = _commit_times(dirs["checkpoint"])
    lat = {p: _latencies(log, batch_of, commits, p) for p in ("low", "high", "backlog")}
    t_backlog = gen_settings["start"] + 2 * seconds
    drained = max(
        (commits[batch_of[e]] for e, ev in log["events"].items() if ev["phase"] == "backlog" and e in batch_of),
        default=t_backlog,
    )
    committed = sum(1 for b in batch_of.values() if t_backlog < commits.get(b, 0) <= drained)
    capacity = committed / (drained - t_backlog) if drained > t_backlog else 0.0
    dash = [b - a for a, b in readers.calls["dashboard"]]
    pred = [b - a for a, b in readers.calls["predict"]]
    n_events = len(log["events"])
    users = len({ev["user_id"] for ev in log["events"].values()})
    attempted = n_events + users + len(dash) + len(pred)

    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss["total"], "MB"), "capacity_eps": (capacity, "events/s")}
    for p in ("low", "high"):
        named[f"event_latency_p50_ms.{p}"] = (median(lat[p]), "ms")
        named[f"event_latency_p95_ms.{p}"] = (quantile(lat[p], 0.95), "ms")
    for k, v in (("dashboard", dash), ("predict", pred)):
        named[f"{k}_p50_ms"] = (1000 * median(v), "ms")
        named[f"{k}_p95_ms"] = (1000 * quantile(v, 0.95), "ms")

    layers = _stream_layers(progress, tracer, log, commits, _files_per_batch(dirs["checkpoint"]))
    return {
        "spark": spark,
        "facts": facts,
        "attempted": attempted,
        "failures": failures,
        "metrics": named,
        "layers": layers,
        "report": {
            "first_commit_s": first_commit_s,
            "peak_rss_split_mb": rss,
            "events": n_events,
            "files": len(log["files"]),
            "samples": {"low": len(lat["low"]), "high": len(lat["high"]), "dashboard": len(dash), "predict": len(pred)},
            "trace_basis_s": drained - gen_settings["start"],
            "settings": gen_settings,
        },
    }


def _stream_layers(progress: list[dict], tracer, log: dict, commits: dict, files_per_batch: dict) -> dict:
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in busy]  # noqa: E731
    state = [op for p in busy for op in p.get("stateOperators", [])]
    last_state = busy[-1].get("stateOperators", []) if busy else []
    out = {
        "streaming.batches": len(busy),
        "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in busy]),
        "streaming.trigger_ms_p50": median(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": median(dur("addBatch")),
        "streaming.wal_commit_ms_p50": median(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": median(dur("commitOffsets")),
        "streaming.upsert_latest_state_ms_p50": 1000 * median(tracer.durations("streaming.upsert_latest_state")),
        "streaming.write_raw_batch_ms_p50": 1000 * median(tracer.durations("streaming.write_raw_batch")),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
        "streaming.state_memory_mb": sum(op.get("memoryUsedBytes", 0) for op in last_state) / 1024.0 / 1024.0,
        "streaming.state_commit_ms": median([op.get("commitTimeMs", 0) for op in state]),
        "sources.generator_late_ms_max": 1000 * max((f["written"] - f["due"] for f in log["files"]), default=0.0),
    }
    backlog = 0
    done = 0
    for b in sorted(commits):
        done += files_per_batch.get(b, 0)
        dropped = sum(1 for f in log["files"] if f["written"] <= commits[b])
        backlog = max(backlog, dropped - done)
    out["streaming.backlog_files_max"] = backlog
    return out
