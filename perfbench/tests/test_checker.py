"""Tests for the benchmark's output checks.

Fast tests plant a dropped row, a perturbed value and a duplicated row or
event into otherwise matching outputs and assert each is flagged. The
end-to-end tests run the batch workloads on a few jobs at sf0.01 through
``run.main`` (exit code 0 when unmodified, 1 with a planted corruption) and
the hot path for a few seconds of stream. Each end-to-end run is a child
process, because ``run.main`` sets the environment its JVM starts with.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import hotpath  # noqa: E402
from oracle import diff  # noqa: E402


def _frame() -> pd.DataFrame:
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})


def test_diff_green_on_reordered_equal_frames():
    a = _frame()
    assert diff(a.iloc[::-1][["s", "v", "k"]], a) is None


@pytest.mark.parametrize(
    "plant",
    [
        lambda d: d.iloc[1:],  # dropped row
        lambda d: d.assign(v=d["v"] + [0.0, 1e-12, 0.0]),  # perturbed value
        lambda d: pd.concat([d, d.iloc[:1]]),  # duplicated row
    ],
    ids=["dropped", "perturbed", "duplicated"],
)
def test_diff_flags_planted_corruption(plant):
    problem = diff(plant(_frame()), _frame())
    assert problem is not None and ("row" in problem)


# -- hot-path checks on hand-built lake and state tables ------------------

def _log() -> dict:
    def ev(eid, user, ts_ms, hr):
        return {"event_id": eid, "user_id": user, "ts_ms": ts_ms, "heart_rate": hr,
                "steps": 1, "calories": 2, "due": ts_ms / 1000, "phase": "low"}

    events = [ev("e1", "user-1", 1_000, 70), ev("e2", "user-1", 3_000, 80), ev("e3", "user-2", 2_000, 90)]
    return {"events": {e["event_id"]: e for e in events}, "files": []}


def _write_lake(tmp, raw_ids, state_rows):
    raw = tmp / "raw" / "__batch_id=0" / "ingest_date=2024-01-01"
    raw.mkdir(parents=True)
    pq.write_table(pa.table({"event_id": raw_ids}), raw / "part-0.parquet")
    state = tmp / "state" / "bucket=1"
    state.mkdir(parents=True)
    dec = pa.decimal128(18, 3)
    pq.write_table(
        pa.table({
            "user_id": [r[0] for r in state_rows],
            "ts": pa.array([r[1] * 1000 for r in state_rows], pa.timestamp("us")),
            "heart_rate": pa.array([Decimal(r[2]) for r in state_rows], dec),
            "steps": pa.array([Decimal(1)] * len(state_rows), dec),
            "calories": pa.array([Decimal(2)] * len(state_rows), dec),
        }),
        state / "part-0.parquet",
    )
    return str(tmp / "raw"), str(tmp / "state")


GOOD_STATE = [("user-1", 3_000, 80), ("user-2", 2_000, 90)]


def test_stream_checks_green(tmp_path):
    failures, batch_of = hotpath.check_stream(_log(), *_write_lake(tmp_path, ["e1", "e2", "e3"], GOOD_STATE))
    assert failures == [] and batch_of == {"e1": 0, "e2": 0, "e3": 0}


@pytest.mark.parametrize(
    "raw_ids, state, needle",
    [
        (["e1", "e3"], GOOD_STATE, "missing"),  # dropped event
        (["e1", "e2", "e3"], [("user-1", 3_000, 81), ("user-2", 2_000, 90)], "expected"),  # perturbed value
        (["e1", "e2", "e2", "e3"], GOOD_STATE, "more than once"),  # duplicated event
        (["e1", "e2", "e3"], [("user-1", 3_000, 80)], "user-2 missing"),  # dropped state row
    ],
    ids=["dropped-event", "perturbed-state", "duplicated-event", "dropped-state-row"],
)
def test_stream_checks_flag_planted_corruption(tmp_path, raw_ids, state, needle):
    failures, _ = hotpath.check_stream(_log(), *_write_lake(tmp_path, raw_ids, state))
    assert any(needle in f for f in failures), failures


def test_dashboard_and_predict_checks():
    want = {"recent_checks": [{"user_id": "u", "cognitive_score": 40, "timestamp": "2024-01-01 00:00:00",
                               "heart_rate": 0, "status": "Critical"}],
            "critical_alerts": 1, "avg_cognitive_score": 40}
    assert hotpath.check_dashboard(json.loads(json.dumps(want)), want) is None
    bad = json.loads(json.dumps(want))
    bad["recent_checks"][0]["heart_rate"] = 1
    assert "recent_checks" in hotpath.check_dashboard(bad, want)
    assert hotpath.check_dashboard({**want, "recent_checks": []}, want) is not None
    assert hotpath.check_predict([{"score": 49, "status": "Critical"}]) is None
    assert hotpath.check_predict([{"score": 50, "status": "Critical"}]) is not None
    assert hotpath.check_predict([{"score": 39, "status": "Critical"}]) is not None


def test_benchmark_json_matches_code():
    import layers
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.GATED)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.LAYER_UNITS
    assert [m["name"] for m in bench["end_to_end"]] == ["setup_s", "cold_pass_s", "pass_s"]


# -- end to end, each run in a child process --------------------------------

SUBSET = {
    "analytics": ["flagship_stats", "analytics_q6_selective", "agg_latest_per_key"],
    "curation": ["text_exact_dedup", "quality_repetition_signals", "graph_minlabel_components"],
}


def _perturb(d: pd.DataFrame) -> pd.DataFrame:
    """Change one value of the first row: a number by one, else a string."""
    d = d.copy()
    col = next((c for c in d.columns if pd.api.types.is_numeric_dtype(d[c])), d.columns[0])
    d.loc[d.index[0], col] = d[col].iloc[0] + 1 if pd.api.types.is_numeric_dtype(d[col]) else f"{d[col].iloc[0]}x"
    return d


PLANTS = {
    "dropped-row": lambda d: d.iloc[1:],
    "perturbed-value": _perturb,
    "duplicated-row": lambda d: pd.concat([d, d.iloc[:1]]),
}


def _child(spec: dict) -> int:
    """Run the benchmark with the test's settings: the workload's jobs cut to
    ``SUBSET`` at sf0.01, hot-path settings overridden, and the first job's
    output corrupted by ``PLANTS[spec["plant"]]`` if given."""
    import batch
    import run

    workload = spec["workload"]
    batch.DATA[workload] = os.path.join(BENCH, "data", "sf0.01")
    batch.JOBS[workload] = SUBSET.get(workload, [])
    overrides, load_config = spec["settings"], hotpath.load_config
    hotpath.load_config = lambda: {**load_config(), **overrides}
    if spec["plant"]:
        original = batch.run_job

        def corrupted(spark, job, data_dir):
            out = original(spark, job, data_dir)
            return PLANTS[spec["plant"]](out) if job.name == SUBSET[workload][0] else out

        batch.run_job = corrupted
    return run.main(["--workload", workload, "--seed", "3", "--seconds", spec["seconds"]])


def _run(workload, plant=None, seconds="1", **settings):
    spec = {"workload": workload, "plant": plant, "seconds": seconds, "settings": settings}
    proc = subprocess.run([sys.executable, __file__, json.dumps(spec)], cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-2000:]
    return proc.returncode, lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["analytics", "curation"])
def test_batch_workload_green(workload):
    code, _, result = _run(workload)
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {"setup_s", "cold_pass_s", "pass_s"}


@pytest.mark.parametrize(
    "workload, plant",
    [("analytics", "dropped-row"), ("curation", "perturbed-value"), ("analytics", "duplicated-row")],
)
def test_batch_workload_flags_planted_corruption(workload, plant):
    code, lines, result = _run(workload, plant)
    assert code == 1 and not result["correct"] and result["failed"] >= 1
    failed = [line for line in lines if line.startswith("FAILED")]
    assert failed and all(SUBSET[workload][0] in line for line in failed)
    assert any("row" in line for line in failed)


@pytest.mark.xfail(
    strict=True,
    reason="streaming.pipeline.upsert_latest_state rewrites a whole hash bucket "
    "with only the users of the current micro-batch, dropping the bucket's "
    "other users; the latest-state check flags it. Predict requests also fail "
    "when the stream deletes a state file they are reading",
)
def test_hot_path_green():
    code, _, result = _run("hot_path", seconds="3", backlog_files=10)
    assert code == 0 and result["correct"], result


if __name__ == "__main__":
    sys.exit(_child(json.loads(sys.argv[1])))
