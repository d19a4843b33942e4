"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,curation,hot_path,all} \
        --seed N --seconds S [--trace 0|1]

Run from the root of a checkout of the repository: the package is imported
from the current directory, as Spark's Python workers do. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Lines before it print every metric of
the workload by name and unit. Details of the run (settings, samples, every
failure, spans) are written under ``.perfbench_out/``. The exit code is 0
only when every output check passed. A traced run first makes an untraced
run of the same workload and seed in a child process, as the reference for
the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "cognitive_score_bigdata_spark"
WORKLOADS = ("analytics", "curation", "hot_path")
# Workloads listed in BENCHMARK.json; ``hot_path`` runs on request only.
GATED = ("analytics", "curation")
# Environment the run sets itself, never inherits from the caller.
_ENGINE_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_LOCAL_DIRS",
)


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _run_all(args: argparse.Namespace) -> int:
    """Each workload in its own process, one after the other."""
    worst = 0
    for w in (*GATED, "hot_path"):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        worst = max(worst, subprocess.run(cmd, check=False).returncode)
    return worst


def _untraced_reference(args: argparse.Namespace, out_dir: str) -> tuple[float, str | None]:
    """Run the workload untraced in a child process; returns its
    ``trace_basis_s`` and, if the child failed, a failure line."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    child = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
    code = child.wait()
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0-{child.pid}.json")
    if not os.path.exists(path):
        return float("nan"), f"untraced reference run exited with {code} and wrote no result"
    with open(path) as f:
        basis = json.load(f)["report"]["trace_basis_s"]
    return basis, None if code == 0 else f"untraced reference run exited with {code}"


def _report_lines(workload: str, trace: bool, record: dict) -> list[str]:
    lines = [f"# workload {workload} ({'traced' if trace else 'untraced'}); "
             f"master {record['facts']['master']}, shuffle partitions "
             f"{record['facts']['shuffle_partitions']}, cwd {record['facts']['cwd']}"]
    for name, (value, unit) in {**record["metrics"], **record.get("printed", {})}.items():
        lines.append(f"{name} = {value:.6g} {unit}")
    for f in record["failures"]:
        lines.append(f"FAILED {f}")
    return lines


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    """Run one workload (or all, each in a child process). Whatever the way
    out, every process started on the way has ended when this returns."""
    args = _parse(argv)
    sys.path.insert(0, HERE)
    import common

    common.adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        return _main(args)
    finally:
        common.stop_processes()


def _main(args: argparse.Namespace) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)

    sys.path.insert(1, root)
    import common
    import layers

    origin = time.time() - common.process_age_s()
    seconds = args.seconds
    for k in _ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(common.CPUS)
    os.environ["PYSPARK_PYTHON"] = sys.executable

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    # Spark's block files and every temporary file stay inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData"
    os.makedirs(tempfile.tempdir)
    hooks = layers.Hooks(run_id, bool(args.trace), os.path.join(work, "eventlog"))

    reference_s = reference_failure = None
    if args.trace:
        # The untraced reference runs first; the traced set-up counts from its end.
        reference_s, reference_failure = _untraced_reference(args, out_dir)
        origin = time.time()
    t_start = time.time()
    try:
        if args.workload == "hot_path":
            import hotpath

            record = hotpath.run(args.seed, seconds, work, origin, hooks)
        else:
            import batch

            record = batch.run(args.workload, args.seed, seconds, origin, hooks)
        spark = record.pop("spark")
        spark.stop()
        if reference_failure:
            record["failures"].append(reference_failure)
        per_layer = hooks.per_layer(args.workload, record, out_dir, reference_s) if args.trace else {}
    finally:
        common.stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    failed = len(record["failures"])
    attempted = max(record["attempted"], 1)
    correct = failed == 0
    for line in _report_lines(args.workload, bool(args.trace), record):
        print(line)
    print(f"error_rate = {failed / attempted:.6g} fraction ({failed} of {attempted} operations)")

    if args.trace:
        metrics = {k: {"value": v, "unit": layers.LAYER_UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in record["metrics"].items()}
    detail = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": seconds,
        "trace": args.trace,
        "wall_s": time.time() - t_start,
        "settings": common.load_config() if args.workload == "hot_path" else {"data": batch.DATA[args.workload]},
        "facts": record["facts"],
        "report": record["report"],
        "failures": record["failures"],
        "metrics": metrics,
    }
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
