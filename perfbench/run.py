"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload pipeline_refresh --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``pipeline_refresh``: a day-2 ``run_pipeline`` on a fixed day-1
  corpus's snapshot and warm score cache, with seeded member churn;
- ``snapshot_diff``: the refresh's diff step alone, on day-2 documents
  derived from the day-1 snapshot by the seed.

Both need the day-1 state, which the package builds once per checkout
in a process of its own. The workload runs in a child process that
leads its own session, with the repository root on ``PYTHONPATH``
(Spark's Python workers import the package from there). This process
samples the memory of the child's whole process tree, kills the session
when the child is done, and prints the result as the last line of its
standard output: ``--trace 0`` gives the end-to-end metrics,
``--trace 1`` the per-layer ones. Everything a run writes stays under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.proc import session_pids, tree_pss_kb  # noqa: E402

WORK = HERE / ".work"
WORKLOADS = ("pipeline_refresh", "snapshot_diff")
CHILD_TIMEOUT_S = 170
DRIVER_MEM = "2g"


class PeakRss:
    """Samples a process tree's memory (as proportional set size) until
    stopped."""

    def __init__(self, pid: int, period_s: float = 1.0):
        self.pid, self.period_s, self.peak_kb = pid, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(self.pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(child: subprocess.Popen) -> None:
    """Kills the child and everything it started (the JVM and Spark's
    Python workers all stay in the child's session), then waits until
    none of them is left."""
    deadline = time.monotonic() + 30
    while True:
        pids = session_pids(child.pid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        child.poll()
        if not pids or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    child.wait()


def run_child(args: dict, log_path: Path) -> tuple[dict, int]:
    """Runs ``perfbench.workload`` in its own process group; returns its
    result and the peak resident kB of its process tree."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # a heap sized for this corpus rather than the package's 8g default:
    # resident memory then follows use instead of lazy heap growth
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = Path(args["run_dir"]) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    # the JVM's own temporary files (Spark's artifact directories, the
    # perf-data file) would otherwise land in the system temporary
    # directory, outside the checkout
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.workload", json.dumps(args)],
            cwd=args["run_dir"],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            with PeakRss(child.pid) as rss:
                code = child.wait(timeout=CHILD_TIMEOUT_S)
        finally:
            stop_session(child)
    result_path = Path(args["result"])
    if code != 0 or not result_path.exists():
        raise RuntimeError(f"workload process exited {code}; log: {log_path}")
    return json.loads(result_path.read_text()), rss.peak_kb


def _package_key() -> str:
    """Hash of the package sources and of the benchmark code that builds
    the day-1 state: the cached state is rebuilt whenever either changes."""
    h = hashlib.sha256()
    files = sorted((ROOT / "collection_templates_spark").rglob("*.py"))
    files += [HERE / "corpus.py", HERE / "workload.py"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def day1_state() -> Path:
    """The day-1 snapshot and score cache both workloads start from, built
    by the package in a process of its own the first time a checkout
    needs it."""
    state = WORK / f"day1-{_package_key()}"
    if state.exists():
        return state
    for stale in WORK.glob("day1-*"):
        shutil.rmtree(stale)
    run_dir = WORK / "prepare"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        result, _ = run_child(
            {"mode": "prepare", "run_dir": str(run_dir), "state": str(state),
             "result": str(run_dir / "result.json")},
            WORK / "prepare.log",
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not result.get("ok"):
        raise RuntimeError(f"day-1 build disagrees with its planted answer: {result}")
    return state


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = ap.parse_args()
    # a terminated run still stops its child processes (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "collection_templates_spark").is_dir():
        print("collection_templates_spark not found next to perfbench/", file=sys.stderr)
        return 2
    WORK.mkdir(exist_ok=True)
    state = day1_state()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    try:
        result, peak_kb = run_child(
            {
                "mode": "measure",
                "workload": opts.workload,
                "seed": opts.seed,
                "seconds": opts.seconds,
                "trace": bool(opts.trace),
                "run_dir": str(run_dir),
                "state": str(state),
                "result": str(run_dir / "result.json"),
            },
            WORK / f"{opts.workload}.log",
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # the known snapshot-diff defect is reported here, outside the verdict
    print(json.dumps({
        "workload": opts.workload,
        "seed": opts.seed,
        "known_defect.oversize_archive": result["oversize_archive"],
        "op_mix": result["op_mix"],
        "output_hash": result["hash"],
        "errors": result["errors"],
    }))
    if opts.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(result["per_layer"].items())}
    else:
        metrics = {
            "setup_s": {"value": result["setup_s"], "unit": "s"},
            "wall_s": {"value": result["wall_s"], "unit": "s"},
            "cpu_s": {"value": result["cpu_s"], "unit": "s"},
            "members_per_s": {"value": result["members"] / result["wall_s"], "unit": "1/s"},
            "peak_rss_mb": {"value": peak_kb / 1024, "unit": "MB"},
        }
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "bytes"
    if field.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
