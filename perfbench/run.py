#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload npl_etl --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. It generates the seed's inputs under
``.perfbench/inputs`` (cached per seed), empties ``.perfbench/work``,
starts one fresh Spark application (app.py) on local[<cores>] in a new
process group, samples the RSS of that process tree from /proc, and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. Exits 1 when an op failed or
an output check did not pass, 2 when the program is not there.
See README.md in this directory for every metric and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import ensure  # noqa: E402
from procfs import tree_rss  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TIMEOUT_S = 150   # with generation and teardown, a run ends within 180 s

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.scan_mb": "MB",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.task_busy_s": "s",
    "plans.core_util": "ratio",
    "plans.shuffle_write_mb": "MB",
    "plans.spill_mb": "MB",
    "operators.text.exec_s": "s",
    "operators.dedup.signature_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.ann_index.build_s": "s",
    "operators.ann_index.index_mb": "MB",
    "operators.ann_index.query_s.ivf": "s",
    "operators.ann_index.candidates_per_query": "count",
    "operators.ann_index.rerank_yield": "ratio",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.drain_overhead_s": "s",
    "streaming.state_rows_max": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_mb": "MB",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.bytes_mb": "MB",
    "index_build_s": "s",
    "recall_at_5_min": "ratio",
    "stream_rows_per_s": "rows/s",
    "dedup_recall": "ratio",
    "dedup_precision": "ratio",
    "fail_ratio": "ratio",
    "wrong_ratio": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


class RssSampler(threading.Thread):
    def __init__(self, pid: int, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.is_set():
            self.peak = max(self.peak, tree_rss(self.pid))
            self.halt.wait(self.interval)


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _wait_group_gone(pgid: int, timeout: float = 10.0) -> None:
    """Wait until no process of the group is left (the JVM and the
    Python workers exit after the driver)."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    time.sleep(0.5)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "etl_npl_pipeline_spark"))):
        print(f"perfbench: no program sources in {root}", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    input_dir, manifest = ensure(os.path.join(state, "inputs"), args.seed)

    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData' pyspark-shell"),
    )
    env.pop("SPARK_DRIVER_MEMORY", None)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "app.log")

    spawned = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "app.py"),
             "--root", root, "--workload", args.workload,
             "--input", input_dir, "--work", work,
             "--trace", str(args.trace),
             "--spawned", repr(spawned), "--out", result_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _kill_group(proc)
        finally:
            sampler.halt.set()
            sampler.join()
            _wait_group_gone(proc.pid)

    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"perfbench: application exited with {proc.returncode}",
              file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)

    attempted, failed = res["attempted"], res["failed"]
    checked, wrong = res["checked"], len(res["wrong"])
    correct = failed == 0 and wrong == 0
    if args.trace:
        values = dict(res["layers"])
        values["fail_ratio"] = failed / attempted
        values["wrong_ratio"] = wrong / max(checked, 1)
        values["peak_rss_mb"] = sampler.peak / 1e6
        table = PER_LAYER
    else:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": res["wall_s"],
            "cpu_s": res["cpu_s"],
        }
        table = END_TO_END
    for w in res["wrong"]:
        print(f"perfbench: wrong output from {w['op']}: {w['why']}",
              file=sys.stderr)
    for op in res["ops"]:
        if not op["ok"]:
            print(f"perfbench: {op['op']} failed: {op.get('error')}",
                  file=sys.stderr)
    detail = {
        "workload": args.workload, "seed": args.seed,
        "inputs": manifest["tables"], "ops": res["ops"],
        "quality": res["quality"],
        "peak_rss_mb": sampler.peak / 1e6,
        "steal_share": res["steal_share"],
        "phase_s": dict(res["phase_s"], app=time.monotonic() - spawned),
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in table.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
