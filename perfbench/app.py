"""One benchmark application: a fresh Spark application that runs one
workload pass, then checks every output, and
writes its measurements as JSON.

run.py starts it, times set-up from the moment it spawned the process,
samples its memory from /proc and kills it on timeout. Run it through
run.py, not directly.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1e6


def redirect_scratch(work: str) -> None:
    """Point every module-level scratch path of the program that lives
    in a ``.tmp`` directory outside the run's work dir at
    ``<work>/.tmp`` instead, so no run reads state an earlier run left
    and nothing is written outside the work dir."""
    pat = re.compile(r"^(/.*?/\.tmp)(/|$)")
    for name, mod in list(sys.modules.items()):
        if not name.startswith("etl_npl_pipeline_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if isinstance(val, str) and (m := pat.match(val)) \
                    and not val.startswith(work):
                setattr(mod, attr, os.path.join(work, ".tmp")
                        + val[m.end(1):])


class Runner:
    """Times ops; with a tracer, also records spans and stage counters."""

    def __init__(self, ctx, tracer=None) -> None:
        self.ctx = ctx
        self.tracer = tracer
        self.records: list[dict] = []
        self.stage_overhead_s = 0.0

    def _measured(self, action):
        from etl_npl_pipeline_spark.metrics import run_with_metrics

        c0 = time.perf_counter()
        m = run_with_metrics(self.ctx.spark, action)
        self.stage_overhead_s += max(
            time.perf_counter() - c0 - m["wall_sec"], 0.0)
        return m

    def run(self, op) -> dict:
        """Call the op, then materialise what it returned by collecting
        it: every row and column is computed, and the checks after the
        timed region see exactly the rows that were timed."""
        from pyspark.sql import DataFrame

        rec = {"op": op.name, "layer": op.layer,
               "build_s": 0.0, "exec_s": 0.0, "ok": False, "stages": []}
        self.records.append(rec)
        box, rows = [], []

        def materialise():
            if isinstance(box[0], DataFrame):
                rows.extend(box[0].collect())

        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                box.append(op.call(self.ctx))
                t1 = time.perf_counter()
                materialise()
                t2 = time.perf_counter()
            else:
                with self.tracer.span(op.name, op.layer):
                    rec["stages"].append(
                        self._measured(lambda: box.append(op.call(self.ctx))))
                    t1 = time.perf_counter()
                    rec["stages"].append(self._measured(materialise))
                    t2 = time.perf_counter()
        except Exception as exc:  # one failing op must not stop the run
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rec["total_s"] = time.perf_counter() - t0
            traceback.print_exc()
            return rec
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, total_s=t2 - t0, ok=True)
        if isinstance(box[0], DataFrame):
            self.ctx.outputs[op.name] = (box[0].columns, rows)
        return rec


def check_outputs(ctx, records) -> tuple[int, list[dict], dict]:
    """Check every op of the pass against its DuckDB oracle or, for
    rows-only and costly-oracle ops, an exact verifier in plain Python.
    Returns (checked, wrong, quality)."""
    import pyarrow.parquet as pq

    import workloads as W
    from etl_npl_pipeline_spark.plans import llmdata

    checked, wrong, quality = 0, [], {}
    ok_ops = [r["op"] for r in records if r["ok"]]
    for name in ok_ops:
        checked += 1
        cols, out = ctx.outputs.get(name, ([], []))
        rows = [r.asDict() for r in out]
        try:
            if name == "run_full_pipeline":
                W.check_full_pipeline(ctx)
            elif name == "dedup_minhash":
                docs = pq.read_table(os.path.join(ctx.sf, "documents.parquet"),
                                     columns=["doc_id", "text"]).to_pydict()
                texts = dict(zip(docs["doc_id"], docs["text"]))
                threshold = llmdata.MINHASH_CONTRACT_THRESHOLD
                quality.update(W.dedup_quality(
                    [(r["doc_a"], r["doc_b"]) for r in rows], texts,
                    ctx.manifest["planted_pairs"], threshold))
                quality["verified_pairs"] = len(rows)
                W.check_pairs(rows, W.exact_jaccard_pairs(texts, threshold))
            elif name == "ann_ivf":
                emb = pq.read_table(os.path.join(ctx.sf, "embeddings.parquet"))
                ids = emb["vec_id"].to_numpy()
                vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
                W.check_topk_shape(rows, llmdata.ANN_K, llmdata.ANN_N_QUERIES,
                                   len(ids))
                truth = W.exact_topk(ids, vecs, list(range(llmdata.ANN_N_QUERIES)),
                                     llmdata.ANN_K)
                quality["recall_at_5_min"] = W.recall_at_k(rows, truth)
            else:
                W.match_oracle(cols, out, ctx.oracles[name], ctx.sf)
            if name == "ann_index_build":
                wh = os.path.join(ctx.work, "spark-warehouse")
                idx = [d for d in os.listdir(wh) if d.startswith("ann_idx_")]
                if len(idx) != 1:
                    raise AssertionError(f"expected one fresh index, found {idx}")
        except AssertionError as exc:
            wrong.append({"op": name, "why": str(exc)[:500]})
    return checked, wrong, quality


def _sum_stage(records, key: str) -> float:
    return sum(m[key] for r in records for m in r["stages"])


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def layer_metrics(ctx, tracer, runner, out, own: set, cores: int) -> dict:
    """Per-layer numbers of a traced run. ``sources.*`` and ``plans.*``
    cover the workload's own ops (``own``); the operator, streaming and
    sink numbers come from wherever their ops ran."""
    from etl_npl_pipeline_spark.plans import llmdata

    recs = [r for r in runner.records if r["ok"]]
    by_op = {r["op"]: r for r in recs}
    mine = [r for r in recs if r["op"] in own]
    self_t = tracer.self_time()
    exec_s = sum(r["exec_s"] for r in mine)
    op_s = sum(r["total_s"] for r in mine)
    busy = _sum_stage(mine, "executor_run_ms") / 1000.0
    loads = [s for s in tracer.by_name("sources.tables.load_table")
             if tracer.root(s)["name"] in own]
    L = {
        "session.start_s": out["setup_s"],
        "sources.load_table.calls": len(loads),
        "sources.load_table.s": sum(s["end"] - s["start"] for s in loads),
        "sources.scan_mb": _sum_stage(mine, "input_bytes") / MB,
        "plans.build_s": sum(r["build_s"] for r in mine),
        "plans.exec_s": exec_s,
        "plans.stages": _sum_stage(mine, "stages"),
        "plans.tasks": _sum_stage(mine, "num_tasks"),
        "plans.task_busy_s": busy,
        "plans.core_util": busy / (op_s * cores) if op_s else 0.0,
        "plans.shuffle_write_mb": _sum_stage(mine, "shuffle_write_bytes") / MB,
        "plans.spill_mb": (_sum_stage(mine, "memory_spill_bytes")
                           + _sum_stage(mine, "disk_spill_bytes")) / MB,
        "operators.text.exec_s": sum(
            r["total_s"] for r in recs if r["layer"] == "operators.text"),
    }

    # dedup: signature and candidate stages, timed apart after the pass
    sig_s = cands = 0.0
    verified = out["quality"].get("verified_pairs", 0)
    if "dedup_minhash" in by_op:
        from etl_npl_pipeline_spark.operators import dedup as D

        docs = ctx.spark.read.parquet(os.path.join(ctx.sf, "documents.parquet"))
        t = time.perf_counter()
        sigs = D.minhash_signatures(docs, "text", "doc_id", n=3).cache()
        sigs.count()
        sig_s = time.perf_counter() - t
        cands = D.minhash_candidates(sigs).count()
        sigs.unpersist()
    L.update({
        "operators.dedup.signature_s": sig_s,
        "operators.dedup.candidate_pairs": cands,
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.verify_yield": verified / cands if cands else 0.0,
    })

    # ANN index: build span self time, artifact size, derived probe work
    wh = os.path.join(ctx.work, "spark-warehouse")
    idx_bytes = sum(_dir_stats(os.path.join(wh, d))[1]
                    for d in (os.listdir(wh) if os.path.isdir(wh) else [])
                    if d.startswith("ann_idx_"))
    n_vecs = ctx.manifest["tables"]["embeddings"]["rows"]
    cand = (n_vecs * llmdata.IVF_KNOBS["n_probe"]
            / llmdata.IVF_KNOBS["n_clusters"]) if "ann_ivf" in by_op else 0.0
    builds = tracer.by_name("operators.ann_index.build_ann_index")
    L.update({
        "operators.ann_index.build_s": sum(
            s["end"] - s["start"] for s in builds),
        "operators.ann_index.index_mb": idx_bytes / MB,
        "operators.ann_index.query_s.ivf": by_op.get("ann_ivf", {}).get(
            "total_s", 0.0),
        "operators.ann_index.candidates_per_query": cand,
        "operators.ann_index.rerank_yield": llmdata.ANN_K / cand if cand else 0.0,
        "index_build_s": by_op.get("ann_index_build", {}).get("total_s", 0.0),
        "recall_at_5_min": out["quality"].get("recall_at_5_min", 0.0),
        "dedup_recall": out["quality"].get("dedup_recall", 0.0),
        "dedup_precision": out["quality"].get("dedup_precision", 0.0),
    })
    if "ann_index_build" in by_op and not any(
            m["stages"] for m in by_op["ann_index_build"]["stages"]):
        out["wrong"].append({"op": "ann_index_build",
                             "why": "traced build ran no Spark stage"})

    # streaming: listener progress of every drain in the pass
    prog = tracer.progress
    drain_s = sum(r["build_s"] for r in recs if r["layer"] == "streaming")
    trigger_ms = sum((p.get("durationMs") or {}).get("triggerExecution", 0)
                     for p in prog)
    rows_in = sum(p.get("numInputRows", 0) for p in prog)
    state = [p.get("stateOperators") or [] for p in prog]
    L.update({
        "streaming.drain_s": drain_s,
        "streaming.batches": len(prog),
        "streaming.input_rows": rows_in,
        "streaming.trigger_ms": trigger_ms,
        "streaming.drain_overhead_s": drain_s - trigger_ms / 1000.0
        if prog else 0.0,
        "streaming.state_rows_max": max(
            (sum(o.get("numRowsTotal", 0) for o in s) for s in state),
            default=0),
        "streaming.state_commit_ms": sum(
            o.get("commitTimeMs", 0) for s in state for o in s),
        "streaming.state_mb": max(
            (sum(o.get("memoryUsedBytes", 0) for o in s) for s in state),
            default=0) / MB,
        "stream_rows_per_s": rows_in / drain_s if drain_s else 0.0,
    })

    # sinks: time inside the sink functions and what they left on disk
    files = size = 0
    for path in (os.path.join(ctx.work, "out"),
                 os.path.join(ctx.work, ".tmp", "partition_upsert")):
        f, s = _dir_stats(path)
        files, size = files + f, size + s
    L.update({
        "sinks.write_s": self_t.get("sinks", 0.0),
        "sinks.files": files,
        "sinks.bytes_mb": size / MB,
    })
    return L


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    sys.path.insert(1, HERE)
    os.chdir(args.work)
    from etl_npl_pipeline_spark.session import get_spark
    from procfs import host_ticks, tree_cpu_s

    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect()
    setup_s = time.monotonic() - args.spawned

    import __spark_entry__ as entry
    import workloads as W

    redirect_scratch(args.work)
    with open(os.path.join(args.input, "manifest.json")) as fh:
        manifest = json.load(fh)
    ops = W.WORKLOADS[args.workload]
    ctx = W.Ctx(spark, args.input, args.work, manifest,
                entry.queries(), entry.oracle_sql())

    tracer = None
    if args.trace:
        from tracing import Tracer

        from etl_npl_pipeline_spark import sinks
        from etl_npl_pipeline_spark.operators import ann_index
        from etl_npl_pipeline_spark.sources import tables

        tracer = Tracer(f"{args.workload}-{os.getpid()}")
        tracer.wrap(tables, ["load_table"], "sources")
        tracer.wrap(sinks, ["write_segmented", "write_timestamped",
                            "upsert_by_partition"], "sinks")
        tracer.wrap(ann_index, ["build_ann_index", "ivf_query"],
                    "operators.ann_index")
        tracer.listen(spark)
    runner = Runner(ctx, tracer)

    # timed region: one pass of the workload in the fresh application
    cpu0, host0 = tree_cpu_s(os.getpid()), host_ticks()
    t0 = time.perf_counter()
    for op in ops:
        runner.run(op)
    wall_s = time.perf_counter() - t0
    cpu_s = tree_cpu_s(os.getpid()) - cpu0
    host = [b - a for a, b in zip(host0, host_ticks())]
    if tracer is not None:
        # the other workload's ops too, untimed, so that every layer
        # reports a measured value in every traced run
        for name, other in W.WORKLOADS.items():
            if name != args.workload:
                for op in other:
                    runner.run(op)

    t_checks = time.perf_counter()
    checked, wrong, quality = check_outputs(ctx, runner.records)
    out = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "cpu_s": cpu_s,
        "attempted": len(runner.records),
        "failed": sum(1 for r in runner.records if not r["ok"]),
        "checked": checked,
        "wrong": wrong,
        "quality": quality,
        "steal_share": host[1] / max(host[0], 1),
        "phase_s": {"checks": time.perf_counter() - t_checks},
        "ops": [{k: v for k, v in r.items() if k != "stages"}
                for r in runner.records],
    }
    if tracer is not None:
        out["layers"] = layer_metrics(
            ctx, tracer, runner, out, {op.name for op in ops},
            spark.sparkContext.defaultParallelism)
        out["layers"]["trace.wall_s"] = wall_s
        out["layers"]["trace.overhead_s"] = (tracer.overhead_s
                                             + runner.stage_overhead_s)
        tracer.dump(os.path.join(args.work, "trace.json"))
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
