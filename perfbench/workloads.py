"""The benchmark's workloads: which public program functions each one
calls, in what order, and how each output is checked.

An op is (name, layer, call). ``call(ctx)`` returns a DataFrame, which
the runner materialises by collecting it, or None when the function
did its work eagerly (a sink write). Names that are keys of
``__spark_entry__.queries()`` call that callable; the others call a
module function directly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

PIPELINE_TS = "bench"


@dataclass
class Ctx:
    spark: object
    sf: str                      # generated input directory
    work: str                    # per-run scratch directory (the cwd)
    manifest: dict
    queries: dict
    oracles: dict
    outputs: dict = field(default_factory=dict)  # op -> (columns, rows)


@dataclass
class Op:
    name: str
    layer: str
    call: Callable[[Ctx], object]


def _query(name: str, layer: str) -> Op:
    return Op(name, layer, lambda ctx: ctx.queries[name](ctx.spark, ctx.sf))


def _full_pipeline(ctx: Ctx) -> None:
    from etl_npl_pipeline_spark.plans.pipeline import run_full_pipeline

    run_full_pipeline(
        ctx.spark, ctx.sf, os.path.join(ctx.work, "out", "pipeline"),
        timestamp=PIPELINE_TS,
    )


WORKLOADS = {
    # The paper's job: extract, transform and load the NPL frames with
    # the sinks, upsert a partition, read a report back, and drain the
    # event stream that feeds it (a bot user is the hot key that sizes
    # the stream-stream join state).
    "npl_etl": [
        Op("run_full_pipeline", "sinks", _full_pipeline),
        _query("sink_partition_upsert", "sinks"),
        _query("q5_local_supplier", "plans"),
        _query("stream_stream_join", "streaming"),
    ],
    # LLM-data curation and retrieval: text features, near-duplicate
    # detection against the planted copies, then the ANN index built
    # from an empty warehouse and searched.
    "llm_curation": [
        _query("text_quality", "operators.text"),
        _query("dedup_minhash", "operators.dedup"),
        _query("ann_index_build", "operators.ann_index"),
        _query("ann_ivf", "operators.ann_index"),
    ],
}


# --- output checks (run after the timed region) -----------------------

def match_oracle(cols: list[str], rows: list, sql: str, sf: str) -> None:
    """Same comparison as tests/oracle.py: column names, row count and
    the order-insensitive canonical values, against DuckDB."""
    from tests.oracle import _canon, duck_con

    res = duck_con(sf).execute(sql)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    if sorted(cols) != sorted(o_cols):
        raise AssertionError(f"columns {sorted(cols)} != {sorted(o_cols)}")
    if len(rows) != len(o_rows):
        raise AssertionError(f"{len(rows)} rows, oracle has {len(o_rows)}")
    got, want = _canon([tuple(r) for r in rows], cols), _canon(o_rows, o_cols)
    if got != want:
        diffs = [(a, b) for a, b in zip(got, want) if a != b][:3]
        raise AssertionError(f"values differ, first: {diffs}")


def check_full_pipeline(ctx: Ctx) -> None:
    """The written outputs hold exactly the rows the oracle says the
    NPL frames have."""
    from tests.oracle import duck_con

    from etl_npl_pipeline_spark.plans import npl

    out = os.path.join(ctx.work, "out", "pipeline")
    seg = ctx.spark.read.parquet(os.path.join(out, "segments", PIPELINE_TS))
    common = ctx.spark.read.option("header", "true").csv(
        os.path.join(out, f"common_processed_{PIPELINE_TS}")
    )
    con = duck_con(ctx.sf)
    want_seg = con.execute(
        f"SELECT COUNT(*) FROM ({npl.NPL_QUARTERLY_SQL}) "
        "WHERE segment IS NOT NULL"
    ).fetchone()[0]
    want_common = con.execute(
        f"SELECT COUNT(*) FROM ({npl.NPL_ASSEMBLE_SQL})"
    ).fetchone()[0]
    got = (seg.count(), common.count())
    if got != (want_seg, want_common) or want_seg == 0:
        raise AssertionError(
            f"pipeline rows {got} != oracle {(want_seg, want_common)}"
        )


def check_topk_shape(rows: list[dict], k: int, n_queries: int,
                     n_vecs: int) -> None:
    """Every query gets k distinct, valid neighbours ranked 1..k."""
    per: dict[int, list[dict]] = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(r)
    if len(per) != n_queries:
        raise AssertionError(f"{len(per)} queries answered, {n_queries} asked")
    for q, rs in per.items():
        ids = [r["neighbor_id"] for r in rs]
        ranks = sorted(r["rank"] for r in rs)
        if (ranks != list(range(1, k + 1)) or len(set(ids)) != k
                or any(not 0 <= i < n_vecs or i == q for i in ids)):
            raise AssertionError(f"query {q}: bad top-{k} {rs}")


def exact_topk(ids: np.ndarray, vecs: np.ndarray, query_ids: list[int],
               k: int) -> dict[int, set]:
    """Brute-force cosine top-k (self excluded) in numpy."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for q in query_ids:
        sims = unit @ unit[pos[q]]
        sims[pos[q]] = -np.inf
        out[q] = {int(ids[i]) for i in np.argsort(-sims, kind="stable")[:k]}
    return out


def recall_at_k(approx: list[dict], truth: dict[int, set]) -> float:
    hit = sum(1 for r in approx if r["neighbor_id"] in truth.get(r["query_id"], ()))
    return hit / max(sum(len(v) for v in truth.values()), 1)


def _shingles(text: str, n: int = 3) -> set:
    toks = (text or "").split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def exact_jaccard_pairs(texts: dict[int, str], threshold: float,
                        n: int = 3) -> dict[tuple[int, int], float]:
    """Every doc pair whose word n-gram sets reach ``threshold``,
    by an inverted index over the shingles."""
    sets = {d: _shingles(t, n) for d, t in texts.items()}
    postings: dict[tuple, list[int]] = {}
    for d in sorted(sets):
        for sh in sets[d]:
            postings.setdefault(sh, []).append(d)
    inter: dict[tuple[int, int], int] = {}
    for docs in postings.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                inter[(a, b)] = inter.get((a, b), 0) + 1
    out = {}
    for (a, b), c in inter.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out[(a, b)] = j
    return out


def check_pairs(rows: list[dict], want: dict[tuple[int, int], float]) -> None:
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    if set(got) != set(want) or len(got) != len(rows):
        miss, extra = set(want) - set(got), set(got) - set(want)
        raise AssertionError(
            f"pairs differ: {len(miss)} missing, {len(extra)} extra")
    bad = [p for p in want if f"{got[p]:.6f}" != f"{want[p]:.6f}"]
    if bad:
        raise AssertionError(f"jaccard differs for {bad[:5]}")


def dedup_quality(pairs: list[tuple[int, int]], texts: dict[int, str],
                  planted: list[list[int]], threshold: float) -> dict:
    """Recall of the planted (orig, copy) pairs, and precision of the
    emitted pairs touching a planted copy, confirmed by an exact Python
    word-3-gram Jaccard that shares no code with the operator."""
    got = {(min(a, b), max(a, b)) for a, b in pairs}
    want = {(min(a, b), max(a, b)) for a, b in planted}
    copies = {b for _, b in planted}
    touching = [p for p in got if p[0] in copies or p[1] in copies]

    def jaccard(a: int, b: int) -> float:
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        return len(sa & sb) / len(sa | sb) if sa | sb else 0.0

    confirmed = sum(1 for a, b in touching if jaccard(a, b) >= threshold - 1e-9)
    return {
        "dedup_recall": len(got & want) / max(len(want), 1),
        "dedup_precision": confirmed / max(len(touching), 1),
        "planted_pairs": len(want),
        "emitted_touching": len(touching),
    }

