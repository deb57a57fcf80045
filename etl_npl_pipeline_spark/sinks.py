"""Load stage — reference parity for the timestamped per-segment
CSV writes (src/ETL-NPL-Pipeline.py:768-793), Spark-first.

``write_segmented`` replaces the reference's per-category loop with
ONE partitioned write: a single pass over the data lays out
``.../segment=<value>/`` directories. At 100 TB the difference
between one partitioned write and N filtered full scans is N-1
extra reads of the corpus.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame


def run_timestamp(now: datetime | None = None) -> str:
    """``YYYYmmdd_HHMM`` tag (ref: src:769)."""
    dt = now or datetime.now(timezone.utc)
    return dt.strftime("%Y%m%d_%H%M")


def write_segmented(
    df: DataFrame,
    path: str,
    segment_col: str,
    fmt: str = "parquet",
    timestamp: str | None = None,
    mode: str = "overwrite",
) -> str:
    """One-pass segmented write: ``{path}/{ts}/segment=<v>/...``.

    parquet by default (columnar, splittable, statistics); pass
    fmt="csv" for reference-identical output files.
    """
    ts = timestamp or run_timestamp()
    target = f"{path.rstrip('/')}/{ts}"
    writer = df.write.mode(mode).partitionBy(segment_col)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(target)
    return target


def upsert_by_partition(
    df: DataFrame,
    path: str,
    partition_col: str,
    fmt: str = "parquet",
) -> str:
    """Incremental upsert at partition granularity: only the
    partitions present in ``df`` are replaced; others are untouched
    (dynamic partition overwrite). This is the parquet-native
    incremental-load pattern when no table format (Delta/Iceberg)
    is available — idempotent per partition, safe to re-run a
    failed batch.

    Pair with ``foreachBatch`` on a stream for continuous
    incremental loads: each micro-batch overwrites exactly the
    partitions it carries.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .format(fmt)
        .save(path)
    )
    return path


def write_timestamped(
    df: DataFrame, path: str, name: str, fmt: str = "csv",
    timestamp: str | None = None,
) -> str:
    """Single-table timestamped write (ref's per-category filename
    pattern ``{cate}_processed_{ts}``)."""
    ts = timestamp or run_timestamp()
    target = f"{path.rstrip('/')}/{name}_processed_{ts}"
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(target)
    return target


# Storage format of every merge-on-read base and delta. One constant,
# not a per-call option: a writer and a reader that disagreed would
# misread the table.
_MOR_FORMAT = "parquet"


def mor_init(df: DataFrame, path: str) -> str:
    """Initialize a merge-on-read table: base snapshot at
    ``{path}/base``, deltas land under ``{path}/_deltas/v=N``."""
    df.write.mode("overwrite").format(_MOR_FORMAT).save(
        f"{path.rstrip('/')}/base"
    )
    return path


def _mor_versions(path: str) -> list[int]:
    import os

    ddir = f"{path.rstrip('/')}/_deltas"
    if not os.path.isdir(ddir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(ddir)
        if d.startswith("v=")
    )


def mor_upsert(updates: DataFrame, path: str) -> int:
    """Merge-on-read upsert: append the batch as the next delta
    version — an O(batch) write with NO read of the base (contrast
    merge_upsert's copy-on-write, which rewrites affected
    partitions). The cost moves to read time; ``mor_compact``
    amortizes it away.

    Rows with ``_deleted = true`` are tombstones. Returns the delta
    version written.
    """
    v = (_mor_versions(path)[-1] + 1) if _mor_versions(path) else 1
    updates.write.mode("errorifexists").format(_MOR_FORMAT).save(
        f"{path.rstrip('/')}/_deltas/v={v}"
    )
    return v


def mor_read(
    spark,
    path: str,
    key_cols: list[str],
    as_of_version: int | None = None,
) -> DataFrame:
    """Reconciled view of a merge-on-read table: base ∪ deltas,
    latest version per key wins, tombstones dropped.

    ``as_of_version`` is TIME TRAVEL: reconcile only deltas with
    version <= N, reproducing the table exactly as it stood after
    delta N landed (0 = base snapshot alone). Because deltas are
    immutable appends, any historical view — "the corpus the
    2024-03 training run actually read" — stays reconstructible
    until a compaction folds the history; reproducibility is the
    whole reason a training pipeline wants MOR over
    rewrite-in-place.

    One window shuffle on the key over base+deltas — the read
    amplification merge-on-read trades for its O(batch) writes. At
    scale, keys cluster by partition and the window shuffle prunes
    to partitions with deltas after compaction.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    base = spark.read.format(_MOR_FORMAT).load(f"{path.rstrip('/')}/base")
    if "_deleted" not in base.columns:
        base = base.withColumn("_deleted", F.lit(False))
    frames = [base.withColumn("_v", F.lit(0))]
    for v in _mor_versions(path):
        if as_of_version is not None and v > as_of_version:
            continue
        d = spark.read.format(_MOR_FORMAT).load(
            f"{path.rstrip('/')}/_deltas/v={v}"
        )
        if "_deleted" not in d.columns:
            d = d.withColumn("_deleted", F.lit(False))
        frames.append(d.withColumn("_v", F.lit(v)))
    allrows = frames[0]
    for f in frames[1:]:
        allrows = allrows.unionByName(f)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("_v"))
    return (
        allrows.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (~F.col("_deleted")))
        .drop("_rn", "_v", "_deleted")
    )


def mor_compact(spark, path: str, key_cols: list[str]) -> str:
    """Fold all deltas into a fresh base snapshot and clear them —
    the background job that bounds merge-on-read's read
    amplification. Reconcile → write new base → drop _deltas."""
    import shutil

    merged = mor_read(spark, path, key_cols)
    tmp = f"{path.rstrip('/')}/base_compacting"
    merged.write.mode("overwrite").format(_MOR_FORMAT).save(tmp)
    shutil.rmtree(f"{path.rstrip('/')}/base")
    shutil.move(tmp, f"{path.rstrip('/')}/base")
    ddir = f"{path.rstrip('/')}/_deltas"
    shutil.rmtree(ddir, ignore_errors=True)
    return path


def merge_upsert(
    spark,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    fmt: str = "parquet",
) -> str:
    """Row-level MERGE (upsert) on a plain parquet table — the
    copy-on-write emulation of ``MERGE INTO`` when no transactional
    table format (Delta/Iceberg) is available.

    1. The partitions touched by ``updates`` are enumerated (tiny
       distinct on the update batch).
    2. ONLY those partitions are read back from the target —
       partition pruning keeps the rewrite proportional to the
       update footprint, not the table size.
    3. Existing rows are anti-joined out on the key, the updates
       unioned in, and the affected partitions dynamically
       overwritten. Untouched partitions' files are never opened.

    Semantics: last-writer-wins per key (update replaces existing
    row; new keys insert). Idempotent — re-running the same batch
    yields the same state. At 100 TB the rewrite cost is
    O(affected partitions); choose the partition key so updates
    cluster (e.g. event date for late-arriving facts).

    Not atomic across partitions (no table format, no transaction
    log): a crash mid-write can leave some partitions updated.
    Each partition's own overwrite is atomic-by-rename, and
    re-running the batch converges.
    """
    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    import os

    existing = [
        p for p in parts
        if os.path.isdir(f"{target_path}/{partition_col}={p}")
    ]
    if existing:
        import pyspark.sql.functions as F

        old = (
            spark.read.format(fmt)
            .option("basePath", target_path)
            .load([f"{target_path}/{partition_col}={p}" for p in existing])
        )
        keep = old.join(
            F.broadcast(updates.select(*key_cols).distinct()),
            on=key_cols,
            how="left_anti",
        )
        merged = keep.select(*updates.columns).unionByName(updates)
    else:
        merged = updates
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .format(fmt)
        .save(target_path)
    )
    return target_path
