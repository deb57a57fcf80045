"""ST7: streaming upsert into a merge-on-read table (foreachBatch).

Oracle is the batch path: after draining the update stream, the
reconciled mor_read view must equal the same upsert computed with
plain batch DataFrame ops on the same inputs.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_npl_pipeline_spark import sinks
from etl_npl_pipeline_spark.sources.tables import load_table
from etl_npl_pipeline_spark.streaming.events import (
    events_stream,
    stream_upsert_mor,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_stream_upsert_matches_batch(spark, sf_dir, tmp_path):
    tbl = str(tmp_path / "mor_tbl")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = ev.where(F.col("event_id") < 200)
    sinks.mor_init(base, tbl)

    # update stream: overlapping key range with transformed values —
    # the streamed version must win on overlap, insert on the rest
    updates = (
        events_stream(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .where((F.col("event_id") >= 100) & (F.col("event_id") < 300))
        .withColumn("value", F.col("value") * 2)
    )
    stream_upsert_mor(updates, tbl)
    assert not spark.streams.active

    got = _rows(sinks.mor_read(spark, tbl, key_cols=["event_id"]))

    batch_updates = ev.where(
        (F.col("event_id") >= 100) & (F.col("event_id") < 300)
    ).withColumn("value", F.col("value") * 2)
    expected = _rows(
        base.join(batch_updates, "event_id", "left_anti").unionByName(
            batch_updates
        )
    )
    assert got == expected


def test_stream_upsert_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-draining the same bounded stream from a FRESH checkpoint
    replays batch 0; the batch-id-versioned overwrite must leave the
    table unchanged instead of duplicating the delta."""
    import shutil

    tbl = str(tmp_path / "mor_tbl2")
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    sinks.mor_init(ev.where(F.col("event_id") < 50), tbl)

    updates = (
        events_stream(spark, sf_dir)
        .select("event_id", "value")
        .where(F.col("event_id") < 100)
    )
    stream_upsert_mor(updates, tbl)
    first = _rows(sinks.mor_read(spark, tbl, key_cols=["event_id"]))

    shutil.rmtree(f"{tbl}/_checkpoint")  # simulate lost progress
    stream_upsert_mor(updates, tbl)
    assert _rows(sinks.mor_read(spark, tbl, key_cols=["event_id"])) == first


def test_stream_never_clobbers_batch_deltas(spark, sf_dir, tmp_path):
    """The r3 hazard: a table with batch-written deltas takes a
    stream whose batch 0 used to land at v=1, silently overwriting
    batch history. Epoch namespacing must keep every pre-existing
    delta intact AND keep time travel to the batch-era versions
    correct after the stream drains."""
    tbl = str(tmp_path / "mor_mixed")
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    sinks.mor_init(ev.where(F.col("event_id") < 50), tbl)

    batch_updates = ev.where(
        (F.col("event_id") >= 25) & (F.col("event_id") < 60)
    ).withColumn("value", F.col("value") + 1000)
    v1 = sinks.mor_upsert(batch_updates, tbl)
    assert v1 == 1
    asof_v1 = _rows(
        sinks.mor_read(spark, tbl, key_cols=["event_id"], as_of_version=v1)
    )

    updates = (
        events_stream(spark, sf_dir)
        .select("event_id", "value")
        .where(F.col("event_id") < 100)
        .withColumn("value", F.col("value") * 3)
    )
    stream_upsert_mor(updates, tbl)

    # batch delta v=1 survives byte-for-byte (time travel unchanged)
    assert _rows(
        sinks.mor_read(spark, tbl, key_cols=["event_id"], as_of_version=v1)
    ) == asof_v1
    # stream deltas landed in their own epoch, above v=1
    from etl_npl_pipeline_spark.sinks import _mor_versions
    from etl_npl_pipeline_spark.streaming.events import EPOCH_STRIDE

    vs = _mor_versions(tbl)
    assert v1 in vs and all(v == v1 or v > EPOCH_STRIDE for v in vs)
    # and the reconciled head prefers the stream rows
    head = dict(
        sinks.mor_read(spark, tbl, key_cols=["event_id"]).collect()
    )
    src = dict(ev.where(F.col("event_id") < 100).collect())
    assert head[10] == src[10] * 3
