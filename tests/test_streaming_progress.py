"""StreamingQueryProgress capture + state-bound gate.

Every drain records a progress summary in
streaming.events.DRAIN_PROGRESS (batches, input rows, max/final
state rows) and leaves no streaming query running. The gate turns
the architecture's central streaming claim — "state expires with
the watermark" — from a docstring into an assertion: the
append-mode windowed aggs (ST8/ST10/ST11) must finish their drain
with ZERO retained state rows (every window emitted and evicted),
and the stream-stream joins (ST5/ST9) must keep state within the
input size (no unbounded buffering).
"""

from __future__ import annotations

import pytest

from etl_npl_pipeline_spark.plans import extras, ivm, llmdata
from etl_npl_pipeline_spark.streaming.events import DRAIN_PROGRESS


@pytest.mark.parametrize(
    "label, fn",
    [
        ("stream_session_window", extras.stream_session_window),
        ("stream_windowed_topk", extras.stream_windowed_topk),
        ("stream_anomaly_alerts", extras.stream_anomaly_alerts),
    ],
)
def test_append_mode_aggs_evict_all_state(spark, sf_dir, label, fn):
    fn(spark, sf_dir).collect()
    assert not spark.streams.active
    p = DRAIN_PROGRESS[label]
    assert p["output_mode"] == "append"
    assert p["batches"] >= 1 and p["input_rows"] > 0
    assert p["state_rows_max"] > 0, "agg never held state — not stateful?"
    # THE gate: watermark eviction must leave nothing behind
    assert p["state_rows_last"] == 0, p


@pytest.mark.parametrize(
    "label, fn",
    [
        ("stream_stream_join", extras.stream_stream_join),
        ("stream_stream_left_join", extras.stream_stream_left_join),
    ],
)
def test_stream_joins_keep_state_bounded(spark, sf_dir, label, fn):
    fn(spark, sf_dir).collect()
    assert not spark.streams.active
    p = DRAIN_PROGRESS[label]
    assert p["batches"] >= 1 and p["input_rows"] > 0
    assert p["state_rows_max"] > 0
    # join state buffers rows within the watermark horizon — it can
    # end nonzero (tail rows newer than the final watermark) but must
    # never exceed what was ingested
    assert p["state_rows_last"] <= p["state_rows_max"] <= 2 * p["input_rows"], p


@pytest.mark.parametrize(
    "label, fn",
    [
        ("stream_join_incremental", ivm.stream_join_incremental),
        ("stream_agg_incremental", ivm.stream_agg_incremental),
        ("stream_cdc_scd2", ivm.stream_cdc_scd2),
        ("stream_quality_probe", llmdata.stream_quality_probe),
        ("stream_drift_monitor", llmdata.stream_drift_monitor),
    ],
)
def test_foreach_batch_folds_are_observable(spark, sf_dir, label, fn):
    """The plan-level foreachBatch folds drain like every other
    stream: progress recorded under their own label, and the drain
    has terminated (not timed out) by the time the fold returns."""
    DRAIN_PROGRESS.pop(label, None)
    fn(spark, sf_dir).collect()
    assert not spark.streams.active
    p = DRAIN_PROGRESS[label]
    assert p["output_mode"] == "foreachBatch"
    assert p["batches"] >= 1 and p["input_rows"] > 0, p


def test_progress_summary_shape():
    # at least one drain ran in this session by now
    assert DRAIN_PROGRESS
    for label, p in DRAIN_PROGRESS.items():
        assert set(p) >= {
            "output_mode", "batches", "input_rows", "duration_ms",
            "state_rows_max", "state_rows_last",
        }, label
        # throughput derives whenever trigger time was recorded
        if p["duration_ms"] > 0:
            assert p["rows_per_sec"] == round(
                p["input_rows"] / (p["duration_ms"] / 1000.0), 1
            ), label
