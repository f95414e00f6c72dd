"""Pass counts of the keyed write path: ``merge_into`` over a
per-frame inference source.

A foreachBatch frame is not cached, so every Spark job a commit runs
re-evaluates the source — and, through ``infer_detections``, re-runs
the model on every frame. These pins count both from outside the
program: model calls in a Spark accumulator (the model loader
``perfbench/workloads.py`` traces with) and jobs in the
AppStatusStore (read the way ``plans/metrics.py`` reads stages).
"""

from __future__ import annotations

import numpy as np
import pytest

N_FRAMES = 64


def _counting_loader(calls):
    """``model_loader`` for ``infer_detections``: the engine's stub
    model, with each call counted in an accumulator."""
    from video_streamer_spark.operators.inference import stub_model

    def loader():
        def model(payload, frame_id):
            calls.add(1)
            return stub_model(payload, frame_id)

        return model

    return loader


def _frames(spark, first_id: int):
    rng = np.random.default_rng(first_id)
    rows = [
        (first_id + i, bytes(rng.integers(0, 256, 256, dtype=np.uint8)))
        for i in range(N_FRAMES)
    ]
    return spark.createDataFrame(rows, "frame_id long, payload binary")


def _max_job_id(spark) -> int:
    """Highest job id in the AppStatusStore, after draining the async
    listener bus (ids are monotonic; the retained-job list is capped, so
    a count of the list would saturate in a long session)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    it = sc.statusStore().jobsList(spark._jvm.java.util.ArrayList()).iterator()
    top = -1
    while it.hasNext():
        top = max(top, it.next().jobId())
    return top


def test_merge_into_inference_source_passes(spark, tmp_path):
    """One routing pass: the keyed classification (duplicate-key
    refusal, routed target read, OCC read set) comes from ONE job over
    the source, and the routed target read joins the source only once
    (the merge's left join; no residual semi join against the source
    keys), so a commit evaluates an inference source 2 times per frame
    in 12 jobs. With the semi join the same commit measured 3.0 calls
    per frame and 13 jobs; before the classification was shared — a
    duplicate-key job, a routing collect inside the target lookup and
    a second routing collect for the read set — 5.0 and 18 (local[4],
    the test session's conf), the figures the traced benchmark run
    reads too."""
    from video_streamer_spark.operators.detections import threshold_filter
    from video_streamer_spark.operators.inference import (
        DETECTION_SCHEMA,
        infer_detections,
    )
    from video_streamer_spark.operators.table_format import (
        create_table,
        current_version,
        merge_into,
    )

    path = str(tmp_path / "store")
    create_table(
        spark.createDataFrame([], DETECTION_SCHEMA),
        path,
        ["frame_id", "box_idx"],
        n_buckets=8,
    )
    calls = spark.sparkContext.accumulator(0)
    loader = _counting_loader(calls)

    def source(first_id: int):
        return threshold_filter(
            infer_detections(_frames(spark, first_id), model_loader=loader)
        )

    # warm-up commit: first-use planning and Python worker start-up
    merge_into(spark, path, source(0))
    # measured commit: half the frames update stored keys, half insert
    calls.value = 0
    job0 = _max_job_id(spark)
    merge_into(spark, path, source(N_FRAMES // 2))
    jobs = _max_job_id(spark) - job0
    per_frame = calls.value / N_FRAMES

    assert current_version(path) == 3  # both commits landed
    assert per_frame == 2.0, per_frame
    assert jobs == 12, jobs
    # the shared classification still refuses duplicate source keys
    dup = source(0).unionByName(source(0).limit(1))
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_into(spark, path, dup)
