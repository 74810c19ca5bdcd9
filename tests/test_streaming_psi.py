"""dq07 live leg — the windowed PSI drift monitor as an ACTUAL
Structured Streaming run: the per-(day, bucket) histogram drains from a
file stream (complete mode retains every window over the bounded
source), the identical constant-size PSI tail (dq07_psi_surface) scores
it against the frozen baseline, and the result must be row-identical to
the dq07 batch twin the driver oracle checks. This is the st08/st09
stream-static promotion pattern applied to observability."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from api_etl_pipeline_spark.ops.quality import (
    DQ07_BASELINE_END,
    _dq07_bucket,
    dq07_psi_surface,
)
from api_etl_pipeline_spark.registry import all_queries
from api_etl_pipeline_spark.streaming.batch_windows import _stage_dir
from api_etl_pipeline_spark.streaming.stream_ops import windowed_value_histogram
from api_etl_pipeline_spark.tables import load_events_stream, load_table
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_live_psi_monitor_equals_batch_twin(spark):
    stage_dir = _stage_dir(SF_DIR, "events")
    name = "dq07_" + uuid.uuid4().hex[:10]
    q = (
        windowed_value_histogram(load_events_stream(spark, stage_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    daily_live = spark.table(name).select(
        F.col("day").cast("timestamp_ntz").alias("day"), "bucket", "cd"
    )
    base = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("ts") < F.lit(DQ07_BASELINE_END).cast("timestamp_ntz"))
        .groupBy(_dq07_bucket(F.col("value")).alias("bucket"))
        .agg(F.count("*").alias("cb"))
    )
    live = dq07_psi_surface(daily_live, base)
    batch = all_queries()["dq07_window_psi_drift"].fn(spark, SF_DIR)
    assert _rows(live) == _rows(batch)
