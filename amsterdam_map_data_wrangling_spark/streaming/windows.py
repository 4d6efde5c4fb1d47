"""Structured Streaming windowed aggregation over the events table.

The batch queries in ``plans/windows.py`` are the oracle-gated forms; this
module runs the SAME logical aggregations as streams (SURVEY.md §2.8):
``readStream`` over the events parquet → event-time window agg with a
watermark → sink. Spark guarantees batch/stream agreement for these plans,
which tests/test_streaming.py verifies end-to-end with an
``availableNow`` trigger into a memory sink.

Watermark design: late events older than the watermark are dropped and
their windows finalized — state is bounded by (watermark horizon /
window slide) buckets per key, which is what makes the 100 TB/day stream
version of these aggregations feasible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: path → parquet schema: the file stream source needs an explicit schema,
#: and deriving it via a batch read is a driver-side footer read per stream
#: construction — cache it per path (testdata is immutable).
_STREAM_SCHEMA_CACHE: dict[str, "object"] = {}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events parquet (file-source). The ``ts``
    column needs the same normalization as the batch loader
    (sources/registry.py): TIMESTAMP(NANOS) arrives as long ns (via
    nanosAsLong) → integral-div to micros; timestamp[us] without timezone
    arrives as TIMESTAMP_NTZ → cast to LTZ under the pinned UTC session
    (watermarks require TIMESTAMP, and every gated twin assumes LTZ
    epoch semantics)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    if path not in _STREAM_SCHEMA_CACHE:
        _STREAM_SCHEMA_CACHE[path] = spark.read.parquet(path).schema
    schema = _STREAM_SCHEMA_CACHE[path]
    # the file stream source wants a directory: stream the sf dir with a
    # glob restricted to the events file(s)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of the ``tumbling_window_stats`` batch query
    (count + value sum per event-time bucket; complete/update sinks also
    get distinct users via approx_count_distinct at scale)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").alias("num_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "num_events", "sum_value")
    )


def sliding_counts_by_type_stream(
    events: DataFrame,
    window: str = "6 hours",
    slide: str = "2 hours",
    watermark: str = "6 hours",
) -> DataFrame:
    """Streaming twin of ``sliding_window_by_type``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("num"))
        .select(F.col("w.start").alias("window_start"), "event_type", "num")
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Drain a streaming query into an in-memory table with an
    availableNow trigger (test/verification harness). ``complete`` suits
    aggregations; stream-stream joins are append-only."""
    (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
