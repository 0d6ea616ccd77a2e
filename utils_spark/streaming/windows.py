"""Streaming window operators (tumbling, sliding, session) + stateful dedup.

Scale design: watermarks bound state; aggregations are partial+final like
batch; session windows use Spark's native session_window state store. At
100 TB/day the same code runs against Kafka/file sources — only the
readStream source line changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utils_spark.io import normalize_events_ts, pin_read_confs, resolve_schema


def read_events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events table (stand-in for Kafka in this
    environment). The stream's schema is the stored one from
    ``io.resolve_schema`` (inferred once per session and file version, the
    same entry ``load_table`` uses), and `events.ts`, which has shipped as
    TIMESTAMP(NANOS) and as TIMESTAMP(MICROS, ntz) across testdata
    regenerations, gets ``load_table``'s normalization, so stream and
    batch schemas are identical (a unit test pins that equality)."""
    # the read confs are pinned BEFORE the schema is resolved (nanosAsLong),
    # and UTC keeps the ntz cast and window/hour extraction wall-clock-exact
    # vs the oracles
    pin_read_confs(spark)
    schema = resolve_schema(spark, f"{sf_dir}/events.parquet")
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "events.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # the file source needs a DIRECTORY; select just the events file by glob
    return normalize_events_ts(reader.parquet(sf_dir), schema["ts"].dataType)


def read_documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the documents table — the ingest stand-in
    for a document firehose (Kafka/queue in production). The schema is
    ``io.resolve_schema``'s entry for the file, the one the batch loader
    reads with, so stream and batch agree by construction (documents has
    no legacy-timestamp branches, so no further normalization is needed)."""
    pin_read_confs(spark)
    schema = resolve_schema(spark, f"{sf_dir}/documents.parquet")
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "documents.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # the file source needs a DIRECTORY; select just the documents file
    return reader.parquet(sf_dir)


def windowed_counts_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, if `slide` given) event-time windowed
    aggregation with a watermark bounding late data and state size.
    Identical expressions to the batch `tumbling_window` query."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value", "avg_value")
    )


def sessionized_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows with an inactivity gap — the streaming twin
    of the batch `sessionize` query. Spark's native session_window merges
    events whose gaps are < `gap`; state is bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stateful_dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark): duplicates arriving within the state
    window are dropped; state is purged as the watermark advances — the
    streaming form of hash-groupBy exact dedup with bounded memory."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def running_user_stats_stream(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """CUSTOM stateful streaming operator via applyInPandasWithState: a
    per-user running profile (event count, value total, max single value)
    maintained in explicit GroupState across micro-batches — the escape
    hatch for stateful logic that windowed aggregation can't express
    (task brief: 'applyInPandasWithState for custom stateful operators').

    Each trigger emits the user's updated running totals. State is a
    3-tuple (n, total, vmax) per user — O(1) per key, no event retention."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )
    import pandas as pd

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )

    def update(key, pdf_iter, state: "GroupState"):
        (user_id,) = key
        if state.exists:
            n, total, vmax = state.get
        else:
            n, total, vmax = 0, 0.0, float("-inf")
        for pdf in pdf_iter:
            vals = pd.to_numeric(pdf["value"], errors="coerce").dropna()
            n += len(pdf)
            total += float(vals.sum())
            if len(vals):
                vmax = max(vmax, float(vals.max()))
        state.update((n, total, vmax))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "max_value": [vmax if vmax != float("-inf") else None],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
