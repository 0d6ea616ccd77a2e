"""Structured Streaming tests: run each streaming operator over the events
table as a file stream (availableNow trigger → memory sink) and certify
the results against the batch twin computed with plain DataFrame ops.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from utils_spark.io import load_table
from utils_spark.streaming import (
    read_events_stream,
    sessionized_stream,
    stateful_dedup_stream,
    windowed_counts_stream,
)


def test_stream_reader_schema_matches_batch(spark, sf_dir):
    """Guard for testdata regenerations (the round-3 swap to timestamp[us]
    silently broke only the streaming path): the stream reader must
    normalize events.ts to the IDENTICAL schema the batch loader produces."""
    assert read_events_stream(spark, sf_dir).schema == load_table(spark, sf_dir, "events").schema


def _run_stream(df, name: str, timeout: int = 120):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name != "dedup" else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return q


def test_windowed_counts_matches_batch(spark, sf_dir):
    stream = windowed_counts_stream(read_events_stream(spark, sf_dir))
    _run_stream(stream, "win_counts")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    want = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["total_value"]) for r in batch.collect()
    }
    assert got == want


def test_sessionized_stream_matches_batch_gaps(spark, sf_dir):
    stream = sessionized_stream(read_events_stream(spark, sf_dir))
    _run_stream(stream, "sessions")
    got = spark.sql("SELECT * FROM sessions").collect()
    # batch twin: gap-based sessionization (same 30-min gap); session end in
    # session_window semantics = last event + gap
    from utils_spark.registry import load_all

    batch = load_all()["sessionize"].fn(spark, sf_dir).collect()
    assert len(got) == len(batch), "session count must match batch sessionization"
    got_counts = sorted((r["user_id"], r["n_events"]) for r in got)
    want_counts = sorted((r["user_id"], r["n_events"]) for r in batch)
    assert got_counts == want_counts


def test_stateful_dedup_stream(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    # duplicate the stream rows deterministically → dedup must restore counts
    doubled = ev.union(ev)
    q = (
        stateful_dedup_stream(doubled)
        .writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n FROM dedup").collect()[0]["n"]
    n_batch = load_table(spark, sf_dir, "events").count()
    assert n == n_batch


def test_sliding_window_stream_matches_batch(spark, sf_dir):
    stream = windowed_counts_stream(
        read_events_stream(spark, sf_dir), window="1 hour", slide="30 minutes"
    )
    _run_stream(stream, "slide_counts")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    want = {(r["w"]["start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_watermark_drops_too_late_events(spark, tmp_path):
    """Watermark semantics: with a 15-min watermark, an event arriving a
    micro-batch later but >15 min behind the observed max event-time is
    DROPPED from the windowed aggregation; a late-but-within-watermark
    event is counted. Two files + maxFilesPerTrigger=1 force two
    micro-batches with controlled arrival order (mtime-ordered)."""
    import os
    import time as _time

    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    src = tmp_path / "stream_src"
    src.mkdir()
    base = "2024-01-01 {h:02d}:{m:02d}:00"

    def write_file(name, rows, mtime):
        # the file source needs FLAT .parquet files (not Spark output dirs)
        # for per-file micro-batching; write via a scratch dir then move the
        # single part file into place with a controlled mtime
        import glob
        import shutil

        df = spark.createDataFrame(
            [(i, ts) for i, ts in rows], ["event_id", "ts_str"]
        ).select("event_id", F.col("ts_str").cast("timestamp").alias("ts"))
        scratch = str(src / f"__scratch_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        part = glob.glob(os.path.join(scratch, "part-*.parquet"))[0]
        dest = str(src / f"{name}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(scratch)
        os.utime(dest, (mtime, mtime))

    t0 = _time.time() - 1000
    # batch 1: events up to 11:00 → watermark advances to 10:45 after it
    write_file("b1", [(1, base.format(h=10, m=0)), (2, base.format(h=10, m=30)), (3, base.format(h=11, m=0))], t0)
    # batch 2: fresh event — during this batch the 10:00 window's state is
    # EVICTED (its end 10:30 < watermark 10:45); late-row dropping only
    # applies to evicted windows, one batch after the watermark passes
    write_file("b2", [(6, base.format(h=11, m=10))], t0 + 100)
    # batch 3: one too-late event (its window was evicted → dropped) + one
    # within-watermark late event (its window state lives → merged)
    write_file("b3", [(4, base.format(h=10, m=0)), (5, base.format(h=10, m=50))], t0 + 200)

    schema = StructType([StructField("event_id", LongType()), StructField("ts", TimestampType())])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    # UPDATE mode: watermark actively drops too-late input (complete mode
    # would retain everything by definition); the memory sink accumulates
    # one row per updated window per trigger — take the max n per window.
    q = (
        stream.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM late_test").collect()
    got: dict[str, int] = {}
    for r in rows:
        got[r["ws"]] = max(got.get(r["ws"], 0), r["n"])
    # event 4 (10:00, arriving after its window state was evicted) DROPPED:
    # the 10:00 window only ever saw event 1
    assert got["2024-01-01 10:00:00"] == 1, got
    # event 5 (10:50, window state still live) WAS merged into 10:30 window
    assert got["2024-01-01 10:30:00"] == 2, got
    assert got["2024-01-01 11:00:00"] == 2, got  # events 3 and 6


def test_custom_stateful_operator_matches_batch(spark, sf_dir):
    """applyInPandasWithState running per-user profile must converge to the
    batch aggregation after consuming the whole stream."""
    from utils_spark.streaming.windows import read_events_stream, running_user_stats_stream

    stream = running_user_stats_stream(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("user_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM user_state").collect()
    # update-mode emits one row per user per trigger; the LAST emission per
    # user is the converged profile (here: single trigger → unique rows)
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in rows}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("t"))
    )
    want = {r["user_id"]: (r["n"], r["t"]) for r in batch.collect()}
    assert got == want


def test_live_stream_query_drops_its_sink_view(spark, sf_dir, duck):
    """A registered live-stream query runs into a uuid-named memory sink and
    returns the sink as a batch frame. Its temp view must not outlive the
    call (each one kept its run's rows for the whole session), and the
    returned frame, analyzed before the drop, must still yield every row."""
    from utils_spark.registry import load_all

    q = load_all()["stream_tumbling_counts"]
    out = q.fn(spark, sf_dir)
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_sink_")]
    assert views == [], views
    n_oracle = duck.execute(f"SELECT count(*) FROM ({q.oracle})").fetchone()[0]
    assert n_oracle > 0 and len(out.collect()) == n_oracle
