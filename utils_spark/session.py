"""SparkSession factory with defaults tuned for the target deployment.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the
same configs are what we would ship on a 1000-executor cluster, where the
only expected changes are master URL, shuffle-partition count (sized to
cluster cores × 2-3) and memory sizing.

Design choices (all standard public Spark):
  * AQE on — runtime coalescing of shuffle partitions, skew-join splitting
    (cell/gene and TPC-H key distributions are power-law heavy; SURVEY §7.4).
  * UTC session timezone — parquet timestamps must read identically in
    Spark and the DuckDB oracle.
  * Arrow enabled — every pandas_udf / applyInPandas boundary is
    Arrow-batched, never row-at-a-time pickling.
  * ANSI off — we want permissive NULL-on-error semantics matching the
    reference's NA-tolerant R pipelines (SURVEY §1.2).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# One memo per SparkSession object, held weakly by it: what is derived once
# per session (table schemas, reusable Column chains, fitted data-independent
# models) is dropped with the session, and a ``newSession()`` (own SQLConf)
# or a restarted context starts empty. Values must not reference the session,
# or it is never collected.
_SESSION_STORES: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def session_store(spark: SparkSession) -> dict:
    """The memo dict of ``spark``, created on first use. Entries are keyed
    by a tuple whose first item names the kind of entry."""
    return _SESSION_STORES.setdefault(spark, {})


def get_spark(
    app_name: str = "utils_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-tuned defaults."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long nanos, io.load_table converts
        # to a proper (µs-truncated) timestamp deterministically.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # dimension tables (region/nation/supplier/gene-set-like tables)
        # must broadcast; 32 MB covers every dim in the star schema even
        # at high SF while bulk fact tables still sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
