"""Sources and sinks.

The reference reads TSV/CSV (with or without headers / row-name columns),
HDF5-Loom, and R binary blobs, and writes CSV/RData
(reference R/reference.R:234-241, R/qc_rna.R:54-55, R/funx_enrichment.R:152).
Our engine standardizes on columnar Parquet for bulk data with CSV/TSV scan
helpers for interchange; formats with no Spark reader (Loom/RDS) are handled
by one-time converters upstream, never at query time.

At scale: scans are ``spark.read`` DataFrameReader calls, so Catalyst
pushes filters/column pruning into the parquet reader (check
``PushedFilters`` / ``ReadSchema`` in ``df.explain``). Star-schema tables
are read with their schema given (``resolve_schema``: inferred once per
session and file version), so building a query launches no schema-merge
job and, on object storage, lists and reads no footers.
"""

from __future__ import annotations

import os
import re

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructType, TimestampNTZType

from utils_spark.session import session_store

# the driver-provided star schema (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# small dimension tables that should always broadcast in joins
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def pin_read_confs(spark: SparkSession) -> None:
    """The session conf policy of every star-schema read, batch
    (``load_table``) and streaming (``streaming.read_events_stream``):
    ``nanosAsLong`` so TIMESTAMP(NANOS) parquet reads as long nanos instead
    of failing, and a UTC session time zone, under which the
    timestamp_ntz -> timestamp cast is wall-clock-preserving. Set on the
    caller's session (runtime-settable, idempotent), so caller-supplied
    vanilla sessions read identically to ones built by our factory."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NOTE: no sentinel default to conf.get here — Spark 4 VALIDATES the
    # caller-supplied default when the conf is unset, so get(key, "") throws
    # INVALID_CONF_VALUE on exactly the vanilla sessions this guard exists for
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def resolve_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of the parquet table at ``path``, inferred once per
    session and file version.

    Inference (``spark.read.parquet(path).schema``) launches a one-task
    schema-merge job (~30 ms in a warm local session); on object storage
    it also lists the path and reads footers. The result is kept in the
    session's ``session_store`` under the path, with the modification time
    and length from Hadoop ``FileSystem.getFileStatus`` (the same call for
    every scheme), so a rewritten table is inferred afresh. Entries are
    Python ``StructType``s: no py4j handle outlives the call.

    Confs that steer inference (``nanosAsLong``, ``binaryAsString``, ...)
    are not part of the key: set them before the first read of a table in
    a session (``load_table`` pins its own first), or use ``newSession()``.
    """
    # the class by name: ``spark._jvm.org.apache...`` costs a py4j round
    # trip per package segment
    hpath = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)(path)
    status = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(hpath)
    version = (status.getModificationTime(), status.getLen())
    store = session_store(spark)
    hit = store.get(("schema", path))
    if hit is not None and hit[0] == version:
        return hit[1]
    schema = spark.read.parquet(path).schema
    store[("schema", path)] = (version, schema)
    return schema


def normalize_events_ts(df: DataFrame, stored: DataType) -> DataFrame:
    """Map the stored type of ``events.ts`` to plain TimestampType (see
    ``load_table``); the batch and stream readers both apply it."""
    if isinstance(stored, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(stored, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table (columnar parquet; pruning/pushdown-able).

    The scan is ``spark.read.schema(schema).parquet(path)`` with the schema
    from ``resolve_schema``: the first read of a table in a session infers
    it, later reads (every rebuild of a query) launch no Spark job and skip
    the footer reads. Optimized plans are the same as with inference.

    `events.ts` has shipped as TIMESTAMP(NANOS) (rounds 1-2 testdata) and as
    TIMESTAMP(MICROS, ntz) (round-3 regeneration); both are normalized here
    (``normalize_events_ts``, reading the stored type from the resolved
    schema) to a plain TimestampType so every downstream query and the
    driver's schema check see ONE stable type across data regenerations:

    - long nanos (via spark.sql.legacy.parquet.nanosAsLong) → µs-truncated
      TimestampType (floor division — the same truncation DuckDB applies
      casting TIMESTAMP_NS → TIMESTAMP, so oracle comparisons stay
      bit-identical);
    - timestamp_ntz → cast to TimestampType (session tz is UTC in this
      environment, so the wall-clock value is unchanged).

    The nanos config is set here (``pin_read_confs``) rather than only at
    session build, so any caller-supplied vanilla SparkSession can read
    the file — not just sessions built by our own factory.

    SIDE EFFECT: the conf stays set on the session after this call, so any
    later parquet read of a TIMESTAMP(NANOS) column in the same session
    returns bigint nanos instead of failing loudly. It is deliberately NOT
    restored: the conf is consulted at execution time, so flipping it back
    after this (lazy) scan is planned would break the scan itself. Callers
    reading unrelated nanos parquet in the same session should convert as
    done here (timestamp_micros(ts div 1000)).
    """
    pin_read_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = resolve_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_events_ts(df, schema["ts"].dataType)
    return df


def spread_low_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ONLY when scan parallelism is genuinely low (a local
    single-file parquet arrives as ONE partition because splits happen at
    row-group granularity), so a CPU-bound downstream stage (hashing,
    shingling, explode) isn't serialized onto one task. On a cluster read
    (many files / row groups) the guard is a no-op — no extra Exchange.

    One shared site for the guard (ADVICE r10): `df.rdd.getNumPartitions()`
    forces a plan→RDD conversion, so if a cheaper partition probe appears
    in a future Spark it gets swapped in here, once. Measured r12: the
    probe costs ~0-1 ms warm on the call-site plan shapes (scan + narrow
    transforms) — conversion cost is NOT a reason to avoid the guard.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        df = df.repartition(par)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every star-schema table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_delimited(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    header: bool = True,
    infer_schema: bool = True,
) -> DataFrame:
    """Delimited-text scan (TSV/CSV, transparent .gz).

    Covers reference scan surface S1-S4 (R/reference.R:234-241,
    R/qc_rna.R:54-55): ``fread``/``read_tsv``/``read.csv``/``read.table``.
    Row-name columns stay ordinary columns (design rule — keys are columns).
    """
    return (
        spark.read.option("sep", sep)
        .option("header", str(header).lower())
        .option("inferSchema", str(infer_schema).lower())
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    """CSV sink (reference S8: R/funx_enrichment.R:152-154)."""
    df.write.option("header", str(header).lower()).mode(mode).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Columnar sink (replaces reference RDS/RData sinks S9: R/bitfam.R:10)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other splittable columnar format warehouse data
    arrives in; schema travels with the files."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (predicate-pushdown-capable columnar interchange with
    Hive-ecosystem consumers)."""
    df.write.mode(mode).orc(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-Lines scan (transparent .gz) — the interchange format LLM
    training corpora actually ship in (one JSON document per line).
    Pass an explicit ``schema`` in production: schema inference is a full
    extra pass over the data at 100 TB."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-Lines sink — one self-describing JSON object per row; the
    export format downstream tokenizer/training jobs consume."""
    df.write.mode(mode).json(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row", schema=None) -> DataFrame:
    """XML scan (Spark 4 built-in xml source) — the feed format
    enterprise/library corpora still arrive in (sitemaps, MARC/TEI/
    PubMed-style exports). ``ignoreSurroundingSpaces`` is disabled so
    element text round-trips byte-for-byte (the default trims it — a
    silent corpus mutation). Pass an explicit ``schema`` in production:
    inference is a full extra pass at 100 TB."""
    r = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("ignoreSurroundingSpaces", "false")
    )
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite") -> None:
    """XML sink — one ``<row>`` element per record; entity escaping
    (&amp;/&lt;/&gt;) is the writer's job and the roundtrip query proves
    it lossless."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


# ---------------------------------------------------------------------------
# S11: Illumina fastq filename-rewrite sink (reference R/utils.R:60-80)
# ---------------------------------------------------------------------------

def list_files_manifest(spark: SparkSession, src_dir: str, filename_col: str = "filename") -> DataFrame:
    """One-row-per-file manifest of a directory (the `list.files(src_dir)`
    step of the reference's `cellranger_renamefastq`, R/utils.R:66).

    Driver-side listing is appropriate here: a manifest is metadata, not
    data — bounded by file count, and directory listing is not a
    distributable operation anyway. At object-store scale the equivalent
    manifest usually already exists as a file; read it with
    ``read_delimited`` / ``read_jsonl`` instead and feed it to
    ``fastq_rename_manifest`` unchanged.
    """
    names = sorted(os.listdir(src_dir))
    return spark.createDataFrame([(n,) for n in names], f"{filename_col} string")


def fastq_rename_manifest(
    manifest: DataFrame,
    samples: list[str],
    filename_col: str = "filename",
    rename: bool = True,
) -> DataFrame:
    """Compute the Illumina-convention rename plan for cellranger inputs
    (reference `cellranger_renamefastq`, R/utils.R:60-80).

    For each sample, select manifest rows matching the reference's anchored
    pattern ``^{sample}_R.+_001.fastq.gz$`` and compute the renamed target
    by substituting every occurrence of the sample name with
    ``{sample}_S1_L001`` (the reference's global `gsub`; lane is fixed to
    L001 per its documented convention). With ``rename=False`` the target
    keeps the source name (link-only mode), matching the reference flag.

    Sample names are treated as LITERALS (regex-escaped) — the reference
    passes them into R regexes unescaped, which silently misfires on names
    containing metacharacters; real sample IDs are alphanumeric-with-dashes,
    where the two behaviors agree.

    Returns ``(sample, src_name, dst_name)`` — one row per (sample, file)
    match, exactly the links the reference would create.

    Scale: the samples list becomes a BROADCAST side of a nested-loop join
    (the per-sample regex predicate is non-equi by nature), so the manifest
    — the only potentially large input — is never shuffled; cost is a
    map-side O(files x samples) regex scan.
    """
    spark = manifest.sparkSession
    rows = [
        (
            s,
            "^" + re.escape(s) + "_R.+_001\\.fastq\\.gz$",
            re.escape(s),
            (s + "_S1_L001").replace("\\", "\\\\").replace("$", "\\$"),
        )
        for s in samples
    ]
    sdf = spark.createDataFrame(rows, "sample string, _patt string, _sub string, _rep string")
    joined = manifest.join(
        F.broadcast(sdf), F.regexp_like(F.col(filename_col), F.col("_patt")), "inner"
    )
    dst = (
        F.regexp_replace(F.col(filename_col), F.col("_sub"), F.col("_rep"))
        if rename
        else F.col(filename_col)
    )
    return joined.select(
        "sample",
        F.col(filename_col).alias("src_name"),
        dst.alias("dst_name"),
    )


def link_rename_manifest(plan: DataFrame, src_dir: str, out_dir: str) -> int:
    """Materialize a rename plan as symlinks ``out_dir/dst_name ->
    src_dir/src_name`` (the reference's `R.utils::createLink` loop,
    R/utils.R:73-75). Returns the number of links created.

    Driver-side by design: symlink creation is a filesystem mutation that
    must happen on one node's view of the FS, and a rename plan is bounded
    by file count (metadata, not data). Streamed via ``toLocalIterator`` so
    driver memory stays one-partition-bounded even for huge manifests.
    Raises ``FileExistsError`` on a pre-existing link — a rename plan that
    collides is a caller bug worth surfacing, not silently skipping.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for row in plan.toLocalIterator():
        os.symlink(
            os.path.join(src_dir, row["src_name"]),
            os.path.join(out_dir, row["dst_name"]),
        )
        n += 1
    return n


def cellranger_rename_fastq(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    samples: list[str],
    rename: bool = True,
) -> int:
    """End-to-end parity entrypoint for the reference's
    `cellranger_renamefastq(src_dir, out_dir, samples, rename)`
    (R/utils.R:60-80): list -> plan -> symlink. Returns links created."""
    manifest = list_files_manifest(spark, src_dir)
    plan = fastq_rename_manifest(manifest, samples, rename=rename)
    return link_rename_manifest(plan, src_dir, out_dir)
