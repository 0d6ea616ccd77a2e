"""Round-trip tests for the scan/sink surface (reference S1-S4, S8-S9)."""

from __future__ import annotations

import gc
import os
import shutil
import tempfile
import uuid
import weakref

import pytest

from pyspark.sql import functions as F

from utils_spark.io import load_table, read_delimited, write_csv, write_parquet


def test_tsv_roundtrip(spark):
    with tempfile.TemporaryDirectory() as d:
        src = load_table(spark, "/root/testdata/sf0.001", "nation")
        path = os.path.join(d, "nation_tsv")
        src.write.option("sep", "\t").option("header", "true").csv(path)
        back = read_delimited(spark, path, sep="\t")
        assert sorted(r["n_name"] for r in back.collect()) == sorted(
            r["n_name"] for r in src.collect()
        )
        assert dict(back.dtypes)["n_nationkey"] == "int"  # inferSchema


def test_csv_sink_and_scan(spark):
    with tempfile.TemporaryDirectory() as d:
        src = load_table(spark, "/root/testdata/sf0.001", "region")
        path = os.path.join(d, "region_csv")
        write_csv(src, path)
        back = read_delimited(spark, path, sep=",")
        assert back.count() == 5


def test_parquet_sink_partitioned(spark):
    with tempfile.TemporaryDirectory() as d:
        src = load_table(spark, "/root/testdata/sf0.001", "customer")
        path = os.path.join(d, "cust_parq")
        write_parquet(src, path, partition_by=["c_mktsegment"])
        # partition pruning: reading one segment touches one directory
        seg = spark.read.parquet(path).filter(F.col("c_mktsegment") == "BUILDING")
        assert seg.count() == src.filter(F.col("c_mktsegment") == "BUILDING").count()
        assert any("c_mktsegment=BUILDING" in p for p in os.listdir(path))


def test_gz_scan_transparent(spark):
    import gzip

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.tsv.gz")
        with gzip.open(p, "wt") as f:
            f.write("a\tb\n1\tx\n2\ty\n")
        df = read_delimited(spark, p, sep="\t")
        assert df.count() == 2 and dict(df.dtypes)["a"] == "int"


def test_events_reads_on_vanilla_session(spark):
    """Driver-environment regression guard (VERDICT r1 item 1).

    The driver supplies its OWN SparkSession, not our session factory, so
    load_table must set spark.sql.legacy.parquet.nanosAsLong at runtime.
    newSession() shares the JVM but gets a FRESH SQLConf — exactly the
    vanilla-session scenario that broke 6 queries in round 1.
    """
    vanilla = spark.newSession()
    # newSession inherits builder-time conf from the SparkContext; unset to
    # reproduce a session that never saw our factory at all.
    vanilla.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert vanilla.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
    e = load_table(vanilla, "/root/testdata/sf0.001", "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    assert e.count() > 0


def test_converter_contract_and_pseudobulk(spark):
    """S5/S6 converter surface: the parquet-side contract is validated and
    consumable regardless of which tool wrote it; h5py-dependent paths
    raise the documented escape hatch when the lib is absent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from utils_spark.converters import (
        ConverterUnavailable,
        load_matrix_tables,
        loom_to_parquet,
        pseudobulk_from_matrix,
    )

    with tempfile.TemporaryDirectory() as d:
        pq.write_table(
            pa.table({"cell_id": pa.array([0, 0, 1, 2], pa.int64()),
                      "gene_id": pa.array([0, 1, 1, 0], pa.int64()),
                      "value": pa.array([2.0, 1.0, 3.0, 4.0], pa.float64())}),
            os.path.join(d, "matrix.parquet"))
        pq.write_table(
            pa.table({"cell_id": pa.array([0, 1, 2], pa.int64()),
                      "label": ["a", "a", "b"]}),
            os.path.join(d, "cells.parquet"))
        pq.write_table(
            pa.table({"gene_id": pa.array([0, 1], pa.int64()), "symbol": ["g0", "g1"]}),
            os.path.join(d, "genes.parquet"))

        tables = load_matrix_tables(spark, d)
        pb = {(r["label"], r["gene_id"]): (r["total"], r["n_cells_expressing"])
              for r in pseudobulk_from_matrix(tables, "label").collect()}
        assert pb == {("a", 0): (2.0, 1), ("a", 1): (4.0, 2), ("b", 0): (4.0, 1)}

        # off-contract schema must be rejected
        pq.write_table(
            pa.table({"cell_id": pa.array([0], pa.int32()),
                      "gene_id": pa.array([0], pa.int64()),
                      "value": pa.array([1.0], pa.float64())}),
            os.path.join(d, "matrix.parquet"))
        with pytest.raises(ValueError, match="dtypes off-contract"):
            load_matrix_tables(spark, d)

    try:
        import h5py  # noqa: F401

        have_h5py = True
    except ImportError:
        have_h5py = False
    if not have_h5py:
        with pytest.raises(ConverterUnavailable, match="h5py"):
            loom_to_parquet("/nonexistent.loom", "/tmp/never")
    else:  # exercised on hosts that do ship h5py
        import numpy as np

        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "tiny.loom")
            with h5py.File(path, "w") as f:
                f.create_dataset("/matrix", data=np.array([[0.0, 2.0], [1.0, 0.0]]))
                f.create_dataset("/row_attrs/Gene", data=np.array([b"g0", b"g1"]))
                f.create_dataset("/col_attrs/CellID", data=np.array([b"c0", b"c1"]))
            stats = loom_to_parquet(path, os.path.join(d, "out"), chunk_cols=1)
            assert stats == {"cells": 2, "genes": 2, "nnz": 2}
            tables = load_matrix_tables(spark, os.path.join(d, "out"))
            assert tables["matrix"].count() == 2


def test_load_table_survives_unset_timezone_conf(spark, sf_dir):
    """Driver-session compatibility: Spark 4 VALIDATES the caller-supplied
    default of conf.get when the conf is unset, so a sentinel like
    get(key, '') throws INVALID_CONF_VALUE on a vanilla session — exactly
    the sessions the defensive UTC guard exists for. With the timezone
    conf unset, load_table (and the stream reader) must still work and
    must pin UTC back."""
    from utils_spark.io import load_table
    from utils_spark.streaming import read_events_stream

    spark.conf.unset("spark.sql.session.timeZone")
    try:
        assert load_table(spark, sf_dir, "events").count() > 0
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        spark.conf.unset("spark.sql.session.timeZone")
        assert read_events_stream(spark, sf_dir).schema is not None
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _jobs_during(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs, counted under a fresh job group
    once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"io-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_resolves_schema_once_per_session(spark, sf_dir, tmp_path, monkeypatch):
    """Schema inference (a one-task schema-merge job) runs on the first
    load_table of a table in a session only; a rebuild reads with the
    resolved schema and launches no job. A newSession() resolves its own."""
    from pyspark import RDD

    # every SparkSession() re-points RDD.toDF at itself; keep the suite's
    monkeypatch.setattr(RDD, "toDF", RDD.toDF)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), tmp_path / "nation.parquet")
    sf = str(tmp_path)
    assert _jobs_during(spark, lambda: load_table(spark, sf, "nation")) == 1
    assert _jobs_during(spark, lambda: load_table(spark, sf, "nation")) == 0
    assert load_table(spark, sf, "nation").count() == 25
    fresh = spark.newSession()
    assert _jobs_during(fresh, lambda: load_table(fresh, sf, "nation")) == 1


def test_load_table_reresolves_rewritten_table(spark, tmp_path):
    """The schema entry is keyed by the file's modification time and
    length: a table rewritten with an added column shows the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"], "c": [0.5, 1.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert sorted(r.c for r in df.collect()) == [0.5, 1.5]


def test_session_store_released_with_session(spark, sf_dir, monkeypatch):
    """Resolved schemas, the Viterbi chain Columns and the fitted LSH model
    live in the session's store; dropping the session drops all of them."""
    from pyspark import RDD

    from utils_spark.operators.ml import _fitted_brp_lsh, _to_vector_col
    from utils_spark.operators.textmodel import _viterbi_chain_exprs
    from utils_spark.session import _SESSION_STORES, session_store

    monkeypatch.setattr(RDD, "toDF", RDD.toDF)
    s2 = spark.newSession()
    load_table(s2, sf_dir, "region")
    _viterbi_chain_exprs(s2)
    # (createDataFrame would pin s2 as the class-level active session)
    work = _to_vector_col(load_table(s2, sf_dir, "embeddings"), "embedding", "__feat")
    _fitted_brp_lsh(work, 1.0, 2)
    assert {k[0] for k in session_store(s2)} == {"schema", "viterbi_chain", "brp_lsh"}
    ref, n = weakref.ref(s2), len(_SESSION_STORES)
    del s2, work
    monkeypatch.undo()  # RDD.toDF held the newest session
    gc.collect()
    assert ref() is None
    assert len(_SESSION_STORES) == n - 1


def test_read_jsonl_corrupt_line_tolerance(spark, tmp_path):
    """A corrupt line in a JSONL shard must become a row-level
    _corrupt_record (PERMISSIVE mode), never a task failure — one bad line
    in a 100 TB corpus cannot kill the scan. Valid rows still parse."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "second"}\n'
        '{"doc_id": 3, "text": "unterminated\n'
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    from utils_spark.io import read_jsonl

    rows = read_jsonl(spark, str(p), schema=schema).collect()
    ok = {r.doc_id: r.text for r in rows if r._corrupt_record is None}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert ok == {1: "hello world", 2: "second"}
    assert len(bad) == 2 and "not json" in bad[0]


def test_xml_roundtrip_preserves_special_chars(spark, tmp_path):
    """XML entity escaping must be lossless on the characters XML treats
    specially (&, <, >, quotes) and on surrounding whitespace — the
    reader's ignoreSurroundingSpaces default TRIMS element text, which
    read_xml disables; a trim would silently mutate corpus text."""
    from utils_spark.io import read_xml, write_xml

    rows = [
        (1, "a & b < c > d"),
        (2, '"quoted" and \'apostrophes\''),
        (3, "  leading and trailing spaces  "),
        (4, "plain"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    path = str(tmp_path / "xmlrt")
    write_xml(df, path)
    back = {r.id: r.text for r in read_xml(spark, path, schema=df.schema).collect()}
    assert back == dict(rows), back


# --- S11: Illumina fastq filename-rewrite sink (reference R/utils.R:60-80) ---


def _touch(d, names):
    for n in names:
        open(os.path.join(d, n), "w").close()


def test_fastq_rename_manifest_pattern_and_gsub(spark):
    """The plan matches the reference's anchored per-sample pattern exactly:
    `^{samp}_R.+_001.fastq.gz$` — so chunk 002 files, other samples, and
    prefix-trap names (CO-NSC10 when the sample is CO-NSC1) are excluded —
    and the rename is the reference's gsub insert of `_S1_L001`."""
    from utils_spark.io import fastq_rename_manifest

    manifest = spark.createDataFrame(
        [
            ("CO-NSC1_R1_001.fastq.gz",),
            ("CO-NSC1_R2_001.fastq.gz",),
            ("CO-NSC1_R1_002.fastq.gz",),  # wrong chunk -> excluded
            ("OTHER_R1_001.fastq.gz",),  # sample not requested
            ("CO-NSC10_R1_001.fastq.gz",),  # prefix trap: needs `_R` right after sample
            ("xCO-NSC1_R1_001.fastq.gz",),  # unanchored-prefix trap
        ],
        "filename string",
    )
    plan = fastq_rename_manifest(manifest, ["CO-NSC1"]).collect()
    got = sorted((r["sample"], r["src_name"], r["dst_name"]) for r in plan)
    assert got == [
        ("CO-NSC1", "CO-NSC1_R1_001.fastq.gz", "CO-NSC1_S1_L001_R1_001.fastq.gz"),
        ("CO-NSC1", "CO-NSC1_R2_001.fastq.gz", "CO-NSC1_S1_L001_R2_001.fastq.gz"),
    ]


def test_fastq_rename_manifest_norename_and_multisample(spark):
    from utils_spark.io import fastq_rename_manifest

    manifest = spark.createDataFrame(
        [("A_R1_001.fastq.gz",), ("B_R1_001.fastq.gz",)], "filename string"
    )
    plan = fastq_rename_manifest(manifest, ["A", "B"], rename=False).collect()
    assert sorted((r["sample"], r["dst_name"]) for r in plan) == [
        ("A", "A_R1_001.fastq.gz"),
        ("B", "B_R1_001.fastq.gz"),
    ]


def test_fastq_rename_plan_never_shuffles_manifest(spark):
    """Scale contract: the samples side broadcasts into a nested-loop join;
    the manifest (the only large input) crosses no Exchange."""
    from utils_spark.io import fastq_rename_manifest

    manifest = spark.createDataFrame([("A_R1_001.fastq.gz",)], "filename string")
    plan = fastq_rename_manifest(manifest, ["A"])
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in phys
    assert "Exchange hashpartitioning" not in phys


def test_cellranger_rename_fastq_end_to_end(spark):
    """End-to-end parity with `cellranger_renamefastq` (R/utils.R:60-80):
    list src_dir, plan, symlink into out_dir; links resolve to sources."""
    import tempfile

    from utils_spark.io import cellranger_rename_fastq

    with tempfile.TemporaryDirectory() as d:
        src, out = os.path.join(d, "src"), os.path.join(d, "out")
        os.makedirs(src)
        _touch(
            src,
            [
                "S1_R1_001.fastq.gz",
                "S1_R2_001.fastq.gz",
                "S2_R1_001.fastq.gz",
                "S1_I1_001.fastq.gz",  # index read: no `_R` -> excluded
                "notes.txt",
            ],
        )
        n = cellranger_rename_fastq(spark, src, out, ["S1", "S2"])
        assert n == 3
        links = sorted(os.listdir(out))
        assert links == [
            "S1_S1_L001_R1_001.fastq.gz",
            "S1_S1_L001_R2_001.fastq.gz",
            "S2_S1_L001_R1_001.fastq.gz",
        ]
        for ln in links:
            tgt = os.readlink(os.path.join(out, ln))
            assert os.path.exists(tgt) and tgt.startswith(src)


def test_fastq_rename_sample_names_are_literals(spark):
    """Pin the documented divergence from the reference: sample names are
    regex-ESCAPED (the reference passes them into R regexes raw, which
    misfires on metacharacters). `A.B` must match only the literal dot."""
    from utils_spark.io import fastq_rename_manifest

    manifest = spark.createDataFrame(
        [("A.B_R1_001.fastq.gz",), ("AxB_R1_001.fastq.gz",)], "filename string"
    )
    plan = fastq_rename_manifest(manifest, ["A.B"]).collect()
    assert [(r["src_name"], r["dst_name"]) for r in plan] == [
        ("A.B_R1_001.fastq.gz", "A.B_S1_L001_R1_001.fastq.gz")
    ]
