"""Versioned reads plan with the schema their writer recorded.

Every manifest carries the ``schema`` of the files it lists, the
delete sidecars have fixed schemas, a WAP stage is read with its
staged frame's schema, the composed skipping index and the
month-Bloom layout record the schemas of their tables and the money
table is read with its writer's frame schema. So building a snapshot,
branch, stage or skipping-index read starts no Spark job (a bare
``spark.read.parquet`` starts one to read a footer), and each read
equals an inferred ``spark.read.parquet`` of the same files, rows and
schema alike."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from datafusion_rdbms_ext_spark.plans.skipping import _serve, skipping_rewrite
from datafusion_rdbms_ext_spark.queries.base import ensure_tables
from datafusion_rdbms_ext_spark.sources.sinks import (
    _DV_SCHEMA,
    _EQ_SCHEMA,
    _REWRITE_HI,
    _REWRITE_KEY,
    _REWRITE_LO,
    _money,
    _wap_stage,
    bloom_lineitem_root,
    branched_corpus_root,
    compact_equality_deletes,
    compact_version,
    composed_schema,
    composed_skip_files,
    composed_skipping_index,
    decimal_money_path,
    read_branch,
    read_version,
    read_written,
)

from .conftest import SF_DIR

VERSIONS = (1, 2, 3, 4, 5, 6, 8, 9, 10, 11)


def _jobs(spark, build):
    """(build(), the number of Spark jobs it started). A DataFrame is
    analyzed as it is built, so a schema-inference job counts."""
    sc = spark.sparkContext
    group = f"versioned-reads-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest(root: str, v: int) -> dict:
    with open(os.path.join(root, f"v{v}.json")) as fh:
        return json.load(fh)


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


def _same(got, inferred) -> None:
    assert got.schema == inferred.schema
    assert _rows(got) == _rows(inferred)


@pytest.fixture(scope="module")
def root(spark):
    """The shared corpus with every version v1-v11 committed (v7 is
    the WAP publish, built by its own registry row)."""
    ensure_tables(spark, SF_DIR)
    compact_equality_deletes(spark, SF_DIR)
    root = branched_corpus_root(spark, SF_DIR)
    compact_version(spark, root)
    return root


@pytest.fixture()
def good_batch(spark):
    ensure_tables(spark, SF_DIR)
    return (
        spark.table("documents")
        .filter(F.col("doc_id") < 50)
        .select((F.col("doc_id") + 20000).alias("doc_id"), "text")
    )


@pytest.fixture()
def idx(spark):
    ensure_tables(spark, SF_DIR)
    return composed_skipping_index(spark, SF_DIR)


# -- no schema-inference job ----------------------------------------------


@pytest.mark.parametrize("version", (2, 4, 6, 8, 9))
def test_read_version_starts_no_job(spark, root, version):
    _, n = _jobs(spark, lambda: read_version(spark, root, version))
    assert n == 0


def test_read_branch_starts_no_job(spark, root):
    for name in ("main", "dev", "experiment"):
        _, n = _jobs(spark, lambda: read_branch(spark, root, name))
        assert n == 0, name


def test_wap_stage_read_starts_no_job(spark, root, good_batch):
    _wap_stage(spark, root, good_batch, "good")  # staged (or replayed)
    _, n = _jobs(spark, lambda: _wap_stage(spark, root, good_batch, "good"))
    assert n == 0


def test_skipping_served_scan_starts_no_job(spark, idx):
    _, files = composed_skip_files(
        spark, idx.root, idx.manifest, idx.m,
        _REWRITE_LO, _REWRITE_HI, _REWRITE_KEY,
    )
    assert files
    _, n = _jobs(spark, lambda: _serve(spark, idx, files, "l_suppkey = 2"))
    assert n == 0
    _, n = _jobs(spark, lambda: _serve(spark, idx, [], "l_suppkey = 2"))
    assert n == 0


def test_skipping_rewrite_adds_no_job_to_the_bloom_probe(spark, idx):
    """The rewrite's only build-time jobs are the Bloom probe's."""
    user = spark.table("lineitem").filter(
        F.col("l_orderkey").between(_REWRITE_LO, _REWRITE_HI)
        & (F.col("l_suppkey") == _REWRITE_KEY)
    )
    _, probe = _jobs(
        spark,
        lambda: composed_skip_files(
            spark, idx.root, idx.manifest, idx.m,
            _REWRITE_LO, _REWRITE_HI, _REWRITE_KEY,
        ),
    )
    _, total = _jobs(spark, lambda: skipping_rewrite(user, idx, strict=True))
    assert probe > 0 and total == probe


# -- parity with an inferred read ------------------------------------------


def _inferred_version(spark, root: str, version: int):
    """read_version's result with every read inferred."""
    m = _manifest(root, version)
    want = spark.read.parquet(*m["files"])
    if m.get("delete_vectors"):
        dv = spark.read.parquet(os.path.join(root, m["delete_vectors"]))
        want = want.withColumns(
            {
                "_f": F.col("_metadata.file_path"),
                "_p": F.col("_metadata.row_index"),
            }
        ).join(
            dv,
            (F.col("_f") == dv["file_path"])
            & (F.col("_p") == dv["row_index"]),
            "left_anti",
        )
    if m.get("equality_deletes"):
        eq = spark.read.parquet(os.path.join(root, m["equality_deletes"]))
        want = want.join(eq, "doc_id", "left_anti")
    return want.select("doc_id", "text")


@pytest.mark.parametrize("version", VERSIONS)
def test_read_version_equals_inferred_read(spark, root, version):
    _same(
        read_version(spark, root, version),
        _inferred_version(spark, root, version),
    )


@pytest.mark.parametrize(
    "sidecar, schema",
    (("dv4", _DV_SCHEMA), ("dv6", _DV_SCHEMA), ("dv9", _DV_SCHEMA),
     ("eq8", _EQ_SCHEMA)),
)
def test_delete_sidecars_read_as_inferred(spark, root, sidecar, schema):
    path = os.path.join(root, sidecar)
    _same(read_written(spark, schema, path), spark.read.parquet(path))


def test_read_branch_equals_inferred_read(spark, root):
    for name, v in (("main", 10), ("dev", 10), ("experiment", 11)):
        want = _inferred_version(spark, root, v)
        _same(read_branch(spark, root, name), want)


def test_wap_stage_reads_as_inferred(spark, root, good_batch):
    got = _wap_stage(spark, root, good_batch, "good")
    _same(got, spark.read.parquet(os.path.join(root, "stage_good")))


def test_composed_index_tables_read_as_inferred(spark, idx):
    for table in ("data", "bloom"):
        path = os.path.join(idx.root, table)
        _same(
            read_written(spark, composed_schema(idx.root, table), path),
            spark.read.parquet(path),
        )


def test_month_bloom_tables_read_as_inferred(spark):
    """The month-Bloom layout's index and its month directories (the
    lookup reads them by path, so ``ship_month`` is not a column)."""
    ensure_tables(spark, SF_DIR)
    lroot, _ = bloom_lineitem_root(spark, SF_DIR)
    index = os.path.join(lroot, "index")
    _same(
        read_written(spark, composed_schema(lroot, "index"), index),
        spark.read.parquet(index),
    )
    months = sorted(glob.glob(os.path.join(lroot, "data", "ship_month=*")))[:3]
    assert months
    _same(
        read_written(spark, composed_schema(lroot, "data"), *months),
        spark.read.parquet(*months),
    )


def test_money_table_reads_as_inferred(spark):
    ensure_tables(spark, SF_DIR)
    path = decimal_money_path(spark, SF_DIR)
    _same(read_written(spark, _money(spark).schema, path), spark.read.parquet(path))


def test_every_manifest_records_its_schema(spark, root):
    for mf in glob.glob(os.path.join(root, "v*.json")):
        with open(mf) as fh:
            m = json.load(fh)
        assert m["schema"] == _manifest(root, 1)["schema"], mf
