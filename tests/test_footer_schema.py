"""``catalog.footer_schema`` types a parquet file the way inference does.

Registration, the Postgres fixture load and the events stream read
each fixture file with the schema ``footer_schema`` reads from its
footer on the driver. That schema must be the one
``spark.read.parquet(path).schema`` infers, under the session's confs,
for every fixture file, for every ``events.ts`` encoding a fixture
writer has used and for a Spark-written file (whose footer carries
Spark's own row metadata). A Spark upgrade that moves the JVM API
fails here.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from datafusion_rdbms_ext_spark.catalog import (
    TABLES,
    footer_schema,
    normalize_ts,
    register_tables,
    registered_dir,
)

from .test_ts_encoding import _write_events

SCALES = ("sf0.001", "sf0.01", "sf0.1")
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _same(spark, path: str) -> None:
    got = footer_schema(spark, path)
    inferred = spark.read.parquet(path).schema
    assert got == inferred, path
    assert got.json() == inferred.json(), path


@pytest.fixture
def confs(spark):
    """Restore the confs a test flips."""
    saved = {k: spark.conf.get(k, None) for k in (_NANOS, _NTZ)}
    yield spark.conf
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("scale", SCALES)
def test_every_fixture_table(spark, confs, scale):
    confs.set(_NANOS, "true")
    paths = sorted(glob.glob(f"/root/testdata/{scale}/*.parquet"))
    assert {os.path.basename(p)[: -len(".parquet")] for p in paths} >= set(TABLES)
    for path in paths:
        _same(spark, path)


@pytest.fixture
def catalog(spark):
    """Put back the fixture registration a test replaces."""
    before = registered_dir(spark)
    yield
    if before is not None:
        register_tables(spark, before)


@pytest.mark.parametrize("scale", SCALES)
def test_registered_views_match_inferred_views(spark, catalog, scale):
    """The views equal what registration built by inference: a bare
    ``spark.read.parquet`` per table, then ``normalize_ts``."""
    sf_dir = f"/root/testdata/{scale}"
    views = register_tables(spark, sf_dir)
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = normalize_ts(spark.read.parquet(path), name).schema
        assert views[name].schema == inferred, name
        assert spark.table(name).schema.json() == inferred.json(), name


@pytest.mark.parametrize("nanos", ["true", "false"])
@pytest.mark.parametrize(
    "unit,tz", [("us", None), ("us", "UTC"), ("ns", None)]
)
def test_ts_encodings(spark, confs, tmp_path, unit, tz, nanos):
    confs.set(_NANOS, nanos)
    path = _write_events(tmp_path, unit, tz)
    if unit == "ns" and nanos == "false":
        # Neither reader accepts TIMESTAMP(NANOS) without the conf.
        for read in (lambda: footer_schema(spark, path), lambda: spark.read.parquet(path)):
            with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                read()
        return
    _same(spark, path)


def test_reads_the_ntz_conf_at_call_time(spark, confs, tmp_path):
    path = _write_events(tmp_path, "us", None)
    for ntz in ("false", "true"):
        confs.set(_NTZ, ntz)
        _same(spark, path)
    assert footer_schema(spark, path)["ts"].dataType.typeName() == "timestamp_ntz"


def test_spark_written_nested_and_decimal_columns(spark, tmp_path):
    """A Spark-written footer carries the writer's schema (row
    metadata) with non-null fields; the read schema is all nullable."""
    out = str(tmp_path / "nested")
    frame = spark.range(3).select(
        "id",
        F.col("id").cast("decimal(12,3)").alias("dec"),
        F.array(F.lit(1), F.col("id")).alias("arr"),
        F.struct(F.lit("a").alias("s"), F.col("id").alias("i")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("mp"),
    )
    assert not frame.schema["st"].nullable
    frame.coalesce(1).write.parquet(out)
    (path,) = glob.glob(os.path.join(out, "*.parquet"))
    assert b"org.apache.spark.sql.parquet.row.metadata" in pq.ParquetFile(path).metadata.metadata
    _same(spark, path)
    # The directory Spark wrote (``_SUCCESS`` and ``.crc`` files beside
    # the part-file) types the same as its part-file.
    assert {"_SUCCESS", f".{os.path.basename(path)}.crc"} <= set(os.listdir(out))
    _same(spark, out)


def test_directory_reads_the_footer_inference_reads(spark, tmp_path):
    """With schema merging off, inference reads ``_common_metadata`` if
    present, else the first data file by path; so does this."""
    import pyarrow as pa

    d = tmp_path / "parts"
    d.mkdir()
    first = pa.table({"x": pa.array([1], pa.int32())})
    second = pa.table({"x": pa.array([2], pa.int64()), "y": ["b"]})
    pq.write_table(second, d / "part-1.parquet")
    pq.write_table(first, d / "part-0.parquet")
    _same(spark, str(d))
    assert footer_schema(spark, str(d)).fieldNames() == ["x"]
    pq.write_metadata(second.schema, d / "_common_metadata")
    _same(spark, str(d))
    assert footer_schema(spark, str(d)).fieldNames() == ["x", "y"]


def test_partitioned_directory_is_an_error(spark, tmp_path):
    """Partition columns live in directory names, not in a footer."""
    d = tmp_path / "parted"
    (d / "k=1").mkdir(parents=True)
    pq.write_table(pq.read_table("/root/testdata/sf0.001/region.parquet"), d / "k=1" / "p.parquet")
    with pytest.raises(ValueError, match="flat directories"):
        footer_schema(spark, str(d))
