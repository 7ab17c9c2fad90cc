"""Driver-held rows enter Spark over Arrow.

``local_frame`` is the package's one way to turn a driver-side row
list into a DataFrame: it must collect exactly what
``createDataFrame(<list>)`` did, stay as strict as ``verifySchema``,
and read a naive datetime as UTC wall clock whatever the driver's
zone. ``fetch_partitioned`` seeds its slices from ``spark.range``:
one slice id per partition, no exchange, one job.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import struct
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import datafusion_rdbms_ext_spark as pkg
from datafusion_rdbms_ext_spark.plans import count_exchanges, plan_string
from datafusion_rdbms_ext_spark.sources.connector import (
    DuckDBConnector,
    fetch_partitioned,
    local_frame,
    plan_slices,
)

from .conftest import SF_DIR

_ALL = (
    "i int, l long, d double, b boolean, s string, t timestamp, "
    "a array<bigint>"
)

PARITY_CASES = {
    "every_type": (
        [
            (1, 2**40, 1.5, True, "x", dt.datetime(2021, 3, 4, 5, 6, 7, 8), [1, 2]),
            (-3, -1, -0.0, False, "", dt.datetime(1969, 12, 31, 23, 59), []),
        ],
        _ALL,
    ),
    "none_in_every_column": ([(None,) * 7], _ALL),
    "none_inside_array": ([([1, None, 3],)], "a array<bigint>"),
    "empty": ([], "rk bigint, vec_id bigint, d2 bigint"),
    "dict_rows": (
        [{"batch_seq": 1, "n_new": 4}, {"n_new": 0, "batch_seq": 2}],
        "batch_seq long, n_new long",
    ),
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_local_frame_collects_what_the_list_path_did(spark, case):
    rows, schema = PARITY_CASES[case]
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_local_frame_is_a_jvm_relation(spark):
    """Under ``spark.sql.execution.arrow.localRelationThreshold`` the
    rows become a LocalRelation; the list path scans a Python RDD."""
    df = local_frame(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert "LocalTableScan" in plan_string(df)
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert "ExistingRDD" in plan_string(old)


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([(1.5,)], "v long"),
        ([(1,)], "v double"),
        ([("7",)], "v int"),
        ([(True,)], "v string"),
    ],
)
def test_local_frame_rejects_wrong_typed_values(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, schema)


def test_naive_datetime_is_utc_wall_clock_in_any_driver_zone(spark):
    """The pgwire decoder rebases a timestamp to a naive UTC datetime;
    its epoch micros must survive a driver running in another zone."""
    from datafusion_rdbms_ext_spark.sources.pgwire import (
        OID_TIMESTAMP,
        _decode_binary,
    )

    us_since_2000 = 654_321_987_654_321
    naive = _decode_binary(struct.pack("!q", us_since_2000), OID_TIMESTAMP)
    want = us_since_2000 + 946_684_800 * 1_000_000
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        got = (
            local_frame(spark, [(naive,)], "ts timestamp")
            .select(F.unix_micros("ts"))
            .first()[0]
        )
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert got == want


def test_fetch_partitioned_one_slice_per_partition_no_exchange(spark):
    conn = DuckDBConnector(SF_DIR)
    schema = conn.catalog()["customer"]
    sql = "SELECT * FROM customer"
    df = fetch_partitioned(spark, conn, sql, schema, 4, "c_custkey")
    assert df.rdd.getNumPartitions() == 4
    plan = plan_string(df)
    assert "MapInArrow" in plan and "Range" in plan
    assert count_exchanges(df) == 0 and "Exchange" not in plan

    slices = plan_slices(conn, sql, schema, 4, "c_custkey")
    want = sorted(
        sorted(
            k
            for b in conn.fetch_arrow(s, schema)
            for k in b.column("c_custkey").to_pylist()
        )
        for s in slices
    )
    got = sorted(
        sorted(r.keys)
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.collect_list("c_custkey").alias("keys"))
        .collect()
    )
    assert got == want and all(want)

    sc = spark.sparkContext
    sc.setJobGroup("fetch_partitioned_pin", "fetch_partitioned_pin")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("fetch_partitioned_pin")) == 1


def _create_dataframe_sites(root: Path) -> list[str]:
    """``module:function`` for every ``.createDataFrame(`` call."""
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        mod = path.relative_to(root).with_suffix("").as_posix()

        def walk(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    walk(child, child.name)
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"
                ):
                    sites.append(f"{mod}:{fn}")
                walk(child, fn)

        walk(tree, "<module>")
    return sorted(sites)


def test_driver_rows_enter_spark_only_through_local_frame():
    """A pickled-RDD ``createDataFrame(<list>)`` must not creep back;
    the only other sites hand Spark a pandas frame."""
    root = Path(pkg.__file__).parent
    assert _create_dataframe_sites(root) == sorted(
        [
            "sources/connector:local_frame",
            "sources/federation:fed_postgres_scan",
            "sources/federation:fed_postgres_scan",
            "sources/pyds:fed_sink_roundtrip",
            "sources/pyds:stream_fed_sink",
        ]
    )
