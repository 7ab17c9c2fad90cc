"""Dialect-two (SQLite) federation seam tests: catalog inference via
PRAGMA, equi-width partition predicates disjoint+covering, and the
lossy dynamic-type mapping."""

from __future__ import annotations

import sqlite3

from pyspark.sql import types as T

from datafusion_rdbms_ext_spark.sources.connector import SQLiteConnector
from datafusion_rdbms_ext_spark.sources.sqlite_fed import (
    load_catalog_sqlite,
    sqlite_db_path,
)

from .conftest import SF_DIR


def test_catalog_inference_types():
    cat = load_catalog_sqlite(SF_DIR)
    assert set(cat) >= {"region", "nation", "customer", "supplier"}
    cust = {f.name: f.dataType for f in cat["customer"].fields}
    assert isinstance(cust["c_custkey"], T.LongType)
    assert isinstance(cust["c_acctbal"], T.DoubleType)
    assert isinstance(cust["c_name"], T.StringType)


def test_equi_width_predicates_disjoint_and_covering():
    db = sqlite_db_path(SF_DIR)
    base = "SELECT c_custkey, c_acctbal FROM customer"
    preds = SQLiteConnector(SF_DIR).partition_predicates(base, "c_custkey", 4)
    assert len(preds) == 4
    con = sqlite3.connect(db)
    try:
        total = con.execute(f"SELECT COUNT(*) FROM ({base})").fetchone()[0]
        slices = [
            con.execute(
                f"SELECT COUNT(*) FROM ({base}) _t WHERE {p}"
            ).fetchone()[0]
            for p in preds
        ]
    finally:
        con.close()
    # disjoint + covering: slice counts sum exactly to the total.
    assert sum(slices) == total
    assert all(s > 0 for s in slices)  # equi-width on a dense PK: balanced


def test_partition_sqls_are_sort_free():
    preds = SQLiteConnector(SF_DIR).partition_predicates(
        "SELECT c_custkey FROM customer", "c_custkey", 3
    )
    assert all("ORDER BY" not in p.upper() for p in preds)


# ---------------------------------------------------------------------------
# Connector seam: the SAME pipeline parametrized over both dialects
# (ref DatabaseConnector db_type switch, mod.rs:33-51).
# ---------------------------------------------------------------------------
import pytest  # noqa: E402

from datafusion_rdbms_ext_spark.sources.connector import (  # noqa: E402
    DuckDBConnector,
    connector_scan,
)


def _connectors():
    return [
        pytest.param(DuckDBConnector(SF_DIR), id="duckdb"),
        pytest.param(SQLiteConnector(SF_DIR), id="sqlite"),
    ]


@pytest.mark.parametrize("conn", _connectors())
def test_connector_catalog_has_customer(conn):
    cat = conn.catalog()
    assert "customer" in cat
    names = [f.name for f in cat["customer"].fields]
    assert {"c_custkey", "c_acctbal"} <= set(names)


@pytest.mark.parametrize("conn", _connectors())
def test_connector_partition_predicates_disjoint_covering(conn):
    """Each dialect plans with its own capability (quantiles vs
    equi-width) but the contract is identical: sort-free, disjoint,
    covering slices."""
    base = "SELECT c_custkey, c_acctbal FROM customer"
    preds = conn.partition_predicates(base, "c_custkey", 4)
    assert all("ORDER BY" not in p.upper() for p in preds)
    total = conn.count(base)
    sliced = sum(
        conn.count(f"SELECT * FROM ({base}) _t WHERE {p}") for p in preds
    )
    assert sliced == total


@pytest.mark.parametrize("conn", _connectors())
def test_connector_scan_same_result_both_dialects(spark, conn, oracle):
    """The shared scan pipeline returns identical rows through either
    backend — the dialect switch changes capabilities, not answers."""
    df = connector_scan(
        spark,
        conn,
        "customer",
        columns=["c_custkey", "c_acctbal"],
        predicates=["c_acctbal > 9000.0"],
        partitions=3,
        partition_key="c_custkey",
    )
    got = sorted((r["c_custkey"], round(r["c_acctbal"], 2)) for r in df.collect())
    want = sorted(
        (k, round(v, 2))
        for k, v in oracle.execute(
            "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0"
        ).fetchall()
    )
    assert got == want


def test_sqlite_limit_without_total_order_rejected(spark):
    """Dialect capability negotiation: SQLite cannot pin a bare LIMIT
    deterministically (no ORDER BY ALL), so the seam refuses instead
    of returning nondeterministic slices."""
    with pytest.raises(ValueError, match="deterministic"):
        connector_scan(
            spark, SQLiteConnector(SF_DIR), "customer", limit=5
        )
