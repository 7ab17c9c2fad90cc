"""Federated relations are typed on the driver.

``pyds.fed_table`` is the package's one federated load: it reads the
connector's catalog on the driver and passes the schema, so building
a federated DataFrame starts no Python planner worker. The schema must
be the one the worker-side ``FederatedSource.schema()`` infers, the
registered DataSource scans must return the rows they returned over
an inferred load, and the DuckDB catalog behind it is inferred once
per fixture generation.
"""

from __future__ import annotations

import ast
import hashlib
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import types as T

import datafusion_rdbms_ext_spark as pkg
from datafusion_rdbms_ext_spark.sources import federation, pyds
from datafusion_rdbms_ext_spark.sources.connector import FORMATS, connector_for

from .conftest import SF_DIR


def _options(spark, fmt: str) -> dict:
    if fmt == "pgwire_fed":
        return federation._pg_options(spark, SF_DIR)
    return {"sf_dir": SF_DIR}


def _inferred_load(spark, fmt: str, table: str, **options):
    """A load that gives no schema: the JVM asks the Python planner
    worker (``FederatedSource.schema``)."""
    pyds.register_fed_sources(spark)
    return spark.read.format(fmt).options(table=table, **options).load()


def _rows_digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_fed_table_schema_matches_worker_inference(spark, fmt):
    opts = _options(spark, fmt)
    tables = sorted(connector_for(fmt, opts).catalog())
    assert {"customer", "nation"} <= set(tables)
    for table in tables:
        given = pyds.fed_table(spark, fmt, table, **opts).schema
        inferred = _inferred_load(spark, fmt, table, **opts).schema
        assert given == inferred, (fmt, table)


@pytest.mark.parametrize(
    "name", ["fed_datasource_scan", "fed_postgres_datasource_scan"]
)
def test_datasource_scans_return_the_inferred_load_rows(spark, monkeypatch, name):
    from datafusion_rdbms_ext_spark.queries import REGISTRY
    from datafusion_rdbms_ext_spark.queries.base import ensure_tables

    ensure_tables(spark, SF_DIR)
    fn = REGISTRY[name].fn
    typed = fn(spark, SF_DIR)
    monkeypatch.setattr(pyds, "fed_table", _inferred_load)
    inferred = fn(spark, SF_DIR)
    assert typed.schema == inferred.schema
    assert typed.count() > 0
    assert _rows_digest(typed) == _rows_digest(inferred)


def test_fed_table_starts_no_planner_worker(spark, monkeypatch, tmp_path):
    """Building the relation, and the analyzed plan the unparser
    reads, never runs the source's ``schema()`` in a planner worker.
    The probe source marks a file from the worker process."""
    from datafusion_rdbms_ext_spark.sources.pushdown import try_unparse

    marker = str(tmp_path / "schema_called")

    class Probe(pyds.FederatedSource):
        @classmethod
        def name(cls):
            return "duckdb_fed_probe"

        def schema(self):
            with open(marker, "a") as fh:
                fh.write("called\n")
            return connector_for("duckdb_fed", self.options).catalog()[
                self.options["table"]
            ]

    spark.dataSource.register(Probe)
    monkeypatch.setitem(FORMATS, "duckdb_fed_probe", FORMATS["duckdb_fed"])
    df = pyds.fed_table(spark, "duckdb_fed_probe", "nation", sf_dir=SF_DIR)
    assert try_unparse(df.filter("n_regionkey = 1")) is not None
    assert not os.path.exists(marker)
    # the probe does reach the worker when no schema is given
    spark.read.format("duckdb_fed_probe").options(table="nation", sf_dir=SF_DIR).load()
    assert os.path.exists(marker)


def test_register_fed_sources_registers_each_format_once(spark, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    pyds.register_fed_sources(spark)
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    assert all(manager.dataSourceExists(fmt) for fmt in FORMATS)
    calls = []
    monkeypatch.setattr(
        DataSourceRegistration, "register", lambda self, src: calls.append(src)
    )
    pyds.register_fed_sources(spark)
    assert calls == []
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"


# ---------------------------------------------------------------------------
# The one federated load site.
# ---------------------------------------------------------------------------


def _is_read_format(call: ast.Call) -> bool:
    """``<...>.read<...>.format(...)``: a batch load's format."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "format"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr == "read":
                return True
            node = node.value
        else:
            node = node.func
    return False


def _federated_loads(source: str, filename: str = "<src>") -> list[str]:
    """Enclosing function of every ``.read.format(`` whose format is a
    federated one or is not a literal (it might be one)."""
    out = []

    def visit(node, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call) and _is_read_format(child):
                arg = child.args[0] if child.args else None
                literal = isinstance(arg, ast.Constant) and isinstance(arg.value, str)
                if not literal or arg.value in FORMATS:
                    out.append(f"{filename}:{fn}")
            visit(child, fn)

    visit(ast.parse(source, filename), "<module>")
    return out


def test_guard_detects_a_federated_load():
    src = (
        "def f(spark):\n"
        "    return spark.read.format('pgwire_fed').option('a', 1).load()\n"
        "def g(spark, fmt):\n"
        "    return spark.read.schema('x int').format(fmt).load()\n"
        "def h(spark):\n"
        "    return spark.read.format('parquet').load('p')\n"
    )
    assert _federated_loads(src) == ["<src>:f", "<src>:g"]


def test_fed_table_is_the_only_federated_load():
    root = Path(pkg.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        sites += _federated_loads(path.read_text(), rel)
    assert sites == ["sources/pyds.py:fed_table"]


# ---------------------------------------------------------------------------
# The DuckDB catalog is inferred once per fixture generation.
# ---------------------------------------------------------------------------


@pytest.fixture
def fixture_copy(tmp_path):
    for name in ("region", "nation"):
        shutil.copy2(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path)
    return tmp_path


def test_duckdb_catalog_memo_tracks_fixture_files(fixture_copy, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    builds = []
    real = federation._infer_catalog
    monkeypatch.setattr(
        federation, "_infer_catalog", lambda d: builds.append(d) or real(d)
    )
    sf = str(fixture_copy)
    first = federation.load_catalog(sf)
    assert sorted(first) == ["nation", "region"]
    assert federation.load_catalog(sf) == first
    assert len(builds) == 1

    region = fixture_copy / "region.parquet"
    st = region.stat()
    os.utime(region, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert federation.load_catalog(sf) == first
    assert len(builds) == 2

    pq.write_table(pa.table({"r_regionkey": [0], "r_extra": ["x"]}), region)
    assert federation.load_catalog(sf)["region"].names == ["r_regionkey", "r_extra"]
    assert len(builds) == 3


def test_duckdb_catalog_memo_hands_out_copies(fixture_copy):
    sf = str(fixture_copy)
    got = federation.load_catalog(sf)
    want = {t: s.json() for t, s in got.items()}
    got["region"].add("junk", T.StringType())
    got["nation"].fields[0].name = "renamed"
    got["nation"].fields[0].dataType = T.StringType()
    del got["nation"]
    again = federation.load_catalog(sf)
    assert {t: s.json() for t, s in again.items()} == want
