"""Fixture reads plan with their footer schema and start no job.

``catalog.register_tables``, ``streaming.events_stream`` and
``pgserver.load_fixture`` type each fixture file from its footer on
the driver, so the only jobs left are the rows the loader collects.
The loader reads the files, not the session's views, so a reload
after a regeneration copies the new rows. A schema-less
``spark.read.parquet`` of a fixture file would start one job for its
footer; the AST guard keeps that form out of the package.
"""

from __future__ import annotations

import ast
import os
import shutil
import uuid
from pathlib import Path

import pytest

import datafusion_rdbms_ext_spark as pkg
from datafusion_rdbms_ext_spark.catalog import TABLES, register_tables, registered_dir

from .conftest import SMOKE_SF_DIR
from .test_versioned_reads import _jobs


@pytest.fixture
def fixture_copy(spark, tmp_path):
    """A fresh copy of the smoke fixtures under a new directory name
    (so also a new Postgres schema); the registration it replaces is
    put back afterwards."""
    before = registered_dir(spark)
    d = tmp_path / f"fx_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    for name in TABLES:
        shutil.copy2(os.path.join(SMOKE_SF_DIR, f"{name}.parquet"), d)
    yield str(d)
    if before is not None:
        register_tables(spark, before)


def test_register_tables_starts_no_job(spark, fixture_copy):
    views, n = _jobs(spark, lambda: register_tables(spark, fixture_copy))
    assert sorted(views) == sorted(TABLES)
    assert n == 0


def test_events_stream_starts_no_job(spark, fixture_copy):
    from datafusion_rdbms_ext_spark.streaming import events_stream

    stream, n = _jobs(spark, lambda: events_stream(spark, fixture_copy))
    assert stream.isStreaming
    assert n == 0


@pytest.mark.skipif(
    not os.path.exists("/usr/local/bin/postgres"),
    reason="no postgres server binary in this container",
)
def test_load_fixture_collects_each_table_once(spark, fixture_copy):
    """A fresh fixture loads each of the five tables with one job, its
    ``collect``: no footer job, no separate ``count``. A later session
    (the memo cleared) finds the tables current with the same five
    jobs and leaves them in place."""
    from datafusion_rdbms_ext_spark.sources.pgserver import (
        _memo_key,
        ensure_pg_server,
        load_fixture,
        schema_for,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    schema = schema_for(fixture_copy)

    def oids():
        cli = PgWireClient(**ensure_pg_server())
        try:
            return cli.query(
                "SELECT relname, CAST(oid AS BIGINT) FROM pg_class "
                f"WHERE relnamespace = '{schema}'::regnamespace AND relkind = 'r'"
            )[2]
        finally:
            cli.close()

    try:
        params, n = _jobs(spark, lambda: load_fixture(spark, fixture_copy))
        assert params["search_path"] == schema
        assert n == 5
        loaded = sorted(oids())
        assert len(loaded) == 6  # the five tables and _fixture_meta
        spark.conf.unset(_memo_key(fixture_copy))
        _, n = _jobs(spark, lambda: load_fixture(spark, fixture_copy))
        assert n == 5
        assert sorted(oids()) == loaded  # nothing dropped and reloaded
    finally:
        cli = PgWireClient(**ensure_pg_server())
        try:
            cli.query(f"DROP SCHEMA IF EXISTS {schema} CASCADE")
        finally:
            cli.close()


@pytest.mark.skipif(
    not os.path.exists("/usr/local/bin/postgres"),
    reason="no postgres server binary in this container",
)
def test_load_fixture_reloads_a_regenerated_file(spark, fixture_copy):
    """A fixture regenerated mid-session in another ``ts`` encoding
    (µs rewritten as ns, the same instants), while the registered
    views still hold the old file's schema, reloads the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_rdbms_ext_spark.sources.pgserver import (
        ensure_pg_server,
        load_fixture,
        schema_for,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    def events(params):
        cli = PgWireClient(**ensure_pg_server())
        try:
            cli.query(f"SET search_path TO {params['search_path']}")
            _, _, rows = cli.query("SELECT event_id, ts FROM events_slice ORDER BY event_id")
            return rows
        finally:
            cli.close()

    register_tables(spark, fixture_copy)
    path = os.path.join(fixture_copy, "events.parquet")
    try:
        before = events(load_fixture(spark, fixture_copy))
        table = pq.read_table(path)
        i = table.schema.get_field_index("ts")
        assert table.schema.field(i).type == pa.timestamp("us")
        pq.write_table(table.set_column(i, "ts", table["ts"].cast(pa.timestamp("ns"))), path)
        after = events(load_fixture(spark, fixture_copy))
        assert before and after == before
    finally:
        cli = PgWireClient(**ensure_pg_server())
        try:
            cli.query(f"DROP SCHEMA IF EXISTS {schema_for(fixture_copy)} CASCADE")
        finally:
            cli.close()


# ---------------------------------------------------------------------------
# No schema-less read of a fixture file.
# ---------------------------------------------------------------------------


def _chain(node: ast.AST) -> list[str]:
    """Attribute names along a call's receiver chain, innermost last:
    ``spark.read.schema(s).parquet`` -> parquet, schema, read, spark."""
    names = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def _mentions_sf_dir(call: ast.Call) -> bool:
    return any(
        isinstance(n, ast.Name) and n.id == "sf_dir"
        for arg in call.args
        for n in ast.walk(arg)
    )


def _schemaless_fixture_reads(source: str, filename: str = "<src>") -> list[str]:
    """``file:line`` of every ``.read<...>.parquet(<... sf_dir ...>)``
    with no ``.schema(`` in its receiver chain."""
    out = []
    for node in ast.walk(ast.parse(source, filename)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        chain = _chain(node.func)
        if chain[0] != "parquet" or not {"read", "readStream"} & set(chain):
            continue
        if _mentions_sf_dir(node) and "schema" not in chain:
            out.append(f"{filename}:{node.lineno}")
    return out


def test_guard_detects_a_schemaless_fixture_read():
    src = (
        "def f(spark, sf_dir):\n"
        "    a = spark.read.parquet(os.path.join(sf_dir, 'events.parquet'))\n"
        "    b = spark.read.option('x', 1).parquet(path_for(spark, sf_dir))\n"
        "    c = spark.read.schema(s).parquet(os.path.join(sf_dir, 'x.parquet'))\n"
        "    d = spark.read.parquet(path)\n"
        "    df.write.parquet(os.path.join(sf_dir, 'out'))\n"
    )
    assert _schemaless_fixture_reads(src) == ["<src>:2", "<src>:3"]


def test_package_reads_no_fixture_file_without_a_schema():
    root = Path(pkg.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        sites += _schemaless_fixture_reads(path.read_text(), path.relative_to(root).as_posix())
    assert sites == []
