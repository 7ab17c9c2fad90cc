"""Database connector seam — one shape, N dialects.

The reference models its backend as a value object with a dialect
switch: ``DatabaseConnector {db_type, params, db_name}``
(/root/reference/src/sqldb/mod.rs:33-51) — one compile/partition/
fetch pipeline designed to serve multiple engines even though only
Postgres is implemented there. This module is the only place that
knows the engine's formats: :data:`FORMATS` maps each Python-DataSource
format (``duckdb_fed``, ``sqlite_fed``, ``pgwire_fed``) to the
:class:`Connector` that serves it, and every federated reader, scan
and rewrite goes through that connector. A dialect is a subclass
declaring its capabilities and per-dialect steps:

* ``fetch_pdf`` — one cursor, one SQL, one pandas frame (executor-
  side; connectors carry only strings so tasks can pickle them);
* ``fetch_arrow`` — the one slice fetch, shared by
  :func:`fetch_partitioned` and the DataSource reader: Arrow record
  batches typed by the Spark schema, streamed where the dialect can
  (DuckDB record batches, SQLite cursor chunks, Postgres CSV COPY);
* ``catalog`` — the two-step metadata bootstrap (tables, then
  columns) through whatever metadata surface the dialect has
  (information_schema vs sqlite_master/PRAGMA — mod.rs:67-125);
* ``partition_predicates`` — disjoint covering key ranges, planned
  with the best remote capability available: quantile split points
  where the dialect has a quantile aggregate, min/max equi-width
  arithmetic (the Spark-JDBC lowerBound/upperBound shape) where it
  does not;
* ``supports_order_by_all`` — whether keyless results can be pinned
  deterministically for LIMIT/OFFSET slicing; dialects without it
  collapse keyless multi-partition fetches to one slice rather than
  risk overlap/miss;
* ``validate`` — the fetch schema of rewritten SQL, or None when the
  remote rejects it (the Spark-side schema is passed as a thunk, so a
  dialect that types the SQL itself never analyzes the plan);
* ``stage_keys`` / ``unstage`` — bulk key shipment for the semi-join
  spill, dropped at interpreter exit.

Connectors compare and hash by value, so two relations name the same
remote exactly when their connectors are equal.

``plan_slices`` / ``fetch_partitioned`` / ``connector_scan`` are the
dialect-neutral execution pipeline: N Spark tasks each open their own
remote cursor and stream one disjoint slice through ``mapInArrow`` —
the reference's N concurrent COPY streams (PostgresExec,
table_provider.rs:123-158), for any dialect.
"""

from __future__ import annotations

import atexit
import os
import uuid
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Spark integral types usable as range-partition keys.
_KEY_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)

#: rows per chunk of a chunked cursor read
_CHUNK_ROWS = 65536


class Connector:
    """One remote database: dialect identity + capabilities + cursors.

    Subclasses hold only picklable state (paths, DSNs), so instances
    travel into executor tasks; connections are opened per fetch."""

    db_type: str = "?"
    supports_order_by_all: bool = False
    #: ``quantile_sql(base_sql, key, partitions)`` -> the dialect's
    #: one-row split-point query; None where the dialect has no
    #: quantile aggregate (min/max equi-width planning instead)
    quantile_sql: Callable[[str, str, int], str] | None = None

    @classmethod
    def from_options(cls, options) -> "Connector":
        """The connector a DataSource relation's options name (a dict
        or a JVM options map — only single-argument ``get`` is used)."""
        return cls(options.get("sf_dir"))

    def __eq__(self, other) -> bool:
        return type(self) is type(other) and vars(self) == vars(other)

    def __hash__(self) -> int:
        return hash((type(self), tuple(sorted(vars(self).items()))))

    def fetch_pdf(self, sql: str) -> pd.DataFrame:
        raise NotImplementedError

    def fetch_arrow(self, sql: str, schema: T.StructType) -> Iterator:
        """The one slice fetch: ``sql``'s rows as Arrow record
        batches typed by ``schema``. Default: the plain cursor fetch,
        converted once."""
        yield from _pdf_to_batches(self.fetch_pdf(sql), _arrow_target(schema))

    def catalog(self) -> dict[str, T.StructType]:
        raise NotImplementedError

    def count(self, sql: str) -> int:
        return int(self.fetch_pdf(f"SELECT COUNT(*) AS n FROM ({sql}) _t")["n"][0])

    def minmax_sql(self, base_sql: str, key: str) -> str:
        """The equi-width planner's one metadata query."""
        return (
            f"SELECT MIN({key}) AS lo, MAX({key}) AS hi "
            f"FROM ({base_sql}) _t"
        )

    def partition_predicates(self, base_sql: str, key: str, partitions: int) -> list[str]:
        """The one split-point planner. Where the dialect has a
        quantile aggregate (``quantile_sql``), remote-quantile split
        points: balanced slices even on skewed keys, one metadata
        query. Its one row is read by flattening its values — a list
        (DuckDB, Postgres) or ``q1..q{n-1}`` columns (T-SQL). Otherwise
        equi-width min/max ranges (Spark-JDBC lowerBound/upperBound
        arithmetic) — balance degrades on skew, the price of a
        missing quantile aggregate."""
        if self.quantile_sql is not None:
            pdf = self.fetch_pdf(self.quantile_sql(base_sql, key, partitions))
            values = [] if pdf.empty else pdf.iloc[0].tolist()
            points = {
                int(p)
                for v in values
                for p in (v if pd.api.types.is_list_like(v) else [v])
                if p is not None and not pd.isna(p)
            }
            return _bounds_to_preds(key, sorted(points))
        row = self.fetch_pdf(self.minmax_sql(base_sql, key))
        lo, hi = row["lo"][0], row["hi"][0]
        if lo is None or hi is None or pd.isna(lo) or pd.isna(hi) or lo == hi:
            return ["TRUE"]
        lo, hi = int(lo), int(hi)
        span = (hi - lo + 1) / partitions
        bounds = sorted({int(lo + i * span) for i in range(1, partitions)})
        return _bounds_to_preds(key, [b for b in bounds if lo < b <= hi])

    def validate(
        self, sql: str, spark_schema: Callable[[], T.StructType]
    ) -> T.StructType | None:
        """The fetch schema for rewritten ``sql`` whose Spark plan
        types it as ``spark_schema()``, or None when the remote rejects
        the SQL or its columns drift. Default: a LIMIT-0 probe (no
        dialect here can DESCRIBE a composed query), trusting Spark's
        types."""
        try:
            probe = self.fetch_pdf(f"SELECT * FROM ({sql}) _v LIMIT 0")
        except Exception:
            return None
        schema = spark_schema()
        return schema if list(probe.columns) == schema.names else None

    def stage_keys(self, keys: DataFrame, cols: list[str]) -> str:
        """Bulk-load the distinct key frame ``keys`` (columns ``cols``)
        where the remote can read it; return the relation naming it.
        Every call stages under a fresh name — a lazy DataFrame keeps
        re-reading its own stage, so a later spill must never replace
        it — and the stage is dropped at interpreter exit."""
        name = f"_sjk_{os.getpid()}_{uuid.uuid4().hex[:12]}"
        src = self._stage(name, keys, cols)
        atexit.register(self._unstage_at_exit, name)
        return src

    def _unstage_at_exit(self, name: str) -> None:
        # the remote may be gone by exit (a stopped server, a removed
        # fixture dir): cleanup is best-effort, never a traceback
        try:
            self.unstage(name)
        except Exception:
            pass

    def _stage(self, name: str, keys: DataFrame, cols: list[str]) -> str:
        raise NotImplementedError(f"{self.db_type}: no key staging")

    def unstage(self, name: str) -> None:
        """Drop the stage :meth:`stage_keys` created under ``name``."""
        raise NotImplementedError(f"{self.db_type}: no key staging")


def _arrow_target(schema: T.StructType):
    """Spark's Arrow form of ``schema`` with every field nullable —
    what a fetched batch is conformed to before Spark sees it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])


def _conform(batches, target) -> Iterator:
    """Reorder/cast each batch to ``target`` (by column name, as
    Spark's pandas conversion matches columns) where it differs."""
    for b in batches:
        if b.schema != target:
            b = b.select(target.names).cast(target)
        yield b


def _pdf_to_batches(pdf: pd.DataFrame, target) -> Iterator:
    """One pandas frame as batches of ``target`` — the unchecked
    cast Spark's own pandas conversion applies."""
    import pyarrow as pa

    if len(pdf):
        yield from pa.Table.from_pandas(
            pdf[target.names], schema=target, preserve_index=False, safe=False
        ).to_batches()


def spark_schema_to_arrow(schema: T.StructType):
    """pyarrow schema for a vectorized CSV parse, or None when any
    column lacks a CSV-parseable Arrow type (arrays/bytea/uuid stay
    on the text-protocol decode)."""
    import pyarrow as pa

    simple = {
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.ShortType(): pa.int16(),
        T.DoubleType(): pa.float64(),
        T.FloatType(): pa.float32(),
        T.StringType(): pa.string(),
        T.BooleanType(): pa.bool_(),
        T.DateType(): pa.date32(),
        T.TimestampNTZType(): pa.timestamp("us"),
    }
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            at = pa.decimal128(f.dataType.precision, f.dataType.scale)
        elif f.dataType in simple:
            at = simple[f.dataType]
        else:
            return None
        fields.append(pa.field(f.name, at))
    return pa.schema(fields)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """DataFrame over driver-held ``rows`` (tuples, or dicts keyed by
    field name), shipped to the JVM as one Arrow table.

    ``createDataFrame(<list>)`` pickles the list into a Python RDD, so
    every job reading the frame runs Python-worker tasks; Arrow
    batches land JVM-side. Rows are still checked against ``schema``
    first (the list path's ``verifySchema``: ``1.5`` into a ``long``
    raises instead of truncating), and a naive datetime is UTC wall
    clock, as the pgwire decoder rebases it, whatever the driver's
    local zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    names = schema.names
    verify = T._make_type_verifier(schema)
    tuples = []
    for row in rows:
        verify(row)
        tuples.append(
            tuple(row.get(n) for n in names) if isinstance(row, dict) else row
        )
    columns = list(zip(*tuples)) if tuples else [()] * len(names)
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=to_arrow_type(f.dataType))
            for col, f in zip(columns, schema.fields)
        ],
        names=names,
    )
    return spark.createDataFrame(table, schema)


def arrow_csv_to_table(blob: bytes, arrow_schema):
    """Parse a COPY (FORMAT csv) stream under the COPY contract:
    NULL = unquoted empty field, empty string = quoted, bool = t/f."""
    import io

    import pyarrow.csv as pacsv

    return pacsv.read_csv(
        io.BytesIO(blob),
        read_options=pacsv.ReadOptions(
            column_names=[f.name for f in arrow_schema]
        ),
        # COPY (FORMAT csv) quotes embedded newlines; without this the
        # vectorized bulk path fails on values the binary/text paths
        # handle fine (ADVICE r10 #4).
        parse_options=pacsv.ParseOptions(newlines_in_values=True),
        convert_options=pacsv.ConvertOptions(
            column_types={f.name: f.type for f in arrow_schema},
            strings_can_be_null=True,
            quoted_strings_can_be_null=False,
            true_values=["t"],
            false_values=["f"],
        ),
    )


def _bounds_to_preds(key: str, bounds: list) -> list[str]:
    """Disjoint covering predicates from sorted split points; the
    unbounded-below slice absorbs NULL keys."""
    if not bounds:
        return ["TRUE"]
    preds = [f"({key} < {bounds[0]} OR {key} IS NULL)"]
    preds += [f"({key} >= {lo} AND {key} < {hi})" for lo, hi in zip(bounds, bounds[1:])]
    preds.append(f"({key} >= {bounds[-1]})")
    return preds


class DuckDBConnector(Connector):
    """Dialect one: DuckDB over the fixture parquet (the Postgres
    stand-in of federation.py). Full capability set: information_schema
    catalog, DESCRIBE of composed queries, quantile partition planning,
    ORDER BY ALL determinism."""

    db_type = "duckdb"
    supports_order_by_all = True

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir

    def _connect(self):
        from .federation import _connect

        return _connect(self.sf_dir)

    def fetch_pdf(self, sql: str) -> pd.DataFrame:
        con = self._connect()
        try:
            return con.execute(sql).fetchdf()
        finally:
            con.close()

    def fetch_arrow(self, sql: str, schema: T.StructType) -> Iterator:
        """DuckDB's own record-batch stream: one batch in memory."""
        con = self._connect()
        try:
            yield from _conform(
                con.execute(sql).fetch_record_batch(), _arrow_target(schema)
            )
        finally:
            con.close()

    def catalog(self) -> dict[str, T.StructType]:
        from .federation import load_catalog

        return load_catalog(self.sf_dir)

    def describe(self, sql: str) -> T.StructType:
        from .federation import describe_schema

        return describe_schema(self.sf_dir, sql)

    def validate(
        self, sql: str, spark_schema: Callable[[], T.StructType]
    ) -> T.StructType | None:
        """Remote ``DESCRIBE``: DuckDB types the composed query itself."""
        try:
            return self.describe(sql)
        except Exception:
            return None

    def quantile_sql(self, base_sql: str, key: str, partitions: int) -> str:
        """DuckDB spelling of the split-point query: one list of
        ``quantile_disc`` points."""
        qs = [i / partitions for i in range(1, partitions)]
        return (
            f"SELECT quantile_disc({key}, {qs!r}) FROM ({base_sql}) _t "
            f"WHERE {key} IS NOT NULL"
        )

    def _stage_path(self, name: str) -> str:
        import tempfile

        return os.path.join(tempfile.gettempdir(), name)

    def _stage(self, name: str, keys: DataFrame, cols: list[str]) -> str:
        """Distributed parquet write, no driver collect: the remote
        shares the filesystem, so the stage IS the transfer."""
        path = self._stage_path(name)
        keys.write.mode("overwrite").parquet(path)
        return f"read_parquet('{os.path.join(path, '*.parquet')}')"

    def unstage(self, name: str) -> None:
        import shutil

        shutil.rmtree(self._stage_path(name), ignore_errors=True)


class SQLiteConnector(Connector):
    """Dialect two: stdlib SQLite. Coarser capabilities — PRAGMA
    catalog, no composed-query DESCRIBE, no quantile aggregate (falls
    back to min/max equi-width ranges), no ORDER BY ALL."""

    db_type = "sqlite"

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir

    def _db(self) -> str:
        from .sqlite_fed import sqlite_db_path

        return sqlite_db_path(self.sf_dir)

    def fetch_pdf(self, sql: str) -> pd.DataFrame:
        import sqlite3

        con = sqlite3.connect(self._db())
        try:
            return pd.read_sql_query(sql, con)
        finally:
            con.close()

    def fetch_arrow(self, sql: str, schema: T.StructType) -> Iterator:
        """The cursor read in chunks: one chunk in memory."""
        import sqlite3

        target = _arrow_target(schema)
        con = sqlite3.connect(self._db())
        try:
            for pdf in pd.read_sql_query(sql, con, chunksize=_CHUNK_ROWS):
                yield from _pdf_to_batches(pdf, target)
        finally:
            con.close()

    def catalog(self) -> dict[str, T.StructType]:
        from .sqlite_fed import load_catalog_sqlite

        return load_catalog_sqlite(self.sf_dir)

    def _stage(self, name: str, keys: DataFrame, cols: list[str]) -> str:
        """Bulk-load into a table of the remote database — the staging
        protocol a networked remote uses (COPY/INSERT into a temp
        table); the driver-side toPandas is bounded by the build side's
        distinct keys, the argument that makes the local join feasible."""
        import sqlite3

        con = sqlite3.connect(self._db())
        try:
            keys.toPandas().to_sql(name, con, index=False)
            con.commit()
        finally:
            con.close()
        return name

    def unstage(self, name: str) -> None:
        import sqlite3

        con = sqlite3.connect(self._db())
        try:
            con.execute(f"DROP TABLE IF EXISTS {name}")
            con.commit()
        finally:
            con.close()


class _InfoSchemaConnector(Connector):
    """A networked dialect with a ``key=value`` DSN and the standard
    information_schema surface: the two-step bootstrap of reference
    mod.rs:67-125, typed per row by :meth:`_column_type`."""

    #: wire-client params before the DSN applies; ``database``
    #: defaults to the connector's schema when absent here
    _DEFAULTS: dict = {}
    #: DSN keys that pass straight through to the wire client
    _DSN_KEYS = ("host", "user", "password")
    #: information_schema.columns read by :meth:`_column_type`
    _TYPE_COLUMNS = "data_type"
    _TYPE_MAP: dict = {}
    _DEFAULT_SCHEMA: str

    def __init__(self, dsn: str, schema: str | None = None):
        self.dsn = dsn
        self.schema_name = schema or self._DEFAULT_SCHEMA

    def _params(self) -> dict:
        """Parse the DSN into wire-client params."""
        out = {"host": "127.0.0.1", "database": self.schema_name, **self._DEFAULTS}
        for part in self.dsn.split():
            k, _, v = part.partition("=")
            if k == "port":
                out["port"] = int(v)
            elif k in self._DSN_KEYS:
                out[k] = v
            elif k == "dbname":
                out["database"] = v
        return out

    def catalog_sql(self) -> tuple[str, str]:
        """The two-step information_schema bootstrap, SQL text."""
        tables = (
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{self.schema_name}' "
            "AND table_type = 'BASE TABLE' ORDER BY table_name"
        )
        columns = (
            f"SELECT table_name, column_name, {self._TYPE_COLUMNS}, "
            "is_nullable "
            "FROM information_schema.columns "
            f"WHERE table_schema = '{self.schema_name}' "
            "ORDER BY table_name, ordinal_position"
        )
        return tables, columns

    def catalog(self) -> dict[str, T.StructType]:
        # The tables query is not decoration: information_schema.columns
        # also lists VIEW columns, and only the BASE TABLE filter keeps
        # views out of the catalog.
        tables_sql, columns_sql = self.catalog_sql()
        base_tables = set(self.fetch_pdf(tables_sql)["table_name"])
        pdf = self.fetch_pdf(columns_sql)
        out: dict[str, T.StructType] = {}
        for row in pdf.itertuples(index=False):
            if row.table_name not in base_tables:
                continue  # a view leaking through columns
            out.setdefault(row.table_name, T.StructType()).add(
                row.column_name, self._column_type(row), row.is_nullable == "YES"
            )
        return out

    def _column_type(self, row) -> T.DataType:
        return self._TYPE_MAP.get(row.data_type.lower(), T.StringType())


class PostgresConnector(_InfoSchemaConnector):
    """Dialect three: Postgres — the reference's ACTUAL backend
    (reference src/sqldb/postgres/*). LIVE: the container
    carries server binaries, the engine boots a local cluster
    (sources/pgserver.py) and talks to it over its own stdlib
    protocol-v3 client (sources/pgwire.py) — no driver package
    needed. The dialect layer (tests/test_postgres_dialect.py)
    remains a page of configuration — catalog SQL, quantile
    spelling, capability flags — exercised end-to-end by
    tests/test_pgwire.py, fed_postgres_scan and
    fed_postgres_binary_copy.

    Capabilities: information_schema catalog, quantile partition
    planning via ``percentile_disc(...) WITHIN GROUP`` (the ANSI
    spelling DuckDB's ``quantile_disc`` shorthand maps to), no
    ORDER BY ALL (keyless multi-slice fetches collapse to one slice,
    bare-LIMIT pushdown refused — same negotiation as SQLite)."""

    db_type = "postgres"
    _DEFAULT_SCHEMA = "public"
    _DEFAULTS = {"port": 5432, "user": "postgres", "database": "postgres"}
    # the libpq conninfo spellings; password/TLS flow straight into
    # the wire client
    _DSN_KEYS = ("host", "user", "password", "sslmode", "sslrootcert")
    # udt_name carries the element type of ARRAY columns ('_int8' =
    # int8[]) — data_type alone says only 'ARRAY'
    _TYPE_COLUMNS = "data_type, udt_name"

    #: information_schema type name -> Spark type (reference
    #: datatypes.rs:141-176). numeric follows the reference's
    #: CATALOG-path contract — Decimal(38,4), datatypes.rs:160-162 —
    #: as the wire client decodes base-10000 digits exactly.
    _TYPE_MAP = {
        "smallint": T.ShortType(),
        # 32-bit, matching the reference's INT4 -> Int32
        # (datatypes.rs) and the DuckDB dialect's INTEGER ->
        # IntegerType — cross-dialect plans must agree on the Spark
        # type of the same logical column (SQLite's LongType is
        # justified by SQLite's 64-bit storage class, Postgres
        # integer is a true int4).
        "integer": T.IntegerType(),
        "bigint": T.LongType(),
        "real": T.FloatType(),
        "double precision": T.DoubleType(),
        "numeric": T.DecimalType(38, 4),
        "text": T.StringType(),
        "character varying": T.StringType(),
        "boolean": T.BooleanType(),
        "date": T.DateType(),
        "timestamp without time zone": T.TimestampNTZType(),
        "timestamp with time zone": T.TimestampType(),
        "bytea": T.BinaryType(),
        # Spark has no UUID/TIME types — canonical strings, matching
        # the wire client's decode
        "uuid": T.StringType(),
        "time without time zone": T.StringType(),
        "time with time zone": T.StringType(),
        # day/time intervals only — the wire decode rejects
        # month-bearing intervals as calendar-relative
        "interval": T.DayTimeIntervalType(),
    }

    #: udt_name of an ARRAY column -> Spark element type (reference
    #: datatypes.rs:28-80: the same OID rows map to List<T>).
    _ARRAY_UDT_MAP = {
        "_int2": T.ShortType(),
        "_int4": T.IntegerType(),
        "_int8": T.LongType(),
        "_float4": T.FloatType(),
        "_float8": T.DoubleType(),
        "_numeric": T.DecimalType(38, 4),
        "_text": T.StringType(),
        "_varchar": T.StringType(),
        "_bool": T.BooleanType(),
        "_date": T.DateType(),
        "_timestamp": T.TimestampNTZType(),
        "_bytea": T.BinaryType(),
        "_uuid": T.StringType(),
    }

    #: Spark type -> Postgres DDL type of a staged semi-join key
    #: column; other key types raise and the caller falls through.
    _KEY_DDL = {
        "bigint": "bigint",
        "int": "bigint",
        "smallint": "bigint",
        "tinyint": "bigint",
        "string": "text",
        "double": "double precision",
        "float": "double precision",
        "date": "date",
    }

    @classmethod
    def from_options(cls, options) -> "PostgresConnector":
        """The ``pgwire_fed`` options (host, port, user, database,
        search_path, password, sslmode, sslrootcert) as a DSN."""
        dsn = (
            f"host={options.get('host') or '127.0.0.1'} "
            f"port={options.get('port') or 5432} "
            f"user={options.get('user') or 'postgres'} "
            f"dbname={options.get('database') or 'postgres'}"
        )
        for k in ("password", "sslmode", "sslrootcert"):
            if options.get(k):
                dsn += f" {k}={options.get(k)}"
        return cls(dsn, schema=options.get("search_path"))

    def _params(self) -> dict:
        """The connector's schema becomes the wire session's
        search_path (per-scale-factor namespace isolation)."""
        out = super()._params()
        if self.schema_name != "public":
            out["search_path"] = self.schema_name
        return out

    def _client(self, **kw):
        from .pgwire import PgWireClient

        return PgWireClient(**self._params(), **kw)

    def fetch_pdf(self, sql: str) -> pd.DataFrame:
        cli = self._client()
        try:
            cols, _oids, rows = cli.query(sql)
        finally:
            cli.close()
        return pd.DataFrame(rows, columns=cols)

    def fetch_arrow(self, sql: str, schema: T.StructType) -> Iterator:
        """Bulk fetch via CSV COPY + Arrow's C++ parser when every
        column is vectorizable (~3x the per-field decode per
        connection), else the text-protocol fetch (the type tail:
        arrays/bytea/uuid/...)."""
        arrow_schema = spark_schema_to_arrow(schema)
        if arrow_schema is None:
            yield from super().fetch_arrow(sql, schema)
            return
        cli = self._client()
        try:
            blob = cli.copy_csv(sql)
        finally:
            cli.close()
        if blob:
            yield from arrow_csv_to_table(blob, arrow_schema).to_batches()

    def _column_type(self, row) -> T.DataType:
        udt = getattr(row, "udt_name", None)
        if row.data_type == "ARRAY" and udt in self._ARRAY_UDT_MAP:
            return T.ArrayType(self._ARRAY_UDT_MAP[udt])
        return super()._column_type(row)

    def quantile_sql(self, base_sql: str, key: str, partitions: int) -> str:
        """Postgres spelling of the split-point query (the capability
        DuckDB exposes as quantile_disc)."""
        fracs = ", ".join(str(i / partitions) for i in range(1, partitions))
        return (
            f"SELECT percentile_disc(ARRAY[{fracs}]) "
            f"WITHIN GROUP (ORDER BY {key}) AS qs "
            f"FROM ({base_sql}) _t WHERE {key} IS NOT NULL"
        )

    def _stage(self, name: str, keys: DataFrame, cols: list[str]) -> str:
        """The networked staging protocol: the key set bulk-loads over
        COPY FROM STDIN into a table of the live server."""
        ddl = ", ".join(
            f"{c} {self._KEY_DDL[f.dataType.simpleString()]}"
            for c, f in zip(cols, keys.schema.fields)
        )
        cli = self._client()
        try:
            cli.query(f"CREATE TABLE {name} ({ddl})")
            cli.copy_in_text(name, cols, (tuple(r) for r in keys.collect()))
        finally:
            cli.close()
        return name

    def unstage(self, name: str) -> None:
        # a short connect timeout: this also runs at interpreter exit
        cli = self._client(timeout=5.0)
        try:
            cli.query(f"DROP TABLE IF EXISTS {name}")
        finally:
            cli.close()


class MySqlConnector(_InfoSchemaConnector):
    """Dialect four: MySQL — the reference's DatabaseConnector
    declares a MySql variant it never implements (`todo!()`,
    reference src/sqldb/mod.rs:12-16,47-48); this closes that
    enum surface. Canned-wire, the Postgres precedent: the whole
    dialect above the wire — catalog bootstrap SQL, capability
    negotiation, partition planning, type map, the unparse rendering
    pass (pushdown._dialect_mysql) — is configuration proven by
    tests/test_mysql_dialect.py; live only if the container ever
    grows a server (no MySQL binary or driver ships here today).

    Capabilities: information_schema catalog (the schema is the
    DATABASE — MySQL has no schema-in-database level — and
    COLUMN_TYPE rides along because DATA_TYPE drops signedness), NO
    quantile aggregate (no ordered-set aggregates in MySQL — the
    inherited equi-width min/max ranges, same as SQLite), NO ORDER BY
    ALL (bare-LIMIT pushdown refused). Identifier quoting is
    backticks (the unparse pass leaves Spark's quoting untouched —
    see _dialect_mysql)."""

    db_type = "mysql"
    _DEFAULT_SCHEMA = "mysql"
    _DEFAULTS = {"port": 3306, "user": "root"}
    _TYPE_COLUMNS = "data_type, column_type"

    #: information_schema.columns DATA_TYPE -> Spark type. MySQL
    #: drops signedness from DATA_TYPE (it lives in COLUMN_TYPE), so
    #: _column_type widens unsigned integers one tier: an unsigned
    #: bigint's domain exceeds int64 — only Decimal(20,0) holds it
    #: exactly.
    _TYPE_MAP = {
        "tinyint": T.ByteType(),
        "smallint": T.ShortType(),
        "mediumint": T.IntegerType(),  # 24-bit fits int32
        "int": T.IntegerType(),
        "bigint": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "decimal": T.DecimalType(38, 4),
        "char": T.StringType(),
        "varchar": T.StringType(),
        "text": T.StringType(),
        "mediumtext": T.StringType(),
        "longtext": T.StringType(),
        "json": T.StringType(),
        "enum": T.StringType(),
        "date": T.DateType(),
        # DATETIME is MySQL's timezone-less type; TIMESTAMP is
        # UTC-normalized storage rendered in session tz
        "datetime": T.TimestampNTZType(),
        "timestamp": T.TimestampType(),
        "time": T.StringType(),  # Spark has no TIME type (pg parity)
        "blob": T.BinaryType(),
        "varbinary": T.BinaryType(),
        "binary": T.BinaryType(),
        "bit": T.BinaryType(),
    }

    #: unsigned widening: DATA_TYPE -> Spark type when COLUMN_TYPE
    #: says 'unsigned' (each type's max exceeds its signed Spark
    #: counterpart's range; bigint unsigned exceeds EVERY integral)
    _UNSIGNED_MAP = {
        "tinyint": T.ShortType(),
        "smallint": T.IntegerType(),
        "mediumint": T.IntegerType(),  # 24-bit unsigned still fits
        "int": T.LongType(),
        "bigint": T.DecimalType(20, 0),
    }

    def fetch_pdf(self, sql: str) -> pd.DataFrame:
        """Public-driver fetch, import-guarded: this container ships
        no MySQL server or driver, so the live path stays dormant
        behind the same seam the Postgres dialect used before ITS
        server existed."""
        try:
            import pymysql  # type: ignore  # noqa: F401
        except ImportError as exc:
            raise RuntimeError(
                "no MySQL driver in this container — the dialect is "
                "exercised via the canned-wire tests "
                "(tests/test_mysql_dialect.py); install pymysql for a "
                "live wire"
            ) from exc
        import pymysql  # pragma: no cover — container has no driver

        con = pymysql.connect(**self._params())  # pragma: no cover
        try:  # pragma: no cover
            return pd.read_sql_query(sql, con)
        finally:  # pragma: no cover
            con.close()

    def _column_type(self, row) -> T.DataType:
        ct = (getattr(row, "column_type", "") or "").lower()
        if "unsigned" in ct and row.data_type in self._UNSIGNED_MAP:
            return self._UNSIGNED_MAP[row.data_type]
        return super()._column_type(row)


class MsSqlConnector(_InfoSchemaConnector):
    """Dialect five: SQL Server — with MySQL this closes the
    reference's ENTIRE DatabaseConnector enum (MySql and MsSql are
    both `todo!()`, reference src/sqldb/mod.rs:12-16,47-48).
    Canned-wire, the Postgres/MySQL precedent: catalog bootstrap SQL
    (the schema level is a real schema, dbo by default), the T-SQL
    quantile spelling (PERCENTILE_DISC is a WINDOW function, not an
    ordered-set aggregate), capability negotiation, type map
    (tinyint is UNSIGNED 0-255 → ShortType; bit → Boolean; money →
    Decimal(19,4)), and the unparse pass (pushdown._dialect_mssql)
    are configuration proven by tests/test_mssql_dialect.py; live
    behind an import-guarded public driver if a server ever exists
    here."""

    db_type = "mssql"
    _DEFAULT_SCHEMA = "dbo"
    _DEFAULTS = {"port": 1433, "user": "sa", "database": "master"}

    _TYPE_MAP = {
        # T-SQL tinyint is UNSIGNED (0-255): ByteType's 127 ceiling
        # would corrupt — widen one tier
        "tinyint": T.ShortType(),
        "smallint": T.ShortType(),
        "int": T.IntegerType(),
        "bigint": T.LongType(),
        "bit": T.BooleanType(),
        "float": T.DoubleType(),  # T-SQL float(53) is the 8-byte one
        "real": T.FloatType(),
        "decimal": T.DecimalType(38, 4),
        "numeric": T.DecimalType(38, 4),
        "money": T.DecimalType(19, 4),
        "smallmoney": T.DecimalType(10, 4),
        "char": T.StringType(),
        "nchar": T.StringType(),
        "varchar": T.StringType(),
        "nvarchar": T.StringType(),
        "text": T.StringType(),
        "ntext": T.StringType(),
        "uniqueidentifier": T.StringType(),
        "date": T.DateType(),
        # datetime2/datetime/smalldatetime carry no zone → NTZ;
        # datetimeoffset is the instant type
        "datetime2": T.TimestampNTZType(),
        "datetime": T.TimestampNTZType(),
        "smalldatetime": T.TimestampNTZType(),
        "datetimeoffset": T.TimestampType(),
        "time": T.StringType(),
        "binary": T.BinaryType(),
        "varbinary": T.BinaryType(),
        "image": T.BinaryType(),
    }

    def fetch_pdf(self, sql: str) -> pd.DataFrame:
        try:
            import pymssql  # type: ignore  # noqa: F401
        except ImportError as exc:
            raise RuntimeError(
                "no SQL Server driver in this container — the dialect "
                "is exercised via the canned-wire tests "
                "(tests/test_mssql_dialect.py); install pymssql for a "
                "live wire"
            ) from exc
        import pymssql  # pragma: no cover — container has no driver

        p = self._params()  # pragma: no cover
        con = pymssql.connect(  # pragma: no cover
            server=p["host"],
            port=p["port"],
            user=p["user"],
            password=p.get("password", ""),
            database=p["database"],
        )
        try:  # pragma: no cover
            return pd.read_sql_query(sql, con)
        finally:  # pragma: no cover
            con.close()

    def quantile_sql(self, base_sql: str, key: str, partitions: int) -> str:
        """T-SQL quantile spelling: PERCENTILE_DISC is a WINDOW
        function (OVER ()), not an ordered-set aggregate — DISTINCT
        collapses the per-row constants to the one split-point row."""
        exprs = ", ".join(
            f"PERCENTILE_DISC({i / partitions}) WITHIN GROUP "
            f"(ORDER BY {key}) OVER () AS q{i}"
            for i in range(1, partitions)
        )
        return (
            f"SELECT DISTINCT {exprs} FROM ({base_sql}) _t "
            f"WHERE {key} IS NOT NULL"
        )


#: Python-DataSource format name -> the connector that serves it —
#: the one format-to-dialect mapping in the engine.
FORMATS: dict[str, type[Connector]] = {
    "duckdb_fed": DuckDBConnector,
    "sqlite_fed": SQLiteConnector,
    "pgwire_fed": PostgresConnector,
}


def connector_for(fmt: str, options) -> Connector:
    """The connector a ``fmt`` relation with ``options`` reads from."""
    return FORMATS[fmt].from_options(options)


def pick_partition_key(schema: T.StructType) -> str | None:
    """First integral column — the default partitionColumn, like
    Spark-JDBC's convention of keying on the integer PK."""
    for f in schema.fields:
        if isinstance(f.dataType, _KEY_TYPES):
            return f.name
    return None


def plan_slices(
    conn: Connector,
    base_sql: str,
    schema: T.StructType,
    partitions: int,
    partition_key: str | None,
) -> list[str]:
    """Disjoint covering slice SQLs of ``base_sql``. Keyed: the
    dialect plans range predicates with its best capability
    (quantiles or equi-width) — sort-free. Keyless: ORDER BY ALL
    LIMIT/OFFSET slices where the dialect supports the deterministic
    total order (N remote sorts, the price of no key), else ONE slice
    (overlap/miss-proof)."""
    if partition_key is not None and partitions > 1:
        if not any(
            f.name == partition_key and isinstance(f.dataType, _KEY_TYPES)
            for f in schema.fields
        ):
            raise ValueError(
                f"partition_key {partition_key!r} is not an integral column "
                f"of the result schema {[f.name for f in schema.fields]}"
            )
        preds = conn.partition_predicates(base_sql, partition_key, partitions)
        return [f"SELECT * FROM ({base_sql}) _t WHERE {p}" for p in preds]
    if partitions > 1 and conn.supports_order_by_all:
        total = conn.count(base_sql)
        per = (total + partitions - 1) // partitions if total else 0
        return [
            f"SELECT * FROM ({base_sql}) _t ORDER BY ALL LIMIT {per} OFFSET {i * per}"
            for i in range(partitions)
            if per > 0
        ] or [base_sql]
    return [base_sql]


def fetch_partitioned(
    spark: SparkSession,
    conn: Connector,
    base_sql: str,
    schema: T.StructType,
    partitions: int,
    partition_key: str | None,
    limited: bool = False,
) -> DataFrame:
    """Dialect-neutral partitioned execution of ``base_sql``: each
    Spark task opens its own remote cursor and streams one disjoint
    slice (:func:`plan_slices`) through ``mapInArrow`` (PostgresExec
    parity). ``limited`` queries always fetch in one partition: a
    LIMIT under a non-total order may pick different tie rows per
    re-execution."""
    if limited:
        partitions = 1
    part_sqls = plan_slices(conn, base_sql, schema, partitions, partition_key)
    n = len(part_sqls)

    def fetch(batches: Iterator) -> Iterator:
        for batch in batches:
            for i in batch.column("id").to_pylist():
                yield from conn.fetch_arrow(part_sqls[i], schema)

    # one slice id per partition, JVM-generated: no Python seed RDD,
    # no range-sampling job, no exchange
    return spark.range(0, n, 1, n).mapInArrow(fetch, schema)


def connector_scan(
    spark: SparkSession,
    conn: Connector,
    table: str,
    columns: list[str] | None = None,
    predicates: list[str] | None = None,
    limit: int | None = None,
    partitions: int = 4,
    partition_key: str | None = None,
) -> DataFrame:
    """Pushdown scan through any dialect: projection + filters (+
    LIMIT where the dialect can pin a deterministic order) compiled to
    remote SQL, fetched partitioned (table_provider.rs:79-159 parity,
    parametrized over the connector)."""
    from .federation import compile_scan

    full = conn.catalog()
    if table not in full:
        raise ValueError(f"unknown {conn.db_type} table {table!r}")
    schema = full[table]
    if columns:
        schema = T.StructType([f for f in schema.fields if f.name in set(columns)])
    if limit is not None and not conn.supports_order_by_all:
        raise ValueError(
            f"{conn.db_type}: LIMIT pushdown needs a deterministic "
            "total order (ORDER BY ALL) — order explicitly instead"
        )
    sql = compile_scan(table, columns, predicates, limit)
    key = partition_key if partition_key is not None else pick_partition_key(schema)
    return fetch_partitioned(
        spark, conn, sql, schema, partitions, key, limited=limit is not None
    )
