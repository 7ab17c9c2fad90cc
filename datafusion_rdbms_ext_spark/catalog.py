"""Catalog bootstrap: self-describing Parquet → registered views.

Rebuilds the reference's catalog-inference entry point
(``PostgresConnection::load_catalog``,
/root/reference/src/sqldb/postgres/mod.rs:67-125) Spark-first: where
the reference issues two ``information_schema`` queries against
Postgres and hand-converts column metadata to Arrow schemas
(src/sqldb/postgres/datatypes.rs:110-184), Parquet footers are
already self-describing: registration reads each table's footer on the
driver (:func:`footer_schema`, no Spark job, no data read) and plans
the table with that schema, fixed thereafter (the same metadata-only
contract as the reference, SURVEY.md §1.2).

The reference exposes tables under a 3-part name
(``bench.public.lineitem``, src/parser.rs:459-465); driver fixtures
are unambiguous, so names flatten to 1-part temp views (SURVEY.md §7
"What's genuinely hard" #2).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Runtime-conf key recording which sf_dir is registered in a session.
#: Stored on the session itself (not a module-level dict keyed by
#: id(spark) — CPython can reuse a GC'd id for a new session, which
#: would falsely skip registration) so the memo's lifetime IS the
#: session's lifetime. Owned here (not by the query registry) so
#: deregistration invalidates it.
REGISTERED_DIR_CONF = "spark.datafusion_rdbms_ext.registered_sf_dir"


def registered_dir(spark: SparkSession) -> str | None:
    """The sf_dir whose tables are currently registered, or None."""
    return spark.conf.get(REGISTERED_DIR_CONF, None)

#: Every table the driver fixture set provides (TESTDATA.md).
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


def fixture_fingerprint(sf_dir: str, tables: tuple[str, ...] = TABLES) -> str:
    """Cheap content fingerprint of ``tables``' parquet under
    ``sf_dir``: size + mtime_ns per file, no data read. A regenerated
    fixture moves it even at equal row counts, so every memo keyed on
    it (the DuckDB catalog, the live Postgres load, the bench's
    fixture generation) invalidates itself."""
    parts = []
    for name in tables:
        try:
            st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{name}:absent")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Register one temp view per Parquet table under ``sf_dir``.

    Mirror of the reference's ``load_catalog`` → ``register_table``
    loop (src/sqldb/postgres/mod.rs:88-120, src/catalog.rs:84-95).
    Idempotent: re-registering repoints the view. Also pins the
    session timezone to UTC so timestamp semantics are stable and
    oracle-comparable regardless of the ambient session default.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Spark's vectorized Parquet reader rejects TIMESTAMP(NANOS) (the
    # events.ts physical type); read nanos as raw int64 and rebase to
    # a microsecond TimestampType column JVM-side below. Same class of
    # work as the reference's epoch rebasing on its wire decoder
    # (src/sqldb/postgres/binary_reader.rs:19-20, 425-431).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            # Fail loudly: silently skipping would leave any previously
            # registered view for `name` pointing at stale data.
            raise FileNotFoundError(f"fixture table {name!r} not found at {path}")
        df = normalize_ts(read_fixture(spark, path), name)
        df.createOrReplaceTempView(name)
        out[name] = df
    spark.conf.set(REGISTERED_DIR_CONF, sf_dir)
    return out


def read_fixture(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` typed by :func:`footer_schema`:
    the same frame, planned with no schema-inference job."""
    return spark.read.schema(footer_schema(spark, path)).parquet(path)


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path).schema`` infers, read
    from one footer on the driver. ``path`` is a parquet file or a
    flat directory of part-files.

    Inference starts a Spark job to read one footer; this runs the
    same footer reader and converter (``ParquetFileFormat``'s
    ``readParquetFootersInParallel`` + ``readSchema``) in the driver
    JVM, under the session's confs at call time (``nanosAsLong``,
    ``inferTimestampNTZ``, ``binaryAsString``, ``int96AsTimestamp``),
    and starts none. A read made with the result plans with no job.
    There is no inference fallback: a failing call is an error
    (tests/test_footer_schema.py pins parity with inference)."""
    jvm = spark._jvm
    jspark = spark._jsparkSession
    conf = jspark.sessionState().newHadoopConf()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    status = _footer_file(fs, fs.getFileStatus(jpath))
    fmt = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"),
        "MODULE$",
    )
    footers = fmt.readParquetFootersInParallel(
        conf,
        jvm.org.apache.spark.api.python.PythonUtils.toSeq(jvm.java.util.List.of(status)),
        jspark.sessionState().conf().ignoreCorruptFiles(),
    )
    # A relation's data schema is nullable whatever the file declares
    # (HadoopFsRelation reads ``dataSchema.asNullable``).
    schema = fmt.readSchema(footers, jspark).get().asNullable()
    return T.StructType.fromJson(json.loads(schema.json()))


def _footer_file(fs, status):
    """The file whose footer inference reads for ``status`` with
    schema merging off (the session default): the file itself, or in
    a directory ``_common_metadata``, else ``_metadata``, else the
    first data file by path. Names Spark's file index hides
    (``_``/``.`` prefixes such as ``_SUCCESS`` and ``.crc``, a
    ``._COPYING_`` suffix) are skipped. Partition subdirectories add
    columns no footer holds, so a subdirectory is an error."""
    if not status.isDirectory():
        return status
    data, summary = [], {}
    for st in fs.listStatus(status.getPath()):
        name = st.getPath().getName()
        if name in ("_common_metadata", "_metadata"):
            summary[name] = st
        elif name.startswith(("_", ".")) or name.endswith("._COPYING_"):
            continue
        elif st.isDirectory():
            raise ValueError(f"footer_schema reads flat directories: {st.getPath()}")
        else:
            data.append(st)
    data.sort(key=lambda st: st.getPath().toString())
    candidates = [summary.get("_common_metadata"), summary.get("_metadata"), *data]
    for st in candidates:
        if st is not None:
            return st
    raise FileNotFoundError(f"no parquet data file under {status.getPath()}")


#: Columns that fixture generations have stored as TIMESTAMP(NANOS)
#: (read as raw int64 under the legacy conf) in some rounds and as
#: TIMESTAMP(MICROS) (read as TimestampNTZType) in others. The driver
#: regenerates /root/testdata between rounds, so the encoding is not
#: ours to pin — normalization must accept every variant.
_NANOS_COLS = {"events": ("ts",)}


def normalize_ts(df: DataFrame, table: str) -> DataFrame:
    """Make fixture timestamp encodings uniform without changing type
    semantics the oracles already verified.

    * int64 (legacy nanosAsLong read of TIMESTAMP(NANOS)) → rebased to
      a µs timestamp, truncating like DuckDB's ns→µs cast. Integer
      division — float division loses precision above 2^53 ns.
    * TIMESTAMP / TIMESTAMP_NTZ (µs physical) → left as read; the
      session timezone is pinned to UTC so NTZ and LTZ agree on epoch
      extraction downstream (see functions.compat.ts_micros).
    """
    for col in _NANOS_COLS.get(table, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def table_names(spark: SparkSession) -> list[str]:
    """List registered tables (reference: ``SchemaCatalog::table_names``,
    src/catalog.rs:69-74)."""
    return [t.name for t in spark.catalog.listTables()]


def table_exist(spark: SparkSession, name: str) -> bool:
    """Reference: ``SchemaCatalog::table_exist`` (src/catalog.rs:78-82)."""
    return spark.catalog.tableExists(name)


def deregister_table(spark: SparkSession, name: str) -> bool:
    """Reference: ``register/deregister_table`` (src/catalog.rs:84-102).

    Also invalidates the registration memo so the next registered
    query re-registers instead of trusting a catalog this call just
    made incomplete."""
    spark.conf.unset(REGISTERED_DIR_CONF)
    return spark.catalog.dropTempView(name)
