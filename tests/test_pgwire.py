"""Live Postgres wire-path parity (round 9, VERDICT r8 next #7).

The engine's own protocol-v3 client against a real local server:
text decode == binary COPY decode == the parquet fixture, the live
two-step catalog bootstrap, and quantile partition planning via
``percentile_disc`` — the reference's actual backend
(src/sqldb/postgres/*, binary_reader.rs:24-209) end-to-end."""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.skipif(
    not os.path.exists("/usr/local/bin/postgres"),
    reason="no postgres server binary in this container",
)

from .conftest import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def pg(spark):
    from datafusion_rdbms_ext_spark.sources.pgserver import load_fixture

    return load_fixture(spark, SF_DIR)


def test_text_binary_and_parquet_agree(spark, pg):
    """Every events_slice value decodes identically over the text
    protocol and the binary COPY path, and matches the parquet
    fixture — including microsecond timestamps through the
    2000-01-01 epoch rebase (ref binary_reader.rs:24-209)."""
    from pyspark.sql import functions as F

    from datafusion_rdbms_ext_spark.catalog import normalize_ts
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**pg)
    try:
        sql = (
            "SELECT event_id, ts, user_id, event_type, value "
            "FROM events_slice ORDER BY event_id"
        )
        cols, oids, text_rows = cli.query(sql)
        bin_rows = cli.copy_binary(sql, oids)
    finally:
        cli.close()
    assert text_rows == bin_rows  # decode parity, all types
    fixture = (
        normalize_ts(
            spark.read.parquet(os.path.join(SF_DIR, "events.parquet")),
            "events",
        )
        .filter(F.col("user_id") < 5)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
        .collect()
    )
    assert len(fixture) == len(text_rows) > 0
    for frow, wrow in zip(fixture, text_rows):
        assert (
            frow["event_id"],
            frow["ts"].replace(tzinfo=None),
            frow["user_id"],
            frow["event_type"],
            frow["value"],
        ) == (wrow[0], wrow[1], wrow[2], wrow[3], wrow[4])


def test_live_catalog_two_step_bootstrap(spark, pg):
    """PostgresConnector.catalog() against the real server: BASE
    TABLE filtering + information_schema types through _TYPE_MAP
    (ref mod.rs:67-125; a VIEW must not leak into the catalog)."""
    from pyspark.sql import types as T

    from datafusion_rdbms_ext_spark.sources.connector import (
        PostgresConnector,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    from datafusion_rdbms_ext_spark.sources.pgserver import schema_for

    con = PostgresConnector(
        f"host={pg['host']} port={pg['port']} user={pg['user']} "
        f"dbname={pg['database']}",
        schema=schema_for(SF_DIR),
    )
    cli = PgWireClient(**pg)
    try:
        cli.query(
            "CREATE OR REPLACE VIEW supplier_view AS SELECT * FROM supplier"
        )
        cat = con.catalog()
    finally:
        cli.query("DROP VIEW IF EXISTS supplier_view")
        cli.close()
    assert "supplier_view" not in cat  # views filtered (ADVICE r6 #3)
    sup = {f.name: f.dataType for f in cat["supplier"].fields}
    assert sup["s_suppkey"] == T.LongType()
    assert sup["s_acctbal"] == T.DoubleType()
    ev = {f.name: f.dataType for f in cat["events_slice"].fields}
    assert ev["ts"] == T.TimestampNTZType()
    assert ev["event_type"] == T.StringType()


def test_live_quantile_partition_planning(spark, pg):
    """partition_predicates against the real server: percentile_disc
    split points cover the key space disjointly (the Spark-JDBC
    slicing shape, one connection per slice at scale)."""
    from datafusion_rdbms_ext_spark.sources.connector import (
        PostgresConnector,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    from datafusion_rdbms_ext_spark.sources.pgserver import schema_for

    con = PostgresConnector(
        f"host={pg['host']} port={pg['port']} user={pg['user']} "
        f"dbname={pg['database']}",
        schema=schema_for(SF_DIR),
    )
    preds = con.partition_predicates(
        "SELECT * FROM supplier", "s_suppkey", 4
    )
    assert len(preds) >= 2
    cli = PgWireClient(**pg)
    try:
        total = cli.query("SELECT COUNT(*) FROM supplier")[2][0][0]
        parts = [
            cli.query(
                f"SELECT COUNT(*) FROM supplier WHERE {p}"
            )[2][0][0]
            for p in preds
        ]
    finally:
        cli.close()
    assert sum(parts) == total  # disjoint + complete
    assert all(c > 0 for c in parts)


def test_null_and_numeric_decode_parity(pg):
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**pg)
    try:
        sql = (
            "SELECT CAST(NULL AS INT) a, CAST(-0.0001 AS NUMERIC(10,4)) n, "
            "CAST(123456789.5 AS NUMERIC(20,1)) big, false b, "
            "CAST('2024-02-29' AS DATE) d"
        )
        cols, oids, trows = cli.query(sql)
        brows = cli.copy_binary(sql, oids)
    finally:
        cli.close()
    assert trows == brows
    row = trows[0]
    assert row[0] is None and row[3] is False
    # numeric decodes EXACTLY to Decimal on both wire paths
    # (round 10, VERDICT r9 #3 — binary_reader.rs:439-487 parity)
    from decimal import Decimal

    assert row[1] == Decimal("-0.0001") and str(row[1]) == "-0.0001"
    assert row[2] == Decimal("123456789.5")
    assert str(row[4]) == "2024-02-29"


def test_wire_error_surfaces_cleanly(pg):
    from datafusion_rdbms_ext_spark.sources.pgwire import (
        PgError,
        PgWireClient,
    )

    cli = PgWireClient(**pg)
    try:
        with pytest.raises(PgError, match="ERROR"):
            cli.query("SELECT * FROM no_such_table_xyz")
        # connection still usable after an error (ReadyForQuery sync)
        assert cli.query("SELECT 41 + 1")[2] == [(42,)]
    finally:
        cli.close()


def test_postgres_pushdown_executes_live(spark, pg):
    """The transparent-pushdown Postgres arm, EXECUTED (round 9):
    the byte-pinned generation battery (test_postgres_dialect.py)
    deliberately stopped at SQL text while no server existed; with
    the live cluster, the same plan shapes now run remotely and the
    remote result must equal the Spark plan over the identical
    fixture — filter+agg, dialect-rewritten functions (strpos, '||'
    concat), join, window, and set ops."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient
    from datafusion_rdbms_ext_spark.sources.pushdown import (
        _fed_table,
        unparse_to_dialect,
    )

    ensure_tables(spark, SF_DIR)

    def nat():
        return _fed_table(spark, SF_DIR, "nation")

    def c():
        return _fed_table(spark, SF_DIR, "customer")

    cases = {
        "filter_agg": nat()
        .filter(F.col("n_regionkey") > 1)
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n")),
        "fn_rewrites": c()
        .filter(F.col("c_custkey") <= 50)
        .select(
            "c_custkey",
            F.concat("c_name", F.lit("|"), "c_mktsegment").alias("x"),
            F.locate("a", F.col("c_name")).alias("p"),
        ),
        "join": nat()
        .join(
            _fed_table(spark, SF_DIR, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_name", "r_name"),
        "window": c()
        .filter(F.col("c_custkey") <= 100)
        .select(
            "c_custkey",
            F.row_number()
            .over(Window.partitionBy("c_mktsegment").orderBy("c_custkey"))
            .alias("r"),
        ),
        "setop": nat()
        .select(F.col("n_regionkey").alias("k"))
        .intersect(
            _fed_table(spark, SF_DIR, "region").select(
                F.col("r_regionkey").alias("k")
            )
        ),
    }
    cli = PgWireClient(**pg)
    try:
        for name, df in cases.items():
            sql = unparse_to_dialect(df, "postgres")
            assert sql is not None, name
            _cols, _oids, remote = cli.query(sql)
            local = [tuple(r) for r in df.collect()]
            assert sorted(map(str, remote)) == sorted(map(str, local)), (
                name,
                sql,
                sorted(remote)[:3],
                sorted(local)[:3],
            )
    finally:
        cli.close()


def test_copy_in_text_roundtrip(pg):
    """COPY FROM STDIN (the write-side sibling of the binary COPY
    reader, now the fixture loader's bulk path): every reserved byte
    of the text format (backslash, tab, newline, CR), NULLs, bools,
    dates, microsecond timestamps and full-precision doubles survive
    a write + read-back through BOTH decode paths (text DataRow and
    binary COPY)."""
    import datetime as dt

    from datafusion_rdbms_ext_spark.sources.pgwire import (
        OID_BOOL,
        OID_FLOAT8,
        OID_INT8,
        OID_TEXT,
        OID_TIMESTAMP,
        PgWireClient,
    )

    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        cli.query("DROP TABLE IF EXISTS public.copy_probe")
        cli.query(
            "CREATE TABLE public.copy_probe (i bigint, f double precision,"
            " b boolean, s text, t timestamp)"
        )
        rows = [
            (1, 0.1, True, "plain", dt.datetime(2024, 3, 1, 12, 0, 0, 123456)),
            (2, -2.5e-300, False, "tab\there", dt.datetime(2000, 1, 1)),
            (3, None, None, "line\nbreak \\ back\rslash", None),
            (None, 3.141592653589793, True, None, dt.datetime(1969, 12, 31, 23, 59, 59)),
        ]
        n = cli.copy_in_text(
            "public.copy_probe", ["i", "f", "b", "s", "t"], rows
        )
        assert n == len(rows)
        _, _, text_back = cli.query(
            "SELECT i, f, b, s, t FROM public.copy_probe ORDER BY i NULLS LAST"
        )
        bin_back = cli.copy_binary(
            "SELECT i, f, b, s, t FROM public.copy_probe ORDER BY i NULLS LAST",
            [OID_INT8, OID_FLOAT8, OID_BOOL, OID_TEXT, OID_TIMESTAMP],
        )
        expected = sorted(rows, key=lambda r: (r[0] is None, r[0]))
        assert [tuple(r) for r in text_back] == expected
        assert [tuple(r) for r in bin_back] == expected
    finally:
        try:
            cli.query("DROP TABLE IF EXISTS public.copy_probe")
        finally:
            cli.close()


def test_copy_in_error_recovers_connection(pg):
    """A failed COPY (bad table) must surface as PgError and leave
    the connection usable — the error path drains to ReadyForQuery."""
    import pytest as _pytest

    from datafusion_rdbms_ext_spark.sources.pgwire import (
        PgError,
        PgWireClient,
    )

    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        with _pytest.raises(PgError):
            cli.copy_in_text("public.no_such_table_xyz", ["a"], [(1,)])
        _, _, rows = cli.query("SELECT 41 + 1")
        assert rows == [(42,)]
    finally:
        cli.close()


def test_loader_copy_path_restores_dropped_table(spark, pg):
    """End-to-end through load_fixture: drop a fixture table, clear
    the session memo, reload — the COPY FROM STDIN bulk path must
    rebuild it to the exact parquet row count."""
    from datafusion_rdbms_ext_spark.sources.pgserver import (
        _memo_key,
        load_fixture,
        schema_for,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    schema = schema_for(SF_DIR)
    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        cli.query(f"DROP TABLE IF EXISTS {schema}.region")
        spark.conf.unset(_memo_key(SF_DIR))
        load_fixture(spark, SF_DIR)
        _, _, back = cli.query(f"SELECT COUNT(*) FROM {schema}.region")
        n_parquet = spark.read.parquet(
            os.path.join(SF_DIR, "region.parquet")
        ).count()
        assert back[0][0] == n_parquet > 0
    finally:
        cli.close()


def test_extended_protocol_binary_parity(pg):
    """Parse/Bind/Execute with text parameters and BINARY results:
    the binary DataRow decode must agree with the text path and the
    COPY path for every type in the decode table."""
    import datetime as dt

    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        sql = (
            "SELECT $1::bigint AS i, $2::double precision AS f,"
            " $3::text AS s, $4::boolean AS b, $5::timestamp AS t,"
            " $6::date AS d, CAST(NULL AS bigint) AS n"
        )
        args = (
            -42,
            -2.5e-300,
            "tab\there 'quoted'",
            False,
            "2024-03-01 12:00:00.123456",
            "1969-12-31",
        )
        _, _, ext = cli.query_extended(sql, args)
        expect = (
            -42,
            -2.5e-300,
            "tab\there 'quoted'",
            False,
            dt.datetime(2024, 3, 1, 12, 0, 0, 123456),
            dt.date(1969, 12, 31),
            None,
        )
        assert ext == [expect]
        # text-path agreement on the same values, literals spliced
        _, _, txt = cli.query(
            "SELECT -42::bigint, -2.5e-300::double precision,"
            " 'x', false, timestamp '2024-03-01 12:00:00.123456'"
        )
        assert txt[0][0] == ext[0][0] and txt[0][1] == ext[0][1]
        assert txt[0][4] == ext[0][4]
    finally:
        cli.close()


def test_extended_protocol_parameters_are_data(pg):
    """Injection-shaped parameter values stay data — Bind separates
    code from data at the protocol level."""
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        evil = "'; DROP TABLE important; --"
        _, _, rows = cli.query_extended(
            "SELECT $1::text AS echoed, length($1) AS n", (evil,)
        )
        assert rows == [(evil, len(evil))]
        # error path drains to ReadyForQuery; connection stays usable
        import pytest as _pytest

        from datafusion_rdbms_ext_spark.sources.pgwire import PgError

        with _pytest.raises(PgError):
            cli.query_extended("SELECT * FROM no_such_table_q")
        assert cli.query("SELECT 1")[2] == [(1,)]
    finally:
        cli.close()


def test_type_tail_text_binary_parity(pg):
    """Round 10 (VERDICT r9 #2): the catalog-path type tail — 1-D
    arrays → List<T> (ref datatypes.rs:28-80), bytea, uuid, time,
    day/time interval — decodes identically over the text protocol
    and binary COPY, with quoted/NULL/empty array edges pinned."""
    import datetime as dt
    from decimal import Decimal

    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        sql = (
            "SELECT ARRAY[1,2,3]::int8[] AS ia,"
            " ARRAY['a,b','c\"d','plain',NULL]::text[] AS ta,"
            " ARRAY[]::int4[] AS ea,"
            " ARRAY[1.5,NULL]::float8[] AS fa,"
            " ARRAY[1.0001,-2.5]::numeric(10,4)[] AS na,"
            " '\\xdeadbeef'::bytea AS by,"
            " 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11'::uuid AS u,"
            " '13:14:15.123456'::time AS t,"
            " interval '2 days 03:00:00' AS iv"
        )
        cols, oids, trows = cli.query(sql)
        brows = cli.copy_binary(sql, oids)
        assert trows == brows, (trows, brows)
        row = dict(zip(cols, trows[0]))
        assert row["ia"] == [1, 2, 3]
        # quoted elements with embedded comma/quote survive the
        # quote-aware text parser; NULL stays None
        assert row["ta"] == ["a,b", 'c"d', "plain", None]
        assert row["ea"] == []
        assert row["fa"] == [1.5, None]
        assert row["na"] == [Decimal("1.0001"), Decimal("-2.5000")]
        assert row["by"] == b"\xde\xad\xbe\xef"
        assert row["u"] == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
        assert row["t"] == dt.time(13, 14, 15, 123456)
        assert row["iv"] == dt.timedelta(days=2, hours=3)
    finally:
        cli.close()


def test_numeric_exact_beyond_float64(pg):
    """Round 10 (VERDICT r9 #3): NUMERIC decodes exactly — a value
    float64 cannot represent survives both wire paths bit-for-bit
    (the reference's own binary reader is exact base-10000 → i128,
    binary_reader.rs:439-487)."""
    from decimal import Decimal

    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        big = "12345678901234567890.1234"  # 24 significant digits
        sql = (
            f"SELECT '{big}'::numeric(38,4) AS a,"
            f" '-{big}'::numeric(38,4) AS neg,"
            " '0.0000'::numeric(38,4) AS z,"
            # trailing zero base-10000 groups are trimmed on the
            # binary wire; dscale must restore them
            " '7.0000'::numeric(38,4) AS t7,"
            " 'NaN'::numeric AS nan"
        )
        cols, oids, trows = cli.query(sql)
        brows = cli.copy_binary(sql, oids)
        row = dict(zip(cols, trows[0]))
        brow = dict(zip(cols, brows[0]))
        assert row["a"] == brow["a"] == Decimal(big)
        assert str(brow["a"]) == big  # no float64 envelope
        assert row["neg"] == brow["neg"] == Decimal("-" + big)
        assert str(brow["z"]) == "0.0000" == str(row["z"])
        assert str(brow["t7"]) == "7.0000"
        assert row["nan"].is_nan() and brow["nan"].is_nan()
    finally:
        cli.close()


def test_live_catalog_types_arrays_bytea_numeric(spark, pg):
    """The live two-step bootstrap types ARRAY columns as List<T>
    via udt_name, bytea as binary, and numeric as Decimal(38,4) —
    the reference's catalog contract (datatypes.rs:28-80, 141-176,
    160-162) against a real server."""
    from pyspark.sql import types as T

    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient
    from datafusion_rdbms_ext_spark.sources.connector import (
        PostgresConnector,
    )
    from datafusion_rdbms_ext_spark.sources.pgserver import (
        PG_PORT,
        PG_USER,
        schema_for,
    )

    schema = schema_for(SF_DIR)
    cli = PgWireClient(
        **{k: v for k, v in pg.items() if k != "search_path"},
        search_path=schema,
    )
    try:
        cli.query("DROP TABLE IF EXISTS typed_probe")
        cli.query(
            "CREATE TABLE typed_probe (k bigint, keys int8[], "
            "names text[], fp bytea, amt numeric(38,4), id uuid, "
            "dur interval)"
        )
    finally:
        cli.close()
    con = PostgresConnector(
        f"host=127.0.0.1 port={PG_PORT} user={PG_USER} dbname=postgres",
        schema=schema,
    )
    cat = con.catalog()
    f = {x.name: x.dataType for x in cat["typed_probe"].fields}
    assert f["keys"] == T.ArrayType(T.LongType())
    assert f["names"] == T.ArrayType(T.StringType())
    assert f["fp"] == T.BinaryType()
    assert f["amt"] == T.DecimalType(38, 4)
    assert f["id"] == T.StringType()
    assert f["dur"] == T.DayTimeIntervalType()


def test_parallel_sink_roundtrip_and_abort(spark, pg):
    """Round 10 (VERDICT r9 #4): the executor-parallel sink stages
    over N task-owned wire connections and publishes with one
    atomic rename; a poisoned job must leave the target untouched
    and drop the stage."""
    from pyspark.sql import functions as F

    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.sources.federation import (
        pg_parallel_sink,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import (
        PgError,
        PgWireClient,
    )

    ensure_tables(spark, SF_DIR)
    params = dict(pg)
    src = spark.table("supplier").select("s_suppkey", "s_acctbal")
    ddl = "s_suppkey bigint, s_acctbal double precision"
    n = pg_parallel_sink(
        src.repartition(3, "s_suppkey"), params, "psink_probe", ddl
    )
    assert n == src.count()
    cli = PgWireClient(**params)
    try:
        total, cents = cli.query(
            "SELECT COUNT(*), SUM(ROUND(s_acctbal*100)::bigint) "
            "FROM psink_probe"
        )[2][0]
        assert total == n
        expect = (
            src.agg(
                F.sum(F.round(F.col("s_acctbal") * 100).cast("long"))
            ).collect()[0][0]
        )
        assert cents == expect  # every row crossed the wire intact
        # ABORT: a failing write job leaves the published table as-is
        bad = src.withColumn(
            "s_acctbal",
            F.when(F.col("s_suppkey") >= 0, F.col("s_acctbal")),
        ).repartition(2)
        import pytest as _pytest

        with _pytest.raises(Exception):
            # ddl/frame column mismatch surfaces before any staging
            pg_parallel_sink(bad, params, "psink_probe", "wrong bigint")
        # poisoned COPY (text into bigint) fails executor-side
        poison = src.withColumn(
            "s_suppkey", F.lit("not-a-number")
        ).repartition(2)
        with _pytest.raises(Exception):
            pg_parallel_sink(poison, params, "psink_probe", ddl)
        # target untouched, stage dropped
        assert cli.query("SELECT COUNT(*) FROM psink_probe")[2][0][0] == n
        with _pytest.raises(PgError):
            cli.query("SELECT COUNT(*) FROM psink_probe__stage")
    finally:
        cli.close()


def test_csv_arrow_path_parity_and_fallback(spark, pg):
    """The vectorized CSV bulk path decodes the SAME values as the
    binary per-OID path (NULL vs empty string, quotes, bool t/f,
    exact decimals, microsecond timestamps) — and a type-tail schema
    (arrays) falls back to the binary decode."""
    import io

    import pyarrow as pa
    import pyarrow.csv as pacsv

    from pyspark.sql import types as T

    from datafusion_rdbms_ext_spark.sources.connector import (
        spark_schema_to_arrow,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**{k: v for k, v in pg.items() if k != "search_path"})
    try:
        sql = (
            "SELECT g AS id, g*0.5::float8 AS v,"
            " CASE WHEN g%3=0 THEN NULL WHEN g%3=1 THEN ''"
            "      ELSE 'a,\"b' || g END AS s,"
            " g%2=0 AS b,"
            " (TIMESTAMP '2024-03-01 12:00:00.123456'"
            "  + g * interval '1 second') AS ts,"
            " (g + 0.1234)::numeric(38,4) AS m"
            " FROM generate_series(1, 1000) g"
        )
        blob = cli.copy_csv(sql)
        names = ["id", "v", "s", "b", "ts", "m"]
        types = {
            "id": pa.int64(), "v": pa.float64(), "s": pa.string(),
            "b": pa.bool_(), "ts": pa.timestamp("us"),
            "m": pa.decimal128(38, 4),
        }
        table = pacsv.read_csv(
            io.BytesIO(blob),
            read_options=pacsv.ReadOptions(column_names=names),
            convert_options=pacsv.ConvertOptions(
                column_types=types, strings_can_be_null=True,
                quoted_strings_can_be_null=False,
                true_values=["t"], false_values=["f"],
            ),
        )
        _c, oids, _ = cli.query(sql + " LIMIT 0")
        brows = cli.copy_binary(sql, oids)
    finally:
        cli.close()
    arows = [tuple(r.values()) for r in table.to_pylist()]
    assert arows == brows  # bit-for-bit across both bulk paths
    # fallback selection: an array column disables the CSV path
    tail = T.StructType(
        [T.StructField("k", T.LongType()),
         T.StructField("keys", T.ArrayType(T.LongType()))]
    )
    assert spark_schema_to_arrow(tail) is None
    plain = T.StructType(
        [T.StructField("k", T.LongType()),
         T.StructField("m", T.DecimalType(38, 4))]
    )
    s = spark_schema_to_arrow(plain)
    assert s is not None and s.field("m").type == pa.decimal128(38, 4)


def test_parallel_sink_claim_ledger_blocks_duplicate_attempts(spark, pg):
    """ADVICE r10 #2 + ADVICE r11 #2: each task commits its claim row
    (with its staged count) + its COPY in ONE transaction. A
    retried/speculative attempt of an already-committed partition
    takes no claim (ON CONFLICT DO NOTHING returns no row), skips the
    COPY, and reads the ALREADY-COMMITTED count from the ledger — no
    duplicated rows can reach the stage AND the retry SUCCEEDS
    (the r10 form aborted the whole job on the PK, so a post-commit
    executor loss could never recover)."""
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    cli = PgWireClient(**pg)
    try:
        cli.query("DROP TABLE IF EXISTS claim_probe")
        cli.query("DROP TABLE IF EXISTS claim_probe__parts")
        cli.query("CREATE TABLE claim_probe (v bigint)")
        cli.query(
            "CREATE TABLE claim_probe__parts (part_id int PRIMARY KEY, n bigint)"
        )
        # attempt 1: claim taken, rows + final count committed atomically
        cli.query("BEGIN")
        _c, _o, took = cli.query(
            "INSERT INTO claim_probe__parts VALUES (0, 0) "
            "ON CONFLICT DO NOTHING RETURNING part_id"
        )
        assert took, "first attempt must take the claim"
        cli.copy_in_text("claim_probe", ["v"], [(1,), (2,)])
        cli.query("UPDATE claim_probe__parts SET n = 2 WHERE part_id = 0")
        cli.query("COMMIT")
    finally:
        cli.close()
    # attempt 2 (same partition, post-success retry): the claim is
    # already taken — the attempt must NOT error, must NOT re-copy,
    # and must report the committed count so the job's staged sum
    # still equals the stage total.
    dup = PgWireClient(**pg)
    try:
        dup.query("BEGIN")
        _c, _o, took = dup.query(
            "INSERT INTO claim_probe__parts VALUES (0, 0) "
            "ON CONFLICT DO NOTHING RETURNING part_id"
        )
        assert not took, "retry must find the claim taken, not error"
        dup.query("COMMIT")
        _c, _o, prior = dup.query(
            "SELECT n FROM claim_probe__parts WHERE part_id = 0"
        )
        assert int(prior[0][0]) == 2
    finally:
        dup.close()
    chk = PgWireClient(**pg)
    try:
        assert chk.query("SELECT COUNT(*) FROM claim_probe")[2][0][0] == 2
        chk.query("DROP TABLE claim_probe")
        chk.query("DROP TABLE claim_probe__parts")
    finally:
        chk.close()


def test_parallel_sink_mismatch_aborts_before_publish(spark, pg, monkeypatch):
    """ADVICE r10 #2: the staged-vs-reported row-count check must run
    against the STAGE and abort BEFORE the DROP+RENAME flip — the old
    order published the corrupted stage first and raised after the
    target was already gone."""
    import pytest as _pytest

    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.sources import federation
    from datafusion_rdbms_ext_spark.sources.pgwire import (
        PgError,
        PgWireClient,
    )

    ensure_tables(spark, SF_DIR)
    params = dict(pg)
    src = spark.table("region").select("r_regionkey")
    ddl = "r_regionkey bigint"
    # seed the published table with a known good state
    n0 = federation.pg_parallel_sink(
        src, params, "psink_verify_probe", ddl
    )
    assert n0 == 5

    from datafusion_rdbms_ext_spark.sources import pgwire as _pgwire_mod

    real_client = _pgwire_mod.PgWireClient

    class _Corrupting(real_client):
        """Injects one duplicate stage row at verification time —
        simulating a committed-then-retried task the ledger did not
        exist to stop."""

        def query(self, sql):
            if sql.startswith("SELECT COUNT(*) FROM psink_verify_probe__stage"):
                super().query(
                    "INSERT INTO psink_verify_probe__stage VALUES (0)"
                )
            return super().query(sql)

    # pg_parallel_sink resolves PgWireClient from the pgwire module at
    # call time (function-local import); patching there affects only
    # the DRIVER process — executor workers import their own copy.
    monkeypatch.setattr(_pgwire_mod, "PgWireClient", _Corrupting)
    with _pytest.raises(RuntimeError, match="aborting before publish"):
        federation.pg_parallel_sink(src, params, "psink_verify_probe", ddl)
    monkeypatch.undo()
    chk = PgWireClient(**params)
    try:
        # published table is UNTOUCHED (still the good n0 rows) and the
        # corrupted stage + claims ledger were dropped
        assert (
            chk.query("SELECT COUNT(*) FROM psink_verify_probe")[2][0][0]
            == n0
        )
        with _pytest.raises(PgError):
            chk.query("SELECT COUNT(*) FROM psink_verify_probe__stage")
        with _pytest.raises(PgError):
            chk.query("SELECT COUNT(*) FROM psink_verify_probe__stage__parts")
        chk.query("DROP TABLE psink_verify_probe")
    finally:
        chk.close()


def test_scram_sha256_auth_end_to_end(spark, pg):
    """Round 11 (VERDICT r10 next #4): the wire client's SCRAM-SHA-256
    SASL exchange (RFC 5802/7677, stdlib hmac/hashlib) against a
    server role whose pg_hba line REQUIRES scram — trust is not
    reachable for it. The fixture scan runs over the authenticated
    session (catalog query + binary COPY), so the whole client
    surface works post-SASL, matching the reference harness's
    password-auth deployment (testdata/docker-compose.yml)."""
    import pytest as _pytest

    from datafusion_rdbms_ext_spark.sources.pgserver import (
        PG_SCRAM_USER,
        ensure_scram_role,
        schema_for,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import (
        PgError,
        PgWireClient,
    )

    from datafusion_rdbms_ext_spark.queries.base import ensure_tables

    ensure_tables(spark, SF_DIR)
    params = ensure_scram_role()
    cli = PgWireClient(**params, search_path=schema_for(SF_DIR))
    try:
        assert cli.query("SELECT current_user")[2][0][0] == PG_SCRAM_USER
        # the fed_postgres_scan shape over the SCRAM session: catalog
        # lookup + remote aggregate + binary COPY all post-SASL
        sql = (
            "SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n "
            "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"
        )
        _c, oids, rows = cli.query(sql + " LIMIT 0")
        copied = cli.copy_binary(sql, oids)
        assert len(copied) == 25
        assert sum(n for _, n in copied) == spark.table("supplier").count()
    finally:
        cli.close()
    # wrong password: server rejects the proof
    with _pytest.raises(PgError, match="password authentication failed"):
        PgWireClient(**{**params, "password": "wrong"})
    # no password: client refuses the SASL request loudly
    with _pytest.raises(PgError, match="no password"):
        PgWireClient(
            host=params["host"], port=params["port"],
            user=PG_SCRAM_USER, database=params["database"],
        )


def test_md5_auth_end_to_end(pg):
    """MD5 auth (code 5): md5(md5(password+user)+salt) against a role
    whose hba rule requires md5 — covers pre-SCRAM deployments."""
    import pytest as _pytest

    from datafusion_rdbms_ext_spark.sources.pgserver import (
        ensure_md5_role,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import (
        PgError,
        PgWireClient,
    )

    params = ensure_md5_role()
    cli = PgWireClient(**params)
    try:
        assert cli.query("SELECT current_user")[2][0][0] == "graft_md5"
    finally:
        cli.close()
    with _pytest.raises(PgError, match="password authentication failed"):
        PgWireClient(**{**params, "password": "nope"})


def test_tls_sslmode_require_and_verify_ca(pg):
    """Round 11: SSLRequest negotiation (protocol 1234.5679) + TLS
    over the same socket — libpq's sslmode=require (encrypt, no
    chain verification: the self-signed deployment default) and
    verify-ca (chain verified against sslrootcert). The session is
    provably encrypted (pg_stat_ssl for this backend) and the bulk
    COPY path runs over the TLS transport."""
    import ssl as _ssl

    import pytest as _pytest

    from datafusion_rdbms_ext_spark.sources.pgserver import ensure_ssl
    from datafusion_rdbms_ext_spark.sources.pgwire import (
        PgError,
        PgWireClient,
    )

    params = ensure_ssl()
    cli = PgWireClient(**params)
    try:
        ssl_on, ver = cli.query(
            "SELECT ssl, version FROM pg_stat_ssl"
            " WHERE pid = pg_backend_pid()"
        )[2][0]
        assert ssl_on is True and ver.startswith("TLSv1.")
        sql = "SELECT 1 AS a UNION ALL SELECT 2 ORDER BY a"
        _c, oids, _ = cli.query(sql + " LIMIT 0")
        assert cli.copy_binary(sql, oids) == [(1,), (2,)]
    finally:
        cli.close()
    # verify-ca with the server's own CA succeeds...
    cli2 = PgWireClient(**{**params, "sslmode": "verify-ca"})
    try:
        assert cli2.query("SELECT 42")[2] == [(42,)]
    finally:
        cli2.close()
    # ...and with a foreign CA the handshake must fail
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        subprocess.run(
            ["openssl", "req", "-new", "-x509", "-days", "1", "-nodes",
             "-subj", "/CN=other", "-out", f"{td}/o.crt",
             "-keyout", f"{td}/o.key"],
            capture_output=True,
        )
        with _pytest.raises((PgError, _ssl.SSLError)):
            PgWireClient(
                **{**params, "sslmode": "verify-ca",
                   "sslrootcert": f"{td}/o.crt"}
            )
    # unknown sslmode rejected loudly
    with _pytest.raises(PgError, match="sslmode"):
        PgWireClient(**{**params, "sslmode": "prefer"})


def test_pgwire_fed_datasource_with_scram_and_tls(spark, pg):
    """Round 11 plumbing: the pgwire_fed FORMAT accepts libpq-style
    password/sslmode options — the catalog bootstrap, the quantile
    partition planning, AND every executor task's COPY connection all
    negotiate SCRAM over TLS. This is the configuration a real
    deployment mounts: spark.read.format('pgwire_fed') against a
    secured server."""
    from pyspark.sql import functions as F

    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.sources.pgserver import (
        PG_SCRAM_PASSWORD,
        PG_SCRAM_USER,
        ensure_scram_role,
        ensure_ssl,
        schema_for,
    )
    from datafusion_rdbms_ext_spark.sources.pyds import register_fed_sources

    ensure_tables(spark, SF_DIR)
    ensure_scram_role()
    ensure_ssl()
    register_fed_sources(spark)
    cust = (
        spark.read.format("pgwire_fed")
        .option("host", "127.0.0.1")
        .option("port", pg["port"])
        .option("user", PG_SCRAM_USER)
        .option("password", PG_SCRAM_PASSWORD)
        .option("sslmode", "require")
        .option("database", pg["database"])
        .option("search_path", schema_for(SF_DIR))
        .option("table", "customer")
        .option("partitions", 4)
        .load()
    )
    got = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("c_custkey").alias("k"),
        )
        .collect()[0]
    )
    want = (
        spark.table("customer")
        .filter(F.col("c_acctbal") > 0)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("c_custkey").alias("k"),
        )
        .collect()[0]
    )
    assert (got["n"], got["k"]) == (want["n"], want["k"])
    assert got["n"] > 0


def test_scram_plus_channel_binding_on_tls(pg):
    """SCRAM-SHA-256-PLUS (RFC 5929 tls-server-end-point): on a TLS
    transport the server offers the -PLUS variant and the client must
    select it, carrying the peer certificate's hash in the gs2
    binding — a TLS-terminating MITM presents a different cert and
    its relayed exchange fails the server-side binding check. Off
    TLS the plain variant still negotiates (gs2 'n,,')."""
    from datafusion_rdbms_ext_spark.sources.pgserver import (
        ensure_scram_role,
        ensure_ssl,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    scram = ensure_scram_role()
    ensure_ssl()
    cli = PgWireClient(**{**scram, "sslmode": "require"})
    try:
        assert cli._sasl_mech == b"SCRAM-SHA-256-PLUS"
        assert cli.query(
            "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()"
        )[2] == [(True,)]
    finally:
        cli.close()
    plain = PgWireClient(**scram)
    try:
        assert plain._sasl_mech == b"SCRAM-SHA-256"
        assert plain.query("SELECT 1")[2] == [(1,)]
    finally:
        plain.close()


def test_copy_in_binary_roundtrip_and_parity(spark, pg):
    """Round 12: FORMAT binary COPY-IN — the write-side twin of the
    binary reader. Every encoder type roundtrips (incl. NULLs,
    unicode, negative ints, the 2000-epoch date/timestamp rebase in
    reverse, bytea), and the SAME rows staged through the text path
    land bit-identically."""
    import datetime as dt

    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    ddl = (
        "i bigint, s text, d double precision, b boolean, "
        "dy date, ts timestamp, by bytea, sm smallint"
    )
    cols = [c.split()[0] for c in ddl.split(",")]
    types = ["int8", "text", "float8", "bool", "date", "timestamp",
             "bytea", "int2"]
    rows = [
        (1, "plain", 1.5, True, dt.date(1997, 3, 2),
         dt.datetime(1998, 7, 4, 12, 34, 56, 789000), b"\x00\xff", 7),
        (-9, "üñïçödé\tand\nescapes", -0.0, False, dt.date(2024, 1, 1),
         dt.datetime(1969, 12, 31, 23, 59, 59), b"", -3),
        (None, None, None, None, None, None, None, None),
        (2**62, "x", 6.02214076e23, True, dt.date(2000, 1, 1),
         dt.datetime(2000, 1, 1), b"\x01", 0),
    ]
    cli = PgWireClient(**pg)
    try:
        for t in ("binprobe_b", "binprobe_t"):
            cli.query(f"DROP TABLE IF EXISTS {t}")
            cli.query(f"CREATE TABLE {t} ({ddl})")
        n = cli.copy_in_binary("binprobe_b", cols, iter(rows), types)
        assert n == len(rows)
        assert cli.copy_in_text("binprobe_t", cols, iter(rows)) == n
        got_b = cli.query("SELECT * FROM binprobe_b ORDER BY i")[2]
        got_t = cli.query("SELECT * FROM binprobe_t ORDER BY i")[2]
        assert got_b == got_t  # text/binary parity, decoded identically
        by_i = {r[0]: r for r in got_b}
        assert by_i[1][1] == "plain" and by_i[1][4] == dt.date(1997, 3, 2)
        assert by_i[1][5] == dt.datetime(1998, 7, 4, 12, 34, 56, 789000)
        assert by_i[1][6] == b"\x00\xff" and by_i[1][7] == 7
        assert by_i[-9][1] == "üñïçödé\tand\nescapes"
        assert by_i[2**62][2] == 6.02214076e23
        assert by_i[None] == (None,) * 8
    finally:
        for t in ("binprobe_b", "binprobe_t"):
            try:
                cli.query(f"DROP TABLE {t}")
            except Exception:
                pass
        cli.close()


def test_parallel_sink_binary_path_selection():
    """The sink streams FORMAT binary exactly when every DDL type has
    an encoder; numeric (base-10000, read-path-only) sends the whole
    job down the text path — correctness never depends on the fast
    path's coverage."""
    from datafusion_rdbms_ext_spark.sources.federation import (
        _ddl_binary_types,
    )

    assert _ddl_binary_types(
        "c_custkey bigint, c_name text, c_nationkey bigint, "
        "c_acctbal double precision, c_mktsegment text"
    ) == ["int8", "text", "int8", "float8", "text"]
    assert _ddl_binary_types("v bigint, iv interval") is None
    assert _ddl_binary_types("ok boolean, t timestamp, d date") == [
        "bool", "timestamp", "date",
    ]
    # numeric gained its exact base-10000 encoder later in round 12
    assert _ddl_binary_types("v bigint, m numeric(38,4)") == [
        "int8", "numeric",
    ]


@pytest.mark.parametrize(
    "ddl",
    [
        "k bigint, d double precision, v bigint",  # binary COPY
        "k bigint, d double precision, v bigint, tag char(1)",  # text COPY
    ],
    ids=["binary", "text"],
)
def test_parallel_sink_keeps_nan_null_and_nullable_bigint(spark, pg, ddl):
    """A NaN double lands as NaN (not NULL), a null double as NULL, and
    a nullable bigint holding a null stays an exact int on both COPY
    formats."""
    from datafusion_rdbms_ext_spark.sources.connector import local_frame
    from datafusion_rdbms_ext_spark.sources.federation import (
        _ddl_binary_types,
        pg_parallel_sink,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    text = "tag" in ddl
    assert (_ddl_binary_types(ddl) is None) == text
    rows = [(1, float("nan"), 2**53 + 1), (2, None, None), (3, -0.5, 7)]
    schema = "k long, d double, v long"
    if text:
        rows = [r + ("x",) for r in rows]
        schema += ", tag string"
    # one partition: the null and the ints share a batch
    src = local_frame(spark, rows, schema).coalesce(1)
    assert pg_parallel_sink(src, dict(pg), "psink_nan_probe", ddl) == 3
    cli = PgWireClient(**pg)
    try:
        _c, _o, got = cli.query(
            "SELECT k, d::text, v FROM psink_nan_probe ORDER BY k"
        )
        cli.query("DROP TABLE psink_nan_probe")
    finally:
        cli.close()
    assert [tuple(r) for r in got] == [
        (1, "NaN", 2**53 + 1),
        (2, None, None),
        (3, "-0.5", 7),
    ]


def test_copy_in_binary_numeric_exact(spark, pg):
    """Round 12: the base-10000 numeric ENCODER — the write-side
    mirror of the exact reader. Full-precision decimals (beyond
    float64), negative sub-unit values, trailing-zero scale
    restoration, zero at scale, NaN and both infinities roundtrip
    bit-exactly; and a numeric DDL now rides the BINARY parallel-sink
    path (the r12 fallback retired)."""
    from decimal import Decimal

    from datafusion_rdbms_ext_spark.sources.federation import (
        _ddl_binary_types,
        _split_ddl,
    )
    from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient

    assert _split_ddl("v bigint, m numeric(38,4)") == [
        "v bigint", "m numeric(38,4)",
    ]
    assert _ddl_binary_types("v bigint, m numeric(38,4)") == [
        "int8", "numeric",
    ]
    vals = [
        Decimal("1234567890123456789012.3456"),  # 24 sig digits > f64
        Decimal("-0.0001"),
        Decimal("123456789.5000"),  # trailing zeros: dscale restores
        Decimal("0.0000"),
        Decimal("-99999999.9999"),
        Decimal("10000"),  # exact group boundary
        Decimal("NaN"),
        Decimal("Infinity"),
        Decimal("-Infinity"),
    ]
    rows = [(i, v) for i, v in enumerate(vals)]
    cli = PgWireClient(**pg)
    try:
        cli.query("DROP TABLE IF EXISTS numprobe")
        # unconstrained numeric: ±Infinity is illegal under a
        # declared precision (numeric field overflow)
        cli.query("CREATE TABLE numprobe (i bigint, m numeric)")
        n = cli.copy_in_binary(
            "numprobe", ["i", "m"], iter(rows), ["int8", "numeric"]
        )
        assert n == len(rows)
        got = dict(cli.query("SELECT i, m FROM numprobe")[2])
        for i, v in enumerate(vals):
            if v.is_nan():
                assert got[i].is_nan(), i
            else:
                # exact roundtrip, INCLUDING the encoded dscale
                # (trailing zeros restored server-side)
                assert got[i] == v, (i, got[i], v)
                if v.is_finite():
                    assert str(got[i]) == str(v), (i, got[i], v)
        cli.query("DROP TABLE numprobe")
    finally:
        cli.close()
