"""Local PostgreSQL server lifecycle + fixture loading.

The container ships Postgres 15 SERVER binaries (no client driver);
this module boots a throwaway cluster once per machine (initdb +
pg_ctl under an unprivileged user — Postgres refuses to run as
root), loads a slice of the parquet fixtures through the wire
client, and hands out connection parameters. This turns the
federation seam's third dialect (sources/connector.py
PostgresConnector) from unit-tested-above-the-wire into an
END-TO-END live path: catalog bootstrap, text fetch, and the
binary-COPY decode all run against a real server
(VERDICT r8 next #7).
"""

from __future__ import annotations

import os
import socket
import subprocess

from ..catalog import fixture_fingerprint, normalize_ts, read_fixture
from .pgwire import PgWireClient

PG_PORT = 54329
PG_USER = "graft"
PG_DB = "postgres"
_DATA_DIR = "/tmp/spark_graft_pgdata"
_SOCK_DIR = "/tmp/spark_graft_pgsock"
_BIN = "/usr/local/bin"

#: fixture slice loaded into the server: full dimension tables plus
#: a bounded events slice (timestamps exercise the epoch rebase).
_EVENTS_USERS = 5


def schema_for(sf_dir: str) -> str:
    """Per-scale-factor schema name: concurrent sessions pointed at
    different fixture dirs get disjoint table namespaces (a shared
    ``public`` raced: a bench at sf0.1 reloaded tables under a
    sf0.01 probe)."""
    import re

    return "sf_" + re.sub(r"[^0-9a-z]", "_", os.path.basename(sf_dir.rstrip("/")).lower())


def _tcp_up() -> bool:
    try:
        with socket.create_connection(("127.0.0.1", PG_PORT), timeout=1):
            return True
    except OSError:
        return False


def _run_as_pg(cmd: str) -> subprocess.CompletedProcess:
    """Run a server command; via ``su nobody`` when root (Postgres
    refuses root), directly otherwise."""
    if os.geteuid() == 0:
        return subprocess.run(
            ["su", "nobody", "-s", "/bin/sh", "-c", cmd],
            capture_output=True,
            text=True,
        )
    return subprocess.run(
        ["/bin/sh", "-c", cmd], capture_output=True, text=True
    )


def ensure_pg_server() -> dict:
    """Boot (once) and return connection params. Raises RuntimeError
    with the server log tail if the cluster cannot start."""
    params = {
        "host": "127.0.0.1",
        "port": PG_PORT,
        "user": PG_USER,
        "database": PG_DB,
    }
    if _tcp_up():
        return params
    if not os.path.exists(os.path.join(_BIN, "postgres")):
        raise RuntimeError("no postgres server binary in this container")
    for d in (_DATA_DIR, _SOCK_DIR):
        os.makedirs(d, exist_ok=True)
        if os.geteuid() == 0:
            subprocess.run(["chown", "nobody", d], capture_output=True)
    if not os.path.exists(os.path.join(_DATA_DIR, "PG_VERSION")):
        r = _run_as_pg(
            f"{_BIN}/initdb -D {_DATA_DIR} -U {PG_USER} --auth=trust -E UTF8"
        )
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-500:]}")
    r = _run_as_pg(
        f"{_BIN}/pg_ctl -D {_DATA_DIR} -l {_DATA_DIR}/log "
        f"-o '-p {PG_PORT} -k {_SOCK_DIR} -c listen_addresses=127.0.0.1' "
        "start"
    )
    if not _tcp_up():
        tail = ""
        try:
            tail = open(f"{_DATA_DIR}/log").read()[-500:]
        except OSError:
            pass
        raise RuntimeError(f"postgres failed to start: {r.stderr[-300:]} {tail}")
    return params


def _fixture_fingerprint(sf_dir: str) -> str:
    """Fingerprint of the source parquet the server loads. Folded into
    both the session memo and the server-side marker so a REGENERATED
    fixture with equal row counts still reloads (ADVICE r9 #2: the
    count-only check left stale values in the live schema and the
    differential gate then compared new-fixture Spark against
    old-fixture Postgres)."""
    return fixture_fingerprint(
        sf_dir, ("nation", "region", "supplier", "customer", "events")
    )


def _memo_key(sf_dir: str) -> str:
    """Session-conf memo key for a loaded fixture — fingerprint-keyed,
    so a mid-session fixture regen invalidates the memo itself."""
    return (
        f"spark.datafusion_rdbms_ext.pg_loaded.{schema_for(sf_dir)}."
        f"{abs(hash(sf_dir))}.{_fixture_fingerprint(sf_dir)}"
    )


def load_fixture(spark, sf_dir: str) -> dict:
    """Idempotently load nation/region/supplier/customer (full) and a
    bounded events slice into the live server from the parquet
    fixtures, each read typed from its footer (``read_fixture``): a
    load check runs one Spark job per table, its ``collect``, while
    the server boots. Checked per (table, sf_dir) by row count PLUS
    a source-file fingerprint persisted in the schema: a fixture
    regen (even at equal cardinality) or sf switch reloads. Returns
    the connection params."""
    schema = schema_for(sf_dir)
    fp = _fixture_fingerprint(sf_dir)
    # memoized per (session, sf_dir, fingerprint): the load check
    # itself collects every table — paying it on every
    # registered-query call tripled the fed_postgres bench rows
    memo = _memo_key(sf_dir)
    if spark.conf.get(memo, None):
        return dict(ensure_pg_server(), search_path=schema)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    # Read from the files, not the session's views: a reload after a
    # mid-session regen must copy the new rows.
    def read(name):
        return read_fixture(spark, os.path.join(sf_dir, f"{name}.parquet"))

    specs = {
        "nation": (
            "n_nationkey bigint, n_name text, n_regionkey bigint",
            read("nation"),
        ),
        "region": (
            "r_regionkey bigint, r_name text",
            read("region"),
        ),
        "supplier": (
            "s_suppkey bigint, s_name text, s_nationkey bigint, "
            "s_acctbal double precision",
            read("supplier"),
        ),
        # customer: full table, so the transparent Postgres
        # pushdown battery can EXECUTE its unparsed SQL remotely
        # and compare against the Spark plan over the identical
        # fixture (tests/test_pgwire.py). Fact-scale tables stay
        # OUT of the fixture loader (bounded-slice discipline);
        # what does load rides COPY FROM STDIN below.
        "customer": (
            "c_custkey bigint, c_name text, c_nationkey bigint, "
            "c_acctbal double precision, c_mktsegment text",
            read("customer"),
        ),
        "events_slice": (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type text, value double precision",
            normalize_ts(read("events"), "events").filter(
                F.col("user_id") < _EVENTS_USERS
            ),
        ),
    }
    cols = {table: [c.split()[0] for c in ddl.split(",")] for table, (ddl, _) in specs.items()}
    # The server boots (initdb + pg_ctl, child processes) while Spark
    # collects the rows, bounded (dims + a 5-user slice): the load
    # check compares their number with the server's count.
    with ThreadPoolExecutor(1) as pool:
        booting = pool.submit(ensure_pg_server)
        rows = {table: df.select(*cols[table]).collect() for table, (_, df) in specs.items()}
        params = booting.result()
    cli = PgWireClient(**params)
    try:
        cli.query(f"CREATE SCHEMA IF NOT EXISTS {schema}")
        cli.query(f"SET search_path TO {schema}, public")
        # server-side fingerprint marker: survives across sessions
        # (the session memo does not), so a reload triggered in one
        # process invalidates every other's stale view
        cli.query("CREATE TABLE IF NOT EXISTS _fixture_meta (fp text)")
        _, _, fprows = cli.query("SELECT fp FROM _fixture_meta")
        fp_current = bool(fprows) and fprows[0][0] == fp
        for table, (ddl, _) in specs.items():
            _, _, existing = cli.query(
                "SELECT CAST(COUNT(*) AS BIGINT) FROM information_schema.tables "
                f"WHERE table_schema = '{schema}' AND table_name = '{table}'"
            )
            if existing[0][0] == 1:
                _, _, cnt = cli.query(f"SELECT COUNT(*) FROM {table}")
                if fp_current and cnt[0][0] == len(rows[table]):
                    continue  # loaded and current (count + fingerprint)
                cli.query(f"DROP TABLE {table}")
            cli.query(f"CREATE TABLE {table} ({ddl})")
            # COPY FROM STDIN — the production bulk-load wire path
            # (one copy stream, not N INSERT statements); the client
            # chunks CopyData frames at 64 KiB.
            n_copied = cli.copy_in_text(
                table, cols[table], (tuple(r) for r in rows[table])
            )
            if n_copied != len(rows[table]):
                raise RuntimeError(
                    f"COPY {table}: sent {len(rows[table])}, server loaded {n_copied}"
                )
        cli.query("DELETE FROM _fixture_meta")
        cli.query(f"INSERT INTO _fixture_meta VALUES ('{fp}')")
        spark.conf.set(memo, "1")
        return dict(params, search_path=schema)
    finally:
        cli.close()


# ---------------------------------------------------------------------------
# SCRAM-SHA-256 auth surface (round 11, VERDICT r10 next #4).
#
# The throwaway cluster initdb's with --auth=trust; real deployments
# (and the reference's own docker-compose harness, ref
# README.md:101-105) negotiate SCRAM. A dedicated role is pinned to
# scram-sha-256 in pg_hba so the wire client's SASL exchange gets an
# end-to-end proof against a server that REFUSES it trust.
# ---------------------------------------------------------------------------
PG_SCRAM_USER = "graft_scram"
#: test-only credential for the throwaway local cluster
PG_SCRAM_PASSWORD = "graft-scram-pw-7677"


def ensure_scram_role() -> dict:
    """Create (once) a SCRAM-authenticated superuser role and a
    pg_hba rule that REQUIRES scram-sha-256 for it on TCP — trust
    must not be reachable for this role, or the test proves nothing.
    Returns connection params for the role."""
    params = ensure_pg_server()
    rule = f"host\tall\t{PG_SCRAM_USER}\t127.0.0.1/32\tscram-sha-256\n"
    cli = PgWireClient(**params)
    try:
        # the cluster may have been booted by another process with a
        # different data dir — ask the server where its HBA file is
        hba = cli.query("SHOW hba_file")[2][0][0]
        current = open(hba).read()
        if rule not in current:
            # the rule must precede initdb's blanket trust lines —
            # pg_hba.conf is first-match-wins
            with open(hba, "w") as fh:
                fh.write(rule + current)
        _, _, have = cli.query(
            f"SELECT COUNT(*) FROM pg_roles WHERE rolname = '{PG_SCRAM_USER}'"
        )
        if have[0][0] == 0:
            # verifier stored as SCRAM regardless of server default
            cli.query("SET password_encryption = 'scram-sha-256'")
            cli.query(
                f"CREATE ROLE {PG_SCRAM_USER} LOGIN SUPERUSER "
                f"PASSWORD '{PG_SCRAM_PASSWORD}'"
            )
        cli.query("SELECT pg_reload_conf()")
    finally:
        cli.close()
    return {
        "host": params["host"],
        "port": params["port"],
        "user": PG_SCRAM_USER,
        "database": params["database"],
        "password": PG_SCRAM_PASSWORD,
    }


PG_MD5_USER = "graft_md5"
PG_MD5_PASSWORD = "graft-md5-pw-5432"


def ensure_md5_role() -> dict:
    """Pre-SCRAM deployments negotiate MD5 (auth code 5); pin that
    path too — role stored with an md5 verifier and an hba rule that
    requires md5 on TCP."""
    params = ensure_pg_server()
    rule = f"host\tall\t{PG_MD5_USER}\t127.0.0.1/32\tmd5\n"
    cli = PgWireClient(**params)
    try:
        hba = cli.query("SHOW hba_file")[2][0][0]
        current = open(hba).read()
        if rule not in current:
            with open(hba, "w") as fh:
                fh.write(rule + current)
        _, _, have = cli.query(
            f"SELECT COUNT(*) FROM pg_roles WHERE rolname = '{PG_MD5_USER}'"
        )
        if have[0][0] == 0:
            cli.query("SET password_encryption = 'md5'")
            cli.query(
                f"CREATE ROLE {PG_MD5_USER} LOGIN SUPERUSER "
                f"PASSWORD '{PG_MD5_PASSWORD}'"
            )
        cli.query("SELECT pg_reload_conf()")
    finally:
        cli.close()
    return {
        "host": params["host"],
        "port": params["port"],
        "user": PG_MD5_USER,
        "database": params["database"],
        "password": PG_MD5_PASSWORD,
    }


def ensure_ssl() -> dict:
    """Enable TLS on the running cluster (once): self-signed cert
    generated into the data dir, key owned by the server user with
    0600 (Postgres refuses group/world-readable keys), `ssl = on`
    via ALTER SYSTEM + reload (SIGHUP-context in PG 15 — no
    restart). Returns params dict with sslmode/sslrootcert for the
    wire client."""
    import subprocess as _sp

    params = ensure_pg_server()
    cli = PgWireClient(**params)
    try:
        datadir = cli.query("SHOW data_directory")[2][0][0]
        crt = os.path.join(datadir, "server.crt")
        key = os.path.join(datadir, "server.key")
        if not os.path.exists(crt):
            r = _sp.run(
                [
                    "openssl", "req", "-new", "-x509", "-days", "2",
                    "-nodes", "-subj", "/CN=127.0.0.1",
                    "-out", crt, "-keyout", key,
                ],
                capture_output=True, text=True,
            )
            if r.returncode != 0:
                raise RuntimeError(f"openssl failed: {r.stderr[-300:]}")
            st = os.stat(datadir)
            os.chown(crt, st.st_uid, st.st_gid)
            os.chown(key, st.st_uid, st.st_gid)
            os.chmod(key, 0o600)
        if cli.query("SHOW ssl")[2][0][0] != "on":
            cli.query("ALTER SYSTEM SET ssl = on")
            cli.query(f"ALTER SYSTEM SET ssl_cert_file = '{crt}'")
            cli.query(f"ALTER SYSTEM SET ssl_key_file = '{key}'")
            cli.query("SELECT pg_reload_conf()")
    finally:
        cli.close()
    return dict(params, sslmode="require", sslrootcert=crt)
