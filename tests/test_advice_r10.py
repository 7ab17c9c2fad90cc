"""Regression pins for the round-10 ADVICE + VERDICT items.

#1 (VERDICT What's-wrong #1): every ``register_*_source`` must make
the Python-DataSource filter-pushdown conf self-sufficient, so a
registered query works as the FIRST query of a foreign session (the
driver's gate order broke fed_three_engine_join in r10).
#3 (ADVICE low): binary NUMERIC ±Infinity decode.
#4 (ADVICE low): CSV bulk path with embedded newlines in quoted values.
#5 (ADVICE low): no PID-only staging temp paths remain in sinks.py.
ADVICE #1 (medium, skipping string-cast) is pinned in
test_skipping_rewrite.py::test_string_cast_comparison_is_not_an_atom;
ADVICE #2 (medium, parallel-sink idempotency) in
test_fed_sink.py (claim-ledger + stage-count-before-publish pins).
"""

from __future__ import annotations

import struct
from decimal import Decimal

import pyarrow as pa
import pytest

from datafusion_rdbms_ext_spark.sources.pgwire import (
    OID_NUMERIC,
    PgError,
    _decode_binary,
)

_CONF = "spark.sql.python.filterPushdown.enabled"


def _unset(spark):
    try:
        spark.conf.unset(_CONF)
    except Exception:
        pass


def test_sqlite_source_first_query_with_conf_unset(spark):
    """A _sqlite_table read must plan even when no other query has
    set the pushdown conf in this session (the exact r10 gate-order
    failure: [DATA_SOURCE_PUSHDOWN_DISABLED] when fed_three_engine_join
    ran before any conf-setting query)."""
    from datafusion_rdbms_ext_spark.sources.pushdown import _sqlite_table

    from .conftest import SF_DIR

    _unset(spark)
    try:
        n = _sqlite_table(spark, SF_DIR, "nation").count()
        assert n == 25
        # and the entry point left the session self-sufficient
        assert spark.conf.get(_CONF) == "true"
    finally:
        spark.conf.set(_CONF, "true")


def test_all_register_entry_points_set_pushdown_conf(spark):
    from datafusion_rdbms_ext_spark.sources.pyds import register_fed_sources

    _unset(spark)
    try:
        register_fed_sources(spark)
        assert spark.conf.get(_CONF) == "true"
    finally:
        spark.conf.set(_CONF, "true")


def _numeric_blob(ndigits, weight, sign, dscale, digits=()):
    return struct.pack("!HhHH", ndigits, weight, sign, dscale) + b"".join(
        struct.pack("!H", d) for d in digits
    )


def test_numeric_infinity_decodes_not_zero():
    """ADVICE r10 #3: ±Infinity (sign 0xD000/0xF000, PG 14+) used to
    fall through ndigits=0 and decode to Decimal 0 — a silently wrong
    value. Must now match the text path's Decimal('Infinity')."""
    inf = _decode_binary(_numeric_blob(0, 0, 0xD000, 0), OID_NUMERIC)
    ninf = _decode_binary(_numeric_blob(0, 0, 0xF000, 0), OID_NUMERIC)
    assert inf == Decimal("Infinity")
    assert ninf == Decimal("-Infinity")
    nan = _decode_binary(_numeric_blob(0, 0, 0xC000, 0), OID_NUMERIC)
    assert nan.is_nan()
    # a garbage sign word is an error, never a silent zero
    with pytest.raises(PgError, match="sign"):
        _decode_binary(_numeric_blob(0, 0, 0xBEEF, 0), OID_NUMERIC)
    # normal values still exact
    v = _decode_binary(_numeric_blob(1, 0, 0x4000, 2, (42,)), OID_NUMERIC)
    assert v == Decimal("-42.00")


def test_csv_bulk_path_handles_embedded_newlines():
    """ADVICE r10 #4: COPY (FORMAT csv) quotes embedded newlines; the
    vectorized pyarrow path must parse them, like binary/text do."""
    from datafusion_rdbms_ext_spark.sources.connector import (
        arrow_csv_to_table,
    )

    schema = pa.schema([pa.field("k", pa.int64()), pa.field("t", pa.string())])
    blob = b'1,"line one\nline two"\n2,plain\n'
    tbl = arrow_csv_to_table(blob, schema)
    assert tbl.column("t").to_pylist() == ["line one\nline two", "plain"]
    assert tbl.column("k").to_pylist() == [1, 2]


def test_no_pid_only_staging_temps_in_sinks():
    """ADVICE r10 #5: every staging temp path must use _unique_suffix
    (pid+thread+uuid) — PID-only suffixes collide across driver
    threads racing the same stage and rmtree each other's writes."""
    import inspect

    from datafusion_rdbms_ext_spark.sources import sinks

    src = inspect.getsource(sinks)
    assert 'tmp.{os.getpid()}' not in src


def test_prepare_hooks_run_and_are_idempotent(spark):
    """VERDICT r10 next #2a: every declared bench prepare hook must
    run standalone (bench.py calls it before any query execution)
    and twice (idempotent — the prepass may race a cached build)."""
    from datafusion_rdbms_ext_spark.queries import REGISTRY

    from .conftest import SF_DIR

    hooks = [(n, s.prepare) for n, s in REGISTRY.items() if s.prepare]
    assert hooks, "expected prepare hooks on fixture-heavy bench rows"
    seen = set()
    for name, prep in hooks:
        if prep in seen:
            continue  # shared hook (e.g. _prepare_pg): once is enough
        seen.add(prep)
        prep(spark, SF_DIR)
        prep(spark, SF_DIR)
