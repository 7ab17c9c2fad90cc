"""Sink surface: partitioned parquet writes with pruned read-back.

The reference is strictly read-only — no INSERT/CTAS/writer exists
(``SetExpr::Insert`` is ``todo!()`` at reference src/parser.rs:218,280;
SURVEY §2A "Sinks: none") — so this module is extension surface: the
write path a real pipeline needs to persist its cleaned/mixed corpus,
done the way a 100 TB table should be laid out.

Scale design:
* ``partitionBy(lang)`` produces hive-style ``lang=xx/`` directories,
  so a downstream reader filtering on the partition column scans ONLY
  the matching directories — partition pruning happens at file-listing
  time, before any row is read (tests/test_plans.py asserts the scan's
  PartitionFilters and its zero non-partition data filters).
* The write itself is embarrassingly parallel: each task writes its
  own files under each partition directory; no shuffle is forced
  (a production build would add ``repartition(lang)`` only when
  small-file pressure matters more than write parallelism).
* Round-trip fidelity is differential-tested: what the sink persists
  and the pruned scan returns must hash-match DuckDB reading the
  ORIGINAL table — i.e. the write path loses nothing.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.compat import dsum, sql_dsum
from ..queries.base import register
from .connector import local_frame

#: One written copy per (session, sf_dir) — the sink equivalent of the
#: catalog's registration memo. Keyed in the session conf so lifetime
#: is the session's (catalog.py uses the same pattern).
_SINK_DIR_CONF = "spark.datafusion_rdbms_ext.sink_dir"


def partitioned_documents_path(spark: SparkSession, sf_dir: str) -> str:
    """Write ``documents`` partitioned by ``lang`` once per session,
    returning the written path (memoized — repeat queries reuse it)."""
    key = f"{_SINK_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_documents_")
    (
        spark.table("documents")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    spark.conf.set(key, out)
    return out


@register(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents WHERE lang = 'en'
    ORDER BY doc_id
    """,
    doc="Partitioned parquet sink + pruned read-back: documents "
    "written hive-partitioned by lang, re-read with a partition "
    "filter that prunes at file-listing time; the round-trip must "
    "hash-match DuckDB reading the original table (the write path "
    "loses nothing).",
    tags=("sink", "source"),
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English documents read back through the partitioned sink.

    Scale: the ``lang = 'en'`` predicate binds to the partition
    column, so Spark lists only ``lang=en/`` — at 1000 partitions of
    a 100 TB table the scan cost is proportional to the selected
    partition, not the table. The projection prunes to 2 data columns
    + the partition column (text never leaves the files)."""
    path = partitioned_documents_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


_JSONL_DIR_CONF = "spark.datafusion_rdbms_ext.jsonl_dir"


def jsonl_documents_path(spark: SparkSession, sf_dir: str) -> str:
    """Write ``documents`` as JSON-lines once per session (memoized),
    returning the written path — the interchange format web-scraped
    training corpora actually arrive in."""
    key = f"{_JSONL_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_documents_jsonl_")
    spark.table("documents").write.mode("overwrite").json(out)
    spark.conf.set(key, out)
    return out


@register(
    "source_jsonl_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(len(text)) AS BIGINT) AS sum_text_len,
           MIN(md5(text)) AS min_text_md5
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="JSON-lines sink + source roundtrip: documents written as "
    "JSONL and re-read with an EXPLICIT schema (no runtime "
    "inference pass), rolled up per lang with an md5 text probe — "
    "proves the interchange path of web-scraped corpora loses "
    "nothing. Reference has no JSON surface at all.",
    tags=("sink", "source"),
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang rollup read back through the JSONL interchange path.

    Scale: the explicit read schema matters — schema inference would
    be a full extra pass over 100 TB before the first real batch;
    pinning the schema makes the JSONL scan single-pass and lets the
    line reader split files by byte ranges across executors. The md5
    probe rides the same rollup shuffle (no extra pass)."""
    path = jsonl_documents_path(spark, sf_dir)
    schema = spark.table("documents").schema
    return (
        spark.read.schema(schema)
        .json(path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text").cast("long")).alias("sum_text_len"),
            F.min(F.md5("text")).alias("min_text_md5"),
        )
        .orderBy("lang")
    )


_CSV_DIR_CONF = "spark.datafusion_rdbms_ext.csv_dir"


def csv_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write ``events`` (sans free-text props — CSV is the wrong
    container for embedded JSON) as headered CSV once per session."""
    key = f"{_CSV_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_events_csv_")
    (
        spark.table("events")
        # ts may be TIMESTAMP_NTZ (µs-parquet fixtures) — the CSV
        # writer formats NTZ via timestampNTZFormat, not
        # timestampFormat, so normalize to one flavor instead of
        # format-pinning two.
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value")
        .write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(out)
    )
    spark.conf.set(key, out)
    return out


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(epoch_us(ts)) AS BIGINT) AS sum_ts_us,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="CSV sink + source roundtrip with an EXPLICIT schema and "
    "FAILFAST mode: the third interchange format (after parquet and "
    "JSONL), timestamp fidelity proven to the microsecond by an "
    "epoch-sum probe against the original table.",
    tags=("sink", "source"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rollup read back through the CSV interchange path.

    Scale: like the JSONL path, the explicit schema keeps the scan
    single-pass (no inference sweep over 100 TB) and FAILFAST turns
    silent corruption into a loud error instead of null-poisoned
    aggregates. The µs-formatted timestamp column round-trips
    exactly — proven by summing epoch microseconds as integers."""
    path = csv_events_path(spark, sf_dir)
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "FAILFAST")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.unix_micros(F.col("ts")).cast("long")).alias("sum_ts_us"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


_ORC_DIR_CONF = "spark.datafusion_rdbms_ext.orc_dir"


def orc_embeddings_path(spark: SparkSession, sf_dir: str) -> str:
    """Write ``embeddings`` (nested ``array<float>`` column included)
    as ORC once per session — the third columnar container after
    parquet, exercising nested-type encode/decode through a different
    file format."""
    key = f"{_ORC_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_embeddings_orc_")
    spark.table("embeddings").write.mode("overwrite").orc(out)
    spark.conf.set(key, out)
    return out


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(len(embedding)) AS BIGINT) AS sum_dim,
           CAST(SUM(CAST(list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
              AS BIGINT)) AS BIGINT) AS sum_q,
           MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
    FROM embeddings GROUP BY label ORDER BY label
    """,
    doc="ORC sink + source roundtrip of the embeddings table — the "
    "nested array<float> column survives a different columnar "
    "container bit-exactly, proven by an integer-quantized element "
    "sum (order-independent long arithmetic) per label.",
    tags=("sink", "source"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label rollup read back through the ORC interchange path.

    Scale: ORC, like parquet, is splittable and column-pruned — the
    rollup reads all three columns here by design (the probe is the
    point), but a projection would prune stripes the same way. The
    element probe quantizes each float to a long BEFORE summing, so
    the aggregate is exact integer arithmetic — immune to float
    summation order across partitions."""
    path = orc_embeddings_path(spark, sf_dir)
    q = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    return (
        spark.read.orc(path)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.size("embedding").cast("long")).alias("sum_dim"),
            F.sum(q).alias("sum_q"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
        )
        .orderBy("label")
    )


@register(
    "sink_dynamic_partition_pruning",
    oracle="""
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
    FROM documents d
    JOIN (VALUES ('en', 1), ('de', 1), ('zh', 2)) AS dim(lang, prio)
      ON dim.lang = d.lang
    WHERE dim.prio = 1
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="Dynamic partition pruning: the lang-partitioned sink joined "
    "to a runtime-filtered dimension — Spark broadcasts the dim's "
    "surviving keys into the scan's PartitionFilters "
    "(dynamicpruningexpression), so only the matching partition "
    "directories are read. THE optimizer feature that makes "
    "star-schema joins over 100 TB partitioned fact tables viable; "
    "plan-asserted in tests/test_plans.py.",
    tags=("sink", "source"),
)
def sink_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang rollup where the scanned partitions are decided at
    RUNTIME by the dimension filter.

    Scale: static pruning needs the literal partition list in the
    query; here the pruning values exist only after filtering the
    dim, and Spark injects them as a broadcast subquery into the
    fact scan — fact I/O is proportional to the SELECTED partitions
    even though the query text names none of them."""
    path = partitioned_documents_path(spark, sf_dir)
    fact = spark.read.parquet(path)
    # lazy local checkpoint: over a bare LocalRelation the optimizer
    # folds the prio filter into the rows, and DPP only fires for a
    # build side that still carries a selective filter
    dim = local_frame(
        spark, [("en", 1), ("de", 1), ("zh", 2)], "lang string, prio int"
    ).localCheckpoint(eager=False)
    return (
        fact.join(dim.filter(F.col("prio") == 1), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


_EVO_DIR_CONF = "spark.datafusion_rdbms_ext.evo_dir"


def evolved_documents_path(spark: SparkSession, sf_dir: str) -> str:
    """Write documents as TWO parquet batches with different schemas
    (an old batch without ``n_chars``, a new batch with it) — the
    schema-evolution situation every long-lived corpus hits."""
    key = f"{_EVO_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_documents_evo_")
    d = spark.table("documents")
    (
        d.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "v1"))
    )
    (
        d.filter(F.col("doc_id") % 3 != 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "v2"))
    )
    spark.conf.set(key, out)
    return out


@register(
    "source_schema_evolution",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id % 3 <> 0 THEN 1 END) AS BIGINT) AS n_with_chars,
           CAST(SUM(CASE WHEN doc_id % 3 <> 0 THEN n_chars END) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Parquet schema evolution: two batches written under "
    "different schemas (n_chars added later) read back as ONE table "
    "via mergeSchema — old rows surface the new column as null, "
    "nothing is rewritten. The append-only evolution path a "
    "long-lived 100 TB corpus requires (the reference's catalog has "
    "a fixed column map, catalog.rs:8-45).",
    tags=("sink", "source"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang rollup across schema generations.

    Scale: mergeSchema unions footer schemas at planning time (one
    footer read per file, not a data pass); old files are never
    rewritten — the alternative, an ALTER + rewrite of 100 TB, is
    exactly what this avoids. Readers see one logical schema; the
    missing column decodes as null without any per-row branching."""
    path = evolved_documents_path(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "v1"), os.path.join(path, "v2")
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_chars").alias("n_with_chars"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


_CLUSTER_DIR_CONF = "spark.datafusion_rdbms_ext.clustered_dir"

#: Range-cluster width: files per sorted layout write.
_CLUSTER_PARTS = 8


def clustered_documents_write_df(spark: SparkSession) -> DataFrame:
    """The DataFrame whose write produces the clustered layout —
    exposed separately so the plan test can assert RangePartitioning
    + in-partition Sort without writing."""
    return (
        spark.table("documents")
        .repartitionByRange(_CLUSTER_PARTS, "doc_id")
        .sortWithinPartitions("doc_id")
    )


def clustered_documents_path(spark: SparkSession, sf_dir: str) -> str:
    """Write documents range-clustered and sorted by ``doc_id`` once
    per session: each output file covers a disjoint doc_id range and
    is internally sorted, so parquet row-group min/max statistics
    become selective (data skipping)."""
    key = f"{_CLUSTER_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_documents_clustered_")
    clustered_documents_write_df(spark).write.mode("overwrite").parquet(out)
    spark.conf.set(key, out)
    return out


@register(
    "sink_clustered_layout",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id BETWEEN 100 AND 299
    GROUP BY lang ORDER BY lang
    """,
    doc="Range-clustered sorted layout: documents written via "
    "repartitionByRange(doc_id) + sortWithinPartitions, read back "
    "with a doc_id range predicate. Because each file covers a "
    "disjoint sorted key range, parquet min/max statistics prune "
    "whole files/row-groups at scan time — the sort-key data-skipping "
    "lever (Z-order's 1-D case). Write plan asserted in "
    "tests/test_plans.py.",
    tags=("sink", "source"),
)
def sink_clustered_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query over the clustered layout.

    Scale: the predicate doc_id BETWEEN 100 AND 299 touches only the
    files whose range overlaps — at 100 TB with 128 MB files that is
    I/O proportional to selectivity, not table size. The pushed
    filter + footer stats do the pruning; no index structure to
    maintain beyond the write-time sort."""
    path = clustered_documents_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("doc_id").between(100, 299))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# DecimalType end-to-end: the reference's catalog maps Postgres
# ``numeric`` to Decimal(38,4) (reference src/sqldb/postgres/
# datatypes.rs:160-162, "default to Decimal(38,4)"). The engine's
# money paths elsewhere use decimal only transiently (compat.dsum);
# here a table with TRUE decimal(38,4) COLUMNS goes through the sink,
# comes back as DecimalType(38,4), and feeds a q01-shape aggregate —
# the §1.3 numeric row exercised as a real column type.
# ---------------------------------------------------------------------------
_DECIMAL_DIR_CONF = "spark.datafusion_rdbms_ext.decimal_dir"


def _money(spark: SparkSession) -> DataFrame:
    """The money table: lineitem's price columns as decimal(38,4)."""
    return spark.table("lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice").cast("decimal(38,4)").alias("price"),
        F.col("l_tax").cast("decimal(38,4)").alias("tax"),
    )


def decimal_money_path(spark: SparkSession, sf_dir: str) -> str:
    """Write a money table with decimal(38,4) columns once per session
    (memoized), returning the written path. The doubles in the fixture
    carry <=2 decimal digits, so the cast to scale 4 is exact — no
    engine-specific rounding can leak into the differential gate."""
    key = f"{_DECIMAL_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_money_decimal_")
    _money(spark).write.mode("overwrite").parquet(out)
    spark.conf.set(key, out)
    return out


@register(
    "micro_decimal_money",
    oracle="""
    WITH money AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_extendedprice AS DECIMAL(38,4)) AS price,
             CAST(l_tax AS DECIMAL(38,4)) AS tax
      FROM lineitem
    )
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price) AS VARCHAR) AS sum_price,
           CAST(SUM(price - tax) AS VARCHAR) AS sum_net,
           CAST(MIN(price) AS VARCHAR) AS min_price,
           CAST(MAX(price) AS VARCHAR) AS max_price
    FROM money
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="DecimalType(38,4) end-to-end (ref datatypes.rs:160-162 "
    "numeric -> Decimal(38,4)): money table written through the "
    "parquet sink with true decimal columns, read back as "
    "DecimalType(38,4), aggregated q01-style with exact decimal "
    "sums/min/max — all add/sub only, zero rounding ambiguity, "
    "hash-matched against DuckDB DECIMAL. Final outputs cast to "
    "string on BOTH engines: the gate's pandas transport narrows "
    "remote DECIMAL(38,4) to float64, so exact decimal strings are "
    "the only lossless wire format (the aggregation itself runs in "
    "DecimalType — pinned by tests/test_skew_and_sinks.py).",
    tags=("sink", "decimal"),
)
def micro_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q01-shape aggregate over true decimal(38,4) input columns.

    Scale: identical plan shape to q01 (single scan, hash aggregate on
    two low-cardinality keys); decimal sums cost linear CPU over
    int128 accumulators — the disclosed price of exact money totals.
    Parquet stores decimal(38,4) as FIXED_LEN_BYTE_ARRAY(16), so
    column size is comparable to the doubles it replaces."""
    money = read_written(
        spark, _money(spark).schema, decimal_money_path(spark, sf_dir)
    )
    agg = money.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").alias("sum_price"),
        F.sum(F.col("price") - F.col("tax")).alias("sum_net"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        *[
            F.col(c).cast("string").alias(c)
            for c in ("sum_price", "sum_net", "min_price", "max_price")
        ],
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# Z-ORDER (Morton) clustered layout — the multi-dimensional
# generalization of sink_clustered_layout's 1-D range clustering.
# Interleaving the bits of two filter dimensions gives every
# contiguous z-range a bounded rectangle in (user, day) space, so
# parquet min/max statistics stay narrow on BOTH columns at once —
# a 1-D sort can only be narrow on its sort key. This is the layout
# trick behind Delta/Iceberg OPTIMIZE ZORDER BY, done with stock
# repartitionByRange + sortWithinPartitions.
# ---------------------------------------------------------------------------
_ZORDER_DIR_CONF = "spark.datafusion_rdbms_ext.zorder_dir"
_Z_BITS = 8  # bits per dimension (user_id % 256, day-of-month 1..31)


def _morton2(a, b):
    """Bit-interleaved Morton code of two <=8-bit nonnegative ints —
    pure builtin bitwise expressions, whole-stage-codegen'd."""
    zv = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        zv = (
            zv
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return zv


def zorder_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write ``events`` z-ordered on (user_id, day-of-month) once per
    session: repartitionByRange over the Morton code + an intra-file
    sort, so each output file covers a small rectangle of the
    (user, day) grid instead of a stripe."""
    key = f"{_ZORDER_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    out = tempfile.mkdtemp(prefix="sink_events_zorder_")
    ev = spark.table("events").withColumn(
        "zv",
        # Both dims scaled to the full 8-bit range before interleave —
        # misaligned ranges (day uses 5 bits, user 8) would let one
        # dimension's empty high bits dominate the z-prefix and
        # degenerate the rectangles back to stripes.
        _morton2(
            F.col("user_id").bitwiseAND(F.lit((1 << _Z_BITS) - 1)),
            (F.dayofmonth("ts") - 1) * 8,
        ),
    )
    (
        ev.repartitionByRange(8, "zv")
        .sortWithinPartitions("zv")
        .write.mode("overwrite")
        .parquet(out)
    )
    spark.conf.set(key, out)
    return out


@register(
    "sink_zorder_layout",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    WHERE user_id BETWEEN 40 AND 60
      AND EXTRACT(day FROM ts) BETWEEN 10 AND 15
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Z-order clustered layout (Morton bit-interleave of user_id "
    "and day-of-month, the Delta/Iceberg OPTIMIZE ZORDER shape via "
    "repartitionByRange + sortWithinPartitions): a query filtering "
    "BOTH dimensions reads only the files whose rectangle overlaps. "
    "Per-file rectangle bounds asserted in tests/test_skew_and_sinks.py; "
    "round-trip hash-matched against the original table.",
    tags=("sink", "source", "bench"),
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D selective query over the z-ordered layout.

    Scale: at 100 TB the same write produces ~128 MB files each
    covering a small (user, day) rectangle; a dashboard query pinned
    to a user cohort AND a date window prunes on footer min/max of
    both columns — I/O proportional to the rectangle overlap, where
    a date-sorted layout would scan every file for the user filter.
    The Morton code is computed map-side from builtin bitwise ops;
    the only shuffle is the range partitioner's."""
    path = zorder_events_path(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("user_id").between(40, 60))
        .filter(F.dayofmonth("ts").between(10, 15))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Versioned snapshots (time travel) — an Iceberg/Delta-lite layout:
# each table version is a MANIFEST (a tiny JSON list of parquet
# files); commits are copy-on-write at bucket-file granularity, so a
# new version rewrites only the buckets its keys touch and CARRIES
# OVER every untouched file by reference. Readers pin a version by
# reading its manifest — old snapshots stay readable forever
# (snapshot isolation), and "time travel" is just choosing which
# manifest to expand.
# ---------------------------------------------------------------------------
_VERSIONED_DIR_CONF = "spark.datafusion_rdbms_ext.versioned_dir"
_VBUCKET = 250  # doc_ids per bucket file-group
#: Delete sidecars have fixed schemas: a positional sidecar holds the
#: two parquet ``_metadata`` fields that harvested it, an equality
#: sidecar the keys ``spark.range`` produced.
_DV_SCHEMA = "file_path string, row_index long"
_EQ_SCHEMA = "doc_id long"
#: What a manifest derived from its parent carries forward unchanged.
_CARRIED = ("schema", "delete_vectors", "equality_deletes")


def read_written(spark: SparkSession, schema, *paths: str) -> DataFrame:
    """Read parquet files the engine wrote, with the schema their
    writer recorded: a manifest's ``schema`` (StructType JSON), a
    staged frame's StructType, or a DDL string.

    ``spark.read.parquet`` without a schema starts a Spark job to read
    a footer for a schema the writer already knew; with one, the read
    is planned with no job. Every snapshot, stage and sidecar read of
    this layer goes through here, and there is no inference fallback:
    a manifest without ``schema`` is an error. No paths reads as an
    empty table of the schema."""
    if isinstance(schema, dict):
        schema = T.StructType.fromJson(schema)
    return spark.read.schema(schema).parquet(*paths)


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency: the loser must re-read the new latest snapshot,
    rebase its changes, and retry as version+1 — the Delta/Iceberg
    commit protocol)."""


def _unique_suffix() -> str:
    """Per-writer-unique temp suffix. PID alone is NOT unique enough:
    two THREADS of one process (Spark driver threads, foreachBatch)
    racing the same link-commit would share a tmp path — the winner's
    cleanup then deletes the loser's tmp mid-flight and the loser
    dies with FileNotFoundError instead of CommitConflict (found by
    tests/test_branches.py::test_branch_cas_true_thread_race)."""
    import threading
    import uuid

    return f"{os.getpid()}.{threading.get_ident()}.{uuid.uuid4().hex[:8]}"


def _link_json(final: str, payload: dict, conflict: str) -> None:
    """Atomic EXCLUSIVE commit of one JSON file — every manifest,
    branch ref and tag of this layer: write a temp file, fsync, then
    link it into place. The link is the commit point — a reader
    either sees the whole file or no file, never a torn one — and it
    FAILS if ``final`` already exists, so two concurrent writers
    racing for the same name produce exactly one winner and one
    CommitConflict(``conflict``) (optimistic concurrency control; a
    hard link is atomic-exclusive on POSIX where a rename would let
    the second writer silently clobber the first)."""
    import json

    tmp = final + ".tmp." + _unique_suffix()
    try:
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise CommitConflict(conflict) from exc
        except OSError as exc:
            # Filesystems without hard links (some network/FUSE
            # mounts) surface EPERM/EOPNOTSUPP here. Surface the
            # contract violation explicitly instead of a bare OSError:
            # this layer cannot provide atomic-exclusive commits there.
            raise RuntimeError(
                "atomic-exclusive commit requires hard-link support on "
                f"{os.path.dirname(final)!r} ({exc})"
            ) from exc
    finally:
        # The temp file must never outlive the commit attempt — on
        # ANY failure (serialize/fsync included), not just post-link.
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass


def _write_manifest(root: str, version: int, payload: dict) -> None:
    """Commit manifest ``v{version}.json`` exclusively (:func:`_link_json`)."""
    _link_json(
        os.path.join(root, f"v{version}.json"),
        payload,
        f"version {version} was committed by another writer",
    )


def latest_version(root: str) -> int:
    """The highest committed manifest version under ``root``, 0 if none."""
    import glob as _glob

    return max(
        (
            int(os.path.basename(p)[1:-5])
            for p in _glob.glob(os.path.join(root, "v*.json"))
        ),
        default=0,
    )


def _write_stage(df: DataFrame, path: str) -> bool:
    """Write ``df`` once as the IMMUTABLE file group ``path`` (a
    published manifest points at these exact file paths — an
    overwrite would orphan it): into a per-writer temp dir, then
    renamed into place. Returns whether this call's files are the
    ones at ``path``: False when a finished group is already there or
    another writer won the rename, in which case the temp is
    dropped."""
    import shutil

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    # _unique_suffix, not PID-only: two driver threads (e.g.
    # foreachBatch) racing the same group share a PID and would
    # rmtree each other's in-flight write.
    tmp = f"{path}.tmp.{_unique_suffix()}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
        return True
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        return False


def _audit(staged: DataFrame, snapshot: DataFrame, *by: str) -> DataFrame:
    """The WAP audit as ONE aggregation, grouped by ``by`` (none: one
    row): ``(by…, n_staged, v_null, v_dup)``. The left join against
    the DISTINCT snapshot keys marks collisions without multiplying
    staged rows, so COUNT(*) is the staged count, COUNT(hit) the
    semi-join (key-collision) count, and the NULL-text sum the
    completeness violation count."""
    return (
        staged.join(
            snapshot.select("doc_id").distinct().withColumn("__hit", F.lit(1)),
            "doc_id",
            "left",
        )
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n_staged"),
            F.coalesce(
                F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)),
                F.lit(0),
            ).alias("v_null"),
            F.count("__hit").alias("v_dup"),
        )
    )


def _append_commit(
    root: str, base: int, version_to: int, appended: list[str], **marks
) -> bool:
    """Commit v{version_to} = v{base}'s files + ``appended`` —
    metadata only, no data movement. The manifest carries the
    base's schema and BOTH delete sidecar flavors (``_CARRIED``:
    dropping one would resurrect deleted rows) plus the caller's
    ``marks``. A version another commit already holds is left alone.
    Returns whether v{version_to} is THIS append (same ``appended``):
    a replay of it, or the winner of the link race, is; a crashed
    prior run, a different stage or a second candidate is not."""
    import json

    final = os.path.join(root, f"v{version_to}.json")
    if not os.path.exists(final):
        with open(os.path.join(root, f"v{base}.json")) as fh:
            prev = json.load(fh)
        payload = {
            "version": version_to,
            "files": sorted(prev["files"]) + appended,
            "appended": appended,
            **marks,
        }
        for key in _CARRIED:
            if prev.get(key):
                payload[key] = prev[key]
        try:
            _write_manifest(root, version_to, payload)
        except CommitConflict:
            pass  # lost the link race: the check below tells whose
    with open(final) as fh:
        return json.load(fh).get("appended") == appended


def _bucket_files(root: str, gen: str) -> dict[int, list[str]]:
    """bucket id -> parquet files of one write generation."""
    import glob as _glob

    out: dict[int, list[str]] = {}
    for d in _glob.glob(os.path.join(root, gen, "bucket=*")):
        b = int(d.rsplit("=", 1)[1])
        out[b] = sorted(_glob.glob(os.path.join(d, "*.parquet")))
    return out


def versioned_corpus_root(spark: SparkSession, sf_dir: str) -> str:
    """Build the two-version corpus once per session.

    v1 = the documents table, bucketed by ``doc_id div 250``.
    v2 = a full MERGE: DELETE doc_id < 10, replace 10 <= doc_id < 100
    with uppercased text, insert 20 re-keyed docs — committed
    COPY-ON-WRITE: only the buckets containing touched keys are
    rewritten under gen2/; every other v1 file is carried into the
    v2 manifest by path."""
    key = f"{_VERSIONED_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return existing
    root = tempfile.mkdtemp(prefix="sink_versioned_")
    base = spark.table("documents").select("doc_id", "text")
    bucket = F.expr(f"doc_id div {_VBUCKET}")
    (
        base.withColumn("bucket", bucket)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(root, "gen1"))
    )
    gen1 = _bucket_files(root, "gen1")
    manifest1 = sorted(f for fs in gen1.values() for f in fs)
    schema = base.schema.jsonValue()
    _write_manifest(
        root, 1, {"version": 1, "files": manifest1, "schema": schema}
    )

    upd_a = (
        spark.table("documents")
        .filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 100))
        .select("doc_id", F.upper("text").alias("text"))
    )
    upd_b = (
        spark.table("documents")
        .filter(F.col("doc_id") < 20)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    updates = upd_a.unionByName(upd_b)
    deletes = spark.table("documents").filter(F.col("doc_id") < 10).select("doc_id")
    touched = updates.select("doc_id").unionByName(deletes)
    changed = sorted(
        r["b"] for r in touched.select(bucket.alias("b")).distinct().collect()
    )  # bucket ids: metadata-sized (a handful of ints)
    merged = base.join(touched, "doc_id", "left_anti").unionByName(updates)
    (
        merged.withColumn("bucket", bucket)
        .filter(F.col("bucket").isin(changed))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(root, "gen2"))
    )
    gen2 = _bucket_files(root, "gen2")
    carried = [f for b, fs in gen1.items() if b not in set(changed) for f in fs]
    rewritten = [f for fs in gen2.values() for f in fs]
    _write_manifest(
        root,
        2,
        {
            "version": 2,
            "files": sorted(carried + rewritten),
            "carried_over": sorted(carried),
            "rewritten_buckets": changed,
            "schema": schema,
        },
    )
    spark.conf.set(key, root)
    return root


def read_version(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Expand a version's manifest into a DataFrame (time travel).

    The files are read with the manifest's recorded ``schema``, so
    building the frame starts no Spark job.

    A manifest may carry a ``delete_vectors`` sidecar (merge-on-read
    row-level deletes, Iceberg-v2 position deletes): the read applies
    it as an anti-join on (file_path, row_index) — the two columns
    Spark's parquet ``_metadata`` exposes — so deleted rows vanish
    without any data file having been rewritten."""
    import json

    with open(os.path.join(root, f"v{version}.json")) as fh:
        manifest = json.load(fh)
    df = read_written(spark, manifest["schema"], *manifest["files"])
    dv_dir = manifest.get("delete_vectors")
    if dv_dir:
        dv = read_written(spark, _DV_SCHEMA, os.path.join(root, dv_dir))
        df = df.withColumns(
            {
                "_f": F.col("_metadata.file_path"),
                "_p": F.col("_metadata.row_index"),
            }
        ).join(
            dv,
            (F.col("_f") == dv["file_path"])
            & (F.col("_p") == dv["row_index"]),
            "left_anti",
        )
    eq_dir = manifest.get("equality_deletes")
    if eq_dir:
        # the other Iceberg-v2 delete flavor: deletes by KEY VALUE
        # (no scan needed at commit time — the writer never learned
        # positions), applied as a key anti-join after the DV pass
        eq = read_written(spark, _EQ_SCHEMA, os.path.join(root, eq_dir))
        df = df.join(eq, "doc_id", "left_anti")
    return df.select("doc_id", "text")


@register(
    "source_time_travel",
    oracle="""
    WITH v1 AS (SELECT doc_id, text FROM documents),
    updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len, MIN(md5(text)) AS min_md5
    FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(len(text)) AS BIGINT), MIN(md5(text))
    FROM v2
    ORDER BY version
    """,
    doc="Versioned snapshots / time travel (Iceberg-lite): manifests "
    "of parquet files per version; a full MERGE (delete + update + "
    "insert) committed copy-on-write at bucket granularity (untouched "
    "files carried by reference — pinned by test), both versions read "
    "back and content-checked against the recomputed merge.",
    tags=("sink", "source", "versioned"),
)
def source_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both corpus versions read via their manifests, content-probed.

    Scale: a manifest is metadata (file list), not data — commit cost
    is proportional to TOUCHED buckets, never table size, and old
    readers keep their snapshot without any copy. This is the layout
    contract of real table formats (Iceberg manifest lists / Delta
    transaction log) built from primitives: the engine-side work is
    bucketed COW writes + manifest expansion at read."""
    root = versioned_corpus_root(spark, sf_dir)
    out = None
    for v in (1, 2):
        agg = read_version(spark, root, v).agg(
            F.lit(v).alias("version"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("sum_len"),
            F.min(F.md5("text")).alias("min_md5"),
        ).select("version", "n_docs", "sum_len", "min_md5")
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("version")


@register(
    "source_snapshot_diff",
    oracle="""
    WITH v1 AS (SELECT doc_id, text FROM documents),
    updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    diff AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN b.doc_id IS NULL THEN 'delete'
                  WHEN a.doc_id IS NULL THEN 'insert'
                  WHEN a.text <> b.text THEN 'update' END AS op
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS min_key,
           CAST(MAX(doc_id) AS BIGINT) AS max_key
    FROM diff WHERE op IS NOT NULL
    GROUP BY op ORDER BY op
    """,
    doc="Change-data-capture between snapshots: the v1->v2 diff "
    "(delete / insert / update, unchanged rows excluded) computed as "
    "one full-outer join over the two manifest reads — the CDC feed "
    "a downstream consumer replays instead of re-reading the table.",
    tags=("sink", "source", "versioned"),
)
def source_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-op change census between version 1 and version 2.

    Scale: at bucket granularity the diff only needs to JOIN the
    buckets the v2 manifest marks rewritten — carried-over files are
    byte-identical by construction and contribute no changes; this
    implementation's full-outer join over both snapshots is the
    general form (correct even against manifests from foreign
    writers), and the manifest's rewritten_buckets list is the
    pruning hook when the writer is trusted."""
    root = versioned_corpus_root(spark, sf_dir)
    v1 = read_version(spark, root, 1).withColumnsRenamed(
        {"doc_id": "k1", "text": "t1"}
    )
    v2 = read_version(spark, root, 2).withColumnsRenamed(
        {"doc_id": "k2", "text": "t2"}
    )
    diff = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer").select(
        F.coalesce(F.col("k1"), F.col("k2")).alias("doc_id"),
        F.when(F.col("k2").isNull(), "delete")
        .when(F.col("k1").isNull(), "insert")
        .when(F.col("t1") != F.col("t2"), "update")
        .alias("op"),
    )
    return (
        diff.filter(F.col("op").isNotNull())
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_key"),
            F.max("doc_id").alias("max_key"),
        )
        .orderBy("op")
    )


@register(
    "source_cdc_apply",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len
    FROM v2
    """,
    doc="Incremental view maintenance from the CDC feed: the v1 "
    "rollup (count, total length) is advanced by the diff's signed "
    "deltas (+1/+len for insert, -1/-len for delete, length delta "
    "for update) WITHOUT rescanning v2; the oracle computes the v2 "
    "rollup directly — maintained state and recomputation must agree "
    "exactly.",
    tags=("sink", "source", "versioned"),
)
def source_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2's rollup derived as v1's rollup + CDC deltas.

    Scale: this is the materialized-view maintenance contract — the
    work is proportional to the CHANGE set, never the table: the
    delta aggregate reads only diff rows (a few buckets), and the
    stored v1 rollup is one row. Recomputing from v2 would rescan
    everything; at 100 TB that asymmetry is the whole point of
    shipping a CDC feed."""
    root = versioned_corpus_root(spark, sf_dir)
    v1 = read_version(spark, root, 1).withColumnsRenamed(
        {"doc_id": "k1", "text": "t1"}
    )
    v2 = read_version(spark, root, 2).withColumnsRenamed(
        {"doc_id": "k2", "text": "t2"}
    )
    diff = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer").select(
        F.when(F.col("k2").isNull(), -1)
        .when(F.col("k1").isNull(), 1)
        .otherwise(0)
        .alias("d_count"),
        (
            F.coalesce(F.length("t2"), F.lit(0))
            - F.coalesce(F.length("t1"), F.lit(0))
        ).alias("d_len"),
    )
    deltas = diff.agg(
        F.sum("d_count").alias("dc"), F.sum("d_len").alias("dl")
    )
    base = v1.agg(
        F.count(F.lit(1)).alias("n0"), F.sum(F.length("t1")).alias("l0")
    )
    return base.crossJoin(F.broadcast(deltas)).select(
        (F.col("n0") + F.col("dc")).cast("long").alias("n_docs"),
        (F.col("l0") + F.col("dl")).cast("long").alias("sum_len"),
    )


def compact_version(spark: SparkSession, root: str) -> None:
    """OPTIMIZE: rewrite the latest version's many small bucket files
    into few range-sorted files as version 3 (row-identical — only
    the file layout changes). Idempotent per root."""
    if os.path.exists(os.path.join(root, "v3.json")):
        return
    v2 = read_version(spark, root, 2)
    (
        v2.repartitionByRange(2, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen3"))
    )
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(root, "gen3", "*.parquet")))
    _write_manifest(
        root,
        3,
        {
            "version": 3,
            "files": files,
            "compacted_from": 2,
            "schema": v2.schema.jsonValue(),
        },
    )


def deletion_vector_root(spark: SparkSession, sf_dir: str) -> str:
    """Versions 4 and 5 on the shared corpus root — merge-on-read
    row-level deletes (the Delta deletion-vector / Iceberg-v2
    position-delete design) built from primitives:

    * v4 = ``DELETE WHERE doc_id % 10 = 3`` over the v2 snapshot,
      committed as a POSITIONAL deletion-vector sidecar of
      (file_path, row_index) pairs harvested from parquet
      ``_metadata`` — NOT ONE data file is rewritten; the manifest
      carries v2's file list by reference plus the sidecar pointer.
      Commit cost = the predicate scan + a delete-count-sized write,
      never table size: the merge-on-read half of the trade.
    * v5 = materialization (the read-optimized half): ONLY files
      that carry DV entries are rewritten with their deletes
      applied; clean files are carried by path, the sidecar is
      dropped. v4 and v5 must read back row-identical.

    Idempotent per root (manifest existence is the memo; a lost
    commit race means another session built the identical content —
    the build is deterministic)."""
    import glob as _glob
    import json

    root = versioned_corpus_root(spark, sf_dir)
    if os.path.exists(os.path.join(root, "v5.json")):
        return root
    with open(os.path.join(root, "v2.json")) as fh:
        m2 = json.load(fh)
    v2_files = m2["files"]
    tagged = read_written(spark, m2["schema"], *v2_files).select(
        "doc_id",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    dv = tagged.filter(F.col("doc_id") % 10 == 3).select(
        "file_path", "row_index"
    )
    dv.write.mode("overwrite").parquet(os.path.join(root, "dv4"))
    try:
        _write_manifest(
            root,
            4,
            {
                "version": 4,
                "files": sorted(v2_files),
                "delete_vectors": "dv4",
                "deleted_from": 2,
                "schema": m2["schema"],
            },
        )
    except CommitConflict:
        pass  # concurrent identical build won the link race
    # -- v5: rewrite ONLY the files the vector touches ------------------
    dv_plain = {
        r["file_path"].removeprefix("file:")
        for r in read_written(spark, _DV_SCHEMA, os.path.join(root, "dv4"))
        .select("file_path")
        .distinct()
        .collect()
    }  # bounded: one row per FILE, metadata-sized
    affected = sorted(f for f in v2_files if f in dv_plain)
    carried = sorted(f for f in v2_files if f not in dv_plain)
    if affected:
        # clean files are carried by reference; only DV-bearing files
        # are re-read (with the vector applied) and rewritten
        rewrite = read_written(spark, m2["schema"], *affected).withColumns(
            {
                "_f": F.col("_metadata.file_path"),
                "_p": F.col("_metadata.row_index"),
            }
        )
        dvdf = read_written(spark, _DV_SCHEMA, os.path.join(root, "dv4"))
        (
            rewrite.join(
                dvdf,
                (F.col("_f") == dvdf["file_path"])
                & (F.col("_p") == dvdf["row_index"]),
                "left_anti",
            )
            .select("doc_id", "text")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "gen5"))
        )
        gen5 = sorted(_glob.glob(os.path.join(root, "gen5", "*.parquet")))
    else:
        gen5 = []
    try:
        _write_manifest(
            root,
            5,
            {
                "version": 5,
                "files": carried + gen5,
                "carried_over": carried,
                "materialized_from": 4,
                "schema": m2["schema"],
            },
        )
    except CommitConflict:
        pass
    return root


@register(
    "source_deletion_vectors",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v4 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3)
    SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len, MIN(md5(text)) AS min_md5
    FROM v2
    UNION ALL
    SELECT 4, CAST(COUNT(*) AS BIGINT), CAST(SUM(len(text)) AS BIGINT),
           MIN(md5(text)) FROM v4
    UNION ALL
    SELECT 5, CAST(COUNT(*) AS BIGINT), CAST(SUM(len(text)) AS BIGINT),
           MIN(md5(text)) FROM v4
    ORDER BY version
    """,
    doc="Merge-on-read row-level deletes: v4 commits a positional "
    "deletion-vector sidecar (parquet _metadata file_path/row_index "
    "pairs) over the v2 snapshot without rewriting any data file "
    "(pinned by test); v5 materializes by rewriting only DV-bearing "
    "files. All three reads content-checked against the recomputed "
    "semantics; v4 must equal v5 exactly.",
    tags=("sink", "source", "versioned", "bench"),
)
def source_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 (base), v4 (DV-applied read), v5 (materialized) summaries.

    Scale: the DELETE's commit cost is the predicate scan plus a
    sidecar write sized by the deleted-row count — at 100 TB that is
    the difference between an overnight rewrite and a seconds-long
    commit. The read-side anti-join keys on (file, position); real
    formats push the per-file bitmap into the scan itself, which is
    the refinement hook here (the DV is already grouped by file).
    Materialization restores scan speed when deletes accumulate —
    the same compaction trade as v3's OPTIMIZE."""
    root = deletion_vector_root(spark, sf_dir)
    out = None
    for v in (2, 4, 5):
        agg = (
            read_version(spark, root, v)
            .agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).cast("long").alias("sum_len"),
                F.min(F.md5("text")).alias("min_md5"),
            )
            .select("version", "n_docs", "sum_len", "min_md5")
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("version")


def mor_update_root(spark: SparkSession, sf_dir: str) -> str:
    """Version 6 — merge-on-read UPDATE, the second half of the
    deletion-vector trade: ``UPDATE SET text = lower(text) WHERE
    doc_id % 10 = 7`` over the v4 snapshot committed as (a) DV
    entries tombstoning the OLD row positions and (b) one appended
    delta file holding the new row images. No existing data file is
    rewritten; the unchanged :func:`read_version` serves v6 because
    an update IS delete + insert under merge-on-read — the manifest
    lists v2's files plus the append, and the widened sidecar hides
    the stale images. Commit cost = predicate scan + changed-row
    write, never table size."""
    import glob as _glob
    import json

    root = deletion_vector_root(spark, sf_dir)
    if os.path.exists(os.path.join(root, "v6.json")):
        return root
    with open(os.path.join(root, "v4.json")) as fh:
        m4 = json.load(fh)
    base = read_written(spark, m4["schema"], *m4["files"]).withColumns(
        {
            "_f": F.col("_metadata.file_path"),
            "_p": F.col("_metadata.row_index"),
        }
    )
    dv4 = read_written(spark, _DV_SCHEMA, os.path.join(root, "dv4"))
    live = base.join(
        dv4,
        (F.col("_f") == dv4["file_path"])
        & (F.col("_p") == dv4["row_index"]),
        "left_anti",
    )
    hit = live.filter(F.col("doc_id") % 10 == 7)
    # (a) tombstone the old positions: widened sidecar = dv4 + hits
    (
        dv4.unionByName(
            hit.select(
                F.col("_f").alias("file_path"),
                F.col("_p").alias("row_index"),
            )
        )
        .write.mode("overwrite")
        .parquet(os.path.join(root, "dv6"))
    )
    # (b) append the new row images as one delta file
    (
        hit.select("doc_id", F.lower("text").alias("text"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen6"))
    )
    gen6 = sorted(_glob.glob(os.path.join(root, "gen6", "*.parquet")))
    try:
        _write_manifest(
            root,
            6,
            {
                "version": 6,
                "files": sorted(m4["files"]) + gen6,
                "delete_vectors": "dv6",
                "appended": gen6,
                "updated_from": 4,
                "schema": m4["schema"],
            },
        )
    except CommitConflict:
        pass
    return root


@register(
    "source_mor_update",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v4 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3),
    v6 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN lower(text) ELSE text END AS text
      FROM v4
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len,
           CAST(SUM(CASE WHEN text = lower(text) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lowered,
           MIN(md5(text)) AS min_md5
    FROM v6
    """,
    doc="Merge-on-read UPDATE: changed rows committed as DV "
    "tombstones on their old positions plus ONE appended delta file "
    "of new images — no data file rewritten (pinned by test); the "
    "same positional-sidecar read path serves the result because an "
    "update is delete + insert under merge-on-read.",
    tags=("sink", "source", "versioned", "bench"),
)
def source_mor_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v6 snapshot summary after the merge-on-read update.

    Scale: same asymmetry as the DV delete — commit work tracks the
    CHANGED rows (one scan + one small append), not the table; at
    100 TB an in-place text normalization over 10% of rows commits
    in seconds and the copy-on-write rewrite is deferred to the next
    materialization/compaction window."""
    root = mor_update_root(spark, sf_dir)
    return read_version(spark, root, 6).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_len"),
        F.sum((F.col("text") == F.lower("text")).cast("long"))
        .cast("long")
        .alias("n_lowered"),
        F.min(F.md5("text")).alias("min_md5"),
    )


def _stage_files(root: str, stage_name: str) -> list[str]:
    import glob as _glob

    return sorted(
        _glob.glob(os.path.join(root, f"stage_{stage_name}", "*.parquet"))
    )


def _wap_stage(
    spark: SparkSession, root: str, staged: DataFrame, stage_name: str
) -> DataFrame:
    """Stage a candidate batch as its own immutable file group
    (:func:`_write_stage`) and return the staged files, read with the
    batch's schema."""
    stage_dir = os.path.join(root, f"stage_{stage_name}")
    _write_stage(staged, stage_dir)
    return read_written(spark, staged.schema, stage_dir)


def _wap_publish(
    root: str, version_from: int, version_to: int, stage_name: str
) -> bool:
    """Commit the manifest that makes a clean-audited stage visible
    (:func:`_append_commit`); returns whether v{version_to} is this
    stage appended."""
    return _append_commit(
        root,
        version_from,
        version_to,
        _stage_files(root, stage_name),
        published_from_stage=stage_name,
    )


def wap_attempt(
    spark: SparkSession,
    root: str,
    version_from: int,
    version_to: int,
    staged: DataFrame,
    stage_name: str,
) -> dict:
    """Write-audit-publish (the Iceberg WAP / Delta CDC-gate
    pattern): the candidate batch is STAGED as its own file group —
    invisible to every reader, because visibility is manifest
    membership — audited against the LIVE snapshot, and published
    only on a clean audit by committing a manifest that lists the
    old files plus the staged ones. A failing audit publishes
    nothing: no manifest, no partial state, nothing to roll back.

    Audit rules (exact counts, engine-side): completeness of
    ``text`` within the batch, and key-collision of ``doc_id``
    against the snapshot (a left-semi probe — at scale this prunes
    through the skipping index rather than scanning the table).
    Returns the audit report either way; ``published`` is true only
    when v{version_to} is this stage appended."""
    sdf = _wap_stage(spark, root, staged, stage_name)
    n_staged, v_null, v_dup = map(
        int, _audit(sdf, read_version(spark, root, version_from)).first()
    )
    return {
        "staged_rows": n_staged,
        "null_violations": v_null,
        "key_collisions": v_dup,
        "published": v_null + v_dup == 0
        and _wap_publish(root, version_from, version_to, stage_name),
    }


@register(
    "sink_wap_publish",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v6 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3),
    bad AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN NULL ELSE text END AS text
      FROM documents WHERE doc_id >= 200 AND doc_id < 210
    ),
    good AS (
      SELECT doc_id + 20000 AS doc_id, text FROM documents
      WHERE doc_id < 50
    ),
    gcoll AS (
      SELECT COUNT(*) AS n FROM good g
      WHERE EXISTS (SELECT 1 FROM v6 t WHERE t.doc_id = g.doc_id)
    )
    SELECT 'bad' AS candidate,
           CAST((SELECT COUNT(*) FROM bad) AS BIGINT) AS staged_rows,
           CAST((SELECT COUNT(*) FROM bad WHERE text IS NULL) AS BIGINT)
             AS null_violations,
           CAST((SELECT COUNT(*) FROM bad b
                 WHERE EXISTS (SELECT 1 FROM v6 t
                               WHERE t.doc_id = b.doc_id)) AS BIGINT)
             AS key_collisions,
           FALSE AS published,
           CAST((SELECT COUNT(*) FROM v6) AS BIGINT) AS visible_docs
    UNION ALL
    SELECT 'good',
           CAST((SELECT COUNT(*) FROM good) AS BIGINT),
           0,
           CAST((SELECT n FROM gcoll) AS BIGINT),
           (SELECT n FROM gcoll) = 0,
           CAST((SELECT COUNT(*) FROM v6)
                + CASE WHEN (SELECT n FROM gcoll) = 0
                       THEN (SELECT COUNT(*) FROM good) ELSE 0 END
                AS BIGINT)
    ORDER BY candidate
    """,
    doc="Write-audit-publish (oracle recomputes the audit VERDICT, not just the counts — exact at any scale factor): a corrupt candidate batch (NULL texts, "
    "key collisions) is staged, audited against the live snapshot "
    "and REJECTED — readers never see it, no rollback needed; a "
    "clean batch stages, audits green and publishes as the next "
    "manifest version. Exact violation counts and the visible row "
    "count after each attempt are the hash-checked output.",
    tags=("sink", "source", "versioned", "bench"),
)
def sink_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAP gate run for one failing and one passing candidate.

    Scale: staging cost is the batch write (never table size);
    visibility is a manifest commit (metadata); the audit's
    key-collision probe is a semi-join that the skipping index can
    serve at scale. This is the ingestion discipline that makes the
    expectations report (source_expectations) a GATE instead of a
    dashboard."""
    from ..queries.llm import _overlap

    root = mor_update_root(spark, sf_dir)
    docs = spark.table("documents")
    bad = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 210)).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    good = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    # Round-14 fusion (guide §2.4/§2.6): both candidates audit against
    # the SAME v6 snapshot, so the two single-candidate audit jobs
    # (each re-scanning v6 for its distinct keys) fuse into ONE
    # aggregation grouped by candidate, and the per-attempt
    # read_version().count() pair collapses to ONE v6 count run in
    # PARALLEL with the audit (the v7 count is v6 + staged_rows by
    # the manifest append arithmetic the publish itself performs:
    # v7.files == v6.files + stage files, verified by
    # tests/test_round14_opt.py::test_wap_fused_matches_sequential).
    staged = {
        name: _wap_stage(spark, root, cand, name).withColumn(
            "candidate", F.lit(name)
        )
        for name, cand in (("bad", bad), ("good", good))
    }
    table = read_version(spark, root, 6)
    audit_df = _audit(
        staged["bad"].unionByName(staged["good"]), table, "candidate"
    )
    audit_rows, v6_count = _overlap(
        lambda: {r["candidate"]: r for r in audit_df.collect()},
        lambda: table.count(),
    )
    rows = []
    for name in ("bad", "good"):
        # a candidate that staged zero rows emits no audit group —
        # degrade to the sequential form's n_staged=0 clean report
        # instead of a KeyError (ADVICE r14 #4)
        rep = audit_rows.get(name)
        n_staged, v_null, v_dup = (
            map(int, rep[1:]) if rep is not None else (0, 0, 0)
        )
        # A candidate is published only if v7 really is THIS stage
        # appended to v6: another commit may hold v7 (crashed prior
        # run, non-identical stage, the other candidate). A published
        # batch reports v6 + its own staged rows (the append
        # arithmetic), a rejected one the snapshot it audited
        # against, and a clean one that lost v7 the real v7 count.
        clean = v_null + v_dup == 0
        published = clean and _wap_publish(root, 6, 7, name)
        visible = v6_count
        if published:
            visible = v6_count + n_staged
        elif clean:
            visible = read_version(spark, root, 7).count()
        rows.append((name, n_staged, v_null, v_dup, published, visible))
    return local_frame(
        spark,
        rows,
        "candidate string, staged_rows long, null_violations long, "
        "key_collisions long, published boolean, visible_docs long",
    ).orderBy("candidate")


def equality_delete_root(spark: SparkSession, sf_dir: str) -> str:
    """Version 8 — EQUALITY deletes, the second Iceberg-v2 delete
    flavor: ``DELETE WHERE doc_id % 100 = 11 AND doc_id < 20000``
    (the bound is part of the spec) committed as a sidecar
    of KEY VALUES (not positions). The writer never scans the table —
    position deletes (v4) cost a predicate scan to harvest row
    indexes; equality deletes cost only the key-list write, which is
    why streaming CDC upserts emit them. The read pays instead: a key
    anti-join after the positional-DV pass (real formats compact
    equality deletes into position deletes at maintenance time —
    that is v5's materialization path here).

    The key list is written from the PREDICATE, not from a table
    scan: the commit is O(|keys|) even at 100 TB."""
    import json

    root = mor_update_root(spark, sf_dir)
    if os.path.exists(os.path.join(root, "v8.json")):
        return root
    with open(os.path.join(root, "v6.json")) as fh:
        m6 = json.load(fh)
    # keys straight from the predicate domain — no table scan. The
    # delete spec is "doc_id % 100 = 11 AND doc_id < 20000": the
    # domain bound is PART of the predicate (and of the oracle), so
    # the key expansion is exact at every scale factor rather than
    # accidentally covering the fixture's key range.
    keys = spark.range(0, 20000).select(
        F.col("id").alias("doc_id")
    ).filter(F.col("doc_id") % 100 == 11)
    _write_stage(keys, os.path.join(root, "eq8"))
    try:
        _write_manifest(
            root,
            8,
            {
                "version": 8,
                "files": sorted(m6["files"]),
                "delete_vectors": m6["delete_vectors"],
                "equality_deletes": "eq8",
                "deleted_from": 6,
                "schema": m6["schema"],
            },
        )
    except CommitConflict:
        pass
    return root


@register(
    "source_equality_deletes",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v4 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3),
    v6 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN lower(text) ELSE text END AS text
      FROM v4
    ),
    v8 AS (SELECT doc_id, text FROM v6
           WHERE NOT (doc_id % 100 = 11 AND doc_id < 20000))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len,
           CAST(MIN(doc_id) AS BIGINT) AS min_key,
           MIN(md5(text)) AS min_md5
    FROM v8
    """,
    doc="Equality deletes (Iceberg-v2's second delete flavor): a "
    "key-value sidecar committed WITHOUT any table scan (O(|keys|) "
    "commit — the streaming-CDC shape), applied at read as a key "
    "anti-join after the positional-DV pass; composes with the v6 "
    "positional sidecar on the same manifest, zero files rewritten "
    "(pinned by test).",
    tags=("sink", "source", "versioned", "bench"),
)
def source_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v8 snapshot summary after the equality delete.

    Scale: commit cost is the key-list write alone — no scan, no
    positions; the read-side anti-join is the price until the next
    materialization window compacts keys into positions (v5's
    rewrite path). Both delete flavors compose on one manifest —
    exactly the Iceberg v2 read contract."""
    root = equality_delete_root(spark, sf_dir)
    return read_version(spark, root, 8).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_len"),
        F.min("doc_id").cast("long").alias("min_key"),
        F.min(F.md5("text")).alias("min_md5"),
    )


def compact_equality_deletes(spark: SparkSession, sf_dir: str) -> str:
    """Version 9 — delete-sidecar maintenance: the v8 EQUALITY
    deletes are compacted into POSITION deletes (one scan harvests
    the row positions of equality-deleted keys; the widened
    positional sidecar replaces both v8 sidecars) — exactly the
    maintenance pass real formats run so reads stop paying the key
    anti-join. v9 must read back row-identical to v8: same rows,
    cheaper read path."""
    import json

    root = equality_delete_root(spark, sf_dir)
    if os.path.exists(os.path.join(root, "v9.json")):
        return root
    with open(os.path.join(root, "v8.json")) as fh:
        m8 = json.load(fh)
    eq = read_written(
        spark, _EQ_SCHEMA, os.path.join(root, m8["equality_deletes"])
    )
    base = read_written(spark, m8["schema"], *m8["files"]).select(
        "doc_id",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    # positions of equality-deleted keys (the one scan this pays)
    eq_pos = base.join(eq, "doc_id", "left_semi").select(
        "file_path", "row_index"
    )
    dv_old = read_written(
        spark, _DV_SCHEMA, os.path.join(root, m8["delete_vectors"])
    )
    _write_stage(
        dv_old.unionByName(eq_pos).distinct(), os.path.join(root, "dv9")
    )
    try:
        _write_manifest(
            root,
            9,
            {
                "version": 9,
                "files": sorted(m8["files"]),
                "delete_vectors": "dv9",
                "compacted_deletes_from": 8,
                "schema": m8["schema"],
            },
        )
    except CommitConflict:
        pass
    return root


@register(
    "source_eq_compaction",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v4 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3),
    v6 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN lower(text) ELSE text END AS text
      FROM v4
    ),
    v8 AS (SELECT doc_id, text FROM v6
           WHERE NOT (doc_id % 100 = 11 AND doc_id < 20000))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len,
           MIN(md5(text)) AS min_md5
    FROM v8
    """,
    doc="Delete-sidecar compaction: v8's equality deletes rewritten "
    "as position deletes in one harvesting scan (v9 — same files, "
    "one widened positional sidecar, no key anti-join left on the "
    "read path); the oracle recomputes v8's content, so the gate "
    "proves compaction changed the read PLAN and not one row.",
    tags=("sink", "source", "versioned", "bench"),
)
def source_eq_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v9 snapshot summary — row-identical to v8 by contract.

    Scale: the compaction scan is the deferred cost the scan-free
    equality-delete commit traded away; running it in a maintenance
    window converts every subsequent read's key anti-join into the
    cheaper positional filter. Same files, new sidecar, one
    manifest."""
    root = compact_equality_deletes(spark, sf_dir)
    return read_version(spark, root, 9).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_len"),
        F.min(F.md5("text")).alias("min_md5"),
    )


def tag_version(root: str, name: str, version: int) -> None:
    """Named snapshot ref (Iceberg tags): ``refs/<name>.json`` maps a
    human name to a version so time travel reads by MEANING
    ("pre-gdpr-sweep") instead of by number. Tags are immutable —
    the same atomic-exclusive hard-link commit as manifests; a
    re-tag to the SAME version is a no-op, to a different one a
    CommitConflict (rename the tag instead of moving it — moving
    would silently change what an auditor's saved query reads)."""
    import json

    refs = os.path.join(root, "refs")
    os.makedirs(refs, exist_ok=True)
    final = os.path.join(refs, f"{name}.json")
    try:
        _link_json(
            final,
            {"name": name, "version": version},
            f"tag {name!r} already points elsewhere",
        )
    except CommitConflict:
        with open(final) as fh:
            if json.load(fh)["version"] != version:
                raise


def read_tag(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Time travel by tag name."""
    import json

    with open(os.path.join(root, "refs", f"{name}.json")) as fh:
        return read_version(spark, root, json.load(fh)["version"])


@register(
    "source_snapshot_tags",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v4 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3),
    v6 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN lower(text) ELSE text END AS text
      FROM v4
    )
    SELECT 'audit-baseline' AS tag, 2 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(md5(text)) AS min_md5
    FROM v2
    UNION ALL
    SELECT 'pre-gdpr-sweep', 4, CAST(COUNT(*) AS BIGINT), MIN(md5(text))
    FROM v4
    UNION ALL
    SELECT 'prod', 6, CAST(COUNT(*) AS BIGINT), MIN(md5(text)) FROM v6
    ORDER BY tag
    """,
    doc="Named snapshot refs (Iceberg tags): immutable name -> "
    "version pointers committed with the same atomic-exclusive "
    "protocol as manifests; time travel reads by meaning "
    "('pre-gdpr-sweep') and each tagged read is content-checked "
    "against the recomputed snapshot.",
    tags=("sink", "source", "versioned", "bench"),
)
def source_snapshot_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three tagged snapshots read back by name.

    Scale: a tag is one JSON file — naming a 100 TB snapshot costs
    nothing and pins it against retention (VACUUM keeps tagged
    versions' files); the audit/compliance primitive on top of time
    travel."""
    root = mor_update_root(spark, sf_dir)
    for name, v in (
        ("audit-baseline", 2),
        ("pre-gdpr-sweep", 4),
        ("prod", 6),
    ):
        tag_version(root, name, v)
    out = None
    for name, v in (
        ("audit-baseline", 2),
        ("pre-gdpr-sweep", 4),
        ("prod", 6),
    ):
        agg = read_tag(spark, root, name).agg(
            F.lit(name).alias("tag"),
            F.lit(v).alias("version"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.md5("text")).alias("min_md5"),
        ).select("tag", "version", "n_docs", "min_md5")
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("tag")


# ---------------------------------------------------------------------------
# Snapshot BRANCHES (round 10, VERDICT r9 #7) — the mutable half of
# the ref surface the tags work started (Iceberg branch refs).
#
# A tag is an immutable name -> version pointer; a branch is a
# MUTABLE pointer advanced by compare-and-swap. The CAS reuses the
# atomic-exclusive hard-link protocol: a branch is a directory of
# numbered ref files ``branches/<name>/<seq>.json`` and the head is
# the highest seq; advancing links ``<seq+1>.json`` EXCLUSIVELY, so
# two racers produce exactly one winner and one CommitConflict —
# the loser re-reads the head and rebases, the same optimistic
# protocol as manifest commits. Snapshots stay GLOBAL (numbered
# manifests); branch manifests record their ``parent``, which makes
# fast-forward merges a pure ancestry walk + one ref CAS — O(branch
# length) metadata reads, zero data movement, exactly Iceberg's
# ``fast_forward`` procedure.
# ---------------------------------------------------------------------------
def _branch_dir(root: str, name: str) -> str:
    return os.path.join(root, "branches", name)


def branch_head(root: str, name: str) -> tuple[int, int] | None:
    """(version, seq) of the branch head, or None if no such branch.
    The head is the HIGHEST seq — a torn/partial advance is
    impossible because each seq file is link-committed whole."""
    import glob as _glob
    import json

    files = _glob.glob(os.path.join(_branch_dir(root, name), "*.json"))
    if not files:
        return None
    seq = max(int(os.path.basename(f)[:-5]) for f in files)
    with open(os.path.join(_branch_dir(root, name), f"{seq}.json")) as fh:
        return json.load(fh)["version"], seq


def branch_init(root: str, name: str, version: int) -> None:
    """Create a branch pointing at ``version``. Idempotent: an
    existing branch (at ANY head — it may have advanced) is left
    alone; only the birth is committed, exclusively."""
    if branch_head(root, name) is not None:
        return
    os.makedirs(_branch_dir(root, name), exist_ok=True)
    try:
        _write_ref_seq(root, name, 1, version)
    except CommitConflict:
        pass  # concurrent identical init won the race


def _write_ref_seq(root: str, name: str, seq: int, version: int) -> None:
    _link_json(
        os.path.join(_branch_dir(root, name), f"{seq}.json"),
        {"name": name, "seq": seq, "version": version},
        f"branch {name!r} ref seq {seq} was advanced by another writer",
    )


def branch_advance(
    root: str, name: str, expect_version: int, new_version: int
) -> None:
    """Compare-and-swap the branch head: succeeds only if the head
    still points at ``expect_version`` (no-op if it already points
    at ``new_version`` — idempotent re-publish)."""
    head = branch_head(root, name)
    if head is None:
        raise CommitConflict(f"branch {name!r} does not exist")
    version, seq = head
    if version == new_version:
        return
    if version != expect_version:
        raise CommitConflict(
            f"branch {name!r} moved: head is v{version}, "
            f"expected v{expect_version}"
        )
    _write_ref_seq(root, name, seq + 1, new_version)


def read_branch(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Time travel to a branch head."""
    head = branch_head(root, name)
    if head is None:
        raise FileNotFoundError(f"branch {name!r} does not exist")
    return read_version(spark, root, head[0])


def delete_branch(root: str, name: str) -> None:
    """Drop a branch ref (the ref lifecycle's retirement step): the
    directory of seq files goes away atomically-enough via rename —
    a concurrent reader either still resolves the old head or sees
    no branch, never a partial ref — and the next VACUUM may reclaim
    files only this head pinned. The snapshots themselves are
    untouched (they are global; a tag or another branch may still
    pin them)."""
    import shutil
    import uuid

    d = _branch_dir(root, name)
    if not os.path.isdir(d):
        return  # idempotent
    tomb = f"{d}.deleted.{uuid.uuid4().hex[:8]}"
    try:
        os.rename(d, tomb)
    except FileNotFoundError:
        return  # concurrent delete won
    shutil.rmtree(tomb, ignore_errors=True)


def branch_commit(
    spark: SparkSession,
    root: str,
    branch: str,
    staged: DataFrame,
    stage_name: str,
    version_to: int,
) -> int:
    """WAP-append ``staged`` to a BRANCH: stage immutably, audit
    (NULL completeness + key collision) against the BRANCH head —
    not main, so an experiment never blocks production ingest —
    then commit the global manifest v{version_to} (parent = branch
    head) and CAS the branch ref. Main never sees the rows: its ref
    is untouched. Returns the new branch head version. Idempotent:
    a re-run whose manifest exists just re-asserts the ref, and a
    replay of a commit the branch already holds (v{version_to} is
    the head or one of its ancestors) leaves the ref alone and
    returns the head. A v{version_to} that is not this stage
    appended (another branch's commit won the version) raises
    CommitConflict, ref unmoved."""
    head = branch_head(root, branch)
    if head is None:
        raise CommitConflict(f"branch {branch!r} does not exist")
    parent = head[0]
    stage_dir = os.path.join(root, f"stage_{stage_name}")
    replay = os.path.exists(os.path.join(root, f"v{version_to}.json"))
    if not replay:
        table = read_version(spark, root, parent)

        def violations(sdf) -> int:
            _, v_null, v_dup = _audit(sdf, table).first()
            return v_null + v_dup

        def audit_stage() -> int:
            return violations(read_written(spark, staged.schema, stage_dir))

        if os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
            # replayed batch: audit the durable files
            bad = audit_stage()
        else:
            # Round 15 (guide §2.6, VERDICT r14 next #5): the stage
            # write and the audit aggregation are independent jobs
            # over the SAME deterministic batch (the files the write
            # produces ARE the rows the audit lineage reads), so run
            # them in parallel driver threads instead of
            # write-then-read-back. The audit verdict and the staged
            # bytes are unchanged; a failing audit leaves the staged
            # files exactly like the sequential form.
            from ..queries.llm import _overlap

            renamed, bad = _overlap(
                lambda: _write_stage(staged, stage_dir),
                lambda: violations(staged),
            )
            if not renamed:
                # Lost the rename: stage_dir holds another writer's
                # files, which the overlapped audit never saw. They
                # are what the manifest commits, so audit them.
                if not os.path.isdir(stage_dir):
                    raise RuntimeError(
                        f"branch WAP stage {stage_name!r} was not written"
                    )
                bad = audit_stage()
        if bad:
            raise RuntimeError(
                f"branch WAP audit failed for {stage_name!r}: "
                f"{bad} violations"
            )
    if not _append_commit(
        root,
        parent,
        version_to,
        _stage_files(root, stage_name),
        parent=parent,
        branch=branch,
    ):
        raise CommitConflict(
            f"v{version_to} is not stage {stage_name!r} on {branch!r}"
        )
    if replay and _is_ancestor(root, version_to, parent):
        return parent
    branch_advance(root, branch, parent, version_to)
    return version_to


def _is_ancestor(root: str, v: int, head: int) -> bool:
    """Whether v{v} is ``head`` or on its ``parent`` chain — the
    manifests' ancestry walk, O(chain length) metadata reads."""
    import json

    while head != v:
        path = os.path.join(root, f"v{head}.json")
        if not os.path.exists(path):
            raise CommitConflict(f"missing manifest v{head} in ancestry walk")
        with open(path) as fh:
            head = json.load(fh).get("parent")
        if head is None:
            return False
    return True


def fast_forward(root: str, into: str, frm: str) -> int:
    """Fast-forward merge: advance branch ``into`` to ``frm``'s head
    — allowed only when ``into``'s head is an ANCESTOR of ``frm``'s
    (walked via the ``parent`` chain in the manifests). A diverged
    target raises CommitConflict: fast-forward never rewrites
    history, exactly Iceberg's fast_forward procedure. Pure
    metadata: one ancestry walk + one ref CAS, no data movement.
    Returns the merged head version."""
    src = branch_head(root, frm)
    dst = branch_head(root, into)
    if src is None or dst is None:
        raise CommitConflict("both branches must exist")
    target, cur = src[0], dst[0]
    if target == cur:
        return cur
    if not _is_ancestor(root, cur, target):
        raise CommitConflict(
            f"{into!r} (v{cur}) is not an ancestor of {frm!r} "
            f"(v{target}): not a fast-forward"
        )
    branch_advance(root, into, cur, target)
    return target


def cherry_pick(
    spark: SparkSession,
    root: str,
    into: str,
    version: int,
    version_to: int,
) -> int:
    """Cherry-pick: re-apply the APPENDED file group of commit
    ``version`` onto branch ``into``'s head as a NEW commit — the
    Iceberg ``cherrypick_snapshot`` procedure, and the non-ancestry
    complement of fast-forward (the merge for a DIVERGED target).
    Only append-type commits are pickable (a delete/update commit's
    effect is positional against ITS base files and cannot be
    replayed by file reference — Iceberg refuses those too). The
    staged files are reused BY REFERENCE: zero data movement, one
    audit, one manifest, one ref CAS. Audits key collisions against
    the target head (the appended keys may already exist there).
    Idempotent: if ``version_to`` is this pick, the ref is just
    re-asserted (left alone when the branch already holds it as its
    head or an ancestor); if it is another commit, CommitConflict."""
    import json

    head = branch_head(root, into)
    if head is None:
        raise CommitConflict(f"branch {into!r} does not exist")
    cur = head[0]
    with open(os.path.join(root, f"v{version}.json")) as fh:
        src = json.load(fh)
    appended = sorted(src.get("appended") or [])
    if not appended:
        raise CommitConflict(
            f"v{version} is not an append commit: cannot cherry-pick"
        )
    replay = os.path.exists(os.path.join(root, f"v{version_to}.json"))
    if not replay:
        picked = read_written(spark, src["schema"], *appended)
        _, _, dup = _audit(picked, read_version(spark, root, cur)).first()
        if dup:
            raise RuntimeError(
                f"cherry-pick audit failed: {dup} keys of v{version} "
                f"already exist on {into!r}"
            )
    if not _append_commit(
        root, cur, version_to, appended, parent=cur, cherry_picked_from=version
    ):
        raise CommitConflict(f"v{version_to} is not the pick of v{version}")
    if replay and _is_ancestor(root, version_to, cur):
        return cur
    branch_advance(root, into, cur, version_to)
    return version_to


def branched_corpus_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (idempotently) the branch scenario on the MOR corpus:
    main born at the v6 'prod' snapshot; 'dev' WAP-commits a clean
    batch as v10 and is fast-forwarded into main; 'experiment'
    WAP-commits v11 and is NEVER merged — its rows must stay
    invisible on main."""
    root = mor_update_root(spark, sf_dir)
    branch_init(root, "main", 6)
    branch_init(root, "dev", 6)
    branch_init(root, "experiment", 6)
    docs = spark.table("documents")
    dev_batch = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 40000).alias("doc_id"), "text"
    )
    exp_batch = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text"
    )
    branch_commit(spark, root, "dev", dev_batch, "branch_dev", 10)
    branch_commit(spark, root, "experiment", exp_batch, "branch_exp", 11)
    fast_forward(root, "main", "dev")
    return root


@register(
    "source_snapshot_branches",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v4 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3),
    v6 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN lower(text) ELSE text END AS text
      FROM v4
    ),
    dev AS (SELECT * FROM v6 UNION ALL
            SELECT doc_id + 40000, text FROM documents WHERE doc_id < 40),
    exp AS (SELECT * FROM v6 UNION ALL
            SELECT doc_id + 50000, text FROM documents WHERE doc_id < 30)
    SELECT 'branch-point' AS ref, 6 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id >= 40000 AND doc_id < 50000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dev_rows,
           CAST(SUM(CASE WHEN doc_id >= 50000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exp_rows,
           MIN(md5(text)) AS min_md5
    FROM v6
    UNION ALL
    SELECT 'dev', 10, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 40000 AND doc_id < 50000
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 50000 THEN 1 ELSE 0 END)
                AS BIGINT),
           MIN(md5(text))
    FROM dev
    UNION ALL
    SELECT 'experiment', 11, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 40000 AND doc_id < 50000
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 50000 THEN 1 ELSE 0 END)
                AS BIGINT),
           MIN(md5(text))
    FROM exp
    UNION ALL
    SELECT 'main-after-ff', 10, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 40000 AND doc_id < 50000
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 50000 THEN 1 ELSE 0 END)
                AS BIGINT),
           MIN(md5(text))
    FROM dev
    ORDER BY ref
    """,
    doc="Snapshot BRANCHES (round 10, VERDICT r9 #7 — completes the "
    "ref surface the r9 tags started): mutable branch refs advanced "
    "by hard-link CAS over global numbered snapshots; 'dev' "
    "WAP-publishes a batch to ITS head (v10) and is fast-forwarded "
    "into main (pure ancestry-walk + ref CAS, no data movement); "
    "'experiment' publishes v11 and is never merged — the "
    "main-after-ff row pins n_exp_rows = 0, so an unmerged branch "
    "write is provably invisible on main.",
    tags=("sink", "source", "versioned", "bench"),
    prepare=branched_corpus_root,
)
def source_snapshot_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four branch states read back by ref.

    Scale: a branch is a directory of tiny JSON refs — branching a
    100 TB table is free; a branch commit costs the staged batch
    plus one manifest write; the merge is metadata-only. VACUUM
    honors branch heads like tags, so an unmerged branch pins its
    files against retention."""
    root = branched_corpus_root(spark, sf_dir)
    probes = (
        ("branch-point", read_version(spark, root, 6), 6),
        ("dev", read_branch(spark, root, "dev"), 10),
        ("experiment", read_branch(spark, root, "experiment"), 11),
        ("main-after-ff", read_branch(spark, root, "main"), 10),
    )
    out = None
    for ref, df, v in probes:
        agg = df.agg(
            F.lit(ref).alias("ref"),
            F.lit(v).alias("version"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                ((F.col("doc_id") >= 40000) & (F.col("doc_id") < 50000))
                .cast("long")
            ).alias("n_dev_rows"),
            F.sum((F.col("doc_id") >= 50000).cast("long")).alias(
                "n_exp_rows"
            ),
            F.min(F.md5("text")).alias("min_md5"),
        ).select(
            "ref", "version", "n_docs", "n_dev_rows", "n_exp_rows", "min_md5"
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("ref")


@register(
    "source_branch_cherry_pick",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    ),
    v4 AS (SELECT doc_id, text FROM v2 WHERE doc_id % 10 <> 3),
    v6 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN lower(text) ELSE text END AS text
      FROM v4
    ),
    dev AS (SELECT * FROM v6 UNION ALL
            SELECT doc_id + 40000, text FROM documents WHERE doc_id < 40),
    exp AS (SELECT * FROM v6 UNION ALL
            SELECT doc_id + 50000, text FROM documents WHERE doc_id < 30),
    both_b AS (SELECT * FROM dev UNION ALL
               SELECT doc_id + 50000, text FROM documents WHERE doc_id < 30)
    SELECT 'experiment' AS ref, 11 AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id >= 50000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exp_rows,
           MIN(md5(text)) AS min_md5
    FROM exp
    UNION ALL
    SELECT 'main', 10, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 50000 THEN 1 ELSE 0 END)
                AS BIGINT),
           MIN(md5(text))
    FROM dev
    UNION ALL
    SELECT 'release-after-pick', 12, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 50000 THEN 1 ELSE 0 END)
                AS BIGINT),
           MIN(md5(text))
    FROM both_b
    ORDER BY ref
    """,
    doc="Branch cherry-pick (round 10 — the Iceberg "
    "cherrypick_snapshot procedure, the merge for a DIVERGED "
    "target where fast-forward refuses): the unmerged experiment "
    "branch's append commit (v11) is re-applied onto a 'release' "
    "branch born at main's head, as a NEW commit (v12) by FILE "
    "REFERENCE — zero data movement, one key-collision audit, one "
    "manifest, one ref CAS; release serves dev + experiment rows "
    "while main (still v10, read through ITS ref in the same "
    "output) and the experiment branch (v11) are provably "
    "untouched.",
    tags=("sink", "source", "versioned", "bench"),
    prepare=branched_corpus_root,
)
def source_branch_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cherry-pick of the experiment batch onto a release branch.

    Scale: the pick reuses the staged files by reference — commit
    cost is the audit semi-probe plus one manifest write, never the
    batch or table size; the ancestry rules (append-only commits)
    are exactly what makes file-reference replay sound."""
    root = branched_corpus_root(spark, sf_dir)
    branch_init(root, "release", 10)
    cherry_pick(spark, root, "release", 11, 12)
    probes = (
        ("experiment", read_branch(spark, root, "experiment"), 11),
        ("main", read_branch(spark, root, "main"), 10),
        ("release-after-pick", read_branch(spark, root, "release"), 12),
    )
    out = None
    for ref, df, v in probes:
        agg = df.agg(
            F.lit(ref).alias("ref"),
            F.lit(v).alias("version"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("doc_id") >= 50000).cast("long")).alias(
                "n_exp_rows"
            ),
            F.min(F.md5("text")).alias("min_md5"),
        ).select("ref", "version", "n_docs", "n_exp_rows", "min_md5")
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("ref")


def vacuum(root: str, keep: int) -> list[str]:
    """Delete every data file not referenced by version ``keep``'s
    manifest OR by any TAGGED version or BRANCH HEAD (the Delta
    VACUUM contract with Iceberg's ref-retention rule: untagged,
    unbranched snapshots older than the retained version stop being
    readable; a ref pins its snapshot's files). Returns deleted
    paths."""
    import glob as _glob
    import json

    referenced: set[str] = set()
    keep_versions = {keep}
    refs_dir = os.path.join(root, "refs")
    if os.path.isdir(refs_dir):
        for rf in _glob.glob(os.path.join(refs_dir, "*.json")):
            with open(rf) as fh:
                keep_versions.add(json.load(fh)["version"])
    branches_dir = os.path.join(root, "branches")
    if os.path.isdir(branches_dir):
        for name in os.listdir(branches_dir):
            head = branch_head(root, name)
            if head is not None:
                keep_versions.add(head[0])
    for v in keep_versions:
        with open(os.path.join(root, f"v{v}.json")) as fh:
            referenced |= set(json.load(fh)["files"])
    deleted = []
    for f in _glob.glob(os.path.join(root, "gen*", "**", "*.parquet"), recursive=True):
        if f not in referenced:
            os.remove(f)
            deleted.append(f)
    return deleted


@register(
    "source_compaction",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len,
           MIN(md5(text)) AS min_md5
    FROM v2
    """,
    doc="Small-file compaction (OPTIMIZE): the merge-fragmented v2 "
    "rewritten as few range-sorted files in a NEW version — content "
    "bit-identical (hash-checked against the recomputed merge), file "
    "count reduced (test-pinned), old snapshots untouched until "
    "vacuum reclaims them.",
    tags=("sink", "source", "versioned"),
)
def source_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compacted v3 read back and content-probed.

    Scale: compaction is the maintenance job every COW table needs —
    merge commits fragment buckets into small files, and scan
    efficiency at 100 TB wants ~128 MB range-sorted files. The
    rewrite is a new VERSION, not an in-place mutation: readers of
    v2 are unaffected (same isolation contract as any commit), and
    the old files are reclaimed later by vacuum under a retention
    policy."""
    root = versioned_corpus_root(spark, sf_dir)
    compact_version(spark, root)
    return read_version(spark, root, 3).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_len"),
        F.min(F.md5("text")).alias("min_md5"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter file-skipping index (round 7) — the data-skipping
# secondary index Delta/Iceberg attach to files for point lookups on
# NON-layout columns: lineitem laid out by ship month (the natural
# time order a 100 TB fact table arrives in), point-queried by
# l_orderkey (uncorrelated with ship month, so footer min/max pruning
# is useless — an orderkey's lineitems land in a handful of arbitrary
# months). A per-month Bloom bitmap over the orderkeys answers "which
# month files can possibly contain key k" with no false negatives;
# the reader scans only those directories.
#
# Scale design (the index itself must be distributed):
# * The index is a PARQUET table (ship_month, bit) — never collected.
#   The lookup filters it to the query key's k probe bits and
#   collects only the qualifying MONTH NAMES (<= #partitions rows,
#   metadata-sized — the same bounded-collect contract as the
#   versioned layer's touched-bucket list).
# * m self-scales from the data: bits-per-partition = next power of
#   two >= _BLOOM_LOAD x the max per-month key count (fpp ~ (1 -
#   e^(-k/load))^k ~ 0.5% at load 16, k 3) — the knob derivation
#   VERDICT r6 #4 asks operators to own, not hardcode.
# * Probes use the portable md5 hash (identical in Spark and any
#   replayer), computed JVM-side at build and driver-side (3 tiny
#   hashes) at lookup.
# ---------------------------------------------------------------------------
_BLOOM_DIR_CONF = "spark.datafusion_rdbms_ext.bloom_dir"
_BLOOM_K = 3  # probes per key
_BLOOM_LOAD = 16  # bits per distinct key


def _bloom_bit_spark(col, i: int, m: int):
    """Probe i of ``col`` into [0, m): portable 60-bit md5 hash mod m."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"bloom{i}:"), col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % m


def _bloom_bits_py(value, m: int) -> list[int]:
    """Driver-side mirror of the Spark probe (bit positions of a key)."""
    import hashlib

    return [
        int(hashlib.md5(f"bloom{i}:{value}".encode()).hexdigest()[:15], 16) % m
        for i in range(_BLOOM_K)
    ]


def bloom_lineitem_root(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Write lineitem month-partitioned + its Bloom index, once per
    (session, sf_dir). Returns (root, m)."""
    key = f"{_BLOOM_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing.rsplit("|", 1)[0]):
        root, m = existing.rsplit("|", 1)
        return root, int(m)
    root = tempfile.mkdtemp(prefix="sink_bloom_")
    li = spark.table("lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    # One shuffle keyed on the partition value -> ~one file per month
    # (the small-file-pressure tradeoff the partitioned sink documents).
    (
        li.repartition("ship_month")
        .write.mode("overwrite")
        .partitionBy("ship_month")
        .parquet(os.path.join(root, "data"))
    )
    keys = li.select("ship_month", "l_orderkey").distinct()
    # m derives from the fattest partition's key count (deterministic
    # given the data; cheap: reuses the distinct above).
    max_ndv = (
        keys.groupBy("ship_month")
        .agg(F.count(F.lit(1)).alias("ndv"))
        .agg(F.max("ndv"))
        .collect()[0][0]
    )
    m = 1 << max(int(max_ndv * _BLOOM_LOAD) - 1, 1).bit_length()
    bits = keys.select(
        "ship_month",
        F.explode(
            F.array(
                *[
                    _bloom_bit_spark(F.col("l_orderkey"), i, m)
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("bit"),
    ).distinct()
    bits.repartition(1).write.mode("overwrite").parquet(
        os.path.join(root, "index")
    )
    # The month directories hold lineitem's columns (ship_month lives
    # in the path).
    _record_schemas(root, data=spark.table("lineitem"), index=bits)
    spark.conf.set(key, f"{root}|{m}")
    return root, m


_BLOOM_LOOKUP_KEY = 1  # orderkey present at every sf (3-6 lineitems)


def bloom_lookup_months(
    spark: SparkSession, root: str, m: int, orderkey: int
) -> list[str]:
    """Months whose Bloom bitmap contains ALL probe bits of the key —
    a no-false-negative superset of the months that hold it."""
    probes = sorted(set(_bloom_bits_py(orderkey, m)))
    idx = read_written(
        spark, composed_schema(root, "index"), os.path.join(root, "index")
    )
    rows = (
        idx.filter(F.col("bit").isin(probes))
        .groupBy("ship_month")
        .agg(F.countDistinct("bit").alias("nb"))
        .filter(F.col("nb") == len(probes))
        .select("ship_month")
        .collect()
    )
    return sorted(r[0] for r in rows)


@register(
    "sink_bloom_skip_index",
    oracle=f"""
    SELECT CAST(l_linenumber AS INTEGER) AS l_linenumber,
           l_quantity,
           l_extendedprice,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM lineitem WHERE l_orderkey = {_BLOOM_LOOKUP_KEY}
    ORDER BY l_linenumber
    """,
    doc="Bloom-filter file-skipping index: lineitem written "
    "month-partitioned, a distributed per-month Bloom bitmap over "
    "l_orderkey (m self-scaled to 16 bits/key), and a point lookup "
    "that reads ONLY the months whose bitmap matches — no false "
    "negatives by construction, ~0.5% false-positive extra reads. "
    "Skipping (months read << 83) asserted in "
    "tests/test_skew_and_sinks.py.",
    tags=("sink", "source", "bench"),
)
def sink_bloom_skip_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup of one orderkey through the Bloom skip index.

    Scale: the data scan touches only the ~4 matching month
    directories out of 83 (at 100 TB: a few hundred GB instead of the
    full table); the index scan is (months x ndv x k) rows of two
    small columns, pruned to 3 bit values at the source; the driver
    receives only qualifying month NAMES. Everything else — layout
    write, bitmap build — is one-time, embarrassingly parallel, and
    shared across lookups."""
    root, m = bloom_lineitem_root(spark, sf_dir)
    months = bloom_lookup_months(spark, root, m, _BLOOM_LOOKUP_KEY)
    paths = [os.path.join(root, "data", f"ship_month={mo}") for mo in months]
    return (
        read_written(spark, composed_schema(root, "data"), *paths)
        .filter(F.col("l_orderkey") == _BLOOM_LOOKUP_KEY)
        .select(
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
            "l_quantity",
            "l_extendedprice",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
        .orderBy("l_linenumber")
    )


# ---------------------------------------------------------------------------
# Table history introspection (round 7) — the DESCRIBE HISTORY /
# metadata-table surface every versioned format exposes (Delta
# history, Iceberg snapshots): walk the manifest chain and report,
# per version, the operation that produced it (derived from the
# manifest's own fields, the way Delta's commitInfo does) plus
# content stats proving each snapshot is exactly what its operation
# claims (v3 = OPTIMIZE must be row-identical to v2).
# ---------------------------------------------------------------------------
@register(
    "source_table_history",
    oracle="""
    WITH updates AS (
      SELECT doc_id, upper(text) AS text FROM documents
      WHERE doc_id >= 10 AND doc_id < 100
      UNION ALL
      SELECT doc_id + 10000, text FROM documents WHERE doc_id < 20
    ),
    touched AS (
      SELECT doc_id FROM updates
      UNION ALL
      SELECT doc_id FROM documents WHERE doc_id < 10
    ),
    v2 AS (
      SELECT b.doc_id, b.text FROM documents b
      WHERE NOT EXISTS (SELECT 1 FROM touched u WHERE u.doc_id = b.doc_id)
      UNION ALL
      SELECT doc_id, text FROM updates
    )
    SELECT 1 AS version, 'WRITE' AS op,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len,
           MIN(md5(text)) AS min_md5
    FROM documents
    UNION ALL
    SELECT 2, 'MERGE', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(len(text)) AS BIGINT), MIN(md5(text)) FROM v2
    UNION ALL
    SELECT 3, 'OPTIMIZE', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(len(text)) AS BIGINT), MIN(md5(text)) FROM v2
    ORDER BY version
    """,
    doc="Table history introspection (Delta DESCRIBE HISTORY / "
    "Iceberg snapshots parity): the manifest chain read as a history "
    "table — version, operation (WRITE/MERGE/OPTIMIZE, derived from "
    "each manifest's own fields), and per-snapshot content stats. "
    "OPTIMIZE (v3) must be row-identical to the MERGE it compacted.",
    tags=("source", "versioned"),
)
def source_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The version chain as a queryable history table.

    Scale: history is pure metadata — the manifest walk reads a few
    KB of JSON regardless of table size; the content stats are one
    aggregate per snapshot (here, for the differential proof; a
    production history query returns stats RECORDED at commit time
    and reads no data at all)."""
    import json as _json

    root = versioned_corpus_root(spark, sf_dir)
    compact_version(spark, root)
    rows = []
    for v in (1, 2, 3):
        with open(os.path.join(root, f"v{v}.json")) as fh:
            m = _json.load(fh)
        if "compacted_from" in m:
            op = "OPTIMIZE"
        elif "carried_over" in m:
            op = "MERGE"
        else:
            op = "WRITE"
        agg = read_version(spark, root, v).agg(
            F.lit(v).alias("version"),
            F.lit(op).alias("op"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("sum_len"),
            F.min(F.md5("text")).alias("min_md5"),
        )
        rows.append(agg)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("version")


# ---------------------------------------------------------------------------
# Manifest zonemap pruning (round 7) — the third member of the
# data-skipping family: partition pruning (hive layout), Bloom
# point-lookup skipping (sink_bloom_skip_index), and now FILE-LEVEL
# min/max zonemaps recorded in a manifest at write time, the way
# Iceberg manifests and Delta's add-file stats work. A range
# predicate prunes at PLANNING time from a few KB of metadata —
# before any parquet footer is opened, which at 100 TB (hundreds of
# thousands of files) is the difference between a metadata lookup
# and a listing+footer storm.
# ---------------------------------------------------------------------------
_ZONEMAP_FILES = 16
_ZONEMAP_LO, _ZONEMAP_HI = 200, 700  # probe range (valid at every sf)


def zonemap_prune(manifest: dict, lo: int, hi: int) -> list[str]:
    """Files whose [min, max] range overlaps [lo, hi] — the manifest
    half of an Iceberg-style scan plan."""
    return sorted(f for f, (mn, mx) in manifest.items() if mx >= lo and mn <= hi)


@register(
    "sink_zonemap_manifest",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           {sql_dsum("l_quantity")} AS sum_qty
    FROM lineitem
    WHERE l_orderkey BETWEEN {_ZONEMAP_LO} AND {_ZONEMAP_HI}
    """,
    doc="Manifest zonemap pruning (Iceberg add-file stats shape): "
    "lineitem range-clustered on l_orderkey into 16 files, per-file "
    "min/max recorded in a manifest at write time; a range query "
    "prunes to the overlapping files from metadata alone — no file "
    "listing, no footer reads. Pruning factor asserted in "
    "tests/test_skew_and_sinks.py.",
    tags=("sink", "source", "bench"),
)
def sink_zonemap_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range aggregate over only the zonemap-selected files.

    Scale: the range-clustered write makes file key-ranges disjoint,
    so a range predicate touches ~range/totalrange of the files; the
    manifest is KBs regardless of table size and lives where the
    planner runs. The residual in-file filter still pushes into the
    parquet scan (row-group pruning composes under the file-level
    skip)."""
    root, manifest, _ = composed_skip_root(spark, sf_dir)
    files = zonemap_prune(manifest, _ZONEMAP_LO, _ZONEMAP_HI)
    return (
        read_written(spark, composed_schema(root, "data"), *files)
        .filter(F.col("l_orderkey").between(_ZONEMAP_LO, _ZONEMAP_HI))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Composed skipping index (round 8, VERDICT r7 next #6): ONE layout,
# ONE manifest, BOTH pruning modes — the per-file min/max zonemap
# answers range predicates, a per-file Bloom bitmap over a NON-layout
# column answers point predicates, and a conjunctive query prunes
# through both before any parquet footer is opened. This is the
# reference's supports_filter_pushdown classification
# (/root/reference/src/table_provider.rs:241-306 — inexact vs exact
# filter classes routed to different evaluation sites) promoted from
# row filtering to file skipping: the zonemap is the "exact range"
# class, the Bloom the "membership, no false negatives" class, and
# whatever survives still pushes the residual filters into the scan.
# ---------------------------------------------------------------------------
_COMPOSED_DIR_CONF = "spark.datafusion_rdbms_ext.composed_skip_dir"
_COMPOSED_KEY = 1  # suppkey present at every sf, uncorrelated with layout


def composed_skip_root(spark: SparkSession, sf_dir: str) -> tuple[str, dict, int]:
    """Write lineitem range-clustered on l_orderkey once per
    (session, sf_dir) with a manifest holding per-file zonemaps AND a
    per-file Bloom bitmap index over l_suppkey. ``schema.json`` records
    the schemas of the data and Bloom tables, which every read of
    them uses (:func:`composed_schema`).

    Scale: the layout + zonemap half is what sink_zonemap_manifest
    prunes alone; the Bloom half is a distributed parquet index table (file, bit) —
    ndv x k rows of two small columns per file, never collected. The
    JSON manifest stays KB-sized (ranges only); the bitmap side scales
    with data but reads pruned (bit IN probes) at lookup."""
    import json as _json

    key = f"{_COMPOSED_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing:
        root, m = existing.rsplit("|", 1)
        if os.path.isdir(root):
            with open(os.path.join(root, "manifest.json")) as fh:
                return root, _json.load(fh), int(m)
    root = tempfile.mkdtemp(prefix="sink_composed_skip_")
    data = os.path.join(root, "data")
    lineitem = spark.table("lineitem")
    (
        lineitem.repartitionByRange(_ZONEMAP_FILES, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(data)
    )
    by_file = read_written(spark, lineitem.schema, data).select(
        F.input_file_name().alias("f"), "l_orderkey", "l_suppkey"
    )
    # One pass for the zonemaps and the Bloom size: per-file key
    # range and point-column NDV.
    stats = (
        by_file.groupBy("f")
        .agg(
            F.min("l_orderkey").alias("mn"),
            F.max("l_orderkey").alias("mx"),
            F.countDistinct("l_suppkey").alias("ndv"),
        )
        .collect()  # <= #files rows: manifest-sized, never data-sized
    )
    manifest = {
        r["f"].replace("file://", ""): [int(r["mn"]), int(r["mx"])]
        for r in stats
    }
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        _json.dump(manifest, fh)
    # Bloom bitmap per FILE over the point column, m self-scaled from
    # the fattest file's key count (the r7 knob-derivation rule).
    max_ndv = max(r["ndv"] for r in stats)
    m = 1 << max(int(max_ndv * _BLOOM_LOAD) - 1, 1).bit_length()
    keys = by_file.select("f", "l_suppkey").distinct()
    bits = keys.select(
        "f",
        F.explode(
            F.array(
                *[
                    _bloom_bit_spark(F.col("l_suppkey"), i, m)
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("bit"),
    ).distinct()
    bits.repartition(1).write.mode("overwrite").parquet(
        os.path.join(root, "bloom")
    )
    _record_schemas(root, data=lineitem, bloom=bits)
    spark.conf.set(key, f"{root}|{m}")
    return root, manifest, m


def _record_schemas(root: str, **tables: DataFrame) -> None:
    """Write a layout's ``schema.json``: the schema of each table the
    layout wrote under ``root``, read back by :func:`composed_schema`."""
    import json as _json

    with open(os.path.join(root, "schema.json"), "w") as fh:
        _json.dump({t: df.schema.jsonValue() for t, df in tables.items()}, fh)


def composed_schema(root: str, table: str) -> dict:
    """The recorded schema of a layout's table: the composed index's
    ``data`` or ``bloom``, the month-Bloom layout's ``data`` or
    ``index``."""
    import json as _json

    with open(os.path.join(root, "schema.json")) as fh:
        return _json.load(fh)[table]


def composed_skip_files(
    spark: SparkSession,
    root: str,
    manifest: dict,
    m: int,
    lo: int,
    hi: int,
    point_key: int,
) -> tuple[list[str], list[str]]:
    """Two-stage file pruning for ``l_orderkey BETWEEN lo AND hi AND
    l_suppkey = point_key``: zonemap range overlap first (pure
    metadata, zero reads), then the Bloom membership probe over ONLY
    the range survivors. Returns (range_files, final_files) so rails
    can assert each stage pruned. No false negatives in either stage:
    the zonemap covers every row by construction, the Bloom bitmap
    contains every present key's bits."""
    range_files = zonemap_prune(manifest, lo, hi)
    if not range_files:
        return [], []
    probes = sorted(set(_bloom_bits_py(point_key, m)))
    idx = read_written(
        spark, composed_schema(root, "bloom"), os.path.join(root, "bloom")
    )
    rows = (
        idx.filter(
            F.regexp_replace(F.col("f"), "^file://", "").isin(range_files)
            & F.col("bit").isin(probes)
        )
        .groupBy("f")
        .agg(F.countDistinct("bit").alias("nb"))
        .filter(F.col("nb") == len(probes))
        .select("f")
        .collect()  # <= #surviving-files rows: metadata-sized
    )
    final = sorted(r[0].replace("file://", "") for r in rows)
    return range_files, final


def _composed_agg(df: DataFrame) -> DataFrame:
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


@register(
    "sink_skipping_composed",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           {sql_dsum("l_quantity")} AS sum_qty
    FROM lineitem
    WHERE l_orderkey BETWEEN {_ZONEMAP_LO} AND {_ZONEMAP_HI}
      AND l_suppkey = {_COMPOSED_KEY}
    """,
    doc="Composed file skipping: one range-clustered layout whose "
    "manifest carries BOTH per-file l_orderkey zonemaps and a "
    "per-file Bloom bitmap over l_suppkey; a conjunctive "
    "range+point query prunes through zonemap then Bloom before any "
    "footer is opened (the reference's filter-pushdown "
    "classification, table_provider.rs:241-306, promoted to file "
    "skipping). Stage-by-stage pruning and the zero-files-read "
    "corners are asserted in tests/test_skew_and_sinks.py.",
    tags=("sink", "source", "bench"),
)
def sink_skipping_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range+point aggregate over only the doubly-surviving files.

    Scale: the zonemap stage is driver-side metadata (KBs at any
    table size); the Bloom stage reads bit-pruned slices of a
    file-keyed index table and returns file NAMES; the data scan
    reads range/total of the files further thinned by key membership
    — at 100 TB a point-in-range lookup touches a handful of files
    instead of the clustered range's hundreds. Residual filters
    still push into the parquet scan below the file skip."""
    root, manifest, m = composed_skip_root(spark, sf_dir)
    _, files = composed_skip_files(
        spark, root, manifest, m, _ZONEMAP_LO, _ZONEMAP_HI, _COMPOSED_KEY
    )
    # every file pruned: no paths reads as an empty, zero-read scan
    return _composed_agg(
        read_written(spark, composed_schema(root, "data"), *files).filter(
            F.col("l_orderkey").between(_ZONEMAP_LO, _ZONEMAP_HI)
            & (F.col("l_suppkey") == _COMPOSED_KEY)
        )
    )


# ---------------------------------------------------------------------------
# Transparent skipping rewrite (round 9, VERDICT r8 #6): the composed
# zonemap+Bloom index wired into the try-rewrite-else-fall-through
# optimizer contract (plans/skipping.py). The user authors an
# ORDINARY filter+aggregate against the base lineitem table; the
# rewrite routes it through the index's pruned file list with the
# full predicate re-applied — or falls through untouched for any
# ineligible shape (OR/NOT, non-indexed columns, other tables).
# ---------------------------------------------------------------------------
_REWRITE_LO, _REWRITE_HI = 300, 900  # distinct from the direct probe
_REWRITE_KEY = 2


def composed_skipping_index(spark: SparkSession, sf_dir: str):
    """The SkippingIndex handle over the session's composed layout."""
    from ..plans.skipping import SkippingIndex

    root, manifest, m = composed_skip_root(spark, sf_dir)
    return SkippingIndex(
        "lineitem", root, manifest, m, "l_orderkey", "l_suppkey"
    )


@register(
    "source_skipping_rewrite",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           {sql_dsum("l_quantity")} AS sum_qty
    FROM lineitem
    WHERE l_orderkey BETWEEN {_REWRITE_LO} AND {_REWRITE_HI}
      AND l_suppkey = {_REWRITE_KEY}
    """,
    doc="Transparent file-skipping rewrite: an ordinary range+point "
    "filter aggregate authored against the BASE lineitem table is "
    "routed through the composed zonemap+Bloom index's pruned file "
    "list by plans/skipping.skipping_rewrite (strict mode — the "
    "cheap path provably executed), values identical to the direct "
    "plan; ineligible shapes fall through untouched "
    "(tests/test_skipping_rewrite.py).",
    tags=("source", "sink", "rewrite", "bench"),
)
def source_skipping_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-served range+point aggregate.

    Scale: same pruning economics as sink_skipping_composed — but
    TRANSPARENT: the user plan never names the index; the rewrite
    walks the analyzed predicate (the optimizer.rs:14-39 contract)
    and swaps the scan. The served scan's inputFiles are asserted a
    subset of the index's surviving files."""
    from ..plans.skipping import skipping_rewrite

    idx = composed_skipping_index(spark, sf_dir)
    user = (
        spark.table("lineitem")
        .filter(
            F.col("l_orderkey").between(_REWRITE_LO, _REWRITE_HI)
            & (F.col("l_suppkey") == _REWRITE_KEY)
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )
    return skipping_rewrite(user, idx, strict=True)


# ---------------------------------------------------------------------------
# Table statistics collection (round 8) — the ANALYZE TABLE /
# pg_statistics surface the reference's catalog carries implicitly
# (row-count probes, mod.rs:170-189) promoted to a first-class,
# queryable stats table: per column, exact NDV, null count, and
# min/max rendered to strings. These are the numbers a cost-based
# planner needs for its broadcast / shuffle / join-order decisions;
# stats_broadcast_hint below actually consumes them, so the stats
# are load-bearing, not a report.
# ---------------------------------------------------------------------------
_STATS_COLS = ("l_orderkey", "l_suppkey", "l_linenumber", "l_returnflag",
               "l_linestatus", "l_shipdate")


def collect_column_stats(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(column, n_rows, ndv, n_nulls, min_s, max_s) per requested
    column, as a UNION of per-column aggregates.

    Why not one aggregate with N countDistincts: Catalyst plans
    multi-distinct via Expand, multiplying every input row by N+1
    before the shuffle — measured 10.7s for 6 columns at sf0.1 where
    this shape takes ~1s. Each branch here has ONE distinct (no
    Expand), reads ONE column (parquet pruning), and the branches run
    as independent jobs of a single union plan."""
    branches = []
    for c in cols:
        branches.append(
            df.select(F.col(c))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(c).cast("long").alias("ndv"),
                F.sum(F.col(c).isNull().cast("long")).cast("long").alias("n_nulls"),
                F.min(F.col(c).cast("string")).alias("min_s"),
                F.max(F.col(c).cast("string")).alias("max_s"),
            )
            .select(
                F.lit(c).alias("column"),
                "n_rows",
                "ndv",
                "n_nulls",
                "min_s",
                "max_s",
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("column")


@register(
    "source_table_stats",
    oracle="".join(
        ("UNION ALL".join(
            f"""
    SELECT '{c}' AS "column",
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           MIN(CAST({c} AS VARCHAR)) AS min_s,
           MAX(CAST({c} AS VARCHAR)) AS max_s
    FROM lineitem
    """
            for c in _STATS_COLS
        ), 'ORDER BY "column"')
    ),
    doc="ANALYZE-style exact column statistics (NDV, nulls, min/max) "
    "for six lineitem columns in ONE aggregation pass, unpivoted to "
    "a queryable stats table — the catalog surface a cost-based "
    "planner reads; stats_broadcast_hint consumes it for the "
    "broadcast-vs-shuffle join decision (rails in "
    "tests/test_skew_and_sinks.py).",
    tags=("source", "catalog", "bench"),
)
def source_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem column-statistics table.

    Scale: one map-side-combined aggregation over the scan (all 25
    aggregates share the pass; countDistinct rewrites to expand +
    partial dedup, still one shuffle); output is |columns| rows. At
    100 TB swap countDistinct for approx_count_distinct and the
    operator is identical — the exact form here is what makes the
    differential proof possible."""
    return collect_column_stats(spark.table("lineitem"), _STATS_COLS)


def stats_broadcast_hint(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    right_stats: DataFrame,
    on,
    row_bytes: int = 64,
    threshold_bytes: int = 10 * 1024 * 1024,
):
    """Stats-DRIVEN join planning: broadcast the right side iff the
    collected stats say it fits (n_rows x row_bytes under the
    threshold) — the reference's cost-classification seam
    (table_provider.rs:241-306 routes by what the source can prove)
    expressed as Spark join strategy. The negative decision is
    equally explicit: the right side is pinned to sort-merge, so a
    side the STATS call too big never broadcasts by the size-based
    file heuristic either — the CBO decision overrules the
    heuristic in BOTH directions (round 9; plan-railed both ways by
    source_stats_join_decision). Returns (joined, broadcasted)."""
    n = right_stats.select(F.max("n_rows")).collect()[0][0] or 0
    if n * row_bytes <= threshold_bytes:
        return left.join(F.broadcast(right), on), True
    return left.join(right.hint("merge"), on), False


# ---------------------------------------------------------------------------
# Stats-driven join decision as an EXECUTED capability (round 9,
# VERDICT r8 #5): stats_broadcast_hint was driver-proven only via
# source_table_stats' stats table; this query runs the SAME join
# under both decisions — the default memory budget (stats say
# supplier fits -> broadcast) and a deliberately tiny 1-byte budget
# (stats say it does not -> pinned sort-merge) — and returns both
# aggregates side by side, so the strategy-invariance of the values
# is hash-proven by the oracle and both physical strategies are
# plan-railed (tests/test_skew_and_sinks.py).
# ---------------------------------------------------------------------------
@register(
    "source_stats_join_decision",
    oracle="""
    WITH agg AS (
      SELECT s.s_nationkey AS nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey
    )
    SELECT a.nationkey, a.n_rows AS n_bcast, a.sum_qty AS qty_bcast,
           b.n_rows AS n_merge, b.sum_qty AS qty_merge
    FROM agg a JOIN agg b ON a.nationkey = b.nationkey
    ORDER BY a.nationkey
    """,
    doc="Stats-driven join planning, executed both ways: the SAME "
    "lineitem-supplier join-aggregate planned by stats_broadcast_hint "
    "under the default broadcast budget (stats fit -> "
    "BroadcastHashJoin) and a 1-byte budget (stats too big -> pinned "
    "SortMergeJoin), returned side by side — the reference's "
    "cost-classification seam (table_provider.rs:241-306) as an "
    "executed, hash-checked capability; both strategies plan-railed.",
    tags=("source", "catalog", "join", "bench"),
)
def source_stats_join_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier shipment rollup under both join decisions.

    Scale: the decision INPUT is the |columns|-row stats table (one
    bounded collect of a single n_rows number — CBO metadata, not
    data); the broadcast path ships |supplier| rows to every
    executor only when the stats bound says it fits; the merge path
    shuffles both sides on the key. The final two-sided join is
    25 rows x 25 rows (nation cardinality) — metadata-sized."""
    supp = spark.table("supplier").select("s_suppkey", "s_nationkey")
    stats = collect_column_stats(supp, ("s_suppkey",)).localCheckpoint()

    def path(threshold: int, tag: str) -> DataFrame:
        li = spark.table("lineitem").select("l_suppkey", "l_quantity")
        s = spark.table("supplier").select("s_suppkey", "s_nationkey")
        joined, _did = stats_broadcast_hint(
            spark, li, s, stats,
            li["l_suppkey"] == s["s_suppkey"],
            threshold_bytes=threshold,
        )
        return joined.groupBy(
            F.col("s_nationkey").alias("nationkey")
        ).agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            F.sum(F.col("l_quantity").cast("long")).alias(f"qty_{tag}"),
        )

    bcast = path(10 * 1024 * 1024, "bcast")
    merge = path(1, "merge")
    return bcast.join(merge, "nationkey").orderBy("nationkey")


# ---------------------------------------------------------------------------
# Equi-depth histogram (round 8) — the second half of the CBO
# statistics story: source_table_stats gives NDV/min/max,
# this gives the value DISTRIBUTION (selectivity estimation for
# range predicates). Buckets are exact equal-frequency by global
# rank — bucket = ((rank-1) * k) / n — with deterministic
# (value, tiebreak) ordering, so counts and boundaries are
# integer/string exact under the differential gate.
# ---------------------------------------------------------------------------
_HIST_BUCKETS = 8


@register(
    "source_equidepth_histogram",
    oracle=f"""
    WITH ranked AS (
      SELECT l_extendedprice AS v,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
                                l_linenumber) AS r,
             COUNT(*) OVER () AS n
      FROM lineitem
    )
    SELECT CAST(((r - 1) * {_HIST_BUCKETS}) // n AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(v) AS lo,
           MAX(v) AS hi
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
    doc=f"Exact equi-depth histogram ({_HIST_BUCKETS} buckets) of "
    "l_extendedprice by global rank — the range-selectivity "
    "statistic a cost-based planner pairs with "
    "source_table_stats' NDV/min/max. Deterministic total order "
    "(value, orderkey, linenumber) makes bucket membership exact.",
    tags=("source", "catalog", "bench"),
)
def source_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-bucket equal-frequency histogram of extended price.

    Scale: the global rank reuses _global_rank (range-repartition +
    per-partition local rank + broadcast prefix offsets — never a
    data-sized single-partition window), then bucket arithmetic and a
    map-side-combined rollup to k rows. At 100 TB swap the exact
    sort for approxQuantile boundaries and the operator keeps its
    shape; the exact form is what the differential gate can prove."""
    from ..queries.llm import _global_rank

    # the row total folds into the ONE job as a broadcast scalar
    # (previously a separate driver-sequential .count() action);
    # _global_rank derives N from its own <=32-row per-partition
    # counts frame, so the ranked subtree is never planned twice.
    ranked = _global_rank(
        spark.table("lineitem").select(
            "l_extendedprice", "l_orderkey", "l_linenumber"
        ),
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        total_col="_n",
    )
    return (
        ranked.select(
            F.expr(f"((rn - 1) * {_HIST_BUCKETS}) div _n")
            .cast("long")
            .alias("bucket"),
            F.col("l_extendedprice").alias("v"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Partition-spec evolution (round 8): the Iceberg lifecycle move the
# hive layout can't do — OLD data stays under the original spec
# (month=...) while NEW writes land under the evolved spec
# (month=.../event_type=...), and one logical table serves both
# generations with each generation pruned by ITS OWN spec. Here:
# events before day 16 stay day-partitioned (gen1), day 16 onward is
# (day, event_type)-partitioned (gen2); the reader unions the two
# generations by name and the rails assert the type filter prunes
# file listings in gen2 while gen1 is day-pruned only — exactly
# the per-spec pruning contract partition evolution promises
# (ref table_provider.rs:241-306 classifies filters per source; this
# is that classification driven by the LAYOUT generation).
# ---------------------------------------------------------------------------
_EVOLVE_DIR_CONF = "spark.datafusion_rdbms_ext.evolve_dir"
_EVOLVE_SPLIT_DAY = 16  # days < 16 -> gen1 spec; >= 16 -> gen2 spec


def evolved_events_roots(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write the two partition-spec generations once per session."""
    key = f"{_EVOLVE_DIR_CONF}.{abs(hash(sf_dir))}"
    existing = spark.conf.get(key, None)
    if existing and os.path.isdir(existing):
        return os.path.join(existing, "gen1"), os.path.join(existing, "gen2")
    out = tempfile.mkdtemp(prefix="evolved_events_")
    ev = spark.table("events").withColumn("day", F.dayofmonth("ts"))
    (
        ev.filter(F.col("day") < _EVOLVE_SPLIT_DAY)
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(os.path.join(out, "gen1"))
    )
    (
        ev.filter(F.col("day") >= _EVOLVE_SPLIT_DAY)
        .write.mode("overwrite")
        .partitionBy("day", "event_type")
        .parquet(os.path.join(out, "gen2"))
    )
    spark.conf.set(key, out)
    return os.path.join(out, "gen1"), os.path.join(out, "gen2")


def evolved_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The logical table spanning both partition-spec generations."""
    g1, g2 = evolved_events_roots(spark, sf_dir)
    return spark.read.parquet(g1).unionByName(spark.read.parquet(g2))


@register(
    "source_partition_evolution",
    oracle=f"""
    SELECT CAST(dayofmonth(ts) AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type = 'purchase'
      AND dayofmonth(ts) IN ({_EVOLVE_SPLIT_DAY - 1}, {_EVOLVE_SPLIT_DAY})
    GROUP BY day ORDER BY day
    """,
    doc="Partition-spec evolution: day-partitioned history (gen1) "
    "and (day, event_type)-partitioned new data (gen2) served as "
    "ONE table; a (type, day) query straddling the spec boundary "
    "must return exactly the base-table answer, with each generation "
    "pruned under its own spec (plan-railed: gen2 lists only its "
    "purchase directory, gen1 is day-pruned and row-filtered).",
    tags=("source", "sink", "bench"),
)
def source_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A query straddling the partition-spec boundary.

    Scale: this is why evolution beats rewrite — at 100 TB you
    cannot re-partition history to adopt a better spec, but new
    data should still benefit from it. Each generation prunes
    under its own spec at file-listing time (day for gen1;
    day AND type for gen2); the union adds no shuffle. The
    correctness contract is spec-independence: the answer equals
    the unpartitioned base table's."""
    t = evolved_events_table(spark, sf_dir)
    return (
        t.filter(
            (F.col("event_type") == "purchase")
            & F.col("day").isin(_EVOLVE_SPLIT_DAY - 1, _EVOLVE_SPLIT_DAY)
        )
        .groupBy(F.col("day").cast("long").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Table content checksum (round 8): the reference's count_records
# probe (src/sqldb/postgres/mod.rs:170-189) promoted to a CONTENT
# fingerprint — per group, the XOR of a canonical per-row digest plus
# the row count. XOR is commutative/associative and overflow-free,
# so the checksum is order-insensitive, partition-insensitive and
# mergeable (XOR of group checksums = table checksum): the
# migration-verification primitive that catches a changed VALUE,
# which row counts cannot.
# ---------------------------------------------------------------------------
@register(
    "source_table_checksum",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(('0x' || substr(md5(
             CAST(l_orderkey AS VARCHAR) || '|' ||
             CAST(l_linenumber AS VARCHAR) || '|' ||
             CAST(l_suppkey AS VARCHAR) || '|' ||
             l_linestatus || '|' ||
             CAST(l_shipdate AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
             AS xor_checksum
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Order-insensitive table content checksum: per-row canonical "
    "digest (md5 over a '|'-joined rendering of the integer/string/"
    "date columns — float columns are excluded because engines "
    "render doubles differently; checksum floats via their exact "
    "integer quantization instead, e.g. round(x*100)) "
    "folded with XOR — commutative, overflow-free, mergeable across "
    "groups/partitions — beside the row count. Catches a changed "
    "value where count_records-style probes (ref mod.rs:170-189) "
    "only catch a changed cardinality.",
    tags=("source", "quality"),
)
def source_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group row count + XOR content fingerprint for lineitem.

    Scale: entirely map-side until the group rollup (digest per row,
    XOR partial per task); comparing source and destination runs one
    scan on each side with no data movement between them — the
    standard post-migration verification at any volume. Mergeable:
    XOR of the group checksums is the whole-table checksum."""
    digest = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("l_suppkey").cast("string"),
                    F.col("l_linestatus"),
                    F.col("l_shipdate").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        spark.table("lineitem")
        .select("l_returnflag", digest.alias("d"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("d").cast("long").alias("xor_checksum"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Data-quality expectations (round 9) — the Deequ/Great-Expectations
# constraint gate a 100 TB ingest runs before publishing a
# partition: declarative rules (completeness, key uniqueness, value
# range, set membership, positivity) evaluated to an exact
# violation-count report. The catalog sibling of
# source_table_stats: stats DESCRIBE the data, expectations JUDGE
# it.
# ---------------------------------------------------------------------------
def expectation_report(df: DataFrame) -> DataFrame:
    """(rule, n_rows, n_violations, passed) for the lineitem rule
    set. Scalar rules share ONE aggregation pass; the key-uniqueness
    rule is its own groupBy (a different shuffle shape) unioned in."""
    scalar = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("v_complete"),
        F.sum(
            (~F.col("l_quantity").between(1, 50)).cast("long")
        ).alias("v_range"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("v_set"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias("v_pos"),
    )
    rules = [
        ("completeness:l_orderkey", "v_complete"),
        ("range:l_quantity[1,50]", "v_range"),
        ("set:l_returnflag{A,N,R}", "v_set"),
        ("positive:l_extendedprice", "v_pos"),
    ]
    parts = [
        scalar.select(
            F.lit(rule).alias("rule"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col(col).cast("long").alias("n_violations"),
            (F.col(col) == 0).alias("passed"),
        )
        for rule, col in rules
    ]
    uniq = (
        df.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("n_rows"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                "v"
            ),
        )
        .select(
            F.lit("unique:(l_orderkey,l_linenumber)").alias("rule"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("v").cast("long").alias("n_violations"),
            (F.col("v") == 0).alias("passed"),
        )
    )
    out = parts[0]
    for p_ in parts[1:] + [uniq]:
        out = out.unionByName(p_)
    return out.orderBy("rule")


@register(
    "source_expectations",
    oracle="""
    WITH scalar AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_complete,
             SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                      THEN 1 ELSE 0 END) AS v_range,
             SUM(CASE WHEN l_returnflag NOT IN ('A','N','R')
                      THEN 1 ELSE 0 END) AS v_set,
             SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS v_pos
      FROM lineitem
    ),
    uniq AS (
      SELECT SUM(c) AS n_rows,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS v
      FROM (SELECT COUNT(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber)
    )
    SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM (
      SELECT 'completeness:l_orderkey' AS rule, n_rows,
             v_complete AS n_violations FROM scalar
      UNION ALL
      SELECT 'range:l_quantity[1,50]', n_rows, v_range FROM scalar
      UNION ALL
      SELECT 'set:l_returnflag{A,N,R}', n_rows, v_set FROM scalar
      UNION ALL
      SELECT 'positive:l_extendedprice', n_rows, v_pos FROM scalar
      UNION ALL
      SELECT 'unique:(l_orderkey,l_linenumber)', n_rows, v FROM uniq
    ) ORDER BY rule
    """,
    doc="Deequ-style data-quality expectations: completeness, value "
    "range, set membership, positivity (ONE shared aggregation "
    "pass) and composite-key uniqueness (its own groupBy shape), "
    "reported as exact violation counts with pass flags — the "
    "publish gate a production ingest runs; catalog sibling of "
    "source_table_stats.",
    tags=("source", "catalog", "bench"),
)
def source_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-rule expectation report over lineitem.

    Scale: four rules ride one map-side-combined scalar aggregate
    (zero extra passes per rule — adding a rule adds a column, not
    a scan); uniqueness is one groupBy on the candidate key. Output
    is |rules| rows at any table size."""
    return expectation_report(spark.table("lineitem"))
