"""Micro-queries closing the reference's scalar/aggregate/operator tail.

The reference's parser leaves ~45 scalar builtins (abs..trunc,
ascii..upper, regexp, digests, to_timestamp, now, coalesce, nullif —
/root/reference/src/parser.rs:738-812), the aggregate tail
(approx/variance/stddev/covar/corr/percentile/array_agg/grouping,
parser.rs:879-891), set ops (parser.rs:398-399), cross join
(parser.rs:354-397), OFFSET (parser.rs:493-503), grouping sets
(parser.rs:940), IS [NOT] DISTINCT FROM (parser.rs:672-673),
try_cast (parser.rs:734) and array/struct access (parser.rs:698) as
``todo!()``. Every one is a Spark builtin; each family below lands as
one differential query so the inventory row is machine-checked.

Exactness ground rules (see functions/compat.py): transcendentals
(exp/ln/pow) are rounded to 6 dp — JVM StrictMath and C libm may
differ in the last ulp; sqrt is IEEE-correctly-rounded so it's exact;
statistical aggregates run over small-magnitude columns and round to
6 dp; collect_list/set are sorted then joined to strings of ints so
array ordering and float formatting can't drift; approximate
aggregates (HLL, t-digest) can't hash-match a different engine's
sketch, so their oracle asserts *properties* (within-bounds flags)
instead of values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.connector import local_frame
from .base import register

_DEC = "decimal(30,8)"


# ---------------------------------------------------------------------------
# Math scalar tail (ref parser.rs:739-759 todo!()).
# ---------------------------------------------------------------------------
@register(
    "micro_math_scalars",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS v_abs,
           round(l_extendedprice, 1) AS v_round,
           CAST(ceil(l_quantity) AS BIGINT) AS v_ceil,
           CAST(floor(l_quantity) AS BIGINT) AS v_floor,
           sqrt(l_quantity) AS v_sqrt,
           round(exp(l_discount), 6) AS v_exp,
           round(ln(l_quantity + 1), 6) AS v_ln,
           round(log10(l_extendedprice), 6) AS v_log10,
           round(pow(l_quantity, 2), 6) AS v_pow,
           CAST(sign(l_discount - 0.05) AS BIGINT) AS v_sign,
           CAST(l_quantity AS BIGINT) % 7 AS v_mod
    FROM lineitem WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="Math scalar family (ref todo!() parser.rs:739-759): "
    "abs/round/ceil/floor/sqrt/exp/ln/log10/pow/sign/mod.",
    tags=("micro", "scalar"),
)
def micro_math_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All math scalars evaluate JVM-side inside whole-stage codegen —
    zero Python. Scale: pure map work, no shuffle."""
    li = spark.table("lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("v_abs"),
        F.round("l_extendedprice", 1).alias("v_round"),
        F.ceil("l_quantity").alias("v_ceil"),
        F.floor("l_quantity").alias("v_floor"),
        F.sqrt("l_quantity").alias("v_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("v_exp"),
        F.round(F.log(F.col("l_quantity") + 1), 6).alias("v_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("v_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("v_pow"),
        F.signum(F.col("l_discount") - 0.05).cast("long").alias("v_sign"),
        (F.col("l_quantity").cast("long") % 7).alias("v_mod"),
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# String scalar tail (ref parser.rs:761-812 todo!()).
# ---------------------------------------------------------------------------
@register(
    "micro_string_scalars",
    oracle="""
    SELECT p_partkey,
           lower(p_type) AS v_lower,
           upper(p_name) AS v_upper,
           trim('  ' || p_brand || ' ') AS v_trim,
           ltrim(rtrim('  ' || p_brand || ' ')) AS v_lrtrim,
           length(p_name) AS v_len,
           p_brand || '/' || CAST(p_size AS VARCHAR) AS v_concat,
           lpad(p_brand, 12, '.') AS v_lpad,
           rpad(p_brand, 12, '.') AS v_rpad,
           replace(p_type, 'A', '@') AS v_replace,
           reverse(p_brand) AS v_reverse,
           left(p_type, 3) AS v_left,
           right(p_type, 3) AS v_right,
           repeat(substr(p_brand, 1, 2), 2) AS v_repeat,
           strpos(p_type, 'AN') AS v_instr,
           translate(p_type, 'AEI', 'aei') AS v_translate,
           ascii(p_type) AS v_ascii,
           substr(p_type, 2, 4) AS v_substr
    FROM part WHERE p_partkey < 100
    ORDER BY p_partkey
    """,
    doc="String scalar family (ref todo!() parser.rs:761-812): "
    "case/trim/pad/replace/reverse/left/right/repeat/instr/translate/"
    "ascii/substring + || concat (ref binary op StringConcat).",
    tags=("micro", "scalar"),
)
def micro_string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.table("part").filter(F.col("p_partkey") < 100)
    padded = F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))
    return p.select(
        "p_partkey",
        F.lower("p_type").alias("v_lower"),
        F.upper("p_name").alias("v_upper"),
        F.trim(padded).alias("v_trim"),
        F.ltrim(F.rtrim(padded)).alias("v_lrtrim"),
        F.length("p_name").cast("long").alias("v_len"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_size").cast("string")).alias("v_concat"),
        F.lpad("p_brand", 12, ".").alias("v_lpad"),
        F.rpad("p_brand", 12, ".").alias("v_rpad"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("@")).alias("v_replace"),
        F.reverse("p_brand").alias("v_reverse"),
        F.expr("left(p_type, 3)").alias("v_left"),
        F.expr("right(p_type, 3)").alias("v_right"),
        F.repeat(F.substring("p_brand", 1, 2), 2).alias("v_repeat"),
        F.instr("p_type", "AN").cast("long").alias("v_instr"),
        F.translate("p_type", "AEI", "aei").alias("v_translate"),
        F.ascii("p_type").cast("long").alias("v_ascii"),
        F.substring("p_type", 2, 4).alias("v_substr"),
    ).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# Regexp + digests (ref parser.rs:675-678, 746, 778, 782, 789-792, 810).
# ---------------------------------------------------------------------------
@register(
    "micro_regex_hash",
    oracle="""
    SELECT n_nationkey, n_name,
           regexp_replace(n_name, '[AEIOU]', '_', 'g') AS v_re_replace,
           regexp_extract(n_name, '([A-Z]+)', 1) AS v_re_extract,
           md5(n_name) AS v_md5,
           sha256(n_name) AS v_sha256
    FROM nation
    WHERE regexp_matches(n_name, '^[A-J]')
    ORDER BY n_nationkey
    """,
    doc="RLIKE filter (ref RegexMatch ops parser.rs:675-678) + "
    "regexp_replace/extract + md5/sha digests (ref todo!()s).",
    tags=("micro", "scalar"),
)
def micro_regex_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Note: Spark regexp_replace is global by default; DuckDB needs
    the explicit 'g' flag — same semantics, spelled per dialect."""
    na = spark.table("nation").filter(F.col("n_name").rlike("^[A-J]"))
    return na.select(
        "n_nationkey",
        "n_name",
        F.regexp_replace("n_name", "[AEIOU]", "_").alias("v_re_replace"),
        F.regexp_extract("n_name", "([A-Z]+)", 1).alias("v_re_extract"),
        F.md5("n_name").alias("v_md5"),
        F.sha2(F.col("n_name"), 256).alias("v_sha256"),
    ).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# Datetime tail: EXTRACT beyond year, date_trunc, to_timestamp,
# interval arithmetic (the reference's hard blocker, README.md:52), now().
# ---------------------------------------------------------------------------
@register(
    "micro_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(extract(year  FROM o_orderdate) AS BIGINT) AS v_year,
           CAST(extract(month FROM o_orderdate) AS BIGINT) AS v_month,
           CAST(extract(day   FROM o_orderdate) AS BIGINT) AS v_day,
           date_trunc('month', o_orderdate) AS v_month_start,
           o_orderdate + INTERVAL 3 MONTH AS v_plus_3m,
           o_orderdate + INTERVAL 10 DAY AS v_plus_10d,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS v_days_since,
           TIMESTAMP '2024-03-05 06:07:08' AS v_ts_parsed,
           (now() > TIMESTAMP '2020-01-01') AS v_now_sane
    FROM orders WHERE o_custkey < 10
    ORDER BY o_orderkey
    """,
    doc="EXTRACT month/day (ref supports year only, parser.rs:1199-1201), "
    "date_trunc, interval arithmetic (ref hard blocker README.md:52), "
    "to_timestamp (ref todo!() parser.rs:802-805), now() (parser.rs:806).",
    tags=("micro", "scalar"),
)
def micro_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """now() is nondeterministic, so its differential check is the
    property now() > 2020 (true on both engines), not the value."""
    o = spark.table("orders").filter(F.col("o_custkey") < 10)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("v_year"),
        F.month("o_orderdate").cast("long").alias("v_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("v_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("v_month_start"),
        F.expr("o_orderdate + INTERVAL '3' MONTH").alias("v_plus_3m"),
        F.expr("o_orderdate + INTERVAL '10' DAY").alias("v_plus_10d"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("v_days_since"),
        F.to_timestamp(F.lit("2024-03-05 06:07:08")).alias("v_ts_parsed"),
        (F.now() > F.lit("2020-01-01").cast("timestamp")).alias("v_now_sane"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Interval-driven range query (re-expressing a date window via INTERVAL).
# ---------------------------------------------------------------------------
@register(
    "micro_interval_range",
    oracle="""
    SELECT COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01' + INTERVAL 3 MONTH
    """,
    doc="The reference's q4/q20 blocker (README.md:52): a date range "
    "expressed with interval arithmetic instead of precomputed literals.",
    tags=("micro", "scalar"),
)
def micro_interval_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the interval bound folds to a constant at plan time, so
    the filter still pushes into the Parquet scan (constant folding —
    free from Catalyst, SURVEY §4)."""
    o = spark.table("orders")
    lo = F.lit("1996-01-01").cast("timestamp")
    return o.filter(
        (F.col("o_orderdate") >= lo)
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1996-01-01' + INTERVAL '3' MONTH"))
    ).agg(F.count(F.lit(1)).alias("n_orders"))


# ---------------------------------------------------------------------------
# Conditional / null tail: coalesce, nullif, null-safe equality,
# try_cast, greatest/least, isnull.
# ---------------------------------------------------------------------------
@register(
    "micro_conditional_null",
    oracle="""
    SELECT n_nationkey,
           coalesce(nullif(n_name, 'GERMANY'), '<masked>') AS v_coalesce,
           (nullif(n_name, 'GERMANY') IS NOT DISTINCT FROM nullif(n_name, 'FRANCE')) AS v_nullsafe_eq,
           (nullif(n_name, 'GERMANY') IS NULL) AS v_isnull,
           TRY_CAST(n_name AS INTEGER) AS v_trycast_bad,
           TRY_CAST(CAST(n_nationkey AS VARCHAR) AS INTEGER) AS v_trycast_ok,
           greatest(n_nationkey, n_regionkey * 5) AS v_greatest,
           least(n_nationkey, n_regionkey * 5) AS v_least
    FROM nation
    ORDER BY n_nationkey
    """,
    doc="coalesce/nullif (ref todo!() parser.rs:744,779), IS NOT "
    "DISTINCT FROM -> eqNullSafe (ref todo!() parser.rs:672-673), "
    "try_cast (ref todo!() parser.rs:734), greatest/least.",
    tags=("micro", "scalar"),
)
def micro_conditional_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = spark.table("nation")
    masked_de = F.nullif(F.col("n_name"), F.lit("GERMANY"))
    masked_fr = F.nullif(F.col("n_name"), F.lit("FRANCE"))
    return na.select(
        "n_nationkey",
        F.coalesce(masked_de, F.lit("<masked>")).alias("v_coalesce"),
        masked_de.eqNullSafe(masked_fr).alias("v_nullsafe_eq"),
        masked_de.isNull().alias("v_isnull"),
        F.expr("try_cast(n_name AS INT)").alias("v_trycast_bad"),
        F.expr("try_cast(CAST(n_nationkey AS STRING) AS INT)").alias("v_trycast_ok"),
        F.greatest(F.col("n_nationkey"), F.col("n_regionkey") * 5).alias("v_greatest"),
        F.least(F.col("n_nationkey"), F.col("n_regionkey") * 5).alias("v_least"),
    ).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# Bitwise ops (ref BinaryOperator::BitwiseAnd/Or, parser.rs:679-682).
# ---------------------------------------------------------------------------
@register(
    "micro_bitwise",
    oracle="""
    SELECT n_nationkey,
           n_nationkey & 12 AS v_and,
           n_nationkey | 3 AS v_or,
           xor(n_nationkey, 5) AS v_xor,
           n_nationkey << 2 AS v_shl,
           n_nationkey >> 1 AS v_shr,
           bit_count(n_nationkey) AS v_popcount
    FROM nation
    ORDER BY n_nationkey
    """,
    doc="Bitwise and/or/xor/shifts/popcount (ref parser.rs:679-682; "
    "shifts and popcount beyond the reference surface).",
    tags=("micro", "scalar"),
)
def micro_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = spark.table("nation")
    k = F.col("n_nationkey")
    return na.select(
        "n_nationkey",
        k.bitwiseAND(F.lit(12)).alias("v_and"),
        k.bitwiseOR(F.lit(3)).alias("v_or"),
        k.bitwiseXOR(F.lit(5)).alias("v_xor"),
        F.shiftleft(k, 2).cast("long").alias("v_shl"),
        F.shiftright(k, 1).cast("long").alias("v_shr"),
        F.bit_count(k).cast("long").alias("v_popcount"),
    ).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# Statistical aggregate tail (ref todo!() parser.rs:879-891).
# ---------------------------------------------------------------------------
@register(
    "micro_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS v_stddev,
           round(stddev_pop(l_quantity), 6) AS v_stddev_pop,
           round(var_samp(l_quantity), 6) AS v_variance,
           round(var_pop(l_quantity), 6) AS v_var_pop,
           round(corr(l_discount, l_tax), 6) + 0.0 AS v_corr,
           round(covar_samp(l_discount, l_tax), 6) + 0.0 AS v_covar,
           round(covar_pop(l_discount, l_tax), 6) + 0.0 AS v_covar_pop
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="stddev/variance/corr/covar family — all todo!() in the "
    "reference (parser.rs:879-891), all Spark builtins.",
    tags=("micro", "aggregate", "bench"),
)
def micro_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounded to 6 dp: merge-order effects on these small-magnitude
    columns are ~1e-12, far below the rounding grain.

    Scale: all are single-pass partial aggregates — same shuffle
    shape as SUM; nothing materializes per-group state larger than a
    few doubles."""
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("v_stddev"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("v_stddev_pop"),
            F.round(F.var_samp("l_quantity"), 6).alias("v_variance"),
            F.round(F.var_pop("l_quantity"), 6).alias("v_var_pop"),
            # + 0.0 folds IEEE negative zero to +0.0 (round can yield
            # -0.0 from a tiny negative on one engine only).
            (F.round(F.corr("l_discount", "l_tax"), 6) + 0.0).alias("v_corr"),
            (F.round(F.covar_samp("l_discount", "l_tax"), 6) + 0.0).alias("v_covar"),
            (F.round(F.covar_pop("l_discount", "l_tax"), 6) + 0.0).alias("v_covar_pop"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Aggregate extras: MIN (never exercised by the TPC-H set), DISTINCT
# aggregates, median, collect_list/collect_set (ArrayAgg todo!()).
# ---------------------------------------------------------------------------
@register(
    "micro_agg_extras",
    oracle="""
    SELECT o_orderpriority,
           MIN(o_totalprice) AS v_min,
           MAX(o_totalprice) AS v_max,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS v_count_distinct,
           CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS v_sum_distinct,
           median(CAST(o_totalprice AS DOUBLE)) AS v_median,
           array_to_string(list_sort(list(DISTINCT CAST(o_custkey % 10 AS BIGINT))), ',') AS v_set_str
    FROM orders WHERE o_custkey < 40
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="MIN (ref parser.rs:819-878, never exercised), DISTINCT "
    "sum/count, exact median (ApproxMedian todo!() parser.rs:889), "
    "collect_set -> sorted string (ArrayAgg todo!() parser.rs:886).",
    tags=("micro", "aggregate"),
)
def micro_agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set is order-nondeterministic, so it is sorted and
    string-joined before comparison — the canonical form both engines
    agree on."""
    o = spark.table("orders").filter(F.col("o_custkey") < 40)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("v_min"),
            F.max("o_totalprice").alias("v_max"),
            F.countDistinct("o_custkey").alias("v_count_distinct"),
            F.sum_distinct(F.col("o_totalprice").cast(_DEC)).cast("double").alias("v_sum_distinct"),
            F.median(F.col("o_totalprice").cast("double")).alias("v_median"),
            F.array_join(
                F.sort_array(F.collect_set((F.col("o_custkey") % 10).cast("long"))), ","
            ).alias("v_set_str"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Approximate aggregates: property-based differential check.
# ---------------------------------------------------------------------------
@register(
    "micro_agg_approx",
    oracle="""
    SELECT o_orderpriority, TRUE AS acd_within_10pct, TRUE AS pctl_within_range
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="approx_count_distinct + percentile_approx (ref todo!() "
    "parser.rs:880,888). Sketches are engine-specific, so the oracle "
    "asserts accuracy properties, not sketch values.",
    tags=("micro", "aggregate"),
)
def micro_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL estimate must land within 10% of the exact count and the
    approximate p50 must lie inside [min, max] — the engine-portable
    contract of an approximate aggregate.

    Scale: this is the pair that REPLACES exact distinct/percentile
    at 100 TB — fixed-size sketch state per group instead of a
    per-key shuffle."""
    o = spark.table("orders")
    acd = F.approx_count_distinct("o_custkey")
    exact = F.countDistinct("o_custkey")
    pctl = F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            ((acd >= exact * 0.9) & (acd <= exact * 1.1)).alias("acd_within_10pct"),
            ((pctl >= F.min("o_totalprice")) & (pctl <= F.max("o_totalprice"))).alias(
                "pctl_within_range"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Set operations (ref todo!() parser.rs:398-399).
# ---------------------------------------------------------------------------
@register(
    "micro_set_ops",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_acctbal < 0),
         sn AS (SELECT DISTINCT s_nationkey AS k FROM supplier WHERE s_acctbal > 5000)
    SELECT 'union_all' AS op, CAST(COUNT(*) AS BIGINT) AS n FROM (SELECT k FROM cn UNION ALL SELECT k FROM sn) t
    UNION ALL
    SELECT 'union_distinct', CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM cn UNION SELECT k FROM sn) t
    UNION ALL
    SELECT 'intersect', CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM cn INTERSECT SELECT k FROM sn) t
    UNION ALL
    SELECT 'except', CAST(COUNT(*) AS BIGINT) FROM (SELECT k FROM cn EXCEPT SELECT k FROM sn) t
    ORDER BY op
    """,
    doc="UNION [ALL] / INTERSECT / EXCEPT — all todo!() in the "
    "reference (parser.rs:398-399); Spark: union/intersect/exceptAll.",
    tags=("micro", "setop"),
)
def micro_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: set ops on the deduplicated key domain; UNION goes
    through a hash-distinct shuffle, UNION ALL is shuffle-free
    concatenation — the plan difference that matters at volume."""
    cn = (
        spark.table("customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_nationkey").alias("k"))
        .distinct()
    )
    sn = (
        spark.table("supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("k"))
        .distinct()
    )

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        one("union_all", cn.union(sn))
        .union(one("union_distinct", cn.union(sn).distinct()))
        .union(one("intersect", cn.intersect(sn)))
        .union(one("except", cn.exceptAll(sn)))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# Right / full outer joins (listed in ref parser.rs:309-353, never
# exercised) + cross join (parser.rs:354-397).
# ---------------------------------------------------------------------------
@register(
    "micro_join_right",
    oracle="""
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
    doc="RIGHT OUTER join (ref join_factor_to_ast parser.rs:1152-1191; "
    "right variant never exercised by the TPC-H set).",
    tags=("micro", "join"),
)
def micro_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = spark.table("orders").filter(F.col("o_totalprice") > 400000)
    return (
        big.join(
            spark.table("customer"), F.col("o_custkey") == F.col("c_custkey"), "right"
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_orderless"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "micro_join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_cust
                FROM customer WHERE c_acctbal < -500 GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_supp
                FROM supplier WHERE s_acctbal > 8000 GROUP BY s_nationkey)
    SELECT coalesce(cn.k, sn.k) AS nationkey,
           coalesce(cn.n_cust, 0) AS n_cust,
           coalesce(sn.n_supp, 0) AS n_supp,
           (cn.k IS NULL) AS missing_cust_side,
           (sn.k IS NULL) AS missing_supp_side
    FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
    ORDER BY nationkey
    """,
    doc="FULL OUTER join with nulls surviving on both sides "
    "(ref parser.rs:1152-1191, full variant never exercised).",
    tags=("micro", "join"),
)
def micro_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        spark.table("customer")
        .filter(F.col("c_acctbal") < -500)
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        spark.table("supplier")
        .filter(F.col("s_acctbal") > 8000)
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cn.join(sn, F.col("ck") == F.col("sk"), "full_outer")
        .select(
            F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
            F.col("ck").isNull().alias("missing_cust_side"),
            F.col("sk").isNull().alias("missing_supp_side"),
        )
        .orderBy("nationkey")
    )


@register(
    "micro_join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    ORDER BY r_name, n_name
    """,
    doc="Cartesian product (ref CrossJoin parser.rs:354-397) over two "
    "fixed-cardinality dims — the only scale-safe cross join shape.",
    tags=("micro", "join"),
)
def micro_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: 5 x 25 rows. Cross joins are reserved for bounded dims;
    every large-table pairing in this engine goes through an equi or
    bucketed join instead (see llm dedup operators)."""
    return (
        spark.table("region")
        .crossJoin(spark.table("nation"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# LIMIT ... OFFSET (ref Limit unparse parser.rs:493-503; offset never
# exercised).
# ---------------------------------------------------------------------------
@register(
    "micro_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
    doc="LIMIT + OFFSET pagination (ref parser.rs:493-503).",
    tags=("micro",),
)
def micro_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ORDER BY + LIMIT/OFFSET plans as TakeOrdered over
    partial top-(limit+offset) per partition — no global sort."""
    return (
        spark.table("orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(5)
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube + GROUPING() (ref todo!() parser.rs:940).
# ---------------------------------------------------------------------------
@register(
    "micro_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders WHERE o_custkey < 200
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus
    """,
    doc="ROLLUP with GROUPING() disambiguation (ref GroupingSet "
    "todo!() parser.rs:940; Grouping agg todo!() parser.rs:890).",
    tags=("micro", "aggregate"),
)
def micro_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table("orders").filter(F.col("o_custkey") < 200)
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
        )
        .orderBy("g_prio", "g_status", "o_orderpriority", "o_orderstatus")
    )


@register(
    "micro_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem WHERE l_orderkey < 1000
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, l_returnflag, l_linestatus
    """,
    doc="CUBE: all 2^k grouping combinations (ref todo!() parser.rs:940).",
    tags=("micro", "aggregate"),
)
def micro_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: cube expands each input row into 2^k grouping tuples
    BEFORE the shuffle — partial aggregation keeps the blowup to the
    distinct-group count, not the row count."""
    li = spark.table("lineitem").filter(F.col("l_orderkey") < 1000)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Inline VALUES relation (ref LogicalPlan::Values todo!() parser.rs:504).
# ---------------------------------------------------------------------------
@register(
    "micro_values_inline",
    oracle="""
    SELECT v.prio, CAST(v.weight AS BIGINT) AS weight, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('5-LOW', 1)) AS v(prio, weight)
    LEFT JOIN orders o ON o.o_orderpriority = v.prio
    GROUP BY v.prio, v.weight
    ORDER BY v.prio
    """,
    doc="Inline VALUES / createDataFrame relation joined against a "
    "table (ref Values todo!() parser.rs:504).",
    tags=("micro",),
)
def micro_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the literal relation is driver-built and broadcast —
    the canonical small-dim pattern."""
    v = local_frame(
        spark,
        [("1-URGENT", 5), ("2-HIGH", 4), ("5-LOW", 1)],
        "prio string, weight long",
    )
    return (
        v.join(
            spark.table("orders"), F.col("o_orderpriority") == F.col("prio"), "left"
        )
        .groupBy("prio", "weight")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# Struct / array construction + indexed access (ref GetIndexedField
# todo!() parser.rs:698; Struct/Array ctors todo!() parser.rs:760,811).
# ---------------------------------------------------------------------------
@register(
    "micro_nested_access",
    oracle="""
    SELECT n_nationkey,
           (struct_pack(name := n_name, region := n_regionkey)).name AS v_field,
           ([n_name, 'x', CAST(n_regionkey AS VARCHAR)])[1] AS v_item0,
           ([n_name, 'x', CAST(n_regionkey AS VARCHAR)])[3] AS v_item2,
           len([n_name, 'x']) AS v_arr_len,
           list_contains([0, 2, 4], n_regionkey) AS v_contains
    FROM nation
    ORDER BY n_nationkey
    """,
    doc="struct/array constructors + getField/getItem access (ref "
    "todo!()s parser.rs:698,760,811). Spark 0-based vs DuckDB 1-based "
    "indexing reconciled per dialect.",
    tags=("micro", "scalar"),
)
def micro_nested_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = spark.table("nation")
    arr = F.array(F.col("n_name"), F.lit("x"), F.col("n_regionkey").cast("string"))
    return na.select(
        "n_nationkey",
        F.struct(F.col("n_name").alias("name"), F.col("n_regionkey").alias("region"))
        .getField("name")
        .alias("v_field"),
        arr.getItem(0).alias("v_item0"),
        arr.getItem(2).alias("v_item2"),
        F.size(F.array(F.col("n_name"), F.lit("x"))).cast("long").alias("v_arr_len"),
        F.array_contains(F.array(F.lit(0), F.lit(2), F.lit(4)), F.col("n_regionkey")).alias(
            "v_contains"
        ),
    ).orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# Sort null-ordering variants (ref Sort unparse parser.rs:284-308
# handles nulls_first, but no query ever exercised it).
# ---------------------------------------------------------------------------
@register(
    "micro_sort_nulls",
    oracle="""
    SELECT n_nationkey, nullif(n_name, 'GERMANY') AS maybe_name
    FROM nation
    ORDER BY maybe_name ASC NULLS FIRST, n_nationkey
    """,
    doc="ORDER BY ... NULLS FIRST (ref parser.rs:284-308 nulls_first "
    "flag, never exercised by the TPC-H set).",
    tags=("micro",),
)
def micro_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    na = spark.table("nation")
    return na.select(
        "n_nationkey", F.nullif(F.col("n_name"), F.lit("GERMANY")).alias("maybe_name")
    ).orderBy(F.col("maybe_name").asc_nulls_first(), F.col("n_nationkey"))


# ---------------------------------------------------------------------------
# Repartition (ref LogicalPlan::Repartition todo!() parser.rs:492).
# ---------------------------------------------------------------------------
@register(
    "micro_repartition",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Explicit hash repartition before aggregation (ref "
    "Repartition todo!() parser.rs:492). Semantics-invisible; the "
    "point is the operator executes and the aggregate reuses the "
    "partitioning (no second shuffle).",
    tags=("micro",),
)
def micro_repartition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: pre-partitioning on the grouping key lets the aggregate
    run shuffle-free on top — the manual form of what bucketing gives
    persistently (see operators/bucketing.py)."""
    return (
        spark.table("orders")
        .repartition(8, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (beyond rollup/cube; ref todo!() parser.rs:940).
# ---------------------------------------------------------------------------
@register(
    "micro_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders WHERE o_custkey < 100
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    ORDER BY g_prio, g_status, o_orderpriority, o_orderstatus
    """,
    doc="Arbitrary GROUPING SETS via the DataFrame groupingSets API "
    "(ref GroupingSet todo!() parser.rs:940) — per-dimension totals "
    "plus grand total in one pass.",
    tags=("micro", "aggregate"),
)
def micro_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one pass over the input expands rows per grouping set
    pre-shuffle; with partial aggregation the shuffle carries only
    distinct group tuples."""
    o = spark.table("orders").filter(F.col("o_custkey") < 100)
    return (
        o.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
        )
        .orderBy("g_prio", "g_status", "o_orderpriority", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# MapType surface (absent from the reference entirely — SURVEY §1.3
# "Map does not exist at all"; closes the last nested-type row next
# to micro_nested_access's struct/array coverage).
# ---------------------------------------------------------------------------
@register(
    "micro_map_access",
    oracle="""
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             MAP(['qty', 'disc', 'tax'],
                 [CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE),
                  CAST(l_tax AS DOUBLE)]) AS m
      FROM lineitem WHERE l_orderkey < 200
    )
    SELECT l_orderkey, l_linenumber,
           m['qty'][1] AS qty,
           m['disc'][1] AS disc,
           m['nope'][1] AS missing,
           array_to_string(map_keys(m), ',') AS keys_csv,
           CAST(cardinality(m) AS BIGINT) AS n_entries
    FROM t ORDER BY l_orderkey, l_linenumber
    """,
    doc="MapType construction + access: create_map, getItem (present "
    "and missing key -> NULL), map_keys, size. Map is the one nested "
    "type the reference lacks entirely (SURVEY §1.3).",
    tags=("micro", "nested"),
)
def micro_map_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: map construction/lookup is per-row codegen'd expression
    work — no shuffle beyond the presentation sort."""
    li = spark.table("lineitem").filter(F.col("l_orderkey") < 200)
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("disc"), F.col("l_discount").cast("double"),
        F.lit("tax"), F.col("l_tax").cast("double"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        m.getItem("qty").alias("qty"),
        m.getItem("disc").alias("disc"),
        m.getItem("nope").alias("missing"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.size(m).cast("long").alias("n_entries"),
    ).orderBy("l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# 3-part table names (ref parser.rs:459-465: the reference exposes
# `bench.public.lineitem`; driver fixtures flatten to 1-part temp
# views by design — SURVEY §7 hard-item #2. This query closes the
# fidelity note by demonstrating the real namespace path:
# catalog.database.table through Spark's session catalog.)
# ---------------------------------------------------------------------------
@register(
    "micro_three_part_names",
    oracle="""
    SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
    """,
    doc="3-part name resolution (ref parser.rs:459-465 "
    "`bench.public.lineitem`): CREATE DATABASE bench + external "
    "parquet table, queried as spark_catalog.bench.region — the "
    "catalog.schema.table path the flattened temp views skip.",
    tags=("micro", "catalog"),
)
def micro_three_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: external-table DDL is metadata-only (no data copy); the
    scan is the same pruned parquet read as the 1-part path."""
    spark.sql("CREATE DATABASE IF NOT EXISTS bench")
    spark.sql("DROP TABLE IF EXISTS bench.region")
    spark.sql(
        f"CREATE TABLE bench.region USING parquet LOCATION '{sf_dir}/region.parquet'"
    )
    return spark.sql(
        "SELECT r_regionkey, r_name FROM spark_catalog.bench.region ORDER BY r_regionkey"
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (wide -> long reshaping; absent from the reference's
# parser entirely — no Unpivot/stack arm exists in parser.rs).
# ---------------------------------------------------------------------------
@register(
    "micro_unpivot",
    oracle="""
    WITH u AS (
      SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
      UNION ALL
      SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    )
    SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(30,8))) AS DOUBLE) AS sum_val,
           MIN(val) AS min_val, MAX(val) AS max_val
    FROM u GROUP BY metric ORDER BY metric
    """,
    doc="Unpivot (wide->long melt) via DataFrame.unpivot, the "
    "relational reshape the reference's parser has no arm for; "
    "oracle is the equivalent UNION ALL expansion.",
    tags=("micro", "relational"),
)
def micro_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt two part metrics into (metric, val) rows, then aggregate.

    Scale: unpivot is a zero-shuffle row-local expansion (each input
    row emits V rows map-side); the only exchange is the final
    grouped rollup on the tiny metric key."""
    melted = (
        spark.table("part")
        .select(
            "p_partkey",
            F.col("p_retailprice"),
            F.col("p_size").cast("double").alias("p_size"),
        )
        .unpivot("p_partkey", ["p_retailprice", "p_size"], "metric", "val")
    )
    return (
        melted.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast(_DEC)).cast("double").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("metric")
    )


# ---------------------------------------------------------------------------
# Lateral positional expansion (posexplode vs LATERAL unnest).
# ---------------------------------------------------------------------------
@register(
    "micro_lateral_posexplode",
    oracle="""
    SELECT d.doc_id, CAST(t.i - 1 AS INTEGER) AS pos, d.w[t.i] AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS w
          FROM documents WHERE doc_id < 50) d
    CROSS JOIN LATERAL (SELECT unnest(range(1, least(len(d.w), 3) + 1)) AS i) t
    ORDER BY doc_id, pos
    """,
    doc="Positional lateral expansion: posexplode of each document's "
    "leading tokens vs a DuckDB correlated LATERAL unnest — the "
    "index-preserving flatten (reference parser has no lateral/"
    "unnest arm).",
    tags=("micro", "relational"),
)
def micro_lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First three tokens of each doc with their positions.

    Scale: posexplode is generator-node row-local work (no join, no
    shuffle); the lateral-join formulation Catalyst would plan for
    the SQL spelling collapses to the same generate node."""
    return (
        spark.table("documents")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.posexplode(F.slice(F.split(F.col("text"), " "), 1, 3)).alias("pos", "tok"),
        )
        .orderBy("doc_id", "pos")
    )


# ---------------------------------------------------------------------------
# Higher-order array functions (transform/filter/exists/aggregate) —
# the lambda-expression surface; nothing comparable exists anywhere
# in the reference's parser.
# ---------------------------------------------------------------------------
@register(
    "micro_hof_array",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id < 30
    )
    SELECT doc_id,
           CAST(len(list_filter(w, x -> len(x) > 4)) AS INTEGER) AS n_long,
           CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS total_len,
           array_to_string(list_transform(list_slice(w, 1, 3), x -> upper(x)), ',') AS head_upper,
           list_contains(w, 'the') AS has_the
    FROM d ORDER BY doc_id
    """,
    doc="Higher-order array functions: filter (predicate lambda), "
    "aggregate (fold lambda), transform (map lambda), exists — "
    "Spark's lambda-expression surface vs DuckDB's list_* family. "
    "All-integer/string outputs, so parity is exact.",
    tags=("micro", "scalar"),
)
def micro_hof_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda HOFs over token arrays.

    Scale: HOFs evaluate inside whole-stage codegen per row — zero
    shuffle, zero Python. (Measured note: for hot paths an
    explode+groupBy sometimes beats a deep HOF chain because codegen
    fuses the aggregate; this entry is the API-surface row, with the
    explode formulation covered by the dedup/token queries.)"""
    d = (
        spark.table("documents")
        .filter(F.col("doc_id") < 30)
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
    )
    return d.select(
        "doc_id",
        F.size(F.filter("w", lambda x: F.length(x) > 4)).alias("n_long"),
        F.aggregate(
            "w", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
        ).alias("total_len"),
        F.array_join(
            F.transform(F.slice("w", 1, 3), lambda x: F.upper(x)), ","
        ).alias("head_upper"),
        F.exists("w", lambda x: x == F.lit("the")).alias("has_the"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4): one input row -> many typed output rows,
# consumed through a LATERAL join.
# ---------------------------------------------------------------------------
@register(
    "micro_udtf_tokens",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+|[0-9]+') AS l
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS pos, l[u.i] AS token
    FROM t CROSS JOIN unnest(range(1, len(l) + 1)) AS u(i)
    ORDER BY doc_id, pos
    """,
    doc="Python user-defined TABLE function (Spark 4 @udtf): a "
    "tokenizer yielding (pos, token) rows per document, applied via "
    "SQL LATERAL join — the row-expanding UDF class the reference "
    "parser has no arm for (scalar UDF todo!() parser.rs:813, let "
    "alone table functions).",
    tags=("micro", "udf"),
)
def micro_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional tokens via a lateral-joined Python UDTF.

    Scale: UDTFs cross the Python boundary row-at-a-time, so this is
    the API-surface row, deliberately bounded (doc_id < 40) — the
    hot-path equivalent is the JVM-side explode(regexp_extract_all)
    used by llm_token_topk. The filter is pushed beneath the lateral
    join so only matching documents reach Python."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class TokenPos:
        def eval(self, text: str):
            for i, t in enumerate(_re.findall("[a-zA-Z]+|[0-9]+", text or "")):
                yield i, t

    spark.udtf.register("token_pos", TokenPos)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents d, LATERAL token_pos(d.text) t
        WHERE d.doc_id < 40
        ORDER BY d.doc_id, t.pos
        """
    )


# ---------------------------------------------------------------------------
# Datasketches HLL: mergeable distinct-count sketches (Spark 3.5+/4).
# ---------------------------------------------------------------------------
@register(
    "micro_hll_sketch_merge",
    oracle="""
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
           TRUE AS est_within_5pct
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Apache DataSketches HLL surface (hll_sketch_agg / "
    "hll_union_agg / hll_sketch_estimate): per-batch sketches built "
    "on disjoint halves of the corpus, merged, and the estimate "
    "checked within 5% of the exact distinct count. Sketch bytes are "
    "engine-specific, so the oracle asserts the accuracy property "
    "plus the exact count (which rides along as real differential "
    "content).",
    tags=("micro", "aggregate"),
)
def micro_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct doc_ids per lang via merged HLL sketches.

    Scale: THE incremental-distinct pattern — each day/batch persists
    a fixed-size (~KB) sketch per group instead of its raw key set;
    any window of batches is answered by hll_union_agg over sketch
    rows, never by re-scanning keys. The two disjoint halves here
    stand in for two ingest batches; the merge is associative, so a
    1000-batch daily cadence unions just as exactly."""
    d = spark.table("documents")
    skts = (
        d.withColumn("half", (F.col("doc_id") % 2).cast("int"))
        .groupBy("lang", "half")
        .agg(F.hll_sketch_agg("doc_id").alias("sk"))
    )
    merged = skts.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = d.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("exact_distinct")
    )
    return (
        exact.join(merged, "lang")
        .select(
            "lang",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                <= 0.05 * F.col("exact_distinct")
            ).alias("est_within_5pct"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE) — iterative SQL surface.
# ---------------------------------------------------------------------------
@register(
    "micro_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(doc_id, root, depth) AS (
      SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 10
      UNION ALL
      SELECT d.doc_id, w.root, w.depth + 1
      FROM documents d JOIN walk w ON w.doc_id = d.doc_id // 10
      WHERE d.doc_id >= 10
    )
    SELECT depth,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(root) AS BIGINT) AS sum_roots,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM walk GROUP BY depth ORDER BY depth
    """,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE, absent from the "
    "reference's parser entirely): BFS over the derived parent "
    "forest doc_id -> doc_id div 10 rooted at single-digit ids, "
    "rolled up per depth. The oracle runs the same recursion in "
    "DuckDB (// integer division is the only dialect delta).",
    tags=("micro", "sql"),
)
def micro_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-depth rollup of a recursive forest traversal.

    Scale: Spark executes each recursive step as a distributed join
    of the frontier against the base relation — frontier size, not
    table size, bounds per-step state, and steps end when the
    frontier empties (max depth = digits of max doc_id). Same
    union-frontier shape as llm_dedup_clusters' label propagation,
    but expressed in pure SQL."""
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, root, depth) AS (
          SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 10
          UNION ALL
          SELECT d.doc_id, w.root, w.depth + 1
          FROM documents d JOIN walk w ON w.doc_id = d.doc_id div 10
          WHERE d.doc_id >= 10
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(root) AS BIGINT) AS sum_roots,
               MIN(doc_id) AS min_doc,
               MAX(doc_id) AS max_doc
        FROM walk GROUP BY depth ORDER BY depth
        """
    )


# ---------------------------------------------------------------------------
# ANSI-safe try_* arithmetic (Spark 4 runs ANSI mode: errors, not
# silent wrap-around — try_* is the explicit null-instead-of-error path).
# ---------------------------------------------------------------------------
@register(
    "micro_try_arithmetic",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 0 THEN NULL
                ELSE n_nationkey // n_regionkey END AS safe_div,
           CASE WHEN n_regionkey = 0 THEN NULL
                ELSE 9223372036854775807 END AS safe_overflow,
           TRY_CAST(n_name AS BIGINT) AS bad_num
    FROM nation ORDER BY n_nationkey
    """,
    doc="ANSI-safe arithmetic: Spark 4 evaluates under ANSI mode "
    "(division by zero / overflow RAISE, ref's engine silently "
    "wrapped); try_divide / try_add / try_to_number return null "
    "instead — the per-row fault isolation a 100 TB job needs (one "
    "poisoned row must not kill a 10-hour pipeline). Oracle mirrors "
    "with CASE guards + TRY_CAST.",
    tags=("micro", "scalar"),
)
def micro_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-on-fault arithmetic over nation (regionkey 0 rows divide
    by zero; n_name never parses as a number).

    Scale: ANSI errors abort the whole job on one bad row — the
    right default for correctness, the wrong one for 10^12-row
    ingest; try_* scopes the fault to the row so downstream quality
    filters can quarantine nulls instead of re-running the stage."""
    n = spark.table("nation")
    return (
        n.select(
            "n_nationkey",
            F.try_divide(F.col("n_nationkey"), F.col("n_regionkey"))
            .cast("long")
            .alias("safe_div"),
            F.when(
                F.col("n_regionkey") == 0, F.try_add(F.lit(9223372036854775807), F.lit(1))
            )
            .otherwise(F.lit(9223372036854775807))
            .alias("safe_overflow"),
            F.try_to_number(F.col("n_name"), F.lit("999999")).cast("long").alias("bad_num"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "micro_union_evolved",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS id, o_totalprice AS amount,
             CAST(NULL AS VARCHAR) AS priority
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey AS id, o_totalprice AS amount, o_orderpriority AS priority
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(priority, '<legacy>') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(amount AS DECIMAL(30,8))) AS DOUBLE) AS total
    FROM u GROUP BY 1 ORDER BY 1
    """,
    doc="Schema-evolution union: unionByName(allowMissingColumns) "
    "aligns an old-generation relation (no priority column) with the "
    "current schema, null-filling the missing column — the in-plan "
    "complement to the mergeSchema read path "
    "(source_schema_evolution).",
    tags=("micro", "relational"),
)
def micro_union_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup over a union of two schema generations.

    Scale: unionByName is plan-level metadata alignment — zero extra
    shuffle; the null-fill is a literal projection on the legacy
    side. The rollup then treats both generations uniformly."""
    o = spark.table("orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("amount")
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderpriority").alias("priority"),
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (
        u.groupBy(F.coalesce("priority", F.lit("<legacy>")).alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amount").cast("decimal(30,8)")).cast("double").alias("total"),
        )
        .orderBy("priority")
    )


@register(
    "micro_lateral_topn",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """,
    doc="Correlated LATERAL subquery with per-row ORDER BY + LIMIT "
    "(top-2 customers per nation) — the lateral-join SQL surface "
    "beyond LATERAL VIEW explode; identical syntax runs on both "
    "engines, with Spark planning it as a ranked window join.",
    tags=("micro", "sql", "lateral"),
)
def micro_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers per nation through a correlated LATERAL.

    Scale: Catalyst decorrelates the lateral subquery into a
    partitioned rank-filter (no per-nation re-scan of customer);
    deterministic tie-breaks keep the LIMIT 2 row set unique, so the
    differential gate is exact."""
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
        """
    )


# ---------------------------------------------------------------------------
# Join-strategy hints — the user-facing physical-strategy control
# surface (SELECT /*+ MERGE(t) */ ... in SQL, df.hint(...) in the
# DataFrame API). The reference delegates all physical join choice to
# DataFusion; Spark exposes it per-join, and a 100 TB user needs it
# when the optimizer's estimate is wrong (e.g. forcing shuffle-hash
# for a medium dim that AQE would broadcast-OOM, or merge for a
# pre-sorted pair). Results must be hint-invariant — only the plan
# changes; tests/test_plans.py pins the chosen strategies.
# ---------------------------------------------------------------------------
def _hinted_join(spark: SparkSession, strategy: str | None):
    orders = spark.table("orders").filter(F.col("o_totalprice") > 100000.0)
    cust = spark.table("customer")
    if strategy:
        cust = cust.hint(strategy)
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "micro_join_hints",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 100000.0
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="Join-strategy hint surface: the same logical join under "
    "merge / shuffle_hash / broadcast hints must be result-invariant "
    "(this entry runs the MERGE-hinted form against the oracle); "
    "tests/test_plans.py pins that each hint actually flips the "
    "physical strategy (SortMergeJoin / ShuffledHashJoin / "
    "BroadcastHashJoin).",
    tags=("micro", "join"),
)
def micro_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-hinted orders x customer rollup.

    Scale: the hint surface is exactly what a 100 TB operator reaches
    for when statistics mislead AQE — forcing sort-merge keeps a
    join spillable when both sides are large; shuffle_hash avoids
    the sort when one side is modest but over the broadcast
    threshold; broadcast pins the classic small-dim plan."""
    return _hinted_join(spark, "merge")


@register(
    "micro_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total
    FROM orders GROUP BY ALL
    ORDER BY o_orderstatus, o_orderpriority
    """,
    doc="GROUP BY ALL (Spark 3.4+/DuckDB shared spelling): every "
    "non-aggregate select item becomes a grouping key — the "
    "analyzer-sugar surface, identical in both engines.",
    tags=("micro", "sql"),
)
def micro_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total
        FROM orders GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
        """
    ).withColumn("n", F.col("n").cast("long"))


@register(
    "micro_select_except",
    oracle="""
    SELECT * EXCLUDE (text) FROM documents
    WHERE doc_id < 25 ORDER BY doc_id
    """,
    doc="Star-expansion subtraction: Spark's SELECT * EXCEPT "
    "(DuckDB spells it EXCLUDE) — wide-table projection pruning "
    "without enumerating survivors; the planner still prunes the "
    "excluded column from the scan.",
    tags=("micro", "sql"),
)
def micro_select_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "SELECT * EXCEPT (text) FROM documents WHERE doc_id < 25 ORDER BY doc_id"
    )


@register(
    "micro_arrow_udf",
    oracle="""
    SELECT o_orderkey,
           CAST(
             CASE WHEN o_totalprice >= 100000 THEN floor(o_totalprice / 50000)
                  ELSE 0 END AS BIGINT) AS price_band,
           upper(substr(o_orderpriority, 1, 1)) || lower(substr(o_orderpriority, 3))
             AS pretty_priority
    FROM orders WHERE o_orderkey < 4000
    ORDER BY o_orderkey
    """,
    doc="Spark 4 Arrow-optimized scalar Python UDF (useArrow=True): "
    "the columnar-batch transport for the classic @udf surface — "
    "deterministic integer banding + string prettify, re-derived in "
    "SQL by the oracle. Completes the Python-eval matrix alongside "
    "pandas_udf / applyInPandas / mapInPandas / mapInArrow / UDTF.",
    tags=("micro", "udf"),
)
def micro_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar UDFs over the orders slice.

    Scale: useArrow=True moves rows to Python in Arrow record
    batches (vectorized serialization) instead of pickled rows —
    the row-at-a-time Python loop remains (prefer pandas_udf in hot
    paths; this query exists to pin the API's semantics), so the
    slice is kept deliberately small."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def price_band(p: float) -> int:
        import math

        return int(math.floor(p / 50000)) if p >= 100000 else 0

    @udf("string", useArrow=True)
    def pretty_priority(s: str) -> str:
        return s[:1].upper() + s[2:].lower()

    return (
        spark.table("orders")
        .filter(F.col("o_orderkey") < 4000)
        .select(
            "o_orderkey",
            price_band(F.col("o_totalprice")).alias("price_band"),
            pretty_priority(F.col("o_orderpriority")).alias("pretty_priority"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "micro_posexplode_outer",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> len(w) > 6) AS fl
      FROM documents WHERE doc_id < 40
    ),
    x AS (
      SELECT doc_id,
             unnest(CASE WHEN len(fl) = 0 THEN [NULL]
                         ELSE list_transform(range(0, len(fl)),
                                             i -> {'p': i, 'w': fl[i+1]}) END) AS s
      FROM base
    )
    SELECT doc_id, CAST(s.p AS BIGINT) AS pos, s.w AS word
    FROM x ORDER BY doc_id, pos
    """,
    doc="NULL-preserving lateral explode (posexplode_outer): rows "
    "whose array is empty still surface with NULL pos/word — the "
    "LEFT-JOIN-LATERAL semantics an inner explode silently drops; "
    "DuckDB emulates it with a CASE-wrapped struct unnest.",
    tags=("micro", "lateral"),
)
def micro_posexplode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = F.filter(F.split("text", " "), lambda w: F.length(w) > 6)
    return (
        spark.table("documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.posexplode_outer(arr).alias("pos", "word"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "word")
        .orderBy("doc_id", "pos")
    )


@register(
    "micro_ilike",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_mktsegment ILIKE '%BUILD%' OR c_mktsegment ILIKE 'auto%'
    ORDER BY c_custkey
    """,
    doc="Case-insensitive LIKE (ILIKE — shared Spark 3.3+/DuckDB "
    "spelling), both the contains and prefix shapes.",
    tags=("micro", "sql"),
)
def micro_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("customer")
        .filter(
            F.col("c_mktsegment").ilike("%BUILD%")
            | F.col("c_mktsegment").ilike("auto%")
        )
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "micro_listagg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS members,
           string_agg(DISTINCT substr(n.n_name, 1, 1), '' ORDER BY substr(n.n_name, 1, 1)) AS initials
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
    doc="LISTAGG (SQL:2016, new in Spark 4 as listagg/string_agg): "
    "ordered string concatenation per group, plain and DISTINCT — "
    "deterministic because WITHIN GROUP ordering is explicit on both "
    "engines.",
    tags=("micro", "sql"),
)
def micro_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-group string aggregation.

    Scale: listagg with an explicit order is a partial-sort aggregate;
    per-group payload is the concatenated string, so group sizes — not
    row count — bound memory (same contract as collect_list, which is
    why unbounded groups belong in array form, not here)."""
    n = spark.table("nation")
    r = spark.table("region")
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("members"),
            F.expr(
                "listagg(DISTINCT substring(n_name, 1, 1), '') "
                "WITHIN GROUP (ORDER BY substring(n_name, 1, 1))"
            ).alias("initials"),
        )
        .orderBy("r_name")
    )


@register(
    "micro_collation",
    oracle="""
    WITH variants AS (
      SELECT n_name AS s FROM nation
      UNION ALL SELECT lower(n_name) FROM nation
      UNION ALL SELECT upper(substr(n_name, 1, 1)) || lower(substr(n_name, 2))
        FROM nation
    )
    SELECT MIN(s) AS canon, CAST(COUNT(*) AS BIGINT) AS n
    FROM variants
    GROUP BY s COLLATE NOCASE
    ORDER BY canon
    """,
    doc="Collation-aware grouping (Spark 4 collate/UTF8_LCASE vs "
    "DuckDB COLLATE NOCASE): three case variants of every nation "
    "name collapse into one case-insensitive group. The group "
    "REPRESENTATIVE under a collation is engine-defined, so the "
    "output key is the deterministic binary MIN over the group, "
    "never the collated key itself.",
    tags=("micro", "sql"),
)
def micro_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 collations.

    Scale: a collated groupBy is a plain hash aggregate on the
    collation key — same shuffle as any groupBy; the collation only
    changes the equality function, which whole-stage codegen inlines."""
    n = spark.table("nation").select("n_name")
    variants = (
        n.select(F.col("n_name").alias("s"))
        .unionAll(n.select(F.lower("n_name").alias("s")))
        .unionAll(n.select(F.initcap(F.lower("n_name")).alias("s")))
    )
    return (
        variants.groupBy(F.collate(F.col("s"), "UTF8_LCASE").alias("k"))
        .agg(F.min("s").alias("canon"), F.count(F.lit(1)).alias("n"))
        .select("canon", "n")
        .orderBy("canon")
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax (round 8) — Spark 4's |> operator chain (SQL
# pipe syntax, standardized from the GoogleSQL proposal): the same
# logical plan as nested SELECTs, authored as a linear dataflow. The
# engine runs the PIPE form; the oracle is the classic form — one
# more proof that the new surface is sugar over the identical
# semantics, under the same differential gate as everything else.
# ---------------------------------------------------------------------------
@register(
    "micro_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_price,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM (
      SELECT o_orderpriority, o_totalprice,
             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days
      FROM orders WHERE o_totalprice > 1000
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Spark 4 SQL pipe syntax (|> WHERE / EXTEND / AGGREGATE / "
    "ORDER BY): the linear-dataflow authoring surface over the "
    "identical logical plan — the oracle is the classic nested "
    "form, proving the sugar changes nothing.",
    tags=("micro", "sql"),
)
def micro_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe-syntax aggregate over orders.

    Scale: identical plan to the classic form by construction —
    Catalyst sees the same operators, so pushdown/codegen/AQE apply
    unchanged; the surface is purely front-end."""
    return spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > 1000
        |> EXTEND datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS days
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE)
                       AS sum_price,
                     CAST(MAX(days) AS BIGINT) AS max_days
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    ).select("o_orderpriority", "n", "sum_price", "max_days")


# ---------------------------------------------------------------------------
# Lateral column aliases (Spark 3.4+/4): a SELECT item referencing an
# alias defined earlier in the SAME select list — the ergonomic
# surface that kills the derived-table-per-intermediate pattern. The
# reference's parser has no such rule (projection items are
# independent: src/sqldb/parser.rs projection walk); Catalyst resolves
# the alias chain into one Project. Oracle writes the expressions
# fully expanded, proving the sugar is pure resolution.
# ---------------------------------------------------------------------------
@register(
    "micro_lateral_alias",
    oracle="""
    SELECT c_custkey,
           c_acctbal * 2.0 AS doubled,
           c_acctbal * 2.0 + 100.0 AS boosted,
           (c_acctbal * 2.0 + 100.0) / 10.0 AS scaled
    FROM customer
    WHERE c_custkey <= 50
    ORDER BY c_custkey
    """,
    doc="Lateral column aliases: select items chain on aliases from "
    "the same projection (doubled -> boosted -> scaled); resolved "
    "into one Project node. Oracle uses the expanded expressions.",
    tags=("micro", "sql"),
)
def micro_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-chained projection via lateral column aliases.

    Scale: pure projection — whole-stage-codegen'd, no shuffle; the
    filter pushes to the scan."""
    return spark.sql(
        """
        SELECT c_custkey,
               c_acctbal * 2.0 AS doubled,
               doubled + 100.0 AS boosted,
               boosted / 10.0 AS scaled
        FROM customer
        WHERE c_custkey <= 50
        ORDER BY c_custkey
        """
    )


# ---------------------------------------------------------------------------
# Parameterized SQL (Spark 3.4+/4 spark.sql(sql, args)): named-marker
# queries with literal binding server-side — the injection-safe
# surface the reference's string-assembled SQL layer
# (src/sqldb/postgres/mod.rs query assembly) never had. The markers
# bind as typed literals BEFORE analysis, so Catalyst constant-folds
# and pushes them down exactly like inline literals.
# ---------------------------------------------------------------------------
_PARAM_STATUS = "F"
_PARAM_MIN_QTY = 25


@register(
    "micro_parameterized_sql",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_linestatus = '{_PARAM_STATUS}' AND l_quantity >= {_PARAM_MIN_QTY}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Parameterized SQL via spark.sql(query, args={...}): named "
    "markers (:status, :min_qty) bind as typed literals pre-analysis "
    "— same plan, same pushdown as inline literals; the oracle runs "
    "the bound form.",
    tags=("micro", "sql"),
)
def micro_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL execution surface.

    Scale: identical plan to the literal form — both predicates reach
    the parquet scan as PushedFilters (bound before optimization)."""
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE)
                 AS sum_price
        FROM lineitem
        WHERE l_linestatus = :status AND l_quantity >= :min_qty
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
        args={"status": _PARAM_STATUS, "min_qty": _PARAM_MIN_QTY},
    )


# ---------------------------------------------------------------------------
# 57. XML parsing (round 8, Spark 4.0 native XML): from_xml over an
#     XML payload column plus an xpath extraction — the semi-
#     structured sibling of the JSON/VARIANT surface (ev_json_props,
#     ev_variant_props). The fixture has no XML column, so the query
#     SYNTHESIZES the canonical roundtrip: render supplier rows to
#     XML strings with concat (exactly what an upstream exporter
#     does), parse them back with from_xml(schema), and aggregate the
#     parsed fields; the oracle computes the same aggregate from the
#     base columns — parse(render(x)) == x, differentially proven.
# ---------------------------------------------------------------------------
@register(
    "micro_xml_parse",
    oracle="""
    SELECT s_nationkey AS nation,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(30,8))) AS DOUBLE)
             AS sum_bal,
           MAX(s_name) AS max_name
    FROM supplier
    WHERE s_suppkey % 2 = 0
    GROUP BY s_nationkey
    ORDER BY nation
    """,
    doc="Spark 4 native XML surface: suppliers rendered to XML "
    "payload strings, parsed back with from_xml (struct schema) and "
    "an xpath_long probe on the same payload; aggregate over parsed "
    "fields == aggregate over base columns (roundtrip identity as "
    "the oracle).",
    tags=("micro", "sql"),
)
def micro_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_xml / xpath over synthesized XML payloads.

    Scale: render and parse are both map-side whole-stage-codegen
    expressions (no UDF, no shuffle added): the plan is scan ->
    project(render, parse) -> partial agg -> exchange -> final agg,
    identical envelope to the plain aggregation. The parse cost is
    the point — it's the decode path a 100 TB XML ingest spends its
    time in, and it scales embarrassingly."""
    xml = F.concat(
        F.lit("<sup><k>"),
        F.col("s_suppkey"),
        F.lit("</k><name>"),
        F.col("s_name"),
        F.lit("</name><nat>"),
        F.col("s_nationkey"),
        F.lit("</nat><bal>"),
        F.col("s_acctbal").cast("string"),
        F.lit("</bal></sup>"),
    ).alias("payload")
    parsed = (
        spark.table("supplier")
        .select(xml)
        .select(
            F.from_xml(
                "payload",
                "k BIGINT, name STRING, nat BIGINT, bal DOUBLE",
            ).alias("x"),
            F.xpath_long("payload", F.lit("/sup/k")).alias("k_xpath"),
        )
    )
    return (
        parsed.filter(F.col("k_xpath") % 2 == 0)
        .groupBy(F.col("x.nat").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("x.bal").cast("decimal(30,8)"))
            .cast("double")
            .alias("sum_bal"),
            F.max("x.name").alias("max_name"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# 58. IDENTIFIER clause (round 8, Spark 4 / SQL:2023-adjacent): a
#     parameter marker bound as a TABLE NAME — the injection-safe
#     dynamic-SQL surface (templated jobs pick the table/column at
#     submit time without string-splicing SQL). The reference parses
#     3-part static names only (parser.rs:459-465); IDENTIFIER
#     parameterizes the name itself.
# ---------------------------------------------------------------------------
@register(
    "micro_identifier_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_orderdate) AS first_date
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="IDENTIFIER(:tbl) / IDENTIFIER(:col): table and group-by "
    "column chosen via bound parameters — injection-safe dynamic SQL "
    "(the name is resolved as an identifier, never spliced as text); "
    "plan and pushdown identical to the static form, which is the "
    "oracle.",
    tags=("micro", "sql"),
)
def micro_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic table/column names through IDENTIFIER + named args.

    Scale: resolution happens at analysis time — the optimized plan
    is byte-identical to the static query, so every pushdown/pruning
    property carries over unchanged."""
    return spark.sql(
        """
        SELECT IDENTIFIER(:col) AS o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_orderdate) AS first_date
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:col)
        ORDER BY IDENTIFIER(:col)
        """,
        args={"tbl": "orders", "col": "o_orderpriority"},
    )


# ---------------------------------------------------------------------------
# 59. EXECUTE IMMEDIATE (round 8, Spark 4): SQL-in-SQL dynamic
#     execution with USING parameter binding — the stored-procedure-
#     style templating surface that pairs with IDENTIFIER and
#     parameterized spark.sql(); the statement text arrives as a
#     string, parameters bind as typed literals, and the inner plan
#     optimizes exactly like the static form (which is the oracle).
# ---------------------------------------------------------------------------
@register(
    "micro_execute_immediate",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS sum_bal
    FROM customer
    WHERE c_nationkey < 10
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="EXECUTE IMMEDIATE with a USING clause: the statement text is "
    "a string value, the predicate binds through a named parameter "
    "marker — Spark 4's dynamic-SQL surface; the inner query "
    "analyzes/optimizes identically to the static form (the oracle).",
    tags=("micro", "sql"),
)
def micro_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL text executed with bound parameters.

    Scale: a front-end feature — the executed statement's plan is
    byte-identical to the static query (filter pushed to the scan,
    partial aggregation), so there is no runtime cost to the
    indirection."""
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT c_mktsegment,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
                    AS sum_bal
           FROM customer
           WHERE c_nationkey < :mx
           GROUP BY c_mktsegment
           ORDER BY c_mktsegment'
          USING 10 AS mx
        """
    )


# ---------------------------------------------------------------------------
# 60. GROUPING / GROUPING_ID indicator functions (round 8): the
#     disambiguators that make rollup/cube output machine-readable —
#     a NULL key may be a real NULL or a super-aggregate row, and
#     only GROUPING() can tell them apart (SQL:1999; the reference's
#     parser has no grouping-sets surface at all). Completes the
#     micro_rollup/micro_cube/micro_grouping_sets family.
# ---------------------------------------------------------------------------
@register(
    "micro_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
    doc="GROUPING()/GROUPING_ID() over ROLLUP(l_returnflag, "
    "l_linestatus): the SQL:1999 indicator functions that separate "
    "super-aggregate NULLs from data NULLs; gid is the bitmask of "
    "rolled-up dimensions. Same partial-aggregatable expand-then-agg "
    "plan as micro_rollup.",
    tags=("micro", "sql"),
)
def micro_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-indicator functions over a rollup.

    Scale: Spark plans rollup as Expand (one replicated row per
    grouping set) feeding ONE partial aggregation — the indicator
    columns are constants per expanded set, adding nothing to the
    shuffle beyond the grouping-set id already present."""
    return (
        spark.table("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# 61. Named WINDOW clause (round 8): one window specification shared
#     by several window functions via WINDOW w AS (...) — the
#     SQL:2003 spelling that also guarantees Spark plans ONE Window
#     node for all consumers of the spec (shared partition/sort).
# ---------------------------------------------------------------------------
@register(
    "micro_named_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           LAG(o_orderstatus) OVER w AS prev_status
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, rn
    """,
    doc="Named WINDOW clause: three window functions share one "
    "specification (SQL:2003) — and therefore one Window node / one "
    "sort in the physical plan, the cheap spelling of multi-function "
    "window analytics.",
    tags=("micro", "sql", "window"),
)
def micro_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOW w AS (...) shared by row_number/rank/lag.

    Scale: one partition+sort pass serves all three functions; the
    alternative (three inline OVER clauses) plans identically only
    if the specs match exactly — the named form makes that sharing
    structural."""
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
               CAST(RANK() OVER w AS BIGINT) AS rnk,
               LAG(o_orderstatus) OVER w AS prev_status
        FROM orders
        WHERE o_custkey < 200
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, rn
        """
    )


@register(
    "micro_order_by_all",
    oracle="""
    SELECT n_regionkey, n_name FROM nation ORDER BY ALL
    """,
    doc="ORDER BY ALL (Spark 4/DuckDB shared spelling): sort by "
    "every select item left to right — the deterministic-output "
    "sugar both engines resolve identically (companion to "
    "micro_group_by_all).",
    tags=("micro", "sql"),
)
def micro_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ALL resolution — analyzer sugar, zero extra plan
    surface beyond the Sort it expands to."""
    return spark.sql("SELECT n_regionkey, n_name FROM nation ORDER BY ALL")


# ---------------------------------------------------------------------------
# PK/FK join elimination (round 9) — the classical redundant-join
# rewrite (plans/joinelim.py): the user query joins lineitem to
# orders but projects only lineitem columns, so under the declared
# (validated: tests/test_joinelim.py) l_orderkey -> o_orderkey
# relationship the join is dropped and the plan is a bare lineitem
# scan + aggregate. The oracle RUNS THE JOIN — equality of the two is
# exactly the rewrite's soundness claim. A plan rail asserts no Join
# node survives (and that asking for a dim column brings it back).
# ---------------------------------------------------------------------------
from ..plans.joinelim import declare_fk as _declare_fk
from ..plans.joinelim import fk_join as _fk_join

_declare_fk("lineitem", "l_orderkey", "orders", "o_orderkey")


@register(
    "micro_join_elimination",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="PK/FK join elimination: the oracle joins fact to dimension, "
    "the engine proves the join redundant (declared+validated FK, no "
    "dim columns referenced) and plans a join-free scan — "
    "plan-railed in tests/test_joinelim.py.",
    tags=("micro", "plan", "bench"),
)
def micro_join_elimination(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _fk_join(
        spark,
        "lineitem",
        "orders",
        "l_orderkey",
        "o_orderkey",
        needed=["l_returnflag", "l_extendedprice"],
    )
    return (
        base.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# SQL PIVOT clause (round 9) — the syntax-level pivot (micro_unpivot
# covers the inverse; ev_pivot_daily_types covers the DataFrame
# .pivot API). Catalyst expands PIVOT into the same conditional
# aggregation the oracle writes by hand — one partial-aggregatable
# groupBy, zero extra plan surface beyond the Aggregate.
# ---------------------------------------------------------------------------
@register(
    "micro_pivot_sql",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS f_cents,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS o_cents,
           CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT)
             AS f_rows,
           CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT)
             AS o_rows
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="SQL PIVOT clause: revenue and row counts per returnflag "
    "pivoted on linestatus — Catalyst expands it to the conditional "
    "aggregation the oracle spells out; one groupBy, map-side "
    "combinable.",
    tags=("micro", "sql", "bench"),
)
def micro_pivot_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT l_returnflag,
               COALESCE(F_cents, 0) AS f_cents,
               COALESCE(O_cents, 0) AS o_cents,
               COALESCE(F_rows, 0) AS f_rows,
               COALESCE(O_rows, 0) AS o_rows
        FROM (
          SELECT l_returnflag, l_linestatus,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem
        )
        PIVOT (
          SUM(cents) AS cents, COUNT(*) AS rows
          FOR l_linestatus IN ('F' AS F, 'O' AS O)
        )
        ORDER BY l_returnflag
        """
    )
