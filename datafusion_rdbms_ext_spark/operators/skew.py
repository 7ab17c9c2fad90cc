"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join splitting (enabled in session.py) handles most skew
at runtime, but two shapes still need explicit salting at 100 TB:
a groupBy whose hottest key exceeds one task's memory, and a join
whose hot build key defeats even a split shuffle. Both classical
remedies are pure DataFrame compositions:

* Salted aggregation: shard each key into ``buckets`` sub-keys,
  partially aggregate (key, salt), then aggregate the partials —
  the hot key's work spreads over ``buckets`` tasks, and because
  the aggregate is reassociated, results are unchanged (pair with
  exact-decimal sums when the measure is floating point).
* Salted join: shard the skewed probe side by a row-content hash and
  replicate the (small-enough) build side across every shard — the
  hot key's probe rows now meet the build rows in ``buckets``
  separate tasks.

Salts are derived from row-content hashes, not rand(): determinism
keeps retries/speculative tasks consistent and results testable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys.

    ``aggs`` maps output names to REASSOCIABLE aggregate expressions:
    phase one computes them per (keys, salt), phase two refolds the
    partials per keys. The refold is dispatched on the output-name
    prefix — ``sum_``/``n_`` partials re-sum (a count of counts is a
    sum), ``min_`` re-mins, ``max_`` re-maxes; any other prefix is
    rejected because this function cannot know how to merge it
    (avg/median etc. are not refoldable from per-salt results —
    express avg as sum_x / n_x over two entries)."""
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )
    final_aggs = []
    for name in aggs:
        if name.startswith(("sum_", "n_")):
            final_aggs.append(F.sum(name).alias(name))
        elif name.startswith("min_"):
            final_aggs.append(F.min(name).alias(name))
        elif name.startswith("max_"):
            final_aggs.append(F.max(name).alias(name))
        else:
            raise ValueError(
                f"salted_agg refolds sum_*/n_*/min_*/max_* outputs; got {name!r}"
            )
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    buckets: int = 8,
) -> DataFrame:
    """Equi-join with the left (skewed/probe) side salted and the
    right (build) side replicated across all salt shards.

    Build-side replication costs buckets× its size — use only when
    the build side is modest and a hot probe key is the bottleneck."""
    l_salted = left.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(buckets))
    )
    r_replicated = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    # Keys resolved through the DataFrame handles so left_key ==
    # right_key (the common case) is not an ambiguous reference.
    return (
        l_salted.join(
            r_replicated,
            (l_salted[left_key] == r_replicated[right_key])
            & (l_salted["_salt"] == r_replicated["_salt"]),
        )
        .drop("_salt")
    )


# ---------------------------------------------------------------------------
# Registered queries: the salting operators under the differential
# gate (previously property-tested only — tests/test_skew_and_sinks).
# The events fixture is the natural skew case: 5 event_type values
# over the whole table, so a naive groupBy concentrates each key's
# rows in one task.
# ---------------------------------------------------------------------------
from pyspark.sql import SparkSession  # noqa: E402

from ..queries.base import register  # noqa: E402
from ..sources.connector import local_frame  # noqa: E402


@register(
    "op_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Salted two-phase aggregation over a 5-key (maximally hot) "
    "grouping column: per-(key, content-salt) partials refolded per "
    "key, bit-identical to the oracle's plain GROUP BY because every "
    "aggregate is reassociable exact-integer arithmetic.",
    tags=("op", "skew", "bench"),
)
def op_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key rollup through the salting path.

    Scale: a naive groupBy(event_type) funnels ~N/5 rows into each of
    5 reduce tasks regardless of cluster size; the salt spreads each
    key over 16 partials first, so the wide shuffle carries the same
    rows but lands them on 80 tasks, and the refold shuffle carries
    only 80 partial rows. Deterministic content-hash salts keep
    speculative retries consistent."""
    ev = spark.table("events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 1000000).cast("long").alias("v_q"),
    )
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "sum_q": F.sum("v_q"),
            "min_id": F.min("event_id"),
            "max_id": F.max("event_id"),
        },
    )
    return out.select(
        "event_type", "n_events", "sum_q", "min_id", "max_id"
    ).orderBy("event_type")


@register(
    "op_salted_join",
    oracle="""
    WITH dim(event_type, weight) AS (
      VALUES ('click', 1), ('view', 2), ('purchase', 10),
             ('signup', 5), ('error', 0)
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(d.weight AS BIGINT)) AS BIGINT) AS weighted
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    doc="Salted replicated join on a maximally-hot key (every probe "
    "row hits one of 5 build keys): probe side sharded by content "
    "hash, build side replicated across shards, then rolled up — "
    "equals the oracle's plain join exactly.",
    tags=("op", "skew"),
)
def op_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key equi-join through the salted-replication path.

    Scale: AQE skew-split handles moderate skew; this shape is for a
    build key so hot it defeats split shuffles. Replication costs
    buckets x |dim| — dim is 5 rows, so the 8x replication is free
    while the probe's hot key fans across 8 independent tasks."""
    dim = local_frame(
        spark,
        [("click", 1), ("view", 2), ("purchase", 10), ("signup", 5), ("error", 0)],
        "event_type string, weight int",
    ).withColumnRenamed("event_type", "d_type")
    ev = spark.table("events").select("event_type", "event_id")
    joined = salted_join(ev, dim, "event_type", "d_type", buckets=8)
    return (
        joined.groupBy("d_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("weight").cast("long")).alias("weighted"),
        )
        .select(F.col("d_type").alias("event_type"), "n_events", "weighted")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Skew detection report (round 8): the measurement half of the skew
# story — per-key share of the table in exact integer ppm for the
# heaviest keys, the number a planner (or an operator author) reads
# before reaching for salting/AQE. recommend_salting() consumes it,
# so the report is load-bearing the same way source_table_stats
# feeds stats_broadcast_hint.
# ---------------------------------------------------------------------------
_SKEW_TOP = 10


@register(
    "op_skew_report",
    oracle=f"""
    WITH k AS (
      SELECT user_id, COUNT(*) AS n, (SELECT COUNT(*) FROM events) AS total
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_rows,
           CAST(n * 1000000 // total AS BIGINT) AS share_ppm
    FROM k ORDER BY n DESC, user_id LIMIT {_SKEW_TOP}
    """,
    doc=f"Skew detection report: the {_SKEW_TOP} heaviest user_id "
    "keys with exact integer-ppm share of the events table — the "
    "measurement that justifies (or vetoes) salting before anyone "
    "pays for it; recommend_salting() consumes the report "
    "(tests/test_skew_and_sinks.py).",
    tags=("operator", "skew", "bench"),
)
def op_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key share report over events.user_id.

    Scale: one map-side-combined count per key, a broadcast scalar
    for the total, and a TakeOrdered(top) — no full sort. The report
    is top-N-sized; at 100 TB this is exactly the probe you run
    BEFORE deciding a join needs the salted path."""
    ev = spark.table("events")
    total = ev.count()
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "user_id",
            "n_rows",
            F.expr(f"n_rows * 1000000 div {total}").cast("long").alias("share_ppm"),
        )
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(_SKEW_TOP)
    )


def recommend_salting(report: DataFrame, threshold_ppm: int = 50_000) -> bool:
    """True iff the heaviest key exceeds ``threshold_ppm`` of the
    table — the consume side of op_skew_report: above the threshold
    a single reducer owns >= threshold/1e6 of the shuffle and the
    salted two-phase plan pays for itself."""
    top = report.select(F.max("share_ppm")).collect()[0][0]
    return bool(top is not None and top >= threshold_ppm)
