"""Structured Streaming surface over the ``events`` fixture.

The reference has zero streaming capability (SURVEY §2D: nothing in
src/ touches streams beyond tokio channel plumbing) — this module is
the driver-brief extension: the same event-time window semantics as
``queries/events.py`` executed through ``readStream`` micro-batches,
plus a custom stateful operator via ``applyInPandasWithState``.
(Spark 4's state-v2 ``transformWithStateInPandas`` is deliberately NOT
used: its state-server protocol imports ``google.protobuf``, absent
from this container — probed and crash-confirmed; the
applyInPandasWithState query covers the arbitrary-stateful surface.)

Design notes (100 TB / continuous-ingest intent):
* ``withWatermark`` bounds state: windows older than max-event-time
  minus the watermark delay are finalized and evicted, so state size
  tracks the watermark horizon, not the stream length.
* ``Trigger.AvailableNow`` drains the backlog in bounded micro-batches
  then stops — the batch-parity mode that lets the driver's oracle
  hash-check streaming results against plain SQL.
* The stateful operator keeps ONE small tuple per group key
  (per-user running count); keys hash-partition across executors, so
  state scales horizontally with users, never with events.

Each public query here is registered in the driver inventory with a
DuckDB oracle: streaming and batch must agree bit-for-bit on the
drained fixture, which is exactly Spark's unified-semantics promise.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import footer_schema, normalize_ts, read_fixture
from ..functions.compat import dsum, sql_dsum
from ..queries.base import register
from ..sources.connector import local_frame

#: Monotonic suffix so each invocation gets a fresh memory-sink table.
_RUN_SEQ = [0]


def _prepare_stream(spark: SparkSession, sf_dir: str) -> None:
    """Untimed bench prepass for streaming rows (VERDICT r10 next
    #2a): table registration + a first build of the file stream happen
    off the clock. The per-run scenario (fresh root, micro-batch drain,
    and the stream's driver-side footer read, about 10 ms) stays timed
    — it IS the operator."""
    from ..queries.base import ensure_tables

    ensure_tables(spark, sf_dir)
    events_stream(spark, sf_dir)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events fixture, batch-identical types.

    File-source streams need an explicit schema (no inference at plan
    time). The driver regenerates the fixtures between rounds and has
    already switched the ts encoding once (TIMESTAMP(NANOS) →
    TIMESTAMP(MICROS), which Spark 4 reads as TIMESTAMP_NTZ), so the
    schema is read from the parquet footer on the driver
    (catalog.footer_schema, no Spark job) rather than hard-coded, and
    the stream then goes through the SAME normalization as the batch
    catalog (catalog.normalize_ts) — streaming and batch cannot drift
    apart on type semantics."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = footer_schema(spark, os.path.join(sf_dir, "events.parquet"))
    # The file-stream source wants a directory/glob, not a bare file;
    # the glob keeps the scan to events.parquet inside the shared dir.
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(os.path.join(sf_dir, "events*.parquet"))
    )
    df = normalize_ts(raw, "events")
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # withWatermark rejects TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE); with the session timezone pinned to UTC the
        # cast maps each naive value to the identical epoch instant.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _drain(stream_result: DataFrame, name: str, output_mode: str) -> None:
    """Run one AvailableNow drain of ``stream_result`` into a memory
    sink table called ``name`` and wait for it to finish."""
    q = (
        stream_result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@register(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 day', ts) AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY bucket_start, event_type
    ORDER BY bucket_start, event_type
    """,
    doc="Streaming tumbling-window aggregation (readStream + "
    "watermark + AvailableNow drain) hash-checked against the batch "
    "oracle — the unified-semantics guarantee, machine-verified.",
    tags=("streaming", "window"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type counts computed through the streaming engine.

    Watermark: 1 day of allowed lateness. Complete output mode emits
    every window on the final micro-batch, so the drained result is
    the full history (equal to the batch aggregation)."""
    _RUN_SEQ[0] += 1
    name = f"stream_tumbling_counts_{_RUN_SEQ[0]}"
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events", "sum_value")
    )
    _drain(agg, name, "complete")
    return spark.table(name).orderBy("bucket_start", "event_type")


@register(
    "stream_append_windows",
    oracle=f"""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS bucket_start,
             event_type,
             COUNT(*) AS n_events,
             {sql_dsum('value')} AS sum_value
      FROM events
      GROUP BY bucket_start, event_type
    )
    SELECT * FROM agg
    WHERE bucket_start + INTERVAL '1 day' <= (SELECT MAX(ts) - INTERVAL '1 hour' FROM events)
    ORDER BY bucket_start, event_type
    """,
    doc="APPEND-mode streaming aggregation: the watermark actually "
    "finalizes and EVICTS windows (unlike complete mode, which holds "
    "every window in state forever) — the bounded-state execution "
    "shape a 100 TB continuous stream requires. Oracle = batch "
    "windows whose end precedes final-watermark (max event time - "
    "1h delay); the still-open tail windows are correctly withheld.",
    tags=("streaming", "window"),
)
def stream_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type counts, emitted only once finalized.

    Append mode is the state-eviction proof: a window row reaches the
    sink exactly when the watermark passes its end, after which its
    state is dropped — so state size tracks the watermark horizon
    (open windows only), not stream length. The drained fixture must
    therefore yield exactly the batch windows older than
    max-event-time minus the 1h delay."""
    _RUN_SEQ[0] += 1
    name = f"stream_append_windows_{_RUN_SEQ[0]}"
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events", "sum_value")
    )
    _drain(agg, name, "append")
    return spark.table(name).orderBy("bucket_start", "event_type")


@register(
    "stream_stateful_user_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events WHERE user_id < 40
    GROUP BY user_id ORDER BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState; "
    "SURVEY §2C UDF row + streaming state): per-user running counter "
    "whose final state must equal the batch group-by.",
    tags=("streaming", "udf"),
)
def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user event counter with explicit GroupState.

    Each micro-batch updates one (count,) tuple per user and emits
    the running total; the max over emissions is the final total,
    which the oracle checks against a plain batch aggregation.

    Scale: state is O(distinct users) tuples hash-partitioned by
    key; event volume only affects per-batch update cost."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("running", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "running": [total]})

    _RUN_SEQ[0] += 1
    name = f"stream_stateful_user_counts_{_RUN_SEQ[0]}"
    stream = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id") < 40)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Final total per user = last (max) emitted running count.
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("running").alias("n_events"))
        .orderBy("user_id")
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events WHERE user_id < 10
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '6 hours' THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="Streaming session windows (session_window + watermark under "
    "readStream) vs the gaps-and-islands batch oracle.",
    tags=("streaming", "window"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions (6h gap) computed through the streaming engine.

    Complete mode emits all merged sessions on the final drain.
    session_window under streaming merges overlapping per-batch
    sessions in state — the drained fixture must produce exactly the
    batch sessionization."""
    _RUN_SEQ[0] += 1
    name = f"stream_session_windows_{_RUN_SEQ[0]}"
    agg = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id") < 10)
        .withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    _drain(agg, name, "complete")
    return spark.table(name).orderBy("user_id", "session_start")


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 30) p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
    doc="Stream-stream interval join (purchases x clicks within the "
    "preceding hour) under readStream — the join-with-state surface; "
    "batch SQL oracle proves the drained result identical.",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-bounded stream-stream inner join.

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions — that is what lets the engine evict
    matched state instead of buffering each side forever. State is
    O(events within the interval horizon), not O(stream length)."""
    p = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    ).select("purchase_id", "click_id", "purchase_ts", "click_ts")

    _RUN_SEQ[0] += 1
    name = f"stream_stream_join_{_RUN_SEQ[0]}"
    _drain(joined, name, "append")
    return spark.table(name).orderBy("purchase_id", "click_id")


@register(
    "stream_stream_left_outer",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase' AND user_id < 30),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    wm AS (
      SELECT ((epoch_us(LEAST((SELECT MAX(purchase_ts) FROM p),
                              (SELECT MAX(click_ts) FROM c))) // 1000)
              - 86400000 - 3600000) * 1000 AS w
    ),
    j AS (
      SELECT p.purchase_id, c.click_id, p.purchase_ts, c.click_ts
      FROM p LEFT JOIN c ON c.user_id = p.user_id
        AND c.click_ts >= p.purchase_ts - INTERVAL '1 hour'
        AND c.click_ts <= p.purchase_ts
    )
    SELECT purchase_id, click_id, purchase_ts, click_ts
    FROM j, wm
    WHERE click_id IS NOT NULL OR epoch_us(purchase_ts) < w
    ORDER BY purchase_id, click_id
    """,
    doc="Stream-stream LEFT OUTER interval join: unmatched purchases "
    "emit with null click columns only after the watermark proves no "
    "matching click can still arrive. The oracle reproduces the "
    "engine's eviction frontier exactly — global watermark = "
    "min(per-side max event time, ms-truncated) - 1 day delay, then "
    "minus the 1 h interval width (Spark keeps outer state an extra "
    "interval span so a conservatively-late match can't be missed).",
    tags=("streaming", "join"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer interval join with watermark-gated null emission.

    The inner variant (stream_stream_join) emits matches eagerly;
    outer rows need the WATERMARK to certify absence — a purchase
    can only be declared click-less once the click-side watermark
    passes its timestamp, so the unmatched tail newer than
    (watermark - interval width) stays in state, deliberately
    unemitted. State is evicted at the same frontier, so memory is
    O(events within watermark + interval horizon), not O(stream).

    The drained output is returned UNFILTERED: the oracle models the
    eviction frontier, making the engine's outer-emission semantics
    itself the thing under differential test."""
    p = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", "purchase_ts", "click_ts")

    _RUN_SEQ[0] += 1
    name = f"stream_stream_left_outer_{_RUN_SEQ[0]}"
    _drain(joined, name, "append")
    return spark.table(name).orderBy("purchase_id", "click_id")


@register(
    "stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('e.value')} AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY segment ORDER BY segment
    """,
    doc="Stream-static enrichment join: the event stream joins a "
    "static dimension table (customer) micro-batch by micro-batch, "
    "then rolls up by market segment — the dimension-enrichment "
    "shape every streaming ETL pipeline runs.",
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment event rollup after joining the stream to a static
    dimension.

    Scale: a stream-static inner join is STATELESS — each micro-batch
    joins against the (re-scannable) static side and emits; no join
    state accumulates, unlike stream-stream joins. The dimension is
    SF-scaling, so no forced broadcast: AQE picks broadcast vs
    shuffled-hash per its runtime size, same as the batch planner.
    The downstream segment rollup holds O(segments) state."""
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        events_stream(spark, sf_dir)
        .join(dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )
    _RUN_SEQ[0] += 1
    name = f"stream_static_join_{_RUN_SEQ[0]}"
    _drain(agg, name, "complete")
    return spark.table(name).orderBy("segment")


@register(
    "stream_dedup",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Streaming deduplication of an at-least-once stream: the "
    "source is unioned with itself (every event delivered twice) and "
    "dropDuplicatesWithinWatermark restores exactly-once counts.",
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-delivery cleanup under readStream.

    Scale: dedup state holds one key per event id only within the
    watermark horizon — the bounded-state form (plain
    dropDuplicates would keep every id forever)."""
    doubled = (
        events_stream(spark, sf_dir)
        .unionByName(events_stream(spark, sf_dir))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    _RUN_SEQ[0] += 1
    name = f"stream_dedup_{_RUN_SEQ[0]}"
    _drain(doubled, name, "append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


class DurableSketchState:
    """Durable exactly-once accumulator for linear sketch state
    (VERDICT r6 next #5): each applied micro-batch commits manifest
    ``v{batch_id + 1}.json`` carrying the FULL merged counter dict
    through the same atomic exclusive-link protocol the versioned
    table layer uses (sinks._write_manifest). The applied-batch set
    IS the version chain — batch b is applied iff v{b+1} exists — so
    a replay after a DRIVER RESTART (not just within one run) finds
    its version already durable and becomes a no-op, and two racing
    writers of the same batch produce one winner by os.link
    exclusivity. Rewriting the whole sketch per commit is fine
    because the state is sketch-sized (d*w counters / |types|x|days|
    rollup cells) by construction — this is the state-store write a
    production checkpoint would make, not a data-sized IO."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def latest(self) -> dict[str, int]:
        """The merged counters as of the last committed batch."""
        from ..sources.sinks import latest_version

        v = latest_version(self.root)
        if v == 0:
            return {}
        with open(os.path.join(self.root, f"v{v}.json")) as fh:
            return json.load(fh)["state"]

    def applied(self, batch_id: int) -> bool:
        return os.path.exists(
            os.path.join(self.root, f"v{int(batch_id) + 1}.json")
        )

    def commit(self, batch_id: int, delta: dict[str, int]) -> None:
        """Merge ``delta`` (component-wise add — the linearity that
        makes sketches mergeable) and commit it as this batch's
        version. No-op if the version is already durable."""
        from ..sources.sinks import CommitConflict, _write_manifest

        version = int(batch_id) + 1
        if self.applied(batch_id):
            return  # replayed batch: already durable
        merged = dict(self.latest())
        for k, c in delta.items():
            merged[k] = merged.get(k, 0) + c
        try:
            _write_manifest(
                self.root, version, {"version": version, "state": merged}
            )
        except CommitConflict:
            pass  # same batch, same delta: the winner's commit stands


@register(
    "stream_cms_event_types",
    oracle=None,  # filled below — shares the CMS SQL builders with llm.py
    doc="Streaming sketch maintenance: a count-min sketch accumulated "
    "across micro-batches in foreachBatch. CMS counters are linear, "
    "so per-batch sketches merge by addition — the final sketch is "
    "bit-identical to the one-shot batch sketch regardless of batch "
    "boundaries, and the oracle rebuilds it in SQL.",
    tags=("streaming", "sketch"),
)
def stream_cms_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type frequency estimates served from a stream-maintained CMS.

    Scale: each micro-batch reduces to <= d*w counter increments via a
    map-side-combined groupBy before anything reaches the driver — the
    collected merge payload is sketch-sized (fixed), never data-sized,
    the same contract as the 1-row convergence scalars in the
    iterative operators. In production the accumulator would live in
    the checkpoint/state store; the merge operation (component-wise
    add) is identical.
    """
    import tempfile

    from ..queries.llm import _CMS_D, _CMS_W, _phash

    state = DurableSketchState(tempfile.mkdtemp(prefix="stream_cms_state_"))

    def positions(df: DataFrame) -> DataFrame:
        h = [
            (_phash(F.col("event_type"), f"scms{d}") % _CMS_W).alias(f"b{d}")
            for d in range(_CMS_D)
        ]
        rb = F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), F.col(f"b{d}").alias("b"))
                    for d in range(_CMS_D)
                ]
            )
        ).alias("rb")
        return df.select(*h).select(rb).select("rb.d", "rb.b")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Durable replay guard (VERDICT r6 next #5, upgraded from the
        # old process-local set): CMS addition is NOT idempotent, and
        # the applied-batch set must survive a driver restart. The
        # manifest chain is that set — a replayed batchId finds its
        # version durable and skips before even computing the delta.
        if state.applied(batch_id):
            return
        rows = (
            positions(batch_df)
            .groupBy("d", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()  # <= d*w rows: sketch-sized, not data-sized
        )
        state.commit(batch_id, {f"{r['d']},{r['b']}": r["c"] for r in rows})

    _RUN_SEQ[0] += 1
    q = (
        events_stream(spark, sf_dir)
        .select("event_type")
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    sketch = local_frame(
        spark,
        [
            (int(k.split(",")[0]), int(k.split(",")[1]), c)
            for k, c in state.latest().items()
        ],
        "d INT, b BIGINT, c BIGINT",
    )
    keys = spark.table("events").select("event_type").distinct()
    qh = keys.select(
        "event_type",
        *[
            (_phash(F.col("event_type"), f"scms{d}") % _CMS_W).alias(f"b{d}")
            for d in range(_CMS_D)
        ],
    )
    est = qh
    for d in range(_CMS_D):
        cd = F.broadcast(
            sketch.filter(F.col("d") == d).select(
                F.col("b").alias(f"b{d}"), F.col("c").alias(f"c{d}")
            )
        )
        est = est.join(cd, f"b{d}")
    return est.select(
        "event_type",
        F.least(*[F.col(f"c{d}") for d in range(_CMS_D)]).alias("est_n"),
    ).orderBy("event_type")


def _stream_cms_oracle() -> str:
    from ..queries.base import REGISTRY
    from ..queries.llm import _CMS_D, _CMS_W, _sql_phash

    def hashes(expr: str) -> str:
        return ", ".join(
            f"({_sql_phash(expr, f'scms{d}')}) % {_CMS_W} AS b{d}"
            for d in range(_CMS_D)
        )

    sql = f"""
    WITH hashed AS (SELECT event_type, {hashes('event_type')} FROM events),
    cms AS (
      SELECT d, b, COUNT(*) AS c FROM (
        {" UNION ALL ".join(f"SELECT {d} AS d, b{d} AS b FROM hashed" for d in range(_CMS_D))}
      ) GROUP BY d, b
    ),
    keys AS (SELECT DISTINCT event_type FROM events),
    qh AS (SELECT event_type, {hashes('event_type')} FROM keys)
    SELECT qh.event_type,
           LEAST({", ".join(f"c{d}.c" for d in range(_CMS_D))}) AS est_n
    FROM qh
    {" ".join(f"JOIN cms c{d} ON c{d}.d = {d} AND c{d}.b = qh.b{d}" for d in range(_CMS_D))}
    ORDER BY qh.event_type
    """
    REGISTRY["stream_cms_event_types"].oracle = sql
    return sql


_stream_cms_oracle()


# ---------------------------------------------------------------------------
# 11. Streaming-maintained EWMA: the daily-volume rollup accumulated
#     across micro-batches (counts are linear, so batch boundaries —
#     even ones splitting a day — cannot change the result), then the
#     batch EWMA fold applied to the drained series. The maintained
#     state is |types| x |days| counters: watermark-horizon-bounded at
#     production scale, sketch-sized here — the same
#     incremental-rollup-plus-final-read shape as the CMS query.
# ---------------------------------------------------------------------------
@register(
    "stream_ewma_daily",
    oracle=None,  # installed below (shares the batch EWMA derivation)
    doc="Daily-count rollup maintained across streaming micro-batches "
    "(linear counters: replay-guarded adds, day-splitting batch "
    "boundaries irrelevant), then the pinned-order EWMA fold over the "
    "drained series — identical to the batch operator, proving "
    "streaming maintenance converges to the batch answer bit-for-bit.",
    tags=("streaming", "timeseries"),
)
def stream_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA per event type, built from streamed daily counts.

    Scale: per-batch work is a map-side-combined (type, day) count;
    the accumulated dict is bounded by types x retention days (state
    tracks the watermark horizon, not stream length). The final fold
    is the batch ev_ewma_smoothing shape over the tiny rollup."""
    import tempfile

    from ..queries.events import _EWMA_ALPHA

    state = DurableSketchState(tempfile.mkdtemp(prefix="stream_ewma_state_"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Durable replay guard (see DurableSketchState): counter adds
        # are not idempotent, and the applied-set must survive a
        # driver restart — the manifest chain is both the state and
        # the applied-set.
        if state.applied(batch_id):
            return
        rows = (
            batch_df.groupBy(
                "event_type", F.col("ts").cast("date").cast("string").alias("day")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # <= |types| x |days| rows: rollup-sized
        )
        state.commit(
            batch_id, {f"{r['event_type']}|{r['day']}": r["n"] for r in rows}
        )

    _RUN_SEQ[0] += 1
    q = (
        events_stream(spark, sf_dir)
        .select("event_type", "ts")
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    daily = local_frame(
        spark,
        [(*k.split("|", 1), n) for k, n in state.latest().items()],
        "event_type STRING, day STRING, n BIGINT",
    )
    arr = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("day", F.col("n").cast("double").alias("n")))
        ).alias("s")
    )
    vals = F.transform(F.col("s"), lambda r: r["n"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda a, x: a * F.lit(1 - _EWMA_ALPHA) + x * F.lit(_EWMA_ALPHA),
    )
    return arr.select(
        "event_type",
        F.size(vals).cast("long").alias("n_days"),
        F.element_at(vals, F.size(vals)).alias("last_n"),
        ewma.alias("ewma"),
    ).orderBy("event_type")


def _stream_ewma_oracle() -> str:
    from ..queries.base import REGISTRY
    from ..queries.events import _EWMA_ALPHA

    sql = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    arr AS (
      SELECT event_type, list(CAST(n AS DOUBLE) ORDER BY day) AS vals
      FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(len(vals) AS BIGINT) AS n_days,
           CAST(vals[len(vals)] AS DOUBLE) AS last_n,
           list_reduce(vals, (acc, x) -> acc * {1 - _EWMA_ALPHA} + x * {_EWMA_ALPHA}) AS ewma
    FROM arr ORDER BY event_type
    """
    REGISTRY["stream_ewma_daily"].oracle = sql
    return sql


_stream_ewma_oracle()


# ---------------------------------------------------------------------------
# 12. Streaming commits into the VERSIONED table layer: each
#     micro-batch lands as a new manifest snapshot via the same
#     atomic exclusive-link commit the batch layer uses — and the
#     version number IS the batch id, so a replayed batch hits
#     CommitConflict and is skipped: exactly-once INGEST guaranteed
#     by the storage protocol itself (durable across restarts, unlike
#     the process-local guards of the CMS/EWMA maintenance queries,
#     because the manifest files ARE the applied-set).
# ---------------------------------------------------------------------------
def versioned_stream_commit(root: str, batch_df: DataFrame, batch_id: int) -> None:
    """Commit one micro-batch as snapshot version ``batch_id + 1``
    through the atomic exclusive-link manifest protocol. Module-level
    (not a query closure) so the replay contract is directly
    testable: tests/test_streaming_semantics.py re-delivers a batch
    id and asserts the chain is untouched."""
    import glob as _glob

    from ..sources.sinks import CommitConflict, _write_manifest

    version = int(batch_id) + 1
    if os.path.exists(os.path.join(root, f"v{version}.json")):
        # Replayed batch: this version's manifest is already durable
        # and references this batch's committed files. Writing AT ALL
        # here would corrupt the chain — an overwrite deletes the
        # very part files the committed manifests point at, and the
        # rewrite lands under fresh UUID part names (ADVICE r6 #1) —
        # so the replay is a pure no-op.
        return
    # Each attempt writes into its own uniquely-named directory so a
    # loser of a commit race never clobbers the winner's files; the
    # loser's directory is deleted, the winner's is the one the
    # manifest references.
    gen_dir = os.path.join(root, f"gen{version}_{uuid.uuid4().hex[:8]}")
    rows = batch_df.select("event_id", "event_type")
    rows.write.mode("overwrite").parquet(gen_dir)
    files = sorted(_glob.glob(os.path.join(gen_dir, "*.parquet")))
    if version > 1:
        with open(os.path.join(root, f"v{version - 1}.json")) as fh:
            prev = json.load(fh)["files"]
    else:
        prev = []
    try:
        _write_manifest(
            root,
            version,
            {
                "version": version,
                "files": prev + files,
                "schema": rows.schema.jsonValue(),
            },
        )
    except CommitConflict:
        # Lost a commit race for this version: the durable manifest
        # references the winner's files; ours are unreferenced
        # garbage — remove them.
        shutil.rmtree(gen_dir, ignore_errors=True)


@register(
    "stream_versioned_commits",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Streaming ingest into the versioned table layer: every "
    "micro-batch commits a snapshot manifest (version = batchId + 1) "
    "through the atomic exclusive-link protocol, so replays conflict "
    "instead of duplicating — exactly-once by storage design, not by "
    "process-local bookkeeping. The drained table's latest snapshot "
    "must aggregate identically to the batch source.",
    tags=("streaming", "versioned", "sink"),
)
def stream_versioned_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type stats read from the LATEST streamed snapshot.

    Scale: per-batch work is one columnar append (no rewrite — the
    new manifest carries every prior file by reference, the
    copy-on-write degenerate case for pure inserts); manifest size
    grows with file count, which compaction (source_compaction)
    bounds. State is zero: idempotence lives in the version-numbered
    commit, which also serializes concurrent writers."""
    import tempfile

    from ..sources.sinks import latest_version, read_written

    root = tempfile.mkdtemp(prefix="stream_versioned_")

    _RUN_SEQ[0] += 1
    q = (
        events_stream(spark, sf_dir)
        .select("event_id", "event_type")
        .writeStream.foreachBatch(
            lambda bdf, bid: versioned_stream_commit(root, bdf, bid)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    with open(os.path.join(root, f"v{latest_version(root)}.json")) as fh:
        manifest = json.load(fh)
    snap = read_written(spark, manifest["schema"], *manifest["files"])
    return (
        snap.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# 13. Dynamic-gap session windows under streaming: the per-event
#     timeout column (purchase -> 2h, else 6h) evaluated inside the
#     streaming sessionization state — proving the unified-semantics
#     promise holds for the DYNAMIC path too, not just the fixed gap.
# ---------------------------------------------------------------------------
@register(
    "stream_session_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN event_type = 'purchase' THEN INTERVAL '2 hours'
                  ELSE INTERVAL '6 hours' END AS g
      FROM events WHERE user_id < 15
    ),
    o AS (
      SELECT user_id, ts, g,
             MAX(ts + g) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_end
      FROM e
    ),
    sid AS (
      SELECT user_id, ts, g,
             SUM(CASE WHEN prev_end IS NULL OR ts >= prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sid GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="Dynamic-gap sessionization through the streaming engine "
    "(gap COLUMN inside session_window state): drained sessions must "
    "equal the batch islands oracle with its running-MAX end walk — "
    "the unified-semantics guarantee for per-event timeouts.",
    tags=("streaming", "window"),
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessions under event-dependent timeouts.

    Scale: state per open session key, evicted by the watermark —
    identical to the fixed-gap query; the gap column is evaluated
    per event before state merge."""
    _RUN_SEQ[0] += 1
    name = f"stream_session_dynamic_gap_{_RUN_SEQ[0]}"
    gap = F.when(F.col("event_type") == "purchase", "2 hours").otherwise(
        "6 hours"
    )
    agg = (
        events_stream(spark, sf_dir)
        .filter(F.col("user_id") < 15)
        .withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    _drain(agg, name, "complete")
    return spark.table(name).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# 14. Late-data policy (round 7): the watermark's DROP side proven as
#     a registered differential query, not just a unit test. The
#     event log is split into two deterministic file-batches — recent
#     days first, then the oldest week — replayed as two availableNow
#     drains of the SAME checkpointed query (a planned stop/restart):
#     drain one advances the durable watermark to (max ts - 1 day),
#     so every row of drain two arrives beyond it and is dropped by
#     the restored watermark. Empirically pinned subtlety (this
#     round): within a SINGLE run Spark only EVICTS state at the
#     advancing watermark — the late-input filter is planned from the
#     checkpoint-restored watermark, so the drop guarantee is a
#     cross-restart property, which is exactly what this query
#     exercises (and what the unit test test_watermark_drops_late_
#     rows pins at row granularity).
# ---------------------------------------------------------------------------
_LATE_SPLIT_DAY = 8  # days < 8 replay late; days >= 8 are batch one


def late_policy_land(spark: SparkSession, root: str, i: int, part: DataFrame) -> None:
    """Land one deterministic file-batch into the replay source dir."""
    import shutil as _shutil

    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    tmp = os.path.join(root, f"_stage{i}")
    part.coalesce(1).write.mode("overwrite").parquet(tmp)
    f = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
    _shutil.move(os.path.join(tmp, f), os.path.join(src, f"{i:04d}.parquet"))
    _shutil.rmtree(tmp)


def late_policy_drain(spark: SparkSession, root: str, schema) -> None:
    """One availableNow drain of the daily-window count over the
    replay source, from the durable checkpoint under ``root`` — each
    call is a fresh streaming query planned from the RESTORED
    watermark, i.e. a driver restart."""
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(os.path.join(root, "src", "*.parquet"))
    )
    df = normalize_ts(raw, "events")
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    counts = (
        df.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n",
        )
    )
    q = (
        counts.writeStream.format("parquet")
        .option("path", os.path.join(root, "out"))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def late_policy_replay(spark: SparkSession, sf_dir: str, root: str) -> str:
    """The two-drain late-data replay: recent days first (advances +
    commits the watermark), then the oldest week, dropped entirely by
    the checkpoint-restored watermark. Returns the parquet out path.
    The restart test drives these same helpers through a THIRD drain
    and a late-batch redelivery (VERDICT r7 next #5)."""
    ev = read_fixture(spark, os.path.join(sf_dir, "events.parquet"))
    late_policy_land(spark, root, 1, ev.filter(F.dayofmonth("ts") >= _LATE_SPLIT_DAY))
    late_policy_drain(spark, root, ev.schema)
    late_policy_land(spark, root, 2, ev.filter(F.dayofmonth("ts") < _LATE_SPLIT_DAY))
    late_policy_drain(spark, root, ev.schema)
    return os.path.join(root, "out")


@register(
    "stream_late_data_policy",
    oracle=f"""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE EXTRACT(day FROM ts) >= {_LATE_SPLIT_DAY}
      AND CAST(ts AS DATE) + INTERVAL '1 day'
            <= (SELECT MAX(ts) - INTERVAL '1 day' FROM events)
    GROUP BY 1 ORDER BY 1
    """,
    doc="Watermark late-data DROP policy, differentially proven: the "
    "oldest week of events replays AFTER a checkpointed drain has "
    "advanced the durable watermark past its windows, so the restored "
    "watermark drops it entirely and the emitted (append-mode, "
    "finalized) daily windows hold only on-time rows — the oracle "
    "states exactly that, including the still-open tail windows "
    "being withheld.",
    tags=("streaming", "events"),
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finalized daily counts after the late week was dropped.

    Scale: watermark state is bounded by the horizon (open windows
    only), the drop happens at state-update time (a late firehose
    costs its scan, never state growth), and the watermark itself is
    durable in the checkpoint — the restart replay here is the
    mechanism a production pipeline relies on after every deploy."""
    import tempfile

    # One two-drain replay per (session, sf_dir): the checkpoint's
    # committed watermark makes a re-drain a no-op, so later calls
    # just re-read the parquet sink (the memo pattern every sink op
    # uses).
    memo = f"spark.datafusion_rdbms_ext.late_policy.{abs(hash(sf_dir))}"
    cached = spark.conf.get(memo, None)
    if cached and os.path.isdir(os.path.join(cached, "out")):
        return (
            spark.read.parquet(os.path.join(cached, "out"))
            .select("day", F.col("n").cast("long").alias("n"))
            .orderBy("day")
        )
    root = tempfile.mkdtemp(prefix="stream_late_")
    late_policy_replay(spark, sf_dir, root)
    spark.conf.set(memo, root)
    out = os.path.join(root, "out")
    return (
        spark.read.parquet(out)
        .select("day", F.col("n").cast("long").alias("n"))
        .orderBy("day")
    )


def full_outer_interval_join(p: DataFrame, c: DataFrame) -> DataFrame:
    """The FULL OUTER interval-join shape shared by the registered
    query and the kill-and-restart test: purchases full-outer clicks
    within a trailing 1 h span on the same user."""
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "full_outer",
    ).select("purchase_id", "click_id", "purchase_ts", "click_ts")


# ---------------------------------------------------------------------------
# 15. Stream-stream FULL OUTER interval join (round 7): completes the
#     streaming join matrix (inner, left-outer, full-outer + the
#     stream-static and as-of shapes). Both unmatched sides emit
#     null-padded rows once the watermark certifies no match can
#     arrive; with a 1 h interval span on both derivations, the two
#     sides share one eviction frontier, which the oracle reproduces.
# ---------------------------------------------------------------------------
@register(
    "stream_stream_full_outer",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id AS p_user,
                      ts AS purchase_ts
               FROM events WHERE event_type = 'purchase' AND user_id < 30),
    c AS (SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
          FROM events WHERE event_type = 'click' AND user_id < 30),
    wm AS (
      SELECT ((epoch_us(LEAST((SELECT MAX(purchase_ts) FROM p),
                              (SELECT MAX(click_ts) FROM c))) // 1000)
              - 86400000 - 3600000) * 1000 AS w
    ),
    j AS (
      SELECT p.purchase_id, c.click_id, p.purchase_ts, c.click_ts
      FROM p FULL OUTER JOIN c ON c.c_user = p.p_user
        AND c.click_ts >= p.purchase_ts - INTERVAL '1 hour'
        AND c.click_ts <= p.purchase_ts
    )
    SELECT purchase_id, click_id, purchase_ts, click_ts
    FROM j, wm
    WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
       OR (click_id IS NULL AND epoch_us(purchase_ts) < w)
       OR (purchase_id IS NULL AND epoch_us(click_ts) < w)
    ORDER BY purchase_id, click_id
    """,
    doc="Stream-stream FULL OUTER interval join: unmatched rows from "
    "BOTH sides emit null-padded once the watermark proves no match "
    "can still arrive. The 1 h interval span makes the two sides' "
    "eviction frontiers coincide at (global watermark - delay - "
    "span), which the oracle models exactly — the engine's "
    "outer-emission semantics is the thing under differential test.",
    tags=("streaming", "join"),
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer interval join with watermark-gated null emission.

    Scale: state per side is bounded by (watermark delay + interval
    span) of events, evicted at the shared frontier; null emission is
    a state-cleanup byproduct, not a scan. Same contract as the
    left-outer variant, now certifying absence in BOTH directions."""
    p = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "click") & (F.col("user_id") < 30))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    joined = full_outer_interval_join(p, c)

    _RUN_SEQ[0] += 1
    name = f"stream_stream_full_outer_{_RUN_SEQ[0]}"
    _drain(joined, name, "append")
    return spark.table(name).orderBy("purchase_id", "click_id")


@register(
    "stream_chained_windows",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             COUNT(*) AS n_h
      FROM events GROUP BY h, event_type
    ),
    daily AS (
      SELECT time_bucket(INTERVAL '1 day', h) AS bucket_start, event_type,
             CAST(SUM(n_h) AS BIGINT) AS n_events,
             CAST(MAX(n_h) AS BIGINT) AS max_hourly
      FROM hourly GROUP BY bucket_start, event_type
    )
    SELECT * FROM daily
    WHERE bucket_start + INTERVAL '1 day'
          <= (SELECT MAX(ts) - INTERVAL '1 hour' FROM events)
    ORDER BY bucket_start, event_type
    """,
    doc="Chained stateful streaming aggregations (Spark 3.5+/4): an "
    "hourly tumbling rollup feeds a SECOND windowed aggregation "
    "(window over window_time) inside one streaming graph — daily "
    "totals plus the max hourly rate, a metric a single-level "
    "aggregation cannot produce. Append mode end-to-end, so both "
    "operators' state is watermark-evicted; the oracle is the batch "
    "two-level rollup restricted to finalized days.",
    tags=("streaming", "window"),
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly -> daily chained streaming aggregation.

    Scale: the classic streaming rollup cascade — the first operator
    reduces the raw stream to one row per (hour, type) before the
    second ever sees data, so the daily operator's input (and state)
    is 24 rows per day per type regardless of event volume. Both
    levels evict finalized windows at the watermark (append mode is
    REQUIRED for chained stateful operators — complete mode would
    hold every hourly row forever). At 100 TB this is how a metrics
    pipeline keeps per-minute, per-hour and per-day rollups in one
    pass with bounded state."""
    _RUN_SEQ[0] += 1
    name = f"stream_chained_windows_{_RUN_SEQ[0]}"
    hourly = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_h"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
        )
        .agg(
            F.sum("n_h").cast("long").alias("n_events"),
            F.max("n_h").cast("long").alias("max_hourly"),
        )
        .select(
            F.col("d.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "max_hourly",
        )
    )
    _drain(daily, name, "append")
    return spark.table(name).orderBy("bucket_start", "event_type")


@register(
    "stream_stream_semi",
    oracle="""
    SELECT p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id < 30
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
      )
    ORDER BY purchase_id
    """,
    doc="Stream-stream LEFT SEMI interval join: purchases emitted "
    "exactly once on their first in-interval click — the streaming "
    "EXISTS. Unlike the outer variant there is no watermark-gated "
    "null tail (matches emit eagerly; the dedup state guarantees "
    "once-only emission), so the oracle is the plain batch EXISTS.",
    tags=("streaming", "join"),
)
def stream_stream_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join completion of the stream-stream join family.

    Scale: same bounded-state envelope as the inner join (interval-
    bounded condition in both directions -> state eviction at the
    watermark), PLUS the semi shape never materializes the match
    rows — one output row per qualifying purchase regardless of how
    many clicks hit the interval, which is exactly what a 100 TB
    conversion-flagging stream wants (the inner join's output is
    match-pair-sized; the semi's is left-side-sized)."""
    p = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    joined = semi_interval_join(p, c)

    _RUN_SEQ[0] += 1
    name = f"stream_stream_semi_{_RUN_SEQ[0]}"
    _drain(joined, name, "append")
    return spark.table(name).orderBy("purchase_id")


def semi_interval_join(p: DataFrame, c: DataFrame) -> DataFrame:
    """The LEFT SEMI interval-join shape shared by the registered
    query and the kill-and-restart test: purchases having at least
    one click within the trailing 1 h span on the same user."""
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_semi",
    ).select("purchase_id", "purchase_ts")


# ---------------------------------------------------------------------------
# Streaming upsert sink via foreachBatch (round 9) — the MERGE-INTO
# application of a CDC-style stream into a keyed store: each
# micro-batch's per-key winners (latest (t, event_id)) merge
# last-writer-wins into a parquet key-value table, swapped in with
# an atomic rename per batch (the versioned-table commit discipline;
# a replayed batch finds its version durable and no-ops). The
# batch-side sibling is llm_corpus_upsert; this is the streaming
# half of the reference's unimplemented federation INSERT
# (parser.rs:218,280), pointed at a keyed store.
# ---------------------------------------------------------------------------
@register(
    "stream_upsert_sink",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts) DESC,
                                         event_id DESC) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {sql_dsum('value')} AS sum_value
    FROM ranked WHERE rn = 1
    GROUP BY event_type ORDER BY event_type
    """,
    doc="Streaming upsert (MERGE) sink: foreachBatch merges each "
    "micro-batch last-writer-wins (latest (t, event_id) per user) "
    "into a keyed parquet store with atomic versioned swaps and "
    "replayed-batch no-ops; the final store's per-state rollup is "
    "hash-checked against the batch last-per-key window — the "
    "streaming half of the reference's INSERT todo!() "
    "(parser.rs:218,280).",
    tags=("streaming", "sink", "bench"),
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final keyed-store state after draining the stream.

    Scale: per-batch work is one user_id-partitioned window over
    (store ∪ batch) — the store is |keys|-sized, not event-sized,
    and batches are bounded by the trigger; the swap writes the
    |keys|-sized store, the state-store write a production
    checkpoint would make. At 100 TB the store would live as a
    partitioned table and the merge would touch only the batch's
    key partitions."""
    import shutil
    import tempfile

    from ..functions.compat import ts_micros

    root = tempfile.mkdtemp(prefix="stream_upsert_")
    store = os.path.join(root, "store")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        version = os.path.join(root, f"v{int(batch_id) + 1}.done")
        if os.path.exists(version):
            return  # replayed batch: already durable
        from pyspark.sql import Window

        sess = batch_df.sparkSession
        cur = batch_df.select("user_id", "event_type", "value", "t", "event_id")
        if os.path.exists(store):
            cur = cur.unionByName(sess.read.parquet(store))
        w = Window.partitionBy("user_id").orderBy(
            F.col("t").desc(), F.col("event_id").desc()
        )
        winners = (
            cur.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        tmp = os.path.join(root, f"store.tmp-{int(batch_id)}")
        winners.write.mode("overwrite").parquet(tmp)
        old = os.path.join(root, f"store.old-{int(batch_id)}")
        if os.path.exists(store):
            os.rename(store, old)
        os.rename(tmp, store)
        shutil.rmtree(old, ignore_errors=True)
        open(version, "w").close()

    changes = events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        "value",
        ts_micros(F.col("ts")).alias("t"),
        "event_id",
    )
    q = (
        changes.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(store)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Stream-stream RIGHT OUTER join (round 9) — completes the
# stream-stream join matrix (inner / left / full / semi proven
# r4-r8): the preserved side is now the RIGHT (purchases), so the
# null-extension and watermark-gated emission logic runs on the
# opposite input. Mirrors stream_stream_left_outer with the sides
# swapped — the oracle models the identical eviction frontier.
# ---------------------------------------------------------------------------
@register(
    "stream_stream_right_outer",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
               FROM events WHERE event_type = 'purchase' AND user_id < 30),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    wm AS (
      SELECT ((epoch_us(LEAST((SELECT MAX(purchase_ts) FROM p),
                              (SELECT MAX(click_ts) FROM c))) // 1000)
              - 86400000 - 3600000) * 1000 AS w
    ),
    j AS (
      SELECT p.purchase_id, c.click_id, p.purchase_ts, c.click_ts
      FROM c RIGHT JOIN p ON c.user_id = p.user_id
        AND c.click_ts >= p.purchase_ts - INTERVAL '1 hour'
        AND c.click_ts <= p.purchase_ts
    )
    SELECT purchase_id, click_id, purchase_ts, click_ts
    FROM j, wm
    WHERE click_id IS NOT NULL OR epoch_us(purchase_ts) < w
    ORDER BY purchase_id, click_id
    """,
    doc="Stream-stream RIGHT OUTER interval join (completes the "
    "inner/left/full/semi matrix): clicks RIGHT JOIN purchases — "
    "the preserved side is the right input, so null extension and "
    "watermark-gated emission run on the opposite side from the "
    "left-outer form; the oracle models the same eviction frontier "
    "(min per-side max event time, ms-truncated, - 1 day - the 1 h "
    "interval width).",
    tags=("streaming", "join"),
)
def stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-outer interval join with watermark-gated null emission.

    Scale: state is keyed on user within the watermark + interval
    horizon on both sides — O(in-horizon events), evicted at the
    frontier, identical to the left-outer form with sides swapped."""
    p = (
        events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    joined = c.join(
        p,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "right_outer",
    ).select("purchase_id", "click_id", "purchase_ts", "click_ts")

    _RUN_SEQ[0] += 1
    name = f"stream_stream_right_outer_{_RUN_SEQ[0]}"
    _drain(joined, name, "append")
    return spark.table(name).orderBy("purchase_id", "click_id")


# ---------------------------------------------------------------------------
# Change-data-feed consumer (round 9): a downstream rollup maintained
# INCREMENTALLY across the versioned table's snapshot chain
# (v2 -> v4 -> v6 -> v8: DV delete, merge-on-read update, equality
# delete) with a durable applied-transition frontier — the Delta CDF /
# Iceberg incremental-read consumer contract. Each transition's
# signed deltas (±1 rows, ±len(text)) commit together with the new
# frontier through the same atomic exclusive-link protocol as every
# other commit in the engine, so a replay (or a restarted driver)
# finds its transition durable and becomes a no-op — exactly-once
# maintenance without a transactional sink.
# ---------------------------------------------------------------------------
_CDF_CHAIN = (2, 4, 6, 8)


class CdfFrontier:
    """Durable (frontier, rollup) state, one manifest per applied
    transition. State is rollup-sized (two integers), never data."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def latest(self) -> dict | None:
        from ..sources.sinks import latest_version

        v = latest_version(self.root)
        if v == 0:
            return None
        with open(os.path.join(self.root, f"v{v}.json")) as fh:
            return json.load(fh)

    def commit(self, step: int, payload: dict) -> None:
        from ..sources.sinks import CommitConflict, _write_manifest

        try:
            _write_manifest(self.root, step, dict(payload, version=step))
        except CommitConflict:
            pass  # replayed transition: the durable commit stands


def cdf_consume(spark: SparkSession, sf_dir: str) -> tuple[dict, int]:
    """Run the consumer to the chain head; returns (final state,
    transitions applied THIS pass). Bootstrap (step 1) is the first
    snapshot's rollup; each later step applies one snapshot diff."""
    from ..sources.sinks import equality_delete_root, read_version

    root = equality_delete_root(spark, sf_dir)
    state = CdfFrontier(os.path.join(root, "cdf_state"))
    applied = 0
    cur = state.latest()
    if cur is None:
        base = read_version(spark, root, _CDF_CHAIN[0]).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).cast("long").alias("l"),
        ).first()
        state.commit(
            1,
            {
                "frontier": _CDF_CHAIN[0],
                "n_docs": base["n"],
                "sum_len": int(base["l"]),
            },
        )
        cur = state.latest()
        applied += 1
    while cur["frontier"] != _CDF_CHAIN[-1]:
        i = _CDF_CHAIN.index(cur["frontier"])
        nxt = _CDF_CHAIN[i + 1]
        a = read_version(spark, root, cur["frontier"]).withColumnsRenamed(
            {"doc_id": "k1", "text": "t1"}
        )
        b = read_version(spark, root, nxt).withColumnsRenamed(
            {"doc_id": "k2", "text": "t2"}
        )
        d = (
            a.join(b, F.col("k1") == F.col("k2"), "full_outer")
            .select(
                F.when(F.col("k2").isNull(), -1)
                .when(F.col("k1").isNull(), 1)
                .otherwise(0)
                .alias("dn"),
                (
                    F.coalesce(F.length("t2"), F.lit(0))
                    - F.coalesce(F.length("t1"), F.lit(0))
                ).alias("dl"),
            )
            .agg(
                F.sum("dn").cast("long").alias("dn"),
                F.sum("dl").cast("long").alias("dl"),
            )
            .first()
        )
        state.commit(
            i + 2,
            {
                "frontier": nxt,
                "n_docs": cur["n_docs"] + int(d["dn"] or 0),
                "sum_len": cur["sum_len"] + int(d["dl"] or 0),
            },
        )
        cur = state.latest()
        applied += 1
    return cur, applied


@register(
    "stream_cdf_maintenance",
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
    SELECT CAST(8 AS BIGINT) AS frontier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS sum_len,
           CAST(0 AS BIGINT) AS replay_applied
    FROM v8
    """,
    doc="Change-data-feed consumer: a rollup maintained across the "
    "snapshot chain (DV delete -> MOR update -> equality delete) by "
    "signed per-transition deltas, with a DURABLE applied-frontier "
    "(atomic exclusive-link commits) — a second pass applies ZERO "
    "transitions (reported in the hash-checked output), and the "
    "maintained state must equal the head snapshot's direct rollup.",
    tags=("streaming", "versioned", "bench"),
    prepare=_prepare_stream,
)
def stream_cdf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained rollup at the chain head + replay no-op proof.

    Scale: the consumer's work per transition is the CHANGE SET
    (here computed as a snapshot diff; a production feed ships it),
    and its durable state is rollup-sized — the asymmetry that makes
    CDF consumers cheap where re-aggregating the head snapshot costs
    a full scan per refresh. Restart safety is the applied-frontier
    check, kill-and-restart proven in tests/test_deletion_vectors.py."""
    cdf_consume(spark, sf_dir)  # reach the head (no-op when already there)
    final, replay_applied = cdf_consume(spark, sf_dir)  # replay pass
    return local_frame(
        spark,
        [
            (
                final["frontier"],
                final["n_docs"],
                final["sum_len"],
                replay_applied,
            )
        ],
        "frontier long, n_docs long, sum_len long, replay_applied long",
    )


# ---------------------------------------------------------------------------
# 19. Streaming WAP to a BRANCH (round 10): micro-batches land on a
#     staging branch — each one write-audited and committed through
#     the branch protocol (manifest + ref CAS) — while main serves
#     unchanged; publication is ONE fast-forward ref flip after the
#     drain. Composes the streaming exactly-once commit (versioned
#     manifests, replay -> re-assert) with the round-10 branch ref
#     surface: the streaming half of write-audit-publish.
# ---------------------------------------------------------------------------
def branch_stream_commit(
    spark: SparkSession, root: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Commit one micro-batch to the 'ingest' branch as version
    ``batch_id + 2`` (v1 is the base snapshot). Replays re-assert
    the existing manifest/ref — exactly-once by storage protocol,
    the versioned_stream_commit contract carried onto a branch."""
    from ..sources.sinks import branch_commit

    staged = batch_df.select(
        (F.col("event_id") + 900000).alias("doc_id"),
        F.col("event_type").alias("text"),
    )
    branch_commit(
        spark, root, "ingest", staged, f"sbw_{int(batch_id)}",
        int(batch_id) + 2,
    )


@register(
    "stream_branch_wap",
    oracle="""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
    ing AS (
      SELECT event_id + 900000 AS doc_id, event_type AS text FROM events
    ),
    merged AS (SELECT * FROM base UNION ALL SELECT * FROM ing)
    SELECT 'ingest-head' AS ref,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id >= 900000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_streamed,
           MIN(md5(text)) AS min_md5
    FROM merged
    UNION ALL
    SELECT 'main-after-publish', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN doc_id >= 900000 THEN 1 ELSE 0 END)
                AS BIGINT),
           MIN(md5(text))
    FROM merged
    UNION ALL
    SELECT 'main-before-publish', CAST(COUNT(*) AS BIGINT), 0,
           MIN(md5(text))
    FROM base
    ORDER BY ref
    """,
    doc="Streaming WAP to a branch (round 10): every micro-batch is "
    "write-audited and committed to the 'ingest' branch through the "
    "manifest + ref-CAS protocol (replays re-assert — exactly-once "
    "by storage design) while main provably serves the unchanged "
    "base (read through ITS ref between the drain and the publish); "
    "publication is ONE fast-forward ref flip, so readers switch "
    "from zero to all streamed batches atomically — the streaming "
    "half of write-audit-publish.",
    tags=("streaming", "versioned", "sink", "bench"),
    prepare=_prepare_stream,
)
def stream_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging-branch streaming ingest with an atomic serving flip.

    Scale: per-batch cost is the batch write + the collision
    semi-probe against the branch head (index-servable at scale);
    main's readers never see partial state — the publish is a ref
    CAS, O(1) regardless of how many batches or bytes landed."""
    import tempfile

    from ..sources.sinks import (
        _write_manifest,
        branch_init,
        fast_forward,
        read_branch,
    )

    root = tempfile.mkdtemp(prefix="stream_branch_wap_")
    base = (
        spark.table("documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
    )
    base_dir = os.path.join(root, "gen1")
    base.coalesce(1).write.mode("overwrite").parquet(base_dir)
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(base_dir, "*.parquet")))
    _write_manifest(
        root,
        1,
        {"version": 1, "files": files, "schema": base.schema.jsonValue()},
    )
    branch_init(root, "main", 1)
    branch_init(root, "ingest", 1)

    _RUN_SEQ[0] += 1
    q = (
        events_stream(spark, sf_dir)
        .select("event_id", "event_type")
        .writeStream.foreachBatch(
            lambda bdf, bid: branch_stream_commit(spark, root, bdf, bid)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def probe(ref: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(ref).alias("ref"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("doc_id") >= 900000).cast("long")).alias(
                "n_streamed"
            ),
            F.min(F.md5("text")).alias("min_md5"),
        ).select("ref", "n_docs", "n_streamed", "min_md5")

    # main BEFORE the publish: still the untouched base — the
    # in-query isolation proof (fresh root per call, so this read
    # is deterministic on every run)
    out = probe("main-before-publish", read_branch(spark, root, "main"))
    out = out.unionByName(
        probe("ingest-head", read_branch(spark, root, "ingest"))
    )
    fast_forward(root, "main", "ingest")  # the O(1) serving flip
    out = out.unionByName(
        probe("main-after-publish", read_branch(spark, root, "main"))
    )
    return out.orderBy("ref")


# ---------------------------------------------------------------------------
# Streaming SemDeDup admission (round 12) — SEQUENTIAL cross-batch
# semantic dedup, the streaming form of llm_semdedup_incremental.
# The batch operator deliberately models ONE batch against a frozen
# corpus ("admitted-only chaining is the sequential variant,
# deliberately not modeled" — queries/llm.py); under a stream the
# sequence is physical: batch k is admitted against the corpus PLUS
# every batch admitted before it, and a rejected vector never
# poisons later admissions. Exactly the operator an ingest pipeline
# runs continuously.
#
# Determinism contract: the 20% ingest slice (vec_id % 5 == 0)
# splits into THREE files by (vec_id div 5) % 3, written with
# strictly increasing mtimes and lexicographic names so the file
# source (maxFilesPerTrigger=1) delivers them in split order — and
# the foreachBatch ASSERTS the order (a violated assumption fails
# loudly, never silently reorders the chain). The DuckDB oracle
# re-runs the corpus-only k-means, the frozen assignment, and the
# three CHAINED admission passes in SQL.
# ---------------------------------------------------------------------------
_STREAM_SEM_SPLITS = 3


def _stream_sem_chain_sql(head: str) -> str:
    """DuckDB text of the streamed admission's three CHAINED passes:
    ``head`` is a WITH clause that ends with ``base (vec_id, cell,
    embedding, nrm)`` under the frozen index; batch k is admitted
    against ``prior{k}`` (the corpus plus every earlier batch's
    admitted rows), and the per-batch report follows."""
    from ..queries.llm import _SEM_INC_MOD, _SEMDEDUP_TAU, _SQL_PAIR_DOT

    parts = [
        head
        + f""",
    prior0 AS (SELECT vec_id AS q_id, cell, embedding AS q_emb, nrm AS q_nrm
               FROM base WHERE vec_id % {_SEM_INC_MOD} <> 0)"""
    ]
    for k in range(_STREAM_SEM_SPLITS):
        parts.append(f"""
    b{k} AS (SELECT * FROM base WHERE vec_id % {_SEM_INC_MOD} = 0
             AND (vec_id // {_SEM_INC_MOD}) % {_STREAM_SEM_SPLITS} = {k}),
    b{k}q AS (SELECT vec_id AS q_id, cell, embedding AS q_emb, nrm AS q_nrm
              FROM b{k}),
    dp{k} AS (
      SELECT DISTINCT b.vec_id
      FROM prior{k} q JOIN b{k} b ON b.cell = q.cell
      WHERE {_SQL_PAIR_DOT} / (q.q_nrm * b.nrm) >= {_SEMDEDUP_TAU}
    ),
    db{k} AS (
      SELECT DISTINCT b.vec_id
      FROM b{k}q q JOIN b{k} b ON b.cell = q.cell AND q.q_id < b.vec_id
      WHERE {_SQL_PAIR_DOT} / (q.q_nrm * b.nrm) >= {_SEMDEDUP_TAU}
    ),
    adm{k} AS (
      SELECT b.* FROM b{k} b
      LEFT JOIN dp{k} dp ON dp.vec_id = b.vec_id
      LEFT JOIN db{k} db ON db.vec_id = b.vec_id
      WHERE dp.vec_id IS NULL AND db.vec_id IS NULL
    ),
    prior{k + 1} AS (
      SELECT * FROM prior{k}
      UNION ALL
      SELECT vec_id AS q_id, cell, embedding AS q_emb, nrm AS q_nrm
      FROM adm{k}
    )""")
    reports = " UNION ALL ".join(
        f"""
    SELECT {k} AS batch_seq,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(COUNT(dp.vec_id) AS BIGINT) AS n_dup_prior,
           CAST(SUM(CASE WHEN db.vec_id IS NOT NULL AND dp.vec_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch_only,
           CAST(SUM(CASE WHEN dp.vec_id IS NULL AND db.vec_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM b{k}
    LEFT JOIN dp{k} dp ON dp.vec_id = b{k}.vec_id
    LEFT JOIN db{k} db ON db.vec_id = b{k}.vec_id"""
        for k in range(_STREAM_SEM_SPLITS)
    )
    return ",".join(parts) + f" SELECT * FROM ({reports}) ORDER BY batch_seq"


def _stream_sem_oracle() -> str:
    from ..queries.llm import (
        _SEM_INC_MOD,
        _SQL_ASSIGN_DIST,
        _SQL_NORM,
        _IVF_SCALE,
        _sql_lloyds_cells,
    )

    return _stream_sem_chain_sql(f"""
    WITH {_sql_lloyds_cells(prefix="fz_", where=f"WHERE vec_id % {_SEM_INC_MOD} <> 0")},
    eqv_all AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {_IVF_SCALE}) AS BIGINT)) AS eq
      FROM embeddings
    ),
    asg_all AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {_SQL_ASSIGN_DIST}, c.cid) AS rk
        FROM eqv_all e CROSS JOIN fz_centroids c) WHERE rk = 1
    ),
    base AS (SELECT b.vec_id, a.cell, b.embedding, {_SQL_NORM} AS nrm
             FROM embeddings b JOIN asg_all a USING (vec_id))""")


def _stream_sem_admission(spark: SparkSession, sf_dir: str, train, walk) -> DataFrame:
    """The one streamed SemDeDup admission: the ingest slice
    (vec_id % 5 == 0) drains as three ordered single-file micro-batches
    through foreachBatch against a frozen index, and each batch is
    admitted (``queries.llm._sem_marked``) against the corpus plus
    every earlier batch's ADMITTED rows. ``train(q)`` freezes the
    index over the quantized corpus ``q`` and returns ``(index,
    corpus_cells)``; ``walk(q, index)`` assigns a quantized batch.
    Both return (vec_id, cell, ...) rows whose ``cell`` is the shard
    key.

    Scale: the index is trained ONCE before the stream and broadcast
    into every batch's map-side walk; per-batch cost is |batch| x
    shard occupancy against the admitted store, which grows only by
    ADMITTED rows (duplicates never re-enter the comparison set);
    both rejection joins are shard-bucketed with the batch on one
    side. Durable admitted-state accrues per batch under an
    idempotent per-batch path (replays are no-ops)."""
    import glob as _glob
    import tempfile
    import time as _time

    from ..queries.base import ensure_tables
    from ..queries.llm import (
        _SEM_INC_MOD,
        _admission_counts,
        _quantize,
        _sem_marked,
        _vectors_with_norm,
    )

    ensure_tables(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="stream_semdedup_")
    is_new = F.col("vec_id") % _SEM_INC_MOD == 0

    # frozen index: trained on the corpus ONCE, before the stream
    index, corpus_cells = train(_quantize(spark).filter(~is_new))
    corpus = (
        _vectors_with_norm(spark)
        .join(corpus_cells, "vec_id")
        .select("vec_id", "cell", "embedding", "nrm")
    )
    store = os.path.join(root, "store")
    corpus.write.mode("overwrite").parquet(os.path.join(store, "seed=corpus"))

    # the ingest slice as THREE ordered single-file batches
    indir = os.path.join(root, "in")
    os.makedirs(indir)
    src = spark.table("embeddings").filter(is_new)
    for k in range(_STREAM_SEM_SPLITS):
        part_dir = os.path.join(root, f"b{k}.tmp")
        src.filter(
            F.expr(f"(vec_id div {_SEM_INC_MOD}) % {_STREAM_SEM_SPLITS}") == k
        ).coalesce(1).write.mode("overwrite").parquet(part_dir)
        (pf,) = _glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(indir, f"batch_{k}.parquet")
        os.rename(pf, dst)
        shutil.rmtree(part_dir)
        t = _time.time() - 600 + k * 120  # strictly increasing mtimes
        os.utime(dst, (t, t))

    schema = spark.read.parquet(os.path.join(indir, "batch_0.parquet")).schema

    def admit_batch(batch_df: DataFrame, batch_id: int) -> None:
        done = os.path.join(root, f"v{int(batch_id)}.done")
        if os.path.exists(done):
            return  # replayed batch: already durable
        sess = batch_df.sparkSession
        newb = (
            _vectors_with_norm(sess, batch_df)
            .join(walk(_quantize(sess, batch_df), index), "vec_id")
            .select("vec_id", "cell", "embedding", "nrm")
            .localCheckpoint()
        )
        # order assertion: this batch must BE the next split in the
        # chain, or the sequential semantics are void — fail loudly
        splits = (
            newb.select(
                F.expr(
                    f"(vec_id div {_SEM_INC_MOD}) % {_STREAM_SEM_SPLITS}"
                ).alias("s")
            )
            .distinct()
            .collect()
        )
        processed = len(_glob.glob(os.path.join(root, "v*.done")))
        assert [r["s"] for r in splits] == [processed], (
            f"file source delivered split {splits} as batch #{processed}"
        )
        marked = _sem_marked(sess.read.parquet(store), newb, ["cell"]).localCheckpoint()
        admitted = marked.filter(
            F.col("dup_corpus").isNull() & F.col("dup_batch").isNull()
        ).select("vec_id", "cell", "embedding", "nrm")
        # idempotent per-batch path: a replayed write lands on the
        # same directory (overwrite), never duplicates store rows
        admitted.write.mode("overwrite").parquet(
            os.path.join(store, f"seed=b{processed}")
        )
        rep = _admission_counts(marked).collect()[0]
        with open(os.path.join(root, f"report_{processed}.json"), "w") as fh:
            json.dump(
                {
                    "batch_seq": processed,
                    "n_new": rep["n_new"],
                    "n_dup_prior": rep["n_dup_corpus"],
                    "n_dup_batch_only": rep["n_dup_batch_only"],
                    "n_admitted": rep["n_admitted"],
                },
                fh,
            )
        open(done, "w").close()

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(os.path.join(indir, "batch_*.parquet"))
    )
    q2 = (
        stream.writeStream.foreachBatch(admit_batch)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    rows = []
    for p in sorted(_glob.glob(os.path.join(root, "report_*.json"))):
        with open(p) as fh:
            rows.append(json.load(fh))
    return local_frame(
        spark,
        rows,
        "batch_seq long, n_new long, n_dup_prior long, "
        "n_dup_batch_only long, n_admitted long",
    ).orderBy("batch_seq")


@register(
    "stream_semdedup_admission",
    oracle=None,  # installed below (needs queries.llm fragments)
    doc="Streaming SemDeDup admission: the ingest slice drains as "
    "three ordered micro-batches through foreachBatch; each batch "
    "assigns map-side to the FROZEN corpus-trained index and a "
    "vector is rejected on a cosine>=tau neighbor in the corpus, in "
    "any EARLIER batch's admitted set, or earlier in its own batch "
    "— sequential chaining, which the batch operator deliberately "
    "does not model; a rejected vector never poisons later "
    "admissions. Durable admitted-state accrues per batch under an "
    "idempotent per-batch path (replays are no-ops). The oracle "
    "re-runs the corpus k-means, the frozen assignment, and all "
    "three CHAINED admission passes in SQL.",
    tags=("llm", "dedup", "similarity", "streaming"),
)
def stream_semdedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch admission report after draining the ingest stream
    against the frozen flat IVF index (see
    :func:`_stream_sem_admission` for the scale notes). At 100 TB the
    store is a cell-partitioned table and a batch touches only its
    cells' partitions; centroid staleness is the separately
    registered maintenance job (llm_semdedup_maintain)."""
    from ..queries.llm import (
        _IVF_K,
        _assign_keyed,
        _ckpt_unless_local,
        _one_prefix,
        _train_keyed,
    )

    def walk(q: DataFrame, cents: DataFrame) -> DataFrame:
        return _assign_keyed(_one_prefix(q), cents).select(
            "vec_id", F.col("cid").alias("cell")
        )

    def train(q: DataFrame):
        cents = _ckpt_unless_local(
            _train_keyed(_one_prefix(q), _IVF_K, "ivfseed", 1)
        )
        return cents, walk(q, cents)

    return _stream_sem_admission(spark, sf_dir, train, walk)


# the oracle needs queries.llm's SQL fragments; installed after the
# function body to keep the decorator readable
from ..queries.base import REGISTRY as _REG  # noqa: E402

_REG["stream_semdedup_admission"].oracle = _stream_sem_oracle()


# ---------------------------------------------------------------------------
# Streaming admission on the TREE index (round 14 — the last leg of
# VERDICT r13 next #3: maintenance landed as llm_semdedup_tree_maintain,
# this ports the CONTINUOUS ingest form). Identical sequential-chaining
# semantics to stream_semdedup_admission — the same admission driver —
# but the frozen index is the depth-b tree: each batch walks the frozen
# tree map-side (broadcast per-level centroid arrays) and duplicate
# rejection buckets on the packed LEAF key — the occupancy-capped
# comparison set the log-depth shape exists to provide.
# ---------------------------------------------------------------------------
_STREAM_TREE_B = (4, 3)  # pinned for the oracle (depth composes)


def _stream_sem_tree_oracle() -> str:
    from ..queries.llm import (
        _SEM_INC_MOD,
        _SQL_NORM,
        _IVF_SCALE,
        _materialize_ctes,
        _sql_lloyds_cells,
        _sql_tree_deep_cells,
        _sql_tree_frozen_assign,
    )

    b = _STREAM_TREE_B
    return _materialize_ctes(_stream_sem_chain_sql(f"""
    WITH {_sql_lloyds_cells(k=b[0], prefix="fz_", where=f"WHERE vec_id % {_SEM_INC_MOD} <> 0")},
    {_sql_tree_deep_cells(b, prefix="fz_", export_cents=True)},
    eqv_all AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {_IVF_SCALE}) AS BIGINT)) AS eq
      FROM embeddings
    ),
    {_sql_tree_frozen_assign(b, "fz_", "asg_all")},
    base AS (SELECT b.vec_id, a.key AS cell, b.embedding, {_SQL_NORM} AS nrm
             FROM embeddings b JOIN asg_all a ON a.vec_id = b.vec_id)"""))


@register(
    "stream_semdedup_tree_admission",
    oracle=None,  # installed below (needs queries.llm fragments)
    doc="Streaming SemDeDup admission on the FROZEN depth-b tree "
    "index (round 14; the continuous-ingest leg of VERDICT r13 next "
    "#3): three ordered micro-batches drain through foreachBatch; "
    "each batch walks the frozen tree map-side (nearest level-1 "
    "centroid, then nearest sub-centroid within the inherited "
    "prefix) and a vector is rejected on a cosine>=tau neighbor in "
    "the corpus, in any earlier batch's admitted set, or earlier in "
    "its own batch — all bucketed on the packed LEAF key. Durable "
    "admitted-state accrues per batch under an idempotent per-batch "
    "path; the oracle re-runs the tree training, the frozen walk, "
    "and all three chained admission passes in SQL (MATERIALIZED "
    "CTEs — inlined keyed chains go exponential). Centroid "
    "staleness is the separately registered tree maintenance job "
    "(llm_semdedup_tree_maintain).",
    tags=("llm", "dedup", "similarity", "streaming"),
)
def stream_semdedup_tree_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-batch admission report after draining the ingest stream
    against the frozen tree index.

    Scale: the tree is trained ONCE before the stream (O(depth) keyed
    chains); per-batch cost is |batch| x LEAF occupancy — the
    log-depth shape holds leaf occupancy ~constant as the corpus
    grows (add levels, not fan-out), so per-batch admission cost
    tracks |batch|, not corpus size. The admitted store is
    leaf-partitioned; a batch touches only its leaves' partitions."""
    from ..queries.llm import tree_assign_frozen, tree_train_deep

    def train(q: DataFrame):
        # the training chain's own assignment IS the corpus assignment
        # (property-pinned by test_round14_props), so no re-walk
        c1, keyed, asg = tree_train_deep(q, _STREAM_TREE_B)
        return (c1, keyed), asg

    def walk(q: DataFrame, index) -> DataFrame:
        return tree_assign_frozen(q, *index)

    return _stream_sem_admission(spark, sf_dir, train, walk)


_REG["stream_semdedup_tree_admission"].oracle = _stream_sem_tree_oracle()
