"""Verbatim copies of the flat k-means and 2-level tree functions that
the keyed trainer replaced, kept as references for the bit-identity
pins (tests/test_round13_props.py, test_round14_opt.py and
test_round15_opt.py). Flat k-means is now the keyed chain at one
prefix (``_one_prefix``), and ``hierarchical_index`` is
``tree_index_deep`` at depth 2; these copies are the code those
equivalences are measured against. Not collected by pytest."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_rdbms_ext_spark.queries.llm import (
    _CENT_LOCAL_MAX,
    _CS_TYPE,
    _INT_MEAN_SPARK,
    _IVF_DIM,
    _IVF_ITERS,
    _assign_keyed,
    _l2q,
    _local_keyed_df,
    _overlap,
    _phash,
    _probe_keyed,
    _quantize,
    _sql_cemb,
    _update_keyed,
)
from datafusion_rdbms_ext_spark.sources.connector import local_frame


def _cs_literal(rows) -> Column:
    """The sorted (cid, cemb) struct array as ONE foldable literal
    expression — the driver-local twin of the broadcast one-row
    ``collect_list`` aggregate (ConstantFolding collapses it to a
    single Literal before codegen, so per-row cost is identical to
    reading the broadcast array)."""
    items = ",".join(
        f"named_struct('cid',{int(cid)},'cemb',{_sql_cemb(emb)})"
        for cid, emb in rows
    )
    return F.expr(f"CAST(array({items}) AS {_CS_TYPE})")


def _local_cents_df(spark: SparkSession, rows) -> DataFrame:
    """(cid, cemb) DataFrame built from driver-held centroid rows,
    tagged with ``_local_cents`` so the assignment/probe helpers take
    the literal fast path (zero jobs to re-ship the centroids)."""
    data = [(int(c), [int(v) for v in e]) for c, e in rows]
    df = local_frame(spark, data, "cid int, cemb array<bigint>")
    df._local_cents = data
    return df


def _ckpt_unless_local(cents: DataFrame) -> DataFrame:
    """localCheckpoint for distributed centroid frames; a no-op for
    driver-local ones (already materialized — a checkpoint would only
    add a job AND strip the fast-path tag)."""
    if getattr(cents, "_local_cents", None) is not None:
        return cents
    if getattr(cents, "_local_keyed_cents", None) is not None:
        return cents
    return cents.localCheckpoint()


def _with_cents_cs(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """``vecs`` plus a ``cs`` column holding the full sorted
    (cid, cemb) centroid array: a folded literal when the centroids
    are driver-local (no job), else the broadcast one-row aggregate."""
    local = getattr(cents, "_local_cents", None)
    if local:
        return vecs.withColumn("cs", _cs_literal(local))
    cents_arr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cemb"))).alias("cs")
    )
    return vecs.crossJoin(F.broadcast(cents_arr))


def _assign_cells(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, fully MAP-SIDE: the K centroids
    collapse to one broadcast array-of-structs row (or a folded plan
    literal when driver-local), and each vector picks argmin(dist,
    cid) with array_min — no shuffle, no N*K row blowup. This is the
    distributed-k-means assignment step done the scalable way (a
    crossJoin+groupBy(vec) formulation would shuffle N*K rows per
    iteration)."""
    best = F.array_min(
        F.transform(
            F.col("cs"),
            lambda c: F.struct(
                _l2q(F.col("eq"), c.getField("cemb")).alias("dist"),
                c.getField("cid").alias("cid"),
            ),
        )
    )
    return _with_cents_cs(vecs, cents).select(
        "vec_id", "eq", best.getField("cid").alias("cid")
    )


def _update_centroids(assigned: DataFrame, dim: int = _IVF_DIM) -> DataFrame:
    """Lloyd's update: per-component integer mean. posexplode feeds a
    (cid, pos)-keyed partial aggregation, so the shuffle carries only
    K*dim partial sums — independent of corpus size.

    Round-14 measurement (guide §1: re-measure after each change): a
    one-exchange rewrite — ``dim`` SUM(eq[i]) columns + COUNT in ONE
    wide aggregate — was tried and REVERTED. It shuffles the same
    K*dim partials in one exchange instead of two, but the dim-wide
    CASE/DIV expression trees, nested once per Lloyd's iteration
    inside every broadcast subtree, cost far more in codegen and
    per-row evaluation than the extra exchange saves: isolated
    best-of-3 at sf0.1 was llm_semdedup 8.32s vs 4.66s, tree_deep
    8.77s vs 5.59s, sim_topk_tree 5.80s vs 3.86s in posexplode's
    favor. ``dim`` is accepted for signature stability (PQ codebooks
    train on _PQ_SUBDIM-long slices); the posexplode form derives
    positions from the data."""
    comps = assigned.select("cid", F.posexplode("eq").alias("pos", "val"))
    means = comps.groupBy("cid", "pos").agg(
        F.expr(_INT_MEAN_SPARK).alias("comp")
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "comp"))),
            lambda s: s.getField("comp"),
        ).alias("cemb")
    )


def _lloyds(
    vecs: DataFrame,
    k: int,
    iters: int,
    seed_tag: str,
    dim: int = _IVF_DIM,
) -> DataFrame:
    """(cid, cemb) after ``iters`` rounds of DataFrame-native Lloyd's
    over ``vecs`` (vec_id, eq). Seeding is deterministic (portable md5
    rank of vec_id, distributed top-K via orderBy+limit — no
    data-sized global window), so engine and oracle run the SAME
    k-means bit-for-bit. Shared by the IVF coarse index (full vectors)
    and the PQ codebooks (per-subspace slices).

    Round 15 (guide §1.2 "the distributed algorithm" + §5 driver
    notes): when the centroid state is plan-literal-sized
    (k*dim <= _CENT_LOCAL_MAX) each iteration runs as ONE collect job
    — map-side assignment against the previous round's folded-literal
    centroids feeding the same (cid, pos) integer-mean aggregation,
    whose K*dim result rows come back to the driver. The old form
    nested every iteration inside the next one's BroadcastExchange,
    costing 3 sequential AQE stage round-trips + a broadcast build per
    iteration; centroids are metadata the broadcast path already
    collected to the driver anyway, so this moves no new bytes and
    changes no integer (same assignment expression, same
    _INT_MEAN_SPARK aggregate — bit-identical, oracle-gated). Above
    the cap (self-scaling K at 100 TB) the distributed chain below is
    the unchanged production path."""
    if 0 < k * dim <= _CENT_LOCAL_MAX:
        return _lloyds_local(vecs, k, iters, seed_tag)
    seed_rows = (
        vecs.withColumn("h", _phash(F.col("vec_id").cast("string"), seed_tag))
        .orderBy("h", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("h", "vec_id")  # over exactly K rows
    cents = (
        seed_rows.withColumn("cid", F.row_number().over(w).cast("int"))
        .select("cid", F.col("eq").alias("cemb"))
    )
    for _ in range(iters):
        cents = _update_centroids(_assign_cells(vecs, cents), dim)
    return cents


def _lloyds_local(
    vecs: DataFrame, k: int, iters: int, seed_tag: str
) -> DataFrame:
    """Driver-local-iteration Lloyd's: same seeding (top-K by the
    portable hash rank — TakeOrdered returns the rows already in
    (h, vec_id) order; re-sorted defensively on the collected longs),
    same map-side assignment, same distributed integer-mean
    aggregation; only the K*dim centroid RESULT rows land on the
    driver instead of being re-broadcast through a nested subtree."""
    spark = vecs.sparkSession
    seed = (
        vecs.withColumn("h", _phash(F.col("vec_id").cast("string"), seed_tag))
        .orderBy("h", "vec_id")
        .limit(k)
        .select("h", "vec_id", "eq")
        .collect()
    )
    seed.sort(key=lambda r: (r["h"], r["vec_id"]))
    rows = [(i + 1, list(r["eq"])) for i, r in enumerate(seed)]
    if not rows:
        # empty training set: keep the distributed empty-cents shape
        return _local_cents_df(spark, [])
    cents = _local_cents_df(spark, rows)
    for _ in range(iters):
        means = (
            _assign_cells(vecs, cents)
            .select("cid", F.posexplode("eq").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.expr(_INT_MEAN_SPARK).alias("comp"))
            .collect()
        )
        acc: dict = {}
        for r in means:
            acc.setdefault(r["cid"], {})[r["pos"]] = r["comp"]
        rows = [
            (cid, [m[p] for p in sorted(m)]) for cid, m in sorted(acc.items())
        ]
        cents = _local_cents_df(spark, rows)
    return cents


def _probe_cells(vecs: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(vec_id, cell): each vector's ``nprobe`` NEAREST cells — the
    IVF search-time recall knob. Same map-side shape as assignment
    (broadcast centroid array), but keeps the first ``nprobe`` of the
    distance-sorted struct array instead of the argmin."""
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    _l2q(F.col("eq"), c.getField("cemb")).alias("dist"),
                    c.getField("cid").alias("cid"),
                ),
            )
        ),
        1,
        nprobe,
    )
    return (
        _with_cents_cs(vecs, cents)
        .select("vec_id", F.explode(ranked).alias("p"))
        .select("vec_id", F.col("p.cid").alias("cell"))
    )


def _seed_keyed(vecs: DataFrame, b2: int, seed_tag: str) -> DataFrame:
    """Per-cell top-b2 seeding by the portable hash rank — the keyed
    twin of :func:`_lloyds`' orderBy+limit seeding (the window is
    PARTITIONED by cell, so no global sort; a cell with fewer than b2
    members seeds them all, exactly like limit on the slice)."""
    w = Window.partitionBy("cell").orderBy("h", "vec_id")
    return (
        vecs.withColumn(
            "h", _phash(F.col("vec_id").cast("string"), seed_tag)
        )
        .withColumn("cid", F.row_number().over(w).cast("int"))
        .filter(F.col("cid") <= b2)
        .select("cell", "cid", F.col("eq").alias("cemb"))
    )


def _train_keyed(
    vecs: DataFrame,
    b: int,
    seed_tag: str,
    prefixes: int,
    iters: int = _IVF_ITERS,
) -> DataFrame:
    """One keyed Lloyd's level: per-cell seeding + ``iters`` keyed
    update rounds. When the level's centroid state is plan-literal-
    sized (prefixes * b * dim values, same cap as :func:`_lloyds`)
    the level runs driver-local-iteration style: the seed window
    collects once, and each round is ONE collect job (map-literal
    assignment feeding the same (cell, cid, pos) integer-mean
    aggregation) instead of three nested shuffle stages + a keyed
    broadcast build per round. Bit-identical by construction (same
    seeding window, same assignment expression, same
    _INT_MEAN_SPARK aggregate); above the cap the distributed keyed
    chain is the unchanged production path."""
    if prefixes * b * _IVF_DIM > _CENT_LOCAL_MAX:
        cents = _seed_keyed(vecs, b, seed_tag)
        for _ in range(iters):
            cents = _update_keyed(_assign_keyed(vecs, cents))
        return cents
    spark = vecs.sparkSession
    cell_type = vecs.schema["cell"].dataType.simpleString()
    seed = _seed_keyed(vecs, b, seed_tag).collect()
    rows = sorted(
        (r["cell"], r["cid"], list(r["cemb"])) for r in seed
    )
    if not rows:
        return _local_keyed_df(spark, [], cell_type)
    cents = _local_keyed_df(spark, rows, cell_type)
    for _ in range(iters):
        means = (
            _assign_keyed(vecs, cents)
            .select("cell", "cid", F.posexplode("eq").alias("pos", "val"))
            .groupBy("cell", "cid", "pos")
            .agg(F.expr(_INT_MEAN_SPARK).alias("comp"))
            .collect()
        )
        acc: dict = {}
        for r in means:
            acc.setdefault((r["cell"], r["cid"]), {})[r["pos"]] = r["comp"]
        rows = [
            (cell, cid, [m[p] for p in sorted(m)])
            for (cell, cid), m in sorted(acc.items())
        ]
        cents = _local_keyed_df(spark, rows, cell_type)
    return cents


def hierarchical_index(
    spark: SparkSession,
    b1: int,
    b2: int,
    seed1: str = "ivfseed",
    seed2: str = "treeseed",
    nprobe: int | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """The 2-level hierarchical quantizer, trained ONCE: returns
    ``(assignment, probes)`` where assignment is (vec_id, cell,
    subcell) — level 1 the family's learned clustering, level 2
    trained PER level-1 cell on that cell's members — and, when
    ``nprobe`` is set, probes carries each member's ``nprobe``
    nearest SUB-centroids within its own level-1 cell (the tree's
    search-time recall knob; level 1 stays single-assigned, so
    probing multiplies pair work by nprobe, never by b1).

    Scale: the b1 sub-trainings are NOT a driver loop — they run as
    ONE KEYED Lloyd's chain (``_seed_keyed``/``_assign_keyed``/
    ``_update_keyed``): centroid identity is (cell, cid), seeding is
    a per-cell window over the same portable hash rank, assignment
    is map-side against the per-cell broadcast centroid arrays, and
    the update is a single (cell, cid, pos)-keyed partial
    aggregation whose shuffle carries b1*b2*dim partial sums — so
    the hierarchy costs the job count of one flat k-means at b2
    regardless of b1 (the earlier per-cell thread-pool form paid a
    per-cell scheduling floor that grew with b1; the keyed chain is
    both faster at fixture scale and b1-independent at 100 TB, where
    the self-scaling b1 ~ sqrt(N/target) keeps growing). Values are
    BIT-IDENTICAL to the per-cell formulation — same seeds, ties
    and integer means — which is what the unchanged per-cell DuckDB
    oracle (_sql_tree_cells) verifies."""
    q = _quantize(spark)
    # cents1 has one consumer (the level-1 assignment) — no
    # checkpoint; its chain runs once inside that broadcast
    cents1 = _lloyds(q, b1, _IVF_ITERS, seed1)
    vecs = (
        _assign_cells(q, cents1)
        .select(F.col("cid").alias("cell"), "vec_id", "eq")
        .localCheckpoint()
    )
    cents = _train_keyed(vecs, b2, seed2, b1)
    if nprobe is not None:
        # frozen once for both consumers (assignment + probes),
        # which then checkpoint in parallel (guide §2.6)
        cents = _ckpt_unless_local(cents)
        out, probes = _overlap(
            lambda: _assign_keyed(vecs, cents)
            .select("vec_id", "cell", F.col("cid").alias("subcell"))
            .localCheckpoint(),
            lambda: _probe_keyed(vecs, cents, nprobe).localCheckpoint(),
        )
        return out, probes
    # single consumer: skip the centroid checkpoint
    out = (
        _assign_keyed(vecs, cents)
        .select("vec_id", "cell", F.col("cid").alias("subcell"))
        .localCheckpoint()
    )
    return out, None
