"""Round-14 optimization-round regression pins.

Each optimization changed an operator's INTERNALS while the round's
contract requires bit-identical values. These tests pin the internal
equivalences directly (the 348-query differential gate pins the
end-to-end values):

1. The Lloyd's update equals the posexplode + (group, pos)-keyed
   reference semantics — at one prefix (flat) and keyed, including
   the PQ subspace dim. (A one-exchange wide-aggregate rewrite was
   tried mid-round and REVERTED after isolated measurement showed
   it ~1.5x slower at sf0.1 — dim-wide CASE/DIV expression trees
   nested per Lloyd's iteration cost more than the saved exchange;
   these pins keep either implementation honest.)
2. ``_overlap`` preserves thunk order and propagates exceptions.
3. The fused single-job WAP audit aggregation equals the three
   separate actions it replaced (null count / semi-join count /
   staged count) including duplicate staged keys.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_rdbms_ext_spark.queries.llm import (
    _INT_MEAN_SPARK,
    _IVF_DIM,
    _one_prefix,
    _overlap,
    _update_keyed,
)


def _posexplode_update_flat(assigned):
    """The pre-round-14 two-shuffle update (reference semantics)."""
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


def _posexplode_update_keyed(assigned):
    comps = assigned.select(
        "cell", "cid", F.posexplode("eq").alias("pos", "val")
    )
    means = comps.groupBy("cell", "cid", "pos").agg(
        F.expr(_INT_MEAN_SPARK).alias("comp")
    )
    return means.groupBy("cell", "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "comp"))),
            lambda s: s.getField("comp"),
        ).alias("cemb")
    )


def _synthetic_assigned(spark, keyed: bool):
    """Deterministic vectors exercising negative sums, odd/even group
    sizes (ties in the rounding formula), and multi-group keys."""
    rows = spark.range(97).select(
        (F.col("id") % 5).cast("int").alias("cid"),
        (F.col("id") % 3).cast("long").alias("cell"),
        F.transform(
            F.sequence(F.lit(0), F.lit(_IVF_DIM - 1)),
            lambda i: (
                (F.col("id") * 37 + i * 13) % 401 - 200
            ).cast("long"),
        ).alias("eq"),
    )
    return rows if keyed else rows.drop("cell")


def test_update_centroids_matches_posexplode_form(spark):
    assigned = _synthetic_assigned(spark, keyed=False)
    new = {
        r["cid"]: r["cemb"]
        for r in _update_keyed(_one_prefix(assigned)).collect()
    }
    old = {
        r["cid"]: r["cemb"]
        for r in _posexplode_update_flat(assigned).collect()
    }
    assert new == old and len(new) == 5


def test_update_centroids_subspace_dim(spark):
    """PQ codebooks train on _PQ_SUBDIM-long slices — the update
    must follow the data's length, not assume _IVF_DIM (the round-14
    PQ regression this test pins)."""
    sub = 16
    assigned = _synthetic_assigned(spark, keyed=False).select(
        "cid", F.slice("eq", 1, sub).alias("eq")
    )
    new = {
        r["cid"]: r["cemb"]
        for r in _update_keyed(_one_prefix(assigned)).collect()
    }
    old = {
        r["cid"]: r["cemb"]
        for r in _posexplode_update_flat(assigned).collect()
    }
    assert new == old and all(len(v) == sub for v in new.values())


def test_update_keyed_matches_posexplode_form(spark):
    assigned = _synthetic_assigned(spark, keyed=True)
    new = {
        (r["cell"], r["cid"]): r["cemb"]
        for r in _update_keyed(assigned).collect()
    }
    old = {
        (r["cell"], r["cid"]): r["cemb"]
        for r in _posexplode_update_keyed(assigned).collect()
    }
    assert new == old and len(new) == 15


def test_overlap_order_and_errors():
    assert _overlap(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    assert _overlap(lambda: "only") == ["only"]
    with pytest.raises(ValueError, match="boom"):
        _overlap(lambda: 1, lambda: (_ for _ in ()).throw(ValueError("boom")))


def test_wap_fused_matches_sequential(spark):
    """The round-14 fused sink_wap_publish (one two-candidate audit
    aggregation + one v6 count, v7 visible derived by the manifest
    append arithmetic) returns row-identical output to the
    sequential per-candidate wap_attempt + read_version().count()
    form it replaced."""
    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.sources.sinks import (
        mor_update_root,
        read_version,
        sink_wap_publish,
        wap_attempt,
    )
    from tests.conftest import SMOKE_SF_DIR

    ensure_tables(spark, SMOKE_SF_DIR)
    fused = sink_wap_publish(spark, SMOKE_SF_DIR).collect()

    root = mor_update_root(spark, SMOKE_SF_DIR)
    docs = spark.table("documents")
    bad = docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 210)
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    good = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    seq = []
    for name, cand in (("bad", bad), ("good", good)):
        rep = wap_attempt(spark, root, 6, 7, cand, name)
        visible = read_version(
            spark, root, 7 if rep["published"] else 6
        ).count()
        seq.append(
            (
                name,
                rep["staged_rows"],
                rep["null_violations"],
                rep["key_collisions"],
                rep["published"],
                visible,
            )
        )
    assert [tuple(r) for r in fused] == seq
    assert [r["published"] for r in fused] == [False, True]


def test_wap_audit_fusion_counts(spark):
    staged = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (3, None), (4, "d")],
        "doc_id long, text string",
    )
    snapshot = spark.createDataFrame(
        [(2,), (3,), (9,)], "doc_id long"
    )
    # the three separate actions (pre-round-14 semantics)
    v_null_ref = staged.filter(F.col("text").isNull()).count()
    v_dup_ref = staged.join(
        snapshot.select("doc_id"), "doc_id", "left_semi"
    ).count()
    n_ref = staged.count()
    # the fused single aggregation every WAP audit runs
    from datafusion_rdbms_ext_spark.sources.sinks import _audit

    row = _audit(staged, snapshot).first()
    assert (
        int(row["n_staged"]),
        int(row["v_null"]),
        int(row["v_dup"]),
    ) == (n_ref, v_null_ref, v_dup_ref) == (5, 2, 3)
