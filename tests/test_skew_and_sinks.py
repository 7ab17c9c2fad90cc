"""Salted skew mitigation correctness + Parquet sink round trip.

The reference is read-only (no INSERT/CTAS, SetExpr::Insert todo!()
at parser.rs:218,280); `df.write` is free in Spark but still deserves
a round-trip proof. Salting must be result-invariant versus the
direct plan — that's its whole contract.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from datafusion_rdbms_ext_spark.operators.skew import salted_agg, salted_join
from datafusion_rdbms_ext_spark.queries.base import ensure_tables

from .conftest import SMOKE_SF_DIR


def test_salted_agg_matches_direct(spark):
    ensure_tables(spark, SMOKE_SF_DIR)
    li = spark.table("lineitem")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": F.sum(F.col("l_quantity").cast("decimal(30,8)")),
            "n_rows": F.count(F.lit(1)),
        },
        buckets=16,
    ).select("l_returnflag", F.col("sum_qty").cast("double").alias("sum_qty"), "n_rows")
    direct = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,8)")).cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    assert sorted(salted.collect()) == sorted(direct.collect())


def test_salted_join_matches_direct(spark):
    ensure_tables(spark, SMOKE_SF_DIR)
    orders = spark.table("orders").select("o_orderkey", "o_custkey")
    customer = spark.table("customer").select("c_custkey", "c_nationkey")
    salted = salted_join(orders, customer, "o_custkey", "c_custkey", buckets=4)
    direct = orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
    assert sorted(salted.collect()) == sorted(direct.collect())


def test_parquet_sink_round_trip(spark, tmp_path_factory):
    ensure_tables(spark, SMOKE_SF_DIR)
    out = Path("spark-warehouse") / "_sink_roundtrip"
    shutil.rmtree(out, ignore_errors=True)
    src = (
        spark.table("orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Partitioned write — the layout a downstream pipeline would prune.
    src.write.mode("overwrite").partitionBy("o_orderpriority").parquet(str(out))
    back = spark.read.parquet(str(out)).select("o_orderpriority", "n")
    assert sorted(back.collect()) == sorted(src.collect())
    shutil.rmtree(out, ignore_errors=True)


def test_csv_and_json_source_round_trip(spark):
    """CSV/JSON sources (the reference's only non-DB format is CSV
    test infra, testdata/tpch-postgres.sql:17): write the same frame
    to both formats, read back with explicit schemas, get identical
    relational content."""
    ensure_tables(spark, SMOKE_SF_DIR)
    src = spark.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    base = Path("spark-warehouse") / "_fmt_roundtrip"
    shutil.rmtree(base, ignore_errors=True)
    src.write.mode("overwrite").option("header", True).csv(str(base / "csv"))
    src.write.mode("overwrite").json(str(base / "json"))
    schema = "n_nationkey long, n_name string, n_regionkey long"
    from_csv = spark.read.schema(schema).option("header", True).csv(str(base / "csv"))
    from_json = spark.read.schema(schema).json(str(base / "json"))
    expected = sorted(src.collect())
    assert sorted(from_csv.collect()) == expected
    assert sorted(from_json.collect()) == expected
    shutil.rmtree(base, ignore_errors=True)


def test_decimal_money_is_decimal_end_to_end(spark):
    """The money sink's read-back columns must be true
    DecimalType(38,4) (ref datatypes.rs:160-162), and the aggregate
    must run in decimal — the string cast is presentation only."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.sources.sinks import decimal_money_path

    from .conftest import SF_DIR

    ensure_tables(spark, SF_DIR)
    money = spark.read.parquet(decimal_money_path(spark, SF_DIR))
    types = {f.name: f.dataType for f in money.schema.fields}
    assert types["price"] == T.DecimalType(38, 4)
    assert types["tax"] == T.DecimalType(38, 4)
    agg = money.groupBy("l_returnflag").agg(F.sum("price").alias("s"))
    assert isinstance(agg.schema["s"].dataType, T.DecimalType)
    assert agg.schema["s"].dataType.scale == 4


def test_zorder_layout_bounds_both_dimensions(spark):
    """Z-order's contract vs a 1-D sort: EVERY output file covers a
    bounded rectangle of the (user_id, day) grid — a 1-D sort is
    narrow only on its sort key and spans the full range of the
    other dimension in every file."""
    import glob

    import pyarrow.parquet as pq

    from datafusion_rdbms_ext_spark.sources.sinks import zorder_events_path

    ensure_tables(spark, SMOKE_SF_DIR)
    path = zorder_events_path(spark, SMOKE_SF_DIR)
    ev = spark.table("events").select(
        F.min("user_id"), F.max("user_id"),
        F.min(F.dayofmonth("ts")), F.max(F.dayofmonth("ts")),
    ).first()
    u_full = max(ev[1] - ev[0], 1)
    d_full = max(ev[3] - ev[2], 1)
    areas = []
    for f in sorted(glob.glob(path + "/*.parquet")):
        t = pq.read_table(f, columns=["user_id", "ts"])
        u = t.column("user_id").to_pandas()
        d = t.column("ts").to_pandas().dt.day
        if len(u) == 0:
            continue
        areas.append(
            ((u.max() - u.min()) / u_full) * ((d.max() - d.min()) / d_full)
        )
    assert len(areas) >= 4, "expected a multi-file z-ordered layout"
    # No file may cover (nearly) the whole grid, and on average the
    # rectangles must be well under half of it.
    assert max(areas) <= 0.85, areas
    assert sum(areas) / len(areas) <= 0.5, areas


def test_versioned_snapshots_are_copy_on_write_and_isolated(spark):
    """The v2 commit must (a) carry untouched v1 files BY PATH into
    its manifest (copy-on-write, no full rewrite), and (b) leave v1
    fully readable with its original content (snapshot isolation)."""
    import json
    import os

    from datafusion_rdbms_ext_spark.sources.sinks import (
        read_version,
        versioned_corpus_root,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    root = versioned_corpus_root(spark, SMOKE_SF_DIR)
    m1 = json.load(open(os.path.join(root, "v1.json")))
    m2 = json.load(open(os.path.join(root, "v2.json")))
    carried = set(m2["carried_over"])
    assert carried, "v2 rewrote everything — not copy-on-write"
    assert carried < set(m1["files"]), "carried files must be v1 files"
    assert carried < set(m2["files"])
    # Snapshot isolation: v1 content unchanged after the v2 commit.
    v1 = read_version(spark, root, 1)
    base = spark.table("documents")
    assert v1.count() == base.count()
    assert (
        v1.agg(F.min(F.md5("text"))).first()[0]
        == base.agg(F.min(F.md5("text"))).first()[0]
    )
    # Time travel: v2 sees the upsert (inserted keys exist only in v2).
    v2 = read_version(spark, root, 2)
    assert v2.filter(F.col("doc_id") >= 10000).count() == 20
    assert v1.filter(F.col("doc_id") >= 10000).count() == 0


def test_compaction_preserves_content_and_vacuum_enforces_retention(spark, tmp_path):
    """OPTIMIZE must be row-identical with fewer files; VACUUM(keep=3)
    must leave v3 readable and make pre-retention snapshots
    unreadable (the Delta vacuum contract)."""
    import glob
    import json
    import os
    import shutil

    import pytest

    from datafusion_rdbms_ext_spark.sources.sinks import (
        compact_version,
        read_version,
        vacuum,
        versioned_corpus_root,
    )

    from datafusion_rdbms_ext_spark.sources.sinks import tag_version

    ensure_tables(spark, SMOKE_SF_DIR)
    # Private copy: vacuum destroys snapshots, and the memoized root
    # is shared with the registered time-travel queries. The shared
    # root may carry later-version manifests (v4-v9, refs) from the
    # DV/WAP chain — rewrite every manifest's paths and start with a
    # clean refs dir so this test controls what is tagged.
    shared = versioned_corpus_root(spark, SMOKE_SF_DIR)
    root = str(tmp_path / "versioned")
    shutil.copytree(shared, root)
    shutil.rmtree(os.path.join(root, "refs"), ignore_errors=True)
    for mf in glob.glob(os.path.join(root, "v*.json")):
        m = json.load(open(mf))
        for key in ("files", "carried_over", "appended"):
            if key in m:
                m[key] = [f.replace(shared, root) for f in m[key]]
        json.dump(m, open(mf, "w"))
    if not os.path.exists(os.path.join(root, "v3.json")):
        compact_version(spark, root)
    v2 = {(r["doc_id"], r["text"]) for r in read_version(spark, root, 2).collect()}
    v3 = {(r["doc_id"], r["text"]) for r in read_version(spark, root, 3).collect()}
    assert v2 == v3
    n2 = len(json.load(open(os.path.join(root, "v2.json")))["files"])
    n3 = len(json.load(open(os.path.join(root, "v3.json")))["files"])
    assert n3 < n2, (n3, n2)
    # a tag pins its snapshot's files through retention (Iceberg
    # ref-retention): v2 stays readable, untagged v1 does not
    tag_version(root, "keep-v2", 2)
    deleted = vacuum(root, keep=3)
    assert deleted, "vacuum reclaimed nothing"
    assert read_version(spark, root, 3).count() == len(v3)
    assert {
        (r["doc_id"], r["text"]) for r in read_version(spark, root, 2).collect()
    } == v2
    with pytest.raises(Exception):
        read_version(spark, root, 1).count()


def test_manifest_commit_is_exclusive(tmp_path):
    """Two writers racing for the same version number: exactly one
    wins, the loser gets CommitConflict, and the winning manifest is
    intact (optimistic concurrency control)."""
    import json
    import os

    import pytest

    from datafusion_rdbms_ext_spark.sources.sinks import (
        CommitConflict,
        _write_manifest,
    )

    root = str(tmp_path)
    schema = {"type": "struct", "fields": []}
    _write_manifest(
        root, 7, {"version": 7, "files": ["a.parquet"], "schema": schema}
    )
    with pytest.raises(CommitConflict):
        _write_manifest(
            root, 7, {"version": 7, "files": ["b.parquet"], "schema": schema}
        )
    m = json.load(open(os.path.join(root, "v7.json")))
    assert m["files"] == ["a.parquet"]
    assert not [f for f in os.listdir(root) if ".tmp." in f], "temp leak"


def _race_commit(root, version, writer_id, barrier, outq):
    """Child-process body for the concurrent-commit race (module-level
    so it pickles; barrier/queue inherited through fork)."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        CommitConflict,
        _write_manifest,
    )

    barrier.wait(timeout=30)
    try:
        _write_manifest(
            root, version, {"version": version, "writer": writer_id}
        )
        outq.put(("win", writer_id))
    except CommitConflict:
        outq.put(("conflict", writer_id))


def test_manifest_commit_race_two_processes(tmp_path):
    """VERDICT r5 next #5: the exclusive-link commit under a REAL
    process race, repeated. Two processes commit the same version with
    a barrier start; every round must produce exactly one winner and
    one CommitConflict, the winning manifest must parse as a whole
    JSON document (readers never observe a torn file), and no temp
    file may survive either outcome."""
    import json
    import multiprocessing as mp
    import os

    ctx = mp.get_context("fork")
    for version in range(3):  # repeat: races are probabilistic
        root = str(tmp_path / f"r{version}")
        os.makedirs(root, exist_ok=True)
        barrier = ctx.Barrier(2)
        outq = ctx.Queue()
        procs = [
            ctx.Process(
                target=_race_commit, args=(root, version, wid, barrier, outq)
            )
            for wid in (1, 2)
        ]
        for pr in procs:
            pr.start()
        results = [outq.get(timeout=30) for _ in procs]
        for pr in procs:
            pr.join(timeout=30)
            assert pr.exitcode == 0
        outcomes = sorted(r[0] for r in results)
        assert outcomes == ["conflict", "win"], results
        winner = next(r[1] for r in results if r[0] == "win")
        m = json.load(open(os.path.join(root, f"v{version}.json")))
        assert m == {"version": version, "writer": winner}
        assert not [f for f in os.listdir(root) if ".tmp." in f], "temp leak"


def test_manifest_temp_cleaned_on_serialize_failure(tmp_path):
    """ADVICE r5: the temp file must not outlive a commit attempt that
    fails BEFORE the link step (unserializable payload)."""
    import os

    import pytest

    from datafusion_rdbms_ext_spark.sources.sinks import _write_manifest

    root = str(tmp_path)
    with pytest.raises(TypeError):
        _write_manifest(root, 1, {"bad": object()})
    assert not [f for f in os.listdir(root) if ".tmp." in f], "temp leak"


def test_bloom_skip_index_prunes_and_never_misses(spark):
    """The Bloom index must (a) actually skip month directories —
    reading ~4 of 83 is the operator's whole point — and (b) never
    produce a false negative: the months it returns must be a
    superset of the months that truly contain the key."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        _BLOOM_LOOKUP_KEY,
        bloom_lineitem_root,
        bloom_lookup_months,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    root, m = bloom_lineitem_root(spark, SMOKE_SF_DIR)
    months = bloom_lookup_months(spark, root, m, _BLOOM_LOOKUP_KEY)
    truth = {
        r[0]
        for r in spark.table("lineitem")
        .filter(F.col("l_orderkey") == _BLOOM_LOOKUP_KEY)
        .select(F.date_format("l_shipdate", "yyyy-MM"))
        .distinct()
        .collect()
    }
    n_parts = (
        spark.table("lineitem")
        .select(F.date_format("l_shipdate", "yyyy-MM"))
        .distinct()
        .count()
    )
    assert truth <= set(months)  # no false negatives, ever
    # Skipping: at load 16 / k 3 the fp rate is ~0.5%, so the month
    # list stays within a couple of the true count — far below the
    # 83 total partitions.
    assert len(months) < n_parts / 4
    # A key absent from the table prunes to (almost) nothing.
    ghost = bloom_lookup_months(spark, root, m, 10**12 + 7)
    assert len(ghost) <= 2


def test_zonemap_manifest_prunes_files(spark):
    """The zonemap manifest must prune the 16-file range-clustered
    layout down to the few files whose key range overlaps the probe
    window, and never lose a qualifying row (the differential gate
    proves values; this rail proves the I/O claim)."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        _ZONEMAP_HI,
        _ZONEMAP_LO,
        composed_skip_root,
        zonemap_prune,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    _, manifest, _ = composed_skip_root(spark, SMOKE_SF_DIR)
    files = zonemap_prune(manifest, _ZONEMAP_LO, _ZONEMAP_HI)
    assert len(manifest) > 1
    # sf0.001's key domain is ~1500 orderkeys, so the 500-key probe
    # window legitimately overlaps more files than at larger scales —
    # the rail is strict pruning, not a fixed fraction.
    assert 0 < len(files) < len(manifest)
    # no false negative: every row in range lives in a selected file
    n_all = (
        spark.read.parquet(*manifest.keys())
        .filter(F.col("l_orderkey").between(_ZONEMAP_LO, _ZONEMAP_HI))
        .count()
    )
    n_sel = (
        spark.read.parquet(*files)
        .filter(F.col("l_orderkey").between(_ZONEMAP_LO, _ZONEMAP_HI))
        .count()
    )
    assert n_all == n_sel > 0


def test_composed_skipping_prunes_stage_by_stage(spark):
    """The composed index must prune at BOTH stages — the zonemap
    cuts the file list to the range overlap, the Bloom cuts the
    survivors to the files that can hold the point key — and never
    lose a qualifying row (no false negatives through the
    composition). Zero-read corners: a range outside every zonemap,
    and a present range with an absent point key, must both return
    ZERO data files (VERDICT r7 next #6)."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        _COMPOSED_KEY,
        _ZONEMAP_HI,
        _ZONEMAP_LO,
        composed_skip_files,
        composed_skip_root,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    root, manifest, m = composed_skip_root(spark, SMOKE_SF_DIR)
    range_files, final = composed_skip_files(
        spark, root, manifest, m, _ZONEMAP_LO, _ZONEMAP_HI, _COMPOSED_KEY
    )
    assert len(manifest) > 1
    # stage 1 pruned, stage 2 pruned further or held (Bloom may keep
    # all range files when the key truly spans them — assert <=, and
    # strictly below the full layout).
    assert 0 < len(range_files) < len(manifest)
    assert 0 < len(final) <= len(range_files) < len(manifest)
    # No false negatives through the composition: every qualifying
    # row lives in a finally-selected file.
    pred = F.col("l_orderkey").between(_ZONEMAP_LO, _ZONEMAP_HI) & (
        F.col("l_suppkey") == _COMPOSED_KEY
    )
    n_all = spark.read.parquet(*manifest.keys()).filter(pred).count()
    n_sel = spark.read.parquet(*final).filter(pred).count()
    assert n_all == n_sel > 0
    # Zero-files corner 1: a range beyond every zonemap reads NOTHING
    # — not even the Bloom index is consulted.
    rf, ff = composed_skip_files(
        spark, root, manifest, m, 10**12, 10**12 + 500, _COMPOSED_KEY
    )
    assert rf == [] and ff == []
    # Zero-files corner 2 (point-in-pruned-range): the range overlaps
    # files but the point key doesn't exist anywhere — the Bloom
    # stage must shed (almost) every range survivor; with k=3 probes
    # at ~0.5% fpp an accidental survivor is possible but rare.
    _, ghost = composed_skip_files(
        spark, root, manifest, m, _ZONEMAP_LO, _ZONEMAP_HI, 10**12 + 7
    )
    assert len(ghost) <= 1


def test_stats_broadcast_hint_drives_join_strategy(spark):
    """The collected stats must actually STEER the join: a small
    right side (stats say it fits) plans a BroadcastHashJoin; a
    side the stats call too big for the threshold does not get the
    hint. Values are strategy-invariant either way."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        collect_column_stats,
        stats_broadcast_hint,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    li = spark.table("lineitem")
    supp = spark.table("supplier")
    stats = collect_column_stats(supp, ("s_suppkey",))
    joined, did = stats_broadcast_hint(
        spark, li, supp, stats, li["l_suppkey"] == supp["s_suppkey"]
    )
    assert did is True
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:800]
    # Force the threshold below the stats-estimated size: no hint.
    joined2, did2 = stats_broadcast_hint(
        spark,
        li,
        supp,
        stats,
        li["l_suppkey"] == supp["s_suppkey"],
        threshold_bytes=1,
    )
    assert did2 is False
    # Strategy choice never changes values.
    assert joined.count() == joined2.count()


def test_skew_report_drives_salting_recommendation(spark):
    """The skew report must steer the decision in both directions:
    a deliberately skewed frame recommends salting; the (uniform)
    fixture does not at a high threshold."""
    from datafusion_rdbms_ext_spark.operators.skew import (
        op_skew_report,
        recommend_salting,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    report = op_skew_report(spark, SMOKE_SF_DIR)
    # fixture users are roughly uniform: nobody owns 20%+ of events
    assert recommend_salting(report, threshold_ppm=200_000) is False
    # a synthetic hot key (60% of rows on one user) must trip it
    hot = spark.createDataFrame(
        [(1,)] * 60 + [(i,) for i in range(2, 42)], "user_id long"
    )
    hot_report = (
        hot.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "user_id",
            "n_rows",
            F.expr(f"n_rows * 1000000 div {hot.count()}")
            .cast("long")
            .alias("share_ppm"),
        )
    )
    assert recommend_salting(hot_report, threshold_ppm=200_000) is True


def test_bloom_semi_filter_prunes_without_false_negatives(spark):
    """The Bloom pre-filter must (a) actually shrink the fact side
    for a selective dimension filter and (b) never drop a row that
    would have joined — the filtered join equals the plain join."""
    from datafusion_rdbms_ext_spark.operators.bloomjoin import (
        bloom_semi_filter,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    li = spark.table("lineitem")
    supp = spark.table("supplier").filter(F.col("s_acctbal") > 9000)
    filtered, m = bloom_semi_filter(li, supp.select("s_suppkey"), "l_suppkey")
    n_all, n_kept = li.count(), filtered.count()
    n_match = li.join(
        supp.select("s_suppkey"), li["l_suppkey"] == F.col("s_suppkey")
    ).count()
    assert n_kept < n_all  # it pruned
    # superset of true matches (no false negatives)
    direct = li.join(
        supp.select("s_suppkey"), li["l_suppkey"] == F.col("s_suppkey")
    )
    via_bloom = filtered.join(
        supp.select("s_suppkey"), filtered["l_suppkey"] == F.col("s_suppkey")
    )
    assert via_bloom.count() == n_match == direct.count()
    # the false-positive overhead stays near the fpp design point
    assert n_kept <= max(2 * n_match, n_match + n_all // 50)


def test_stats_join_decision_plans_both_strategies(spark):
    """source_stats_join_decision (round 9): ONE physical plan must
    carry BOTH stats decisions — the fits-the-budget path as a
    BroadcastHashJoin and the too-big-for-budget path as the PINNED
    SortMergeJoin (the explicit negative decision: without the merge
    pin, Spark's size-based file heuristic would silently broadcast
    the small fixture anyway and the rail would test nothing)."""
    from datafusion_rdbms_ext_spark.queries import REGISTRY

    ensure_tables(spark, SMOKE_SF_DIR)
    df = REGISTRY["source_stats_join_decision"].fn(spark, SMOKE_SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" in plan, plan[:1200]
    # and the values agree between the two strategies, row for row
    for r in df.collect():
        assert r["n_bcast"] == r["n_merge"]
        assert r["qty_bcast"] == r["qty_merge"]


def test_stats_hint_negative_decision_pins_merge(spark):
    """stats_broadcast_hint's else branch must PIN sort-merge: a
    right side the stats call too big never broadcasts via the
    size-based heuristic either (the decision overrules both ways)."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        collect_column_stats,
        stats_broadcast_hint,
    )

    ensure_tables(spark, SMOKE_SF_DIR)
    li = spark.table("lineitem")
    supp = spark.table("supplier")
    stats = collect_column_stats(supp, ("s_suppkey",))
    joined, did = stats_broadcast_hint(
        spark, li, supp, stats,
        li["l_suppkey"] == supp["s_suppkey"],
        threshold_bytes=1,
    )
    assert did is False
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:1200]
    assert "BroadcastHashJoin" not in plan, plan[:1200]
