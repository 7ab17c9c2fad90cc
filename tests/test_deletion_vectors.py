"""Deletion-vector layout invariants (merge-on-read deletes).

The differential gate proves the VALUES; these tests pin the LAYOUT
claims that make deletion vectors worth having:

* the v4 DELETE commit rewrites ZERO data files (manifest carries
  v2's list byte-for-byte, plus the sidecar pointer);
* the sidecar holds exactly one (file, position) pair per deleted
  row;
* v5 materialization rewrites ONLY DV-bearing files — clean files
  are carried by path — and reads back row-identical to v4.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from datafusion_rdbms_ext_spark.queries.base import ensure_tables
from datafusion_rdbms_ext_spark.sources.sinks import (
    deletion_vector_root,
    read_version,
)

from .conftest import SF_DIR


def _manifest(root: str, v: int) -> dict:
    with open(os.path.join(root, f"v{v}.json")) as fh:
        return json.load(fh)


def test_delete_commit_rewrites_no_data_file(spark):
    ensure_tables(spark, SF_DIR)
    root = deletion_vector_root(spark, SF_DIR)
    m2, m4 = _manifest(root, 2), _manifest(root, 4)
    assert sorted(m4["files"]) == sorted(m2["files"])
    assert m4["delete_vectors"] == "dv4"


def test_sidecar_is_one_row_per_deleted_row(spark):
    ensure_tables(spark, SF_DIR)
    root = deletion_vector_root(spark, SF_DIR)
    n_deleted = (
        read_version(spark, root, 2)
        .filter(F.col("doc_id") % 10 == 3)
        .count()
    )
    dv = spark.read.parquet(os.path.join(root, "dv4"))
    assert dv.count() == n_deleted > 0
    # positions are unique per file — a duplicate would double-delete
    assert dv.distinct().count() == n_deleted


def test_materialize_rewrites_only_dv_bearing_files(spark):
    ensure_tables(spark, SF_DIR)
    root = deletion_vector_root(spark, SF_DIR)
    m2, m5 = _manifest(root, 2), _manifest(root, 5)
    dv_files = {
        r["file_path"].removeprefix("file:")
        for r in spark.read.parquet(os.path.join(root, "dv4"))
        .select("file_path")
        .distinct()
        .collect()
    }
    clean = [f for f in m2["files"] if f not in dv_files]
    assert sorted(m5["carried_over"]) == sorted(clean)
    # every affected v2 file is gone from v5; its rows live in gen5
    assert not (set(m5["files"]) & dv_files)
    assert all(f.startswith(os.path.join(root, "gen5")) or f in clean
               for f in m5["files"])


def test_v4_and_v5_read_identical(spark):
    ensure_tables(spark, SF_DIR)
    root = deletion_vector_root(spark, SF_DIR)
    v4 = read_version(spark, root, 4).orderBy("doc_id").collect()
    v5 = read_version(spark, root, 5).orderBy("doc_id").collect()
    assert v4 == v5
    assert all(r["doc_id"] % 10 != 3 for r in v4)


def test_mor_update_appends_one_file_rewrites_none(spark):
    from datafusion_rdbms_ext_spark.sources.sinks import mor_update_root

    ensure_tables(spark, SF_DIR)
    root = mor_update_root(spark, SF_DIR)
    m4, m6 = _manifest(root, 4), _manifest(root, 6)
    assert len(m6["appended"]) == 1
    assert sorted(m6["files"]) == sorted(m4["files"] + m6["appended"])
    # widened sidecar = old tombstones + one per updated row
    n_hit = (
        read_version(spark, root, 4)
        .filter(F.col("doc_id") % 10 == 7)
        .count()
    )
    dv4 = spark.read.parquet(os.path.join(root, "dv4")).count()
    dv6 = spark.read.parquet(os.path.join(root, "dv6")).count()
    assert dv6 == dv4 + n_hit and n_hit > 0


def test_mor_update_read_equals_recomputed(spark):
    from datafusion_rdbms_ext_spark.sources.sinks import mor_update_root

    ensure_tables(spark, SF_DIR)
    root = mor_update_root(spark, SF_DIR)
    v6 = read_version(spark, root, 6).orderBy("doc_id").collect()
    expect = (
        read_version(spark, root, 4)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 == 7, F.lower("text"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .orderBy("doc_id")
        .collect()
    )
    assert v6 == expect


def test_wap_rejected_batch_is_invisible(spark):
    """The failed candidate's staged files exist on disk but appear
    in NO manifest — readers can never see them; the published
    manifest is exactly v6's files plus the good stage."""
    import glob

    from datafusion_rdbms_ext_spark.queries import REGISTRY

    REGISTRY["sink_wap_publish"].fn(spark, SF_DIR).collect()
    from datafusion_rdbms_ext_spark.sources.sinks import mor_update_root

    root = mor_update_root(spark, SF_DIR)
    bad_files = set(
        glob.glob(os.path.join(root, "stage_bad", "*.parquet"))
    )
    assert bad_files  # staged, on disk
    for mf in glob.glob(os.path.join(root, "v*.json")):
        with open(mf) as fh:
            assert not (set(json.load(fh)["files"]) & bad_files), mf
    m6, m7 = _manifest(root, 6), _manifest(root, 7)
    good_files = sorted(
        glob.glob(os.path.join(root, "stage_good", "*.parquet"))
    )
    assert sorted(m7["files"]) == sorted(m6["files"] + good_files)
    assert m7.get("delete_vectors") == "dv6"  # sidecar carried forward


def test_equality_delete_commit_scans_nothing_and_rewrites_nothing(spark):
    """v8's manifest carries v6's files untouched plus BOTH sidecars;
    the key list covers the predicate domain (no table scan baked
    into the committed keys), and the read composes both flavors."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        equality_delete_root,
    )

    ensure_tables(spark, SF_DIR)
    root = equality_delete_root(spark, SF_DIR)
    m6, m8 = _manifest(root, 6), _manifest(root, 8)
    assert sorted(m8["files"]) == sorted(m6["files"])
    assert m8["delete_vectors"] == m6["delete_vectors"]
    assert m8["equality_deletes"] == "eq8"
    keys = spark.read.parquet(os.path.join(root, "eq8"))
    assert keys.count() == 200  # |{11,111,...,19911}| — predicate-sized
    v8 = read_version(spark, root, 8)
    v6 = read_version(spark, root, 6)
    hit = (F.col("doc_id") % 100 == 11) & (F.col("doc_id") < 20000)
    assert v8.count() == v6.filter(~hit).count()
    assert v8.filter(hit).count() == 0


def test_tags_are_immutable(spark):
    import pytest

    from datafusion_rdbms_ext_spark.sources.sinks import (
        CommitConflict,
        mor_update_root,
        read_tag,
        tag_version,
    )

    ensure_tables(spark, SF_DIR)
    root = mor_update_root(spark, SF_DIR)
    tag_version(root, "probe-tag", 4)
    tag_version(root, "probe-tag", 4)  # same target: no-op
    with pytest.raises(CommitConflict):
        tag_version(root, "probe-tag", 6)  # moving a tag is refused
    assert (
        read_tag(spark, root, "probe-tag").count()
        == read_version(spark, root, 4).count()
    )


def test_eq_compaction_row_identical_no_eq_sidecar(spark):
    """v9 carries v8's files, drops the equality sidecar, and reads
    back row-identical — compaction changes the plan, not the data."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        compact_equality_deletes,
    )

    ensure_tables(spark, SF_DIR)
    root = compact_equality_deletes(spark, SF_DIR)
    m8, m9 = _manifest(root, 8), _manifest(root, 9)
    assert sorted(m9["files"]) == sorted(m8["files"])
    assert "equality_deletes" not in m9
    assert m9["delete_vectors"] == "dv9"
    v8 = read_version(spark, root, 8).orderBy("doc_id").collect()
    v9 = read_version(spark, root, 9).orderBy("doc_id").collect()
    assert v8 == v9


def test_cdf_consumer_restart_resumes_at_frontier(spark):
    """Kill-and-restart: deleting the consumer's LAST durable commit
    (simulating a crash before the commit landed) makes the next run
    re-apply exactly that one transition and converge to the same
    state; a further run applies nothing."""
    from datafusion_rdbms_ext_spark.streaming import cdf_consume

    ensure_tables(spark, SF_DIR)
    final, _ = cdf_consume(spark, SF_DIR)
    assert final["frontier"] == 8
    # crash simulation: the last transition's commit is lost
    from datafusion_rdbms_ext_spark.sources.sinks import (
        equality_delete_root,
    )

    root = equality_delete_root(spark, SF_DIR)
    state_dir = os.path.join(root, "cdf_state")
    last = sorted(os.listdir(state_dir))[-1]
    os.remove(os.path.join(state_dir, last))
    resumed, applied = cdf_consume(spark, SF_DIR)
    assert applied == 1  # exactly the lost transition
    assert resumed == final
    again, applied2 = cdf_consume(spark, SF_DIR)
    assert applied2 == 0 and again == final


def test_wap_publish_reports_a_lost_v7(spark):
    """When v7 is already held by a different commit, the
    clean candidate is not published and its row says so; visible_docs
    is the real v7 count. Runs on a private v1-v6 chain so the shared
    corpus keeps its own v7."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        _VERSIONED_DIR_CONF,
        _write_manifest,
        mor_update_root,
        sink_wap_publish,
    )

    ensure_tables(spark, SF_DIR)
    key = f"{_VERSIONED_DIR_CONF}.{abs(hash(SF_DIR))}"
    shared = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        root = mor_update_root(spark, SF_DIR)
        assert root != shared
        m6 = _manifest(root, 6)
        _write_manifest(root, 7, dict(m6, version=7, appended=[]))
        out = sink_wap_publish(spark, SF_DIR).collect()
        rows = {r["candidate"]: r for r in out}
    finally:
        if shared is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, shared)
    good = rows["good"]
    assert (good["null_violations"], good["key_collisions"]) == (0, 0)
    assert good["published"] is False
    assert good["visible_docs"] == read_version(spark, root, 6).count()
    assert rows["bad"]["published"] is False
