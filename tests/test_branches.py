"""Snapshot branches (round 10, VERDICT r9 #7): mutable branch refs
over the versioned table — CAS advance via the atomic-exclusive
hard-link protocol, WAP commits to a branch head, fast-forward
merge with ancestry validation, VACUUM ref retention."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from datafusion_rdbms_ext_spark.sources.sinks import (
    CommitConflict,
    _write_manifest,
    branch_advance,
    branch_commit,
    branch_head,
    branch_init,
    fast_forward,
    read_branch,
    vacuum,
)

#: the schema every hand-written manifest here records (tiny_root's)
DOCS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
).jsonValue()


@pytest.fixture()
def tiny_root(spark, tmp_path):
    """A minimal versioned corpus: v1 = 4 docs in one gen1 file."""
    root = str(tmp_path / "corpus")
    os.makedirs(os.path.join(root, "gen1"))
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(4)], "doc_id long, text string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(root, "gen1", "bucket=0")
    )
    import glob

    files = sorted(
        glob.glob(os.path.join(root, "gen1", "bucket=0", "*.parquet"))
    )
    _write_manifest(root, 1, {"version": 1, "files": files, "schema": DOCS})
    return root


def test_branch_write_invisible_until_merge(spark, tiny_root):
    """The headline semantics: a branch commit is invisible on main
    until the fast-forward flips main's ref."""
    root = tiny_root
    branch_init(root, "main", 1)
    branch_init(root, "dev", 1)
    batch = spark.createDataFrame(
        [(100, "new a"), (101, "new b")], "doc_id long, text string"
    )
    v = branch_commit(spark, root, "dev", batch, "t_dev", 2)
    assert v == 2
    # main still reads v1 — the branch write is invisible
    assert branch_head(root, "main") == (1, 1)
    assert read_branch(spark, root, "main").count() == 4
    assert read_branch(spark, root, "dev").count() == 6
    # merge: pure metadata, main now serves the branch head
    assert fast_forward(root, "main", "dev") == 2
    assert branch_head(root, "main") == (2, 2)
    assert read_branch(spark, root, "main").count() == 6
    # idempotent re-merge is a no-op
    assert fast_forward(root, "main", "dev") == 2


def test_branch_cas_exactly_one_winner(tiny_root):
    root = tiny_root
    branch_init(root, "b", 1)
    for v in (2, 3):
        _write_manifest(
            root, v, {"version": v, "files": [], "parent": 1, "schema": DOCS}
        )
    branch_advance(root, "b", 1, 2)  # winner
    with pytest.raises(CommitConflict):
        branch_advance(root, "b", 1, 3)  # stale expect: loser
    assert branch_head(root, "b") == (2, 2)
    # no-op re-advance to the current head is fine (idempotence)
    branch_advance(root, "b", 1, 2)


def test_branch_cas_link_race(tiny_root):
    """Two writers that BOTH read head seq 1 race for seq 2 — the
    hard link admits exactly one."""
    from datafusion_rdbms_ext_spark.sources.sinks import _write_ref_seq

    root = tiny_root
    branch_init(root, "b", 1)
    _write_ref_seq(root, "b", 2, 5)
    with pytest.raises(CommitConflict):
        _write_ref_seq(root, "b", 2, 6)
    assert branch_head(root, "b") == (5, 2)


def test_fast_forward_rejects_divergence(spark, tiny_root):
    """A diverged target is NOT fast-forwardable: fast-forward never
    rewrites history."""
    root = tiny_root
    branch_init(root, "main", 1)
    branch_init(root, "dev", 1)
    batch = spark.createDataFrame(
        [(200, "dev row")], "doc_id long, text string"
    )
    branch_commit(spark, root, "dev", batch, "t_dev2", 2)
    # main moves independently (a direct commit, parentless lineage)
    _write_manifest(
        root,
        3,
        {
            "version": 3,
            "files": json.load(open(os.path.join(root, "v1.json")))["files"],
            "schema": DOCS,
        },
    )
    branch_advance(root, "main", 1, 3)
    with pytest.raises(CommitConflict, match="not a fast-forward"):
        fast_forward(root, "main", "dev")
    assert branch_head(root, "main") == (3, 2)  # untouched


def test_branch_wap_audit_rejects_and_leaves_ref(spark, tiny_root):
    """A dirty batch (NULL text / key collision) fails the branch
    WAP audit: no manifest, ref unmoved."""
    root = tiny_root
    branch_init(root, "dev", 1)
    dirty = spark.createDataFrame(
        [(300, None), (1, "collides")], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="audit failed"):
        branch_commit(spark, root, "dev", dirty, "t_dirty", 2)
    assert branch_head(root, "dev") == (1, 1)
    assert not os.path.exists(os.path.join(root, "v2.json"))


def test_vacuum_retains_branch_heads(spark, tiny_root):
    """An unmerged branch head pins its gen files against VACUUM,
    exactly like a tag."""
    root = tiny_root
    os.makedirs(os.path.join(root, "gen2"))
    df = spark.createDataFrame([(500, "kept")], "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(root, "gen2", "bucket=0")
    )
    import glob

    g2 = sorted(glob.glob(os.path.join(root, "gen2", "bucket=0", "*.parquet")))
    v1_files = json.load(open(os.path.join(root, "v1.json")))["files"]
    _write_manifest(
        root,
        2,
        {"version": 2, "files": v1_files + g2, "parent": 1, "schema": DOCS},
    )
    branch_init(root, "pinner", 2)
    deleted = vacuum(root, keep=1)
    assert deleted == []  # the branch head pinned gen2
    assert all(os.path.exists(f) for f in g2)
    # drop the pin (branch retirement) and gen2 is reclaimable
    from datafusion_rdbms_ext_spark.sources.sinks import delete_branch

    delete_branch(root, "pinner")
    assert branch_head(root, "pinner") is None
    delete_branch(root, "pinner")  # idempotent
    deleted = vacuum(root, keep=1)
    assert sorted(deleted) == g2


def test_registered_branch_scenario_is_idempotent(spark):
    """branched_corpus_root twice in one session: same refs, same
    content — re-runs re-assert, never re-append."""
    from .conftest import SF_DIR
    from datafusion_rdbms_ext_spark.queries.base import ensure_tables
    from datafusion_rdbms_ext_spark.sources.sinks import (
        branched_corpus_root,
    )

    ensure_tables(spark, SF_DIR)
    r1 = branched_corpus_root(spark, SF_DIR)
    h = {n: branch_head(r1, n) for n in ("main", "dev", "experiment")}
    r2 = branched_corpus_root(spark, SF_DIR)
    assert r1 == r2
    assert {n: branch_head(r2, n) for n in h} == h
    assert h["main"] == (10, 2) and h["dev"] == (10, 2)
    assert h["experiment"] == (11, 2)


def test_cherry_pick_semantics(spark, tiny_root):
    """cherry-pick: append commits replay by file reference onto a
    diverged target; duplicate keys fail the audit; non-append
    commits are refused; re-picks are idempotent no-ops."""
    from datafusion_rdbms_ext_spark.sources.sinks import cherry_pick

    root = tiny_root
    branch_init(root, "main", 1)
    branch_init(root, "dev", 1)
    batch = spark.createDataFrame(
        [(700, "pickme"), (701, "metoo")], "doc_id long, text string"
    )
    branch_commit(spark, root, "dev", batch, "t_pick", 2)
    # main diverges with its own append
    other = spark.createDataFrame(
        [(800, "mainline")], "doc_id long, text string"
    )
    branch_init(root, "mainline_stage", 1)  # reuse commit machinery
    branch_commit(spark, root, "mainline_stage", other, "t_main", 3)
    branch_advance(root, "main", 1, 3)
    # fast-forward main <- dev refuses (diverged)...
    with pytest.raises(CommitConflict, match="not a fast-forward"):
        fast_forward(root, "main", "dev")
    # ...but cherry-pick applies dev's append onto main's head
    v = cherry_pick(spark, root, "main", 2, 4)
    assert v == 4
    got = read_branch(spark, root, "main")
    assert got.count() == 4 + 1 + 2  # base + mainline + picked
    assert got.filter("doc_id >= 700").count() == 3
    # dev untouched
    assert branch_head(root, "dev") == (2, 2)
    # idempotent re-pick: ref re-asserted, no growth
    assert cherry_pick(spark, root, "main", 2, 4) == 4
    assert read_branch(spark, root, "main").count() == 7
    # duplicate keys fail the audit (picking the same rows again
    # under a NEW version number)
    with pytest.raises(RuntimeError, match="audit failed"):
        cherry_pick(spark, root, "main", 2, 5)
    # a non-append manifest is refused
    _write_manifest(
        root, 6, {"version": 6, "files": [], "parent": 4, "schema": DOCS}
    )
    with pytest.raises(CommitConflict, match="not an append commit"):
        cherry_pick(spark, root, "main", 6, 7)


def test_branch_cas_true_thread_race(tiny_root):
    """8 real threads race one CAS advance from the same observed
    head: the hard link admits exactly one winner; every loser gets
    CommitConflict; the head lands on the winner's version."""
    from concurrent.futures import ThreadPoolExecutor

    root = tiny_root
    branch_init(root, "b", 1)
    for v in range(2, 10):
        _write_manifest(
            root, v, {"version": v, "files": [], "parent": 1, "schema": DOCS}
        )

    def racer(v):
        try:
            branch_advance(root, "b", 1, v)
            return ("win", v)
        except CommitConflict:
            return ("lose", v)

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(racer, range(2, 10)))
    wins = [v for tag, v in results if tag == "win"]
    assert len(wins) == 1, results
    head = branch_head(root, "b")
    assert head == (wins[0], 2)


def test_branch_commit_audits_the_stage_it_lost_the_rename_to(
    spark, tiny_root
):
    """The fresh path audits the batch lineage while the
    stage is written. When another writer's stage_<name> got there
    first, the rename loses and the manifest would commit files that
    audit never saw; they are audited instead, so a NULL text in them
    fails the commit."""
    root = tiny_root
    branch_init(root, "dev", 1)
    stage = os.path.join(root, "stage_t_lost")
    spark.createDataFrame(
        [(900, None)], "doc_id long, text string"
    ).coalesce(1).write.parquet(stage)
    os.remove(os.path.join(stage, "_SUCCESS"))  # unfinished: no replay
    clean = spark.createDataFrame([(901, "clean")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="audit failed"):
        branch_commit(spark, root, "dev", clean, "t_lost", 2)
    assert branch_head(root, "dev") == (1, 1)
    assert not os.path.exists(os.path.join(root, "v2.json"))


def test_branch_commit_lost_rename_without_a_stage_raises(
    spark, tiny_root, monkeypatch
):
    """A rename that fails with no stage_<name> left behind commits
    nothing: there are no files to audit or to append."""
    root = tiny_root
    branch_init(root, "dev", 1)
    rename = os.rename

    def lose(src, dst):
        if os.path.basename(dst) == "stage_t_gone":
            raise OSError("rename lost")
        return rename(src, dst)

    monkeypatch.setattr(os, "rename", lose)
    clean = spark.createDataFrame([(902, "clean")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="was not written"):
        branch_commit(spark, root, "dev", clean, "t_gone", 2)
    assert branch_head(root, "dev") == (1, 1)
    assert not os.path.exists(os.path.join(root, "v2.json"))


def test_wap_attempt_reports_a_lost_publish(spark, tiny_root):
    """A clean candidate whose target version another
    commit already holds is not published, and its report says so."""
    from datafusion_rdbms_ext_spark.sources.sinks import (
        read_version,
        wap_attempt,
    )

    root = tiny_root
    v1 = json.load(open(os.path.join(root, "v1.json")))
    _write_manifest(root, 2, dict(v1, version=2))  # a divergent v2
    batch = spark.createDataFrame([(600, "late")], "doc_id long, text string")
    rep = wap_attempt(spark, root, 1, 2, batch, "t_late")
    assert (rep["null_violations"], rep["key_collisions"]) == (0, 0)
    assert rep["published"] is False
    # the same stage published to a free version does report it
    assert wap_attempt(spark, root, 1, 3, batch, "t_late")["published"]
    assert read_version(spark, root, 3).count() == 5


def _doc_ids(df) -> list[int]:
    return sorted(r[0] for r in df.select("doc_id").collect())


def test_branch_ref_moves_only_onto_its_own_commit(spark, tiny_root):
    """When another branch already holds v{version_to}, a branch
    commit (or a cherry-pick) to it raises CommitConflict and leaves
    the ref alone: moving the ref there would serve the other
    branch's rows and drop the batch. A true replay still re-asserts."""
    from datafusion_rdbms_ext_spark.sources.sinks import cherry_pick

    root = tiny_root
    branch_init(root, "main", 1)
    branch_init(root, "dev", 1)
    main_batch = spark.createDataFrame(
        [(100, "main row")], "doc_id long, text string"
    )
    dev_batch = spark.createDataFrame(
        [(200, "dev row")], "doc_id long, text string"
    )
    branch_commit(spark, root, "main", main_batch, "main_batch", 2)
    with pytest.raises(CommitConflict):
        branch_commit(spark, root, "dev", dev_batch, "dev_batch", 2)
    assert branch_head(root, "dev") == (1, 1)
    assert _doc_ids(read_branch(spark, root, "dev")) == [0, 1, 2, 3]
    # the batch lands on a free version, and its replay re-asserts
    assert branch_commit(spark, root, "dev", dev_batch, "dev_batch", 3) == 3
    assert branch_commit(spark, root, "dev", dev_batch, "dev_batch", 3) == 3
    assert branch_head(root, "dev") == (3, 2)
    assert _doc_ids(read_branch(spark, root, "dev")) == [0, 1, 2, 3, 200]
    # a pick whose version_to holds another commit is refused too
    with pytest.raises(CommitConflict):
        cherry_pick(spark, root, "main", 3, 2)
    assert branch_head(root, "main") == (2, 2)
    assert _doc_ids(read_branch(spark, root, "main")) == [0, 1, 2, 3, 100]


def test_branch_commits_racing_for_one_version(spark, tiny_root):
    """Two threads commit different batches to different branches as
    the same version: exactly one wins, the loser raises
    CommitConflict and keeps its head."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    root = tiny_root
    batches = {}
    for name, key in (("a", 300), ("b", 400)):
        branch_init(root, name, 1)
        batches[name] = spark.createDataFrame(
            [(key, name)], "doc_id long, text string"
        )
    start = threading.Barrier(2)

    def commit(name):
        start.wait(timeout=60)
        try:
            return branch_commit(
                spark, root, name, batches[name], f"race_{name}", 2
            )
        except CommitConflict:
            return None

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = dict(zip("ab", ex.map(commit, "ab")))
    winners = [n for n, v in results.items() if v == 2]
    assert len(winners) == 1, results
    (loser,) = set("ab") - set(winners)
    assert results[loser] is None
    assert branch_head(root, winners[0]) == (2, 2)
    assert branch_head(root, loser) == (1, 1)
    with open(os.path.join(root, "v2.json")) as fh:
        assert json.load(fh)["branch"] == winners[0]


def test_replaying_an_older_commit_keeps_the_head(tmp_path):
    """Replaying a commit the branch already holds — its head or an
    ancestor — returns the head and leaves the ref alone: moving the
    ref back to the replayed version would drop every later commit.
    Pure metadata: hand-written manifests, stage files and refs; the
    replay path reads no data (no session, no batch)."""
    from datafusion_rdbms_ext_spark.sources.sinks import cherry_pick

    root = str(tmp_path / "corpus")

    def stage(name):
        d = os.path.join(root, f"stage_{name}")
        os.makedirs(d)
        path = os.path.join(d, "part-0.parquet")
        open(path, "w").close()
        return [path]

    def commit(v, parent, files, appended, **marks):
        _write_manifest(
            root,
            v,
            {
                "version": v,
                "files": files,
                "appended": appended,
                "parent": parent,
                "schema": DOCS,
                **marks,
            },
        )

    s1, s2, s3 = stage("s1"), stage("s2"), stage("s3")
    _write_manifest(root, 1, {"version": 1, "files": [], "schema": DOCS})
    # dev: v2 = stage s1, v3 = stage s2 on top
    commit(2, 1, s1, s1, branch="dev")
    commit(3, 2, s1 + s2, s2, branch="dev")
    # main: v4 = the pick of v3, v5 = stage s3 on top
    commit(4, 1, s2, s2, cherry_picked_from=3)
    commit(5, 4, s2 + s3, s3, branch="main")
    branch_init(root, "dev", 1)
    branch_advance(root, "dev", 1, 2)
    branch_advance(root, "dev", 2, 3)
    branch_init(root, "main", 1)
    branch_advance(root, "main", 1, 4)
    branch_advance(root, "main", 4, 5)

    assert branch_commit(None, root, "dev", None, "s1", 2) == 3
    assert branch_head(root, "dev") == (3, 3)
    assert branch_commit(None, root, "dev", None, "s2", 3) == 3
    assert branch_head(root, "dev") == (3, 3)
    assert cherry_pick(None, root, "main", 3, 4) == 5
    assert branch_head(root, "main") == (5, 3)
    # a version the branch holds that is NOT this stage still raises
    with pytest.raises(CommitConflict):
        branch_commit(None, root, "dev", None, "s2", 2)
    assert branch_head(root, "dev") == (3, 3)
