"""Round-15 optimization-round regression pins.

Each optimization changed an operator's INTERNALS while the round's
contract requires bit-identical values. These tests pin the internal
equivalences directly (the 348-query differential gate pins the
end-to-end values):

1. The driver-local-iteration Lloyd's (folded-literal centroids +
   per-iteration collect) equals the distributed broadcast-chain
   form — at one prefix (flat) and keyed — on the fixture
   embeddings; flat k-means, now the keyed trainer at one prefix,
   equals the flat trainer it replaced (verbatim copy in
   tests/kmeans_ref.py), and its driver-local assignment and probe
   plans fold to a literal with no job, join or map lookup.
2. The lazy-greedy k-center (pooled TakeOrdered + driver-side picks
   under the exact bound) equals the per-pick TakeOrdered(1) reference
   greedy, including the d2 trace, across pool sizes that force both
   the all-cached and the refresh paths.
3. The connected-components union+min label update equals the
   left-join+least form it replaced (one full run on the LSH pair
   graph vs a reference BFS closure on the driver).
4. The containment fwd/rev map-side explode equals the two-projection
   union it replaced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_rdbms_ext_spark.catalog import register_tables
from datafusion_rdbms_ext_spark.queries.llm import (
    _IVF_ITERS,
    _assign_keyed,
    _one_prefix,
    _phash,
    _probe_keyed,
    _quantize,
    _train_keyed,
    _update_keyed,
    kcenter_select,
)

from . import kmeans_ref as ref
from .conftest import SMOKE_SF_DIR


def _lloyds_distributed(vecs, k, iters, seed_tag):
    """The pre-round-15 distributed reference chain (verbatim)."""
    from pyspark.sql import Window

    seed_rows = (
        vecs.withColumn("h", _phash(F.col("vec_id").cast("string"), seed_tag))
        .orderBy("h", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("h", "vec_id")
    cents = seed_rows.withColumn(
        "cid", F.row_number().over(w).cast("int")
    ).select("cid", F.col("eq").alias("cemb"))
    for _ in range(iters):
        cents = ref._update_centroids(ref._assign_cells(vecs, cents))
    return cents


def test_lloyds_local_equals_distributed_flat(spark):
    register_tables(spark, SMOKE_SF_DIR)
    q = _quantize(spark)
    local = _train_keyed(_one_prefix(q), 7, "ivfseed", 1)
    dist = _lloyds_distributed(q, 7, _IVF_ITERS, "ivfseed")
    lrows = sorted((r["cid"], tuple(r["cemb"])) for r in local.collect())
    drows = sorted((r["cid"], tuple(r["cemb"])) for r in dist.collect())
    assert lrows == drows and lrows  # non-degenerate


def test_lloyds_dispatch_uses_local_under_cap(spark):
    register_tables(spark, SMOKE_SF_DIR)
    cents = _train_keyed(_one_prefix(_quantize(spark)), 5, "ivfseed", 1, iters=1)
    assert getattr(cents, "_local_keyed_cents", None)


def test_train_keyed_local_equals_distributed(spark):
    register_tables(spark, SMOKE_SF_DIR)
    q = _quantize(spark)
    cents1 = _train_keyed(_one_prefix(q), 4, "ivfseed", 1)
    vecs = (
        _assign_keyed(_one_prefix(q), cents1)
        .select(F.col("cid").cast("long").alias("cell"), "vec_id", "eq")
        .localCheckpoint()
    )
    local = _train_keyed(vecs, 3, "treeseed", prefixes=4)
    # reference: the distributed keyed chain (forced via a huge
    # prefixes hint that exceeds the literal cap)
    dist = _train_keyed(vecs, 3, "treeseed", prefixes=1 << 30)
    assert getattr(local, "_local_keyed_cents", None)
    assert getattr(dist, "_local_keyed_cents", None) is None
    lrows = sorted(
        (r["cell"], r["cid"], tuple(r["cemb"])) for r in local.collect()
    )
    drows = sorted(
        (r["cell"], r["cid"], tuple(r["cemb"])) for r in dist.collect()
    )
    assert lrows == drows and lrows


def test_train_keyed_distributed_matches_legacy_loop(spark):
    register_tables(spark, SMOKE_SF_DIR)
    q = _quantize(spark)
    cents1 = _train_keyed(_one_prefix(q), 4, "ivfseed", 1)
    vecs = (
        _assign_keyed(_one_prefix(q), cents1)
        .select(F.col("cid").cast("long").alias("cell"), "vec_id", "eq")
        .localCheckpoint()
    )
    legacy = ref._seed_keyed(vecs, 3, "treeseed")
    for _ in range(_IVF_ITERS):
        legacy = _update_keyed(_assign_keyed(vecs, legacy))
    new = _train_keyed(vecs, 3, "treeseed", prefixes=4)
    lrows = sorted(
        (r["cell"], r["cid"], tuple(r["cemb"])) for r in legacy.collect()
    )
    nrows = sorted(
        (r["cell"], r["cid"], tuple(r["cemb"])) for r in new.collect()
    )
    assert lrows == nrows and lrows


def _cents(df):
    return sorted((r["cid"], tuple(r["cemb"])) for r in df.collect())


def _pairs(df, col):
    return sorted((r["vec_id"], r[col]) for r in df.collect())


def test_one_prefix_trainer_equals_parent_lloyds(spark):
    """Flat k-means is the keyed trainer at one prefix: centroids,
    assignment and probes equal the flat trainer it replaced, both
    driver-local (under the cap) and distributed (a ``dim`` hint far
    above it forces both sides onto their broadcast chains)."""
    register_tables(spark, SMOKE_SF_DIR)
    q = _quantize(spark)
    flat = _one_prefix(q)
    for dim in (64, 1 << 20):
        new = _train_keyed(flat, 7, "ivfseed", 1, dim=dim)
        old = ref._lloyds(q, 7, _IVF_ITERS, "ivfseed", dim=dim)
        local = getattr(new, "_local_keyed_cents", None) is not None
        assert local == (dim == 64)
        assert local == (getattr(old, "_local_cents", None) is not None)
        assert _cents(new) == _cents(old) and len(_cents(new)) == 7
        assert _pairs(_assign_keyed(flat, new), "cid") == _pairs(
            ref._assign_cells(q, old), "cid"
        )
        assert _pairs(_probe_keyed(flat, new, 2), "subcell") == _pairs(
            ref._probe_cells(q, old, 2), "cell"
        )


def test_pq_subspace_trainer_equals_parent_lloyds(spark):
    """The PQ codebooks' 16-long subspace slices train identically
    through the one-prefix trainer (``dim`` sizes the cap check)."""
    from datafusion_rdbms_ext_spark.queries.llm import _PQ_SUBDIM, _pq_sub

    register_tables(spark, SMOKE_SF_DIR)
    sub = _pq_sub(_quantize(spark), 1)
    new = _train_keyed(sub, 8, "pqseed1", 1, dim=_PQ_SUBDIM)
    old = ref._lloyds(
        sub.drop("cell"), 8, _IVF_ITERS, "pqseed1", dim=_PQ_SUBDIM
    )
    assert getattr(new, "_local_keyed_cents", None)
    assert _cents(new) == _cents(old)
    assert all(len(c) == _PQ_SUBDIM for _, c in _cents(new))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_centroid_plans_fold_and_start_no_job(spark):
    """Against driver-local centroids, assignment and probing are
    plan-only: building and optimizing them starts no Spark job and
    plans no join. At one prefix the map-literal lookup on the
    constant key folds to the centroid array itself — no element_at,
    no Filter — so flat assignment costs what the flat literal did.
    At four prefixes the lookup stays (a vector whose prefix trained
    nothing must drop out), still with no join."""
    register_tables(spark, SMOKE_SF_DIR)
    q = _quantize(spark)
    flat = _one_prefix(q)
    keyed = q.withColumn("cell", (F.col("vec_id") % 4).cast("long"))
    cases = [
        (flat, _train_keyed(flat, 5, "ivfseed", 1), True),
        (keyed, _train_keyed(keyed, 3, "treeseed", 4), False),
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for vecs, cents, one_prefix in cases:
        assert getattr(cents, "_local_keyed_cents", None)
        sc.setJobGroup("fold-probe", "fold-probe")
        try:
            plans = [
                _optimized(_assign_keyed(vecs, cents)),
                _optimized(_probe_keyed(vecs, cents, 2)),
            ]
        finally:
            sc.setJobGroup("", "")
        assert list(tracker.getJobIdsForGroup("fold-probe")) == []
        for plan in plans:
            assert "Join" not in plan, plan
            if one_prefix:
                assert "element_at" not in plan, plan
                assert "Filter" not in plan, plan


def _kcenter_reference(spark, k):
    """The pre-round-15 per-pick TakeOrdered(1) greedy (verbatim)."""
    from datafusion_rdbms_ext_spark.queries.llm import _IVF_SCALE, _l2q

    eq = spark.table("embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _IVF_SCALE).cast("long"),
        ).alias("eq"),
    ).localCheckpoint()
    seed_rows = eq.orderBy("vec_id").limit(1).collect()
    if not seed_rows:
        return []
    seed = seed_rows[0]
    picked = [(1, int(seed["vec_id"]), 0)]
    newest = seed["eq"]
    state = eq.withColumn("picked", F.col("vec_id") == int(seed["vec_id"]))
    first = True
    while len(picked) < k:
        nd = _l2q(
            F.col("eq"),
            F.array(*[F.lit(int(v)).cast("long") for v in newest]),
        )
        state = state.withColumn(
            "d2min", nd if first else F.least(F.col("d2min"), nd)
        )
        first = False
        cand = (
            state.filter(~F.col("picked"))
            .orderBy(F.desc("d2min"), "vec_id")
            .limit(1)
            .collect()
        )
        if not cand:
            break
        cand = cand[0]
        picked.append((len(picked) + 1, int(cand["vec_id"]), int(cand["d2min"])))
        newest = cand["eq"]
        state = state.withColumn(
            "picked",
            F.col("picked") | (F.col("vec_id") == int(cand["vec_id"])),
        )
    return picked


def test_kcenter_lazy_matches_per_pick_reference(spark):
    register_tables(spark, SMOKE_SF_DIR)
    ref = _kcenter_reference(spark, 8)
    # pool=2 forces repeated bound-hit refreshes; pool=10000 caches
    # every candidate after one pass — both must equal the reference
    for pool in (2, 10000):
        got = [
            (int(r["rk"]), int(r["vec_id"]), int(r["d2"]))
            for r in kcenter_select(spark, k=8, pool=pool)
            .orderBy("rk")
            .collect()
        ]
        assert got == ref and len(got) == 8


def test_cc_union_min_matches_bfs_closure(spark):
    register_tables(spark, SMOKE_SF_DIR)
    from datafusion_rdbms_ext_spark.queries import REGISTRY

    rows = REGISTRY["llm_dedup_clusters"].fn(spark, SMOKE_SF_DIR).collect()
    got = {int(r["doc_id"]): int(r["cluster_id"]) for r in rows}
    # reference: BFS closure over the same verified pair graph
    from datafusion_rdbms_ext_spark.queries.llm import _lsh_verified_pairs

    pairs = [
        (int(r["da"]), int(r["db"]))
        for r in _lsh_verified_pairs(spark).select("da", "db").collect()
    ]
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for start in adj:
        if start in want:
            continue
        comp, stack = set(), [start]
        while stack:
            v = stack.pop()
            if v in comp:
                continue
            comp.add(v)
            stack.extend(adj[v] - comp)
        lbl = min(comp)
        for v in comp:
            want[v] = lbl
    assert got == want
    sizes = {}
    for lbl in want.values():
        sizes[lbl] = sizes.get(lbl, 0) + 1
    by_doc = {int(r["doc_id"]): r for r in rows}
    for doc, r in by_doc.items():
        assert int(r["cluster_size"]) == sizes[want[doc]]
        assert bool(r["is_canonical"]) == (doc == want[doc])


def test_containment_explode_matches_union_form(spark):
    register_tables(spark, SMOKE_SF_DIR)
    from datafusion_rdbms_ext_spark.queries import REGISTRY

    got = sorted(
        map(tuple, REGISTRY["llm_minhash_containment"].fn(spark, SMOKE_SF_DIR).collect())
    )
    # reference: rebuild via the pre-round-15 two-projection union
    from datafusion_rdbms_ext_spark.queries.llm import (
        _CONTAIN_TAU,
        _DF_CAP,
        _SHINGLE_EXPR,
    )

    hashed = (
        spark.table("documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select("doc_id", F.explode(F.expr(_SHINGLE_EXPR)).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
        .distinct()
        .localCheckpoint()
    )
    cnt = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sdf = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    rare = hashed.join(
        sdf.filter((F.col("c") >= 2) & (F.col("c") <= _DF_CAP)), "h"
    ).select("doc_id", "h")
    a = rare.select(F.col("doc_id").alias("da"), "h")
    b = rare.select(F.col("doc_id").alias("db"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = cnt.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    nb = cnt.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    pairs = inter.join(na, "da").join(nb, "db")
    fwd = pairs.select(
        F.col("da").alias("contained"),
        F.col("db").alias("container"),
        "i",
        (F.col("i").cast("double") / F.col("na").cast("double")).alias(
            "containment"
        ),
    )
    rev = pairs.select(
        F.col("db").alias("contained"),
        F.col("da").alias("container"),
        "i",
        (F.col("i").cast("double") / F.col("nb").cast("double")).alias(
            "containment"
        ),
    )
    want = sorted(
        map(
            tuple,
            fwd.unionByName(rev)
            .filter(F.col("containment") >= _CONTAIN_TAU)
            .select(
                "contained",
                "container",
                F.col("i").cast("long").alias("n_shared"),
                F.round("containment", 6).alias("containment"),
            )
            .orderBy("contained", "container")
            .collect(),
        )
    )
    assert got == want and got
