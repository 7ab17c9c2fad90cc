"""Scale-growth probe: sf0.1 vs a synthesized ~sf1 (10x replicas).

The per-round bench at sf0.1 runs 0.2-2s/query — fixed overhead
(scheduling, JVM) dominates and hides asymptotics. This probe
synthesizes a ~10x corpus locally and re-times the most expensive
bench queries at both scales; a scale-safe plan should grow
<= ~linearly in data size (ratio ~<= 10 with generous slack for the
fixed-overhead floor at the small scale making the ratio LOOK small,
and shuffle-width effects making it wander above 10x slightly).

Synthesis (re-keyed union, NOT plain duplication):

* documents: 10 replicas, ``doc_id`` offset per replica, and every
  TOKEN suffixed with the replica index (regexp_replace) — replicas
  share no shingles, so duplicate/near-duplicate DENSITY matches the
  original corpus instead of exploding quadratically (10 literal
  copies of each doc would add 45 intra-group pairs per doc and
  measure the data's pair structure, not the engine's scaling).
* lineitem/orders/customer: join/group keys offset per replica
  (l_orderkey/o_orderkey/o_custkey/c_custkey), so group counts and
  join fan-outs scale linearly like a real bigger TPC-H would.
* embeddings: ``vec_id`` offset per replica and the vector CIRCULARLY
  SHIFTED by the replica index — norms and intra-replica cosines are
  preserved exactly (shift is orthogonal), cross-replica pairs
  decorrelate, so near/semantic-duplicate DENSITY stays at the
  original corpus' level instead of every vector gaining 9 exact
  twins (which would measure the duplicate structure, not the
  engine).
* events: ``event_id``/``user_id`` offset per replica — 10x users,
  each keeping the original per-user trajectory length, the way a
  real bigger event log grows.

Run:  python scripts/scale_probe.py          (writes stderr table)
      SCALE_PROBE_RUNS=3 python scripts/scale_probe.py
      SCALE_PROBE_FACTOR=100 SCALE_PROBE_ONLY=a,b,c \
          python scripts/scale_probe.py      (round-10 100x probe)

Results are recorded in SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_rdbms_ext_spark.queries import REGISTRY  # noqa: E402
from datafusion_rdbms_ext_spark.queries.base import ensure_tables  # noqa: E402
from datafusion_rdbms_ext_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: replica count — 10 is the standing per-round probe; 100 is the
#: round-10 flagship-shape probe (VERDICT r9 next #6). Each factor
#: synthesizes into its own cached directory.
FACTOR = int(os.environ.get("SCALE_PROBE_FACTOR", "10"))
DST = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), f"spark_graft_sfx{FACTOR}"
)
KEY_OFFSET = 100_000_000

#: The most expensive bench queries (the asymptotically interesting
#: rows: dedup pair generation + the two heavy TPC-H), plus the
#: round-5 additions that scan documents (substring-span dedup's
#: 10-gram index; the fixed-size CMS build).
QUERIES = (
    "llm_dedup_ngram_exact",
    "llm_dedup_clusters",
    "q01_pricing_summary",
    "q18_large_volume_customer",
    "llm_dedup_minhash_lsh",
    "llm_dedup_simhash",
    "llm_dedup_substring",
    "llm_cms_counts",
    # Round-6 additions (VERDICT r5 next #7): semdedup's sqrt(N)-cell
    # claim, SRP banding, the triangle census' degree-orientation
    # bound, and the trajectory search's broadcast-query design each
    # get a measured 10x datapoint.
    "llm_semdedup",
    "llm_dedup_srp",
    "llm_neardup_triangles",
    "olap_trajectory_topk",
    # Round-7 additions (VERDICT r6 next #7): the BM25 conditional
    # aggregation, the containment inverted index, curriculum
    # batching's _global_rank offset broadcast, and negative
    # sampling's map-side draws each get a measured 10x datapoint.
    "llm_bm25_search",
    "llm_minhash_containment",
    "llm_curriculum_batches",
    "llm_negative_sampling",
    # Round-7 late additions: the BPE trainer (vocab-sized rounds),
    # M4's partial-aggregatable buckets, the attribution carry-last
    # window, the banded perceptual-hash dedup, the per-step funnel's
    # chained as-ofs, and DSIR's single vocab pass.
    "llm_tokenize_bpe",
    "op_downsample_m4",
    "ev_attribution_last_touch",
    "mm_dedup_phash",
    "olap_window_funnel",
    "llm_importance_resample",
    # Round-8 late additions: the two-arm RRF fusion (each arm a
    # TakeOrdered candidate cut), the KMV sketch build (one distinct
    # shuffle + k-row sketches), and the Holt fold (bounded per-type
    # arrays over the daily rollup).
    "llm_hybrid_search_rrf",
    "llm_kmv_distinct",
    "ev_holt_linear",
    # Round-8 final additions: OHLC's single partial-aggregatable
    # rollup, CUSUM's bounded per-type fold, priority sampling's
    # per-stratum top-(k+1), and the scene-cut frame pipeline
    # (mapInPandas fan-out + per-asset window + co-partitioned join).
    "ev_ohlc_bars",
    "ev_changepoint_cusum",
    "llm_sample_priority",
    "mm_scene_cuts",
    # ...and the corpus-scaling text/rollup passes added after them:
    # span corruption (token explode + per-doc reassembly) and the
    # DAU/MAU fan-out distinct.
    "llm_span_corrupt",
    "ev_stickiness_dau_mau",
    # Round-9 additions: the rewritten RFM (three _global_rank
    # passes), pattern matching's per-user journey build, the
    # audience-overlap pair expansion, SCD2's user-partitioned
    # windows, clip sampling's bounded range join, the two-decision
    # stats join, the index-served rewrite, and the foreachBatch
    # upsert merge.
    "olap_rfm_segmentation",
    "win_pattern_match",
    "olap_overlap_matrix",
    "ev_scd2_intervals",
    "mm_clip_sample",
    "source_stats_join_decision",
    "source_skipping_rewrite",
    "stream_upsert_sink",
    # Round-9 late additions: the join-free eliminated aggregate
    # (growth should track the bare lineitem scan), the A/B readout's
    # custkey shuffle, cohort LTV's order-table window + rollup, and
    # the bounded-frame rolling median.
    "micro_join_elimination",
    "olap_ab_test",
    "ev_cohort_ltv",
    "op_rolling_median",
    # ...and the fact->SCD2 temporal join (one user shuffle + carry).
    "op_scd2_asof_join",
    # ...and the merge-on-read delete (sidecar write + anti-join read).
    "source_deletion_vectors",
    "source_mor_update",
    "sink_wap_publish",
    "source_equality_deletes",
    "source_snapshot_tags",
    "fed_postgres_extended",
    "source_eq_compaction",
    "stream_cdf_maintenance",
    # fed_three_engine_join is NOT probed: the DuckDB arm reads the
    # fixture parquet as a single file (the synthesized corpus is
    # Spark directory-parquet), and every remote ships a fixed
    # nation-cardinality rollup regardless of scale by construction.
    "ev_engagement_l28",
    # Round-10 additions. The fed_postgres_* rows are fixture-slice
    # bounded by construction (the loader ships dims + a 5-user
    # events slice) EXCEPT the parallel sink, whose staged volume is
    # the full customer table — the one with a real scaling story.
    # The branch scenario's commit costs are batch-sized; its reads
    # aggregate three ~document-sized snapshots.
    "fed_postgres_parallel_sink",
    "source_snapshot_branches",
    "source_branch_cherry_pick",
    # Round-11 additions: streaming WAP to a branch (per-batch commit
    # + one ref flip), and the IVF-sharded SemDeDup whose whole point
    # is a 100x ratio materially below semdedup-default's N^1.5.
    "stream_branch_wap",
    "llm_semdedup_sharded",
    "llm_semdedup_incremental",
    # Round-12 additions: the multi-probe sharded pruner (pair cost
    # should track the probe=1 row at ~2x, far under default's
    # N^1.5), and the maintenance pass (one retrain + reassign + a
    # batch admission — the OPTIMIZE-cadence cost).
    "llm_semdedup_sharded_mp",
    "llm_semdedup_maintain",
    # ...and the streaming admission (per-batch cost = batch x cell
    # occupancy against corpus + admitted-so-far; streaming boot
    # dominates the sf0.1 floor), and the hierarchical tree variant
    # (same shard/occupancy math as the cross-product).
    "stream_semdedup_admission",
    "llm_semdedup_tree",
    # Round-12 continuation: the tree's probe=2 variant (pair cost
    # should track the tree row at ~nprobe x), and the semi-join
    # reduction, whose IN-list grows with the build side (~10x keys
    # here) while the reduced transfer stays proportional to the
    # MATCHING rows — the probe checks the compile/ship path doesn't
    # degrade as the key list grows.
    "llm_semdedup_tree_mp",
    "fed_semijoin_reduction",
    # MMR: the distributed part is the top-C relevance pass (one
    # map-side scan + TakeOrdered); the greedy is O(C*k) driver work
    # on the bounded pool — the probe checks the scan path scales.
    "llm_select_mmr",
    # Round-13 additions: the depth-3 tree's PINNED (4,3,3) gate
    # config (occupancy grows with N by design — the oracle
    # configuration; the deploy path is the self-scaling probe
    # below), and the transparent semi-join whose key collect +
    # IN-list compile must not degrade as the build side grows.
    "llm_semdedup_tree_deep",
    "llm_semdedup_tree_deep_mp",
    "fed_transparent_semijoin",
    # k-center greedy: k map-side passes against the broadcast
    # selected set — the probe checks per-pass linearity.
    "llm_select_kcenter",
    # Round-14 additions: tree-index maintenance (two keyed-chain
    # trainings + frozen reassignment — the OPTIMIZE-cadence job),
    # the pre-pick k-center composition, and the SQLite-dialect
    # transparent semi-join (bulk-load staging path).
    "llm_semdedup_tree_maintain",
    "llm_select_kcenter_prepick",
    "fed_sqlite_transparent_semijoin",
)

#: Default-config operator probes (VERDICT r6 next #4): the gate
#: queries pin small constants for oracle exactness, so the probe
#: times the LIBRARY entries whose knobs self-derive from the corpus
#: count — linear 10x growth here proves the DEFAULT path is
#: scale-safe, with no probe-side override (the old
#: SCALE_PROBE_KNOBS escape hatch is gone).
def _extra_probes():
    from datafusion_rdbms_ext_spark.queries import llm

    return {
        "semdedup_default_k": lambda spark, sf: llm.semdedup_prune(spark),
        "semdedup_sharded_default": lambda spark, sf: (
            llm.semdedup_prune_sharded(spark)
        ),
        "semdedup_incremental_default": lambda spark, sf: (
            llm.semdedup_admit_batch(spark)
        ),
        "semdedup_sharded_mp_default": lambda spark, sf: (
            llm.semdedup_prune_sharded_mp(spark)
        ),
        "semdedup_tree_default": lambda spark, sf: (
            llm.semdedup_prune_tree(spark)
        ),
        "semdedup_tree_mp_default": lambda spark, sf: (
            llm.semdedup_prune_tree_mp(spark)
        ),
        # round 13: log-depth tree (depth derives from N at constant
        # fan-out — the occupancy-capped deploy shape), both-levels
        # probing (the recall ceiling of the cross-product design),
        # and MMR at production C=1000 (driver re-rank must stay
        # milliseconds while the top-C scan carries the growth)
        "semdedup_tree_deep_default": lambda spark, sf: (
            llm.semdedup_prune_tree_deep(spark)
        ),
        "semdedup_tree_deep_mp_default": lambda spark, sf: (
            llm.semdedup_prune_tree_deep_mp(spark)
        ),
        "semdedup_sharded_mpb_default": lambda spark, sf: (
            llm.semdedup_prune_sharded_mp(spark, nprobe1=2)
        ),
        "mmr_c1000": lambda spark, sf: llm.mmr_select(spark, c=1000),
        # maintained-index admission, K re-derived from the grown
        # corpus (VERDICT r11 #2: prove the maintained path stays
        # ~linear where the frozen-K row does not)
        "semdedup_maintained_admission": lambda spark, sf: (
            llm.semdedup_maintain_report(spark, k_old=None, k_new=None)
        ),
        "srp_default_bits": lambda spark, sf: llm.srp_near_dup_pairs(spark),
        # round 14: maintenance ported onto the log-depth tree (depth
        # re-derives from the GROWN corpus — the tree's own K
        # re-derivation; ingest between maintenance passes must stay
        # ~linear) and production-k k-center (k=100 through the
        # pre-pick composition: one distributed pass + a driver-side
        # greedy that must stay milliseconds-per-pick).
        "semdedup_tree_maintained_default": lambda spark, sf: (
            llm.semdedup_tree_maintain_report(spark)
        ),
        "kcenter_prepick_k100": lambda spark, sf: (
            llm.kcenter_select_prepick(spark, k=100, nbuckets=32)
        ),
        # round-14 continuation: both tree-search shapes on the
        # self-scaling log-depth index (depth derives from N at
        # constant fan-out). The pair measures (a) that probed search
        # grows ~linearly in corpus size (training dominates; the
        # probed candidate set per query is nprobe leaves of ~target
        # occupancy, held constant by the occupancy cap) and (b) that
        # the beam walk's multi-path descent costs ~nothing on top of
        # single-path at the same leaf budget.
        "sim_topk_tree_default": lambda spark, sf: (
            llm.sim_topk_tree(spark)
        ),
        "sim_topk_tree_beam_default": lambda spark, sf: (
            llm.sim_topk_tree_beam(spark)
        ),
    }

RUNS = int(os.environ.get("SCALE_PROBE_RUNS", "3"))


def _src_fingerprint() -> str:
    """size+mtime fingerprint of the source fixtures: the driver
    REGENERATES them between rounds (round-10 finding — the r8 bench
    deltas were a fixture-generation change), so a cached synthesis
    from a prior generation must not serve a new round's probe."""
    from datafusion_rdbms_ext_spark.catalog import fixture_fingerprint

    return fixture_fingerprint(SRC)


def synthesize(spark) -> None:
    done = os.path.join(DST, "_SYNTH_DONE")
    fp = _src_fingerprint()
    if os.path.exists(done) and open(done).read() == fp:
        return
    if os.path.exists(DST):  # stale generation: rebuild from scratch
        import shutil

        shutil.rmtree(DST)
    os.makedirs(DST, exist_ok=True)
    print(f"# synthesizing {FACTOR}x corpus into {DST}", file=sys.stderr)

    def replicas(df, keys, retoken=None):
        out = None
        for i in range(FACTOR):
            r = df
            for k in keys:
                r = r.withColumn(k, F.col(k) + F.lit(i * KEY_OFFSET))
            if retoken:
                r = r.withColumn(
                    retoken, F.regexp_replace(retoken, r"(\S+)", rf"$1x{i}")
                )
            out = r if out is None else out.unionByName(r)
        return out

    spec = {
        "documents": (["doc_id"], "text"),
        "lineitem": (["l_orderkey"], None),
        "orders": (["o_orderkey", "o_custkey"], None),
        "customer": (["c_custkey"], None),
        "events": (["event_id", "user_id"], None),
    }
    for name, (keys, retoken) in spec.items():
        src = os.path.join(SRC, f"{name}.parquet")
        df = spark.read.parquet(src)
        replicas(df, keys, retoken).write.mode("overwrite").parquet(
            os.path.join(DST, f"{name}.parquet")
        )

    # embeddings: offset vec_id + circular-shift the vector (replica
    # i shifts by i) — an exact isometry within each replica.
    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    out = None
    for i in range(FACTOR):
        r = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * KEY_OFFSET))
        if i:
            d = F.size("embedding")
            # shift modulo the dimension: at FACTOR > dim a raw shift
            # of i would slice past the vector end
            s = F.lit(i) % d
            r = r.withColumn(
                "embedding",
                F.when(s == 0, F.col("embedding")).otherwise(
                    F.concat(
                        F.slice("embedding", s + F.lit(1), d - s),
                        F.slice("embedding", F.lit(1), s),
                    )
                ),
            )
        out = r if out is None else out.unionByName(r)
    out.write.mode("overwrite").parquet(os.path.join(DST, "embeddings.parquet"))
    # Tables the probe queries don't scan stay at sf0.1 (symlinked) —
    # the catalog requires the full fixture set to register.
    from datafusion_rdbms_ext_spark.catalog import TABLES

    for name in TABLES:
        dst_p = os.path.join(DST, f"{name}.parquet")
        src_p = os.path.join(SRC, f"{name}.parquet")
        if not os.path.exists(dst_p) and os.path.exists(src_p):
            os.symlink(src_p, dst_p)
    open(done, "w").write(fp)


def time_queries(spark, sf_dir: str) -> dict[str, float]:
    ensure_tables(spark, sf_dir)
    out: dict[str, float] = {}
    probes = {n: REGISTRY[n].fn for n in QUERIES} | _extra_probes()
    # SCALE_PROBE_ONLY=a,b,c re-probes a subset (a round's additions)
    # without re-timing the whole table.
    only = os.environ.get("SCALE_PROBE_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",")}
        probes = {n: f for n, f in probes.items() if n in keep}
    for name, fn in probes.items():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = best
        print(f"# {sf_dir}: {name} {best:.2f}s", file=sys.stderr)
    return out


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("scale-probe")
    synthesize(spark)
    small = time_queries(spark, SRC)
    big = time_queries(spark, DST)
    print(f"\n| query | sf0.1 (s) | {FACTOR}x (s) | ratio ({FACTOR}x data) |")
    print("|---|---|---|---|")
    for name in small:
        r = big[name] / small[name] if small[name] else float("nan")
        print(f"| {name} | {small[name]:.2f} | {big[name]:.2f} | {r:.1f}x |")


if __name__ == "__main__":
    main()


