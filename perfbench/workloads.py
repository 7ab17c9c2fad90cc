"""The benchmark's workloads: which registry queries each one issues.

Each workload is one closed-loop client issuing its queries one after
another, in an order drawn from the run's seed for every pass.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # TPC-H rows: scan/filter (q06), joins (q03, q14), outer join
    # (q13), semi-join plus large aggregate (q18), heavy aggregate
    # (q01). No build jobs, no wire, no writes: the control for
    # build-phase, federation and sink work. Runnable by hand; not in
    # BENCHMARK.json, whose run budget (4 + 22 x workloads runs in
    # 3420 s, at 45-65 s a run on 4 cores) holds two workloads.
    "tpch": (
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q06_forecast_revenue",
        "q13_customer_distribution",
        "q14_promo_effect",
        "q18_large_volume_customer",
    ),
    # Live Postgres over the engine's own wire client: text scan,
    # binary COPY out, pushed-down aggregate, the transparent
    # DataSource path, and the two remote writes (COPY in).
    "federation": (
        "fed_postgres_scan",
        "fed_postgres_binary_copy",
        "fed_postgres_pushdown",
        "fed_postgres_transparent_datasource",
        "fed_postgres_sink_roundtrip",
        "fed_postgres_parallel_sink",
    ),
    # Writes beside reads on the versioned-table layer: WAP publish,
    # branch commits from a stream, merge-on-read and equality-delete
    # reads, delete compaction, and the transparent skipping-index
    # rewrite (plans/skipping over the zonemap + Bloom index).
    "versioned": (
        "sink_wap_publish",
        "stream_branch_wap",
        "source_mor_update",
        "source_equality_deletes",
        "source_eq_compaction",
        "source_skipping_rewrite",
    ),
}
