"""Benchmark runner — the driver's per-round performance probe.

Runs the headline queries (tag ``bench`` in the registry) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints the full payload JSON line
(also written to ``BENCH_LOCAL.json``) followed by a compact (<1 KB)
summary JSON as the FINAL line — the driver's tail capture is 2 KB,
and round 6 lost its per-query maps to a single oversized line.

Methodology (round 11, VERDICT r10 next #2): an untimed PREPASS runs
every query's ``prepare`` hook (scenario construction: versioned
corpora, live-Postgres fixture loads) plus one full untimed
execution (row count, JIT warm-up); then THREE whole-suite timed
passes with the query order rotated by n/3 per pass, so each query's
three samples land in widely separated wall-clock windows — a host
contention burst inflates one pass, not a query's whole best-of-3
(the r9/r10 artifacts both carried run-order-correlated inflation).
`queries` records best-of-3 (steady-state, comparable with earlier
rounds), `median3` the median (robust cross-round delta signal —
VERDICT r5 #6), `loadavg` the max 1-min load average observed at the
query's run starts (attributes an inflated row to contention).
"""

from __future__ import annotations

import json
import os
import sys
import time

from datafusion_rdbms_ext_spark.queries import REGISTRY
from datafusion_rdbms_ext_spark.queries.base import ensure_tables
from datafusion_rdbms_ext_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _fixtures_fingerprint() -> str:
    """size+mtime digest of the fixture parquet: identifies the
    fixture GENERATION a bench run measured, so claim folds can refuse
    cross-generation merges."""
    from datafusion_rdbms_ext_spark.catalog import fixture_fingerprint

    return fixture_fingerprint(SF_DIR)


def _force(df) -> None:
    """Fully materialize every column of the result.

    ``df.count()`` lets Catalyst prune unreferenced aggregate
    expressions and drop final sorts, so it times less work than the
    real query (VERDICT r1 "wrong" #1). The noop v2 sink consumes
    every row/column executor-side with no driver transfer and no
    filesystem write — the closest local analogue to a cluster sink.
    """
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("engine-bench")
    ensure_tables(spark, SF_DIR)  # catalog load stays outside the clock
    bench_specs = [s for s in REGISTRY.values() if "bench" in s.tags]

    # --- untimed prepass (VERDICT r10 next #2a) -----------------------
    # Scenario construction (versioned-corpus builds, live-Postgres
    # fixture loads, streaming-source schema derivation) runs here,
    # once, OUTSIDE the clock: spec.prepare if declared, plus one full
    # untimed execution of every query (row count for the log, JIT +
    # fixture warm-up). Queries that errored in the prepass are
    # excluded from the timed passes and recorded as errors.
    errors: dict[str, str] = {}
    rows: dict[str, int] = {}
    for spec in bench_specs:
        # One broken query must cost its own entry, never the whole
        # suite: round 3's bench recorded NOTHING because a single
        # AnalysisException aborted the run (BENCH_r03.json rc=1).
        try:
            if spec.prepare is not None:
                spec.prepare(spark, SF_DIR)
            rows[spec.name] = spec.fn(spark, SF_DIR).count()
        except Exception as exc:  # noqa: BLE001 — record and continue
            errors[spec.name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# {spec.name}: ERROR {errors[spec.name]}", file=sys.stderr)
    live = [s for s in bench_specs if s.name not in errors]

    # --- timed passes: whole-suite rounds, order ROTATED per pass -----
    # (VERDICT r10 next #2b). Back-to-back best-of-3 sampled ONE
    # contention window per query, so host load correlated with run
    # position inflated a contiguous block of the artifact two rounds
    # running (r9 uniform 1.24x, r10 3.8-7.4x on the first ~35
    # positions). Rotating the order by n/3 per pass puts each query's
    # three samples in widely separated wall-clock windows, so
    # best-of-3 escapes any one contention burst and a positional
    # slowdown reads as ONE inflated pass, not a ruined query.
    run_log: dict[str, list[float]] = {s.name: [] for s in live}
    load_log: dict[str, list[float]] = {s.name: [] for s in live}
    for pass_i in range(3):
        off = (pass_i * len(live)) // 3
        order = live[off:] + live[:off]
        for spec in order:
            try:
                la = os.getloadavg()[0]
                t0 = time.perf_counter()
                _force(spec.fn(spark, SF_DIR))
                run_log[spec.name].append(time.perf_counter() - t0)
                load_log[spec.name].append(la)
            except Exception as exc:  # noqa: BLE001
                errors[spec.name] = f"{type(exc).__name__}: {exc}"[:300]
                print(
                    f"# {spec.name}: ERROR {errors[spec.name]}",
                    file=sys.stderr,
                )

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    loadavg: dict[str, float] = {}
    for name, runs in run_log.items():
        if name in errors or not runs:
            continue
        timings[name] = round(min(runs), 4)
        # median-of-3 (VERDICT r5 next #6): the robust per-query
        # number for cross-round deltas — best-of-3 stays in `queries`
        # for comparability with earlier rounds' artifacts.
        medians[name] = round(sorted(runs)[len(runs) // 2], 4)
        # 1-min load average observed at the query's run starts
        # (VERDICT r10 next #2c): lets a reader attribute an inflated
        # row to host contention instead of a plan regression.
        loadavg[name] = round(max(load_log[name]), 2)
        print(
            f"# {name}: best={timings[name]:.3f}s "
            f"median3={medians[name]:.3f}s rows={rows.get(name)} "
            f"load<={loadavg[name]}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 4)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "bench_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "median3": medians,
        "value_median3": round(sum(medians.values()), 4),
        "loadavg": loadavg,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # fixture-generation fingerprint (ADVICE r13 #3): the driver
        # REGENERATES fixtures between rounds; refresh_claim's
        # --merge-min may only fold runs of the SAME generation, and
        # this records which generation the run measured.
        "fixtures_fp": _fixtures_fingerprint(),
    }
    if errors:
        # An errored query is EXCLUDED from `value`, which would make
        # the total read as a speedup next to a complete round — flag
        # incompleteness explicitly so cross-round comparisons can't
        # mistake a lost query for a win.
        payload["errors"] = errors
        payload["n_errors"] = len(errors)
        payload["complete"] = False
    # Output discipline (VERDICT r6 next #2): the driver keeps only a
    # 2 KB stdout tail and parses the FINAL JSON line. One line with
    # 61 queries x 2 maps (~4.5 KB) overflowed that capture in r6 and
    # the artifact lost the per-query maps (`parsed: null`). So: the
    # FULL payload goes to a repo-root file (committed each round) and
    # to its own stdout line for logs that keep everything, while the
    # FINAL line is a compact summary (<1 KB) guaranteed to survive
    # the tail — totals, counts, and the 8 slowest queries by median.
    with open(os.path.join(os.path.dirname(__file__), "BENCH_LOCAL.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload))
    slowest = dict(
        sorted(medians.items(), key=lambda kv: -kv[1])[:8]
    )
    summary = {
        "metric": "bench_suite_total",
        "value": total,
        "unit": "sec",
        "value_median3": payload["value_median3"],
        "n_queries": len(timings),
        "sf": payload["sf"],
        "queries": slowest,  # 8 slowest by median3; full maps: BENCH_LOCAL.json
        "full": "BENCH_LOCAL.json",
    }
    if errors:
        summary["n_errors"] = len(errors)
        summary["complete"] = False
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
    # Deterministic shutdown: a leftover non-daemon thread (e.g. a
    # streaming listener that outlives its stopped query) can keep
    # the interpreter alive AFTER both JSON lines are printed — the
    # harness would read that as a hung bench. Results are already
    # flushed to stdout and BENCH_LOCAL.json, so stop the session and
    # force the exit.
    # No graceful SparkSession.stop(): with streaming foreachBatch
    # queries having run, stop() itself can block on the py4j
    # callback server — measured in-session, the exact hang this
    # block exists to prevent. os._exit closes the gateway socket,
    # which takes the child JVM down with it.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)
