"""Isolate, time and census individual registry queries (guide §1.4).

Times each named query with the noop sink after an untimed warm-up,
and reports what one execution costs in Spark jobs and stages — at
sf0.1 the semdedup/tree family's wall time is dominated by sequential
job count, not data volume, so the job/stage census is the number an
optimization has to shrink. ``job_stages`` names WHERE the driver
round-trips go: per job of the first timed run, its stages' call-site
names (posexplode/collect/broadcast/checkpoint).

Usage:
    python scripts/isolate_query.py <query> [query ...]   # 3 timed runs each
    SPARK_GRAFT_REPEATS=5 python scripts/isolate_query.py <query>

Prints one JSON object {query: {best, median, runs, jobs, stages,
job_stages}} on stdout; per-query progress goes to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from datafusion_rdbms_ext_spark.queries import REGISTRY  # noqa: E402
from datafusion_rdbms_ext_spark.queries.base import ensure_tables  # noqa: E402
from datafusion_rdbms_ext_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))


def _job_stages(tracker, group: str) -> list[list[str]]:
    """Per job of ``group`` (in id order), its stages' call-site names."""
    out = []
    for j in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(j)
        if info is None:
            out.append(["<expired>"])
            continue
        names = []
        for s in sorted(info.stageIds):
            si = tracker.getStageInfo(s)
            names.append(si.name if si is not None else f"s{s}?")
        out.append(names)
    return out


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark("isolate-query")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ensure_tables(spark, SF_DIR)
    out: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        if spec.prepare is not None:
            spec.prepare(spark, SF_DIR)
        # untimed warm-up (bench prepass analogue)
        spec.fn(spark, SF_DIR).count()

        runs: list[float] = []
        job_stages: list[list[str]] = []
        for i in range(REPEATS):
            sc.setJobGroup(f"{name}-{i}", name)
            t0 = time.perf_counter()
            df = spec.fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            sc.setJobGroup("", "")
            if i == 0:
                job_stages = _job_stages(tracker, f"{name}-{i}")
        out[name] = {
            "best": round(min(runs), 3),
            "median": round(sorted(runs)[len(runs) // 2], 3),
            "runs": [round(r, 3) for r in runs],
            "jobs": len(job_stages),
            "stages": sum(len(s) for s in job_stages),
            "job_stages": job_stages,
        }
        print(
            f"# {name}: best {out[name]['best']}s, "
            f"{out[name]['jobs']} jobs, {out[name]['stages']} stages",
            file=sys.stderr,
        )
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
