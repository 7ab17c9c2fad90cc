"""One benchmark run of one workload, in its own process.

``run.py`` starts this script with the run's environment already set
(temp root, Spark local dirs, optional event-log conf) and one JSON
argument; it reports phases as ``@@perfbench {...}`` lines on stdout
and writes its measurements to ``cfg["result"]``.

Phases: set-up (session, catalog, prepare hooks) -> warm-up (a cold
pass that collects every result) -> timed passes (the closed loop)
-> output check against DuckDB -> Postgres stop. The
client calls only public entry points of the engine: ``get_spark``,
``ensure_tables``, ``spec.prepare``, ``spec.fn``,
``queryExecution().executedPlan()`` and the ``noop`` sink write.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

import stats
from tracing import Tracer, event_log_layers, instrument
from workloads import WORKLOADS

#: a workload's pass at sf0.1 on 4 cores; with --seconds it sets the
#: run's fixed number of timed passes
NOMINAL_PASS_S = 4.5
GROUP = "perfbench"


def emit(kind: str, **fields) -> None:
    sys.stdout.write("@@perfbench " + json.dumps({"kind": kind, **fields}) + "\n")
    sys.stdout.flush()


def force(df) -> None:
    """Materialize every row and column executor-side, as bench.py does."""
    df.write.format("noop").mode("overwrite").save()


def tree_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                size += os.lstat(os.path.join(d, n)).st_size
                files += 1
            except OSError:
                pass
    return size, files


class PgStats:
    """``pg_stat_database`` snapshots over one held connection (so the
    snapshots themselves add no sessions between two reads)."""

    COLS = ("sessions", "active_time", "tup_returned", "tup_inserted")

    def __init__(self, port: int):
        from datafusion_rdbms_ext_spark.sources.pgwire import PgWireClient
        from datafusion_rdbms_ext_spark.sources.pgserver import PG_DB, PG_USER

        self.cli = PgWireClient(host="127.0.0.1", port=port, user=PG_USER, database=PG_DB)

    def snapshot(self) -> dict[str, float]:
        sums = ", ".join(f"SUM({c})::float8" for c in self.COLS)
        _, _, rows = self.cli.query(f"SELECT {sums} FROM pg_stat_database")
        return {c: float(v or 0) for c, v in zip(self.COLS, rows[0])}

    def close(self) -> None:
        self.cli.close()


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.names = list(WORKLOADS[cfg["workload"]])
        self.rng = random.Random(cfg["seed"])
        self.sf = cfg["sf_dir"]
        self.tracer = Tracer()
        self.errors: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.epoch_offset = time.time() - time.perf_counter()

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from datafusion_rdbms_ext_spark.sources import pgserver

        # The throwaway Postgres cluster lives in this run's directory
        # on a free port, with no Unix socket (the client uses TCP).
        pgserver._DATA_DIR = os.path.join(self.cfg["run_dir"], "pgdata")
        pgserver._SOCK_DIR = '""'
        pgserver.PG_PORT = self.cfg["pg_port"]
        from datafusion_rdbms_ext_spark.queries import REGISTRY
        from datafusion_rdbms_ext_spark.queries.base import ensure_tables
        from datafusion_rdbms_ext_spark.session import get_spark

        if self.cfg["trace"]:
            instrument(self.tracer)
        self.specs = {n: REGISTRY[n] for n in self.names}
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        ensure_tables(self.spark, self.sf)
        t2 = time.perf_counter()
        for spec in self.specs.values():
            if spec.prepare is not None:
                spec.prepare(self.spark, self.sf)
        t3 = time.perf_counter()
        self.layers.update({
            "session.start_s": t1 - t0,
            "catalog.register_s": t2 - t1,
            "prepare.s": t3 - t2,
        })

    # -- one execution -------------------------------------------------------
    def execute(self, name: str, exec_id: str | None) -> float | None:
        """Build and force one query; the latency, or None on error.
        With ``exec_id`` the execution is traced: spans build/plan/exec
        under one root, Spark job groups around build and exec."""
        spec = self.specs[name]
        sc = self.spark.sparkContext
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if exec_id is None:
                force(spec.fn(self.spark, self.sf))
            else:
                self._traced(spec, exec_id, sc)
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            self.failed += 1
            self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
            print(f"# {name}: ERROR {self.errors[name]}", file=sys.stderr)
            return None
        return time.perf_counter() - t0

    def _traced(self, spec, exec_id: str, sc) -> None:
        from datafusion_rdbms_ext_spark import plans

        tr = self.tracer
        tr.exec_id = exec_id
        try:
            with tr.span("query"):
                sc.setJobGroup(f"{GROUP}:{exec_id}:build", spec.name)
                with tr.span("build"):
                    df = spec.fn(self.spark, self.sf)
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                sc.setJobGroup(f"{GROUP}:{exec_id}:exec", spec.name)
                with tr.span("exec"):
                    force(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tr.add("plan.exchanges", plans.count_exchanges(df))
        tr.add("plan.broadcast_joins", plans.broadcast_joins(df))

    def run_pass(self, tag: str, traced: bool = False) -> tuple[float, dict[str, float]]:
        """One pass in the seed's next order: its wall time and each
        successful query's latency."""
        order = self.rng.sample(self.names, len(self.names))
        lat: dict[str, float] = {}
        t0 = time.perf_counter()
        for name in order:
            x = self.execute(name, f"{tag}.{name}" if traced else None)
            if x is not None:
                lat[name] = x
        return time.perf_counter() - t0, lat

    # -- phases ---------------------------------------------------------------
    def timed(self) -> dict:
        """The closed loop: a fixed number of whole passes, the ones
        that fit in the run's seconds at the nominal pass time. A
        fixed count makes every run's best-of-N figures take the best
        of the same N. A traced run interleaves a traced pass after
        each untraced one but the last."""
        n = max(2, round(self.cfg["seconds"] / NOMINAL_PASS_S))
        traced_run = self.cfg["trace"]
        passes, samples = [], []
        per_query: dict[str, list[float]] = {name: [] for name in self.names}
        traced_passes: list[float] = []
        layer_deltas: list[dict] = []
        pg = PgStats(self.cfg["pg_port"]) if traced_run and self._pg_up() else None
        t0 = time.perf_counter()
        for k in range(2 * n - 1 if traced_run else n):
            traced = traced_run and k % 2 == 1
            if traced:
                before = self._io_snapshot(pg)
                self.tracer.enabled = True
            dt_pass, lat = self.run_pass(f"p{k}", traced)
            if traced:
                self.tracer.enabled = False
                traced_passes.append(dt_pass)
                after = self._io_snapshot(pg)
                layer_deltas.append({key: after[key] - before[key] for key in after})
            else:
                passes.append(dt_pass)
                for name, x in lat.items():
                    per_query[name].append(x)
                    samples.append(x)
        if pg is not None:
            pg.close()
        return {
            "pass_s": passes,
            "samples": samples,
            "per_query": per_query,
            "traced_pass_s": traced_passes,
            "io_deltas": layer_deltas,
            "measured_s": time.perf_counter() - t0,
        }

    def _pg_up(self) -> bool:
        from datafusion_rdbms_ext_spark.sources import pgserver

        return pgserver._tcp_up()

    def _io_snapshot(self, pg: PgStats | None) -> dict[str, float]:
        size, files = tree_usage(self.cfg["tmp_dir"])
        snap = {"sink.bytes_written": size, "sink.files_written": files}
        row = pg.snapshot() if pg is not None else {}
        for col, key in (("sessions", "pg.sessions"), ("active_time", "pg.active_ms"),
                         ("tup_returned", "pg.tup_returned"),
                         ("tup_inserted", "pg.tup_inserted")):
            snap[key] = row.get(col, 0.0)
        return snap

    def collect(self) -> tuple[float, dict[str, float]]:
        """The warm-up: the cold pass, which collects each query's result
        once for the output check. Returns the pass time and each query's
        time (a cold pass runs 5-6x slower than a warm one, most of it
        the first query's JIT and codegen warm-up)."""
        self.collected: dict[str, tuple[list, list] | str] = {}
        lat: dict[str, float] = {}
        t0 = time.perf_counter()
        for name in self.names:
            self.attempted += 1
            t = time.perf_counter()
            try:
                pdf = self.specs[name].fn(self.spark, self.sf).toPandas()
                self.collected[name] = (list(pdf.columns), list(pdf.itertuples(index=False)))
            except Exception as exc:  # noqa: BLE001 — counted as failed
                self.collected[name] = f"{type(exc).__name__}: {exc}"[:300]
            lat[name] = time.perf_counter() - t
        return time.perf_counter() - t0, lat

    def check(self) -> dict[str, str]:
        """Compare the collected results with their DuckDB oracles, after
        the timed passes so the oracles' cost stays out of set-up; returns
        name -> mismatch reason."""
        import duckdb
        from datafusion_rdbms_ext_spark.catalog import TABLES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = {}
        for name, got in self.collected.items():
            if isinstance(got, str):
                bad[name] = got
                continue
            want = con.execute(self.specs[name].oracle).fetchdf()
            reason = stats.results_match(
                got[0], got[1], list(want.columns), list(want.itertuples(index=False)))
            if reason is not None:
                bad[name] = reason
        con.close()
        self.failed += len(bad)
        for name, why in bad.items():
            print(f"# {name}: CHECK FAILED {why}", file=sys.stderr)
        return bad

    def trace_layers(self, timed: dict) -> dict[str, float]:
        """Per-pass layer metrics from the traced passes."""
        n = len(timed["traced_pass_s"])
        tr = self.tracer
        dur = {k: tr.durations(k) / n for k in (
            "query", "build", "plan", "exec", "wire.connect", "wire.query",
            "wire.copy_out", "wire.copy_in", "pushdown.unparse",
            "federation.compile", "sink.commit", "sink.vacuum")}
        c = {k: v / n for k, v in tr.counters.items()}
        out = {k: self.layers[k] for k in ("session.start_s", "catalog.register_s", "prepare.s")}
        out.update({
            "build.s": dur["build"],
            "build.share": dur["build"] / dur["query"],
            "plan.s": dur["plan"],
            "plan.exchanges": c.get("plan.exchanges", 0.0),
            "plan.broadcast_joins": c.get("plan.broadcast_joins", 0.0),
            "exec.s": dur["exec"],
            "wire.connects": sum(1 for s in tr.spans if s["name"] == "wire.connect") / n,
            "wire.connect_s": dur["wire.connect"],
            "wire.query_s": dur["wire.query"],
            "wire.copy_out_s": dur["wire.copy_out"],
            "wire.copy_in_s": dur["wire.copy_in"],
            "wire.calls": c.get("wire.calls", 0.0),
            "pushdown.attempts": c.get("pushdown.attempts", 0.0),
            "pushdown.fired": c.get("pushdown.fired", 0.0),
            "pushdown.fire_ratio": (c.get("pushdown.fired", 0.0) / c["pushdown.attempts"]
                                    if c.get("pushdown.attempts") else 0.0),
            "pushdown.unparse_s": dur["pushdown.unparse"],
            "federation.compile_s": dur["federation.compile"],
            "sink.commits": c.get("sink.commits", 0.0),
            "sink.commit_s": dur["sink.commit"],
            "sink.vacuum_s": dur["sink.vacuum"],
            "skipping.files_total": c.get("skipping.files_total", 0.0),
            "skipping.files_read": c.get("skipping.files_read", 0.0),
        })
        for key in timed["io_deltas"][0]:
            out[key] = statistics.median(d[key] for d in timed["io_deltas"])
        out.update(self._spark_layers(n))
        out["trace.overhead"] = (statistics.median(timed["traced_pass_s"])
                                 / statistics.median(timed["pass_s"]))
        return out

    def write_spans(self, path: str) -> dict[str, float]:
        """Write the traced passes' spans as JSON lines; returns each
        span name's self time per traced pass."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for span in self.tracer.spans:
                fh.write(json.dumps(span) + "\n")
        n = sum(1 for s in self.tracer.spans if s["name"] == "query") / len(self.names)
        return {k: v / n for k, v in self.tracer.self_times().items()}

    def _spark_layers(self, n: int) -> dict[str, float]:
        """Job/stage/task metrics of the traced passes from the event
        log: jobs in a ``perfbench:<exec>:<layer>`` group, and jobs
        with no group (helper threads, streaming) submitted inside a
        traced build or exec span."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        log_dir = self.cfg["eventlog_dir"]
        (name,) = os.listdir(log_dir)
        windows = sorted(
            (s["t0"] + self.epoch_offset, s["t1"] + self.epoch_offset, s["name"])
            for s in self.tracer.spans if s["name"] in ("build", "exec"))

        def layer_of(group: str | None, submitted_ms: float) -> str | None:
            if group:
                parts = group.split(":")
                return parts[2] if len(parts) == 3 and parts[0] == GROUP else None
            t = submitted_ms / 1e3
            for a, b, layer in windows:
                if a <= t <= b:
                    return layer
            return None

        per = event_log_layers(os.path.join(log_dir, name), layer_of)
        out = {}
        for layer, keys in (
            ("build", ("jobs", "tasks", "task_run_s")),
            ("exec", ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                      "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                      "spill_bytes")),
        ):
            acc = per.get(layer, {})
            for k in keys:
                out[f"{layer}.{k}"] = acc.get(k, 0.0) / n
        out["exec.task_skew"] = per.get("exec", {}).get("task_skew", 1.0)
        return out

    def stop_pg(self) -> None:
        from datafusion_rdbms_ext_spark.sources import pgserver

        data = pgserver._DATA_DIR
        if os.path.exists(os.path.join(data, "postmaster.pid")):
            os.system(f"{pgserver._BIN}/pg_ctl -D {data} -m fast -w stop >/dev/null 2>&1")


def main() -> None:
    cfg = json.loads(sys.argv[1])
    run = Run(cfg)
    try:
        run.setup()
        warm = run.collect()
        run.layers["collect_s"] = warm[0]
        emit("timed")
        timed = run.timed()
        emit("end")
        t_check = time.perf_counter()
        bad = run.check()
        run.layers["check_s"] = time.perf_counter() - t_check
        layers = run.trace_layers(timed) if cfg["trace"] else {}
        self_s = run.write_spans(cfg["spans"]) if cfg["trace"] else {}
    finally:
        run.stop_pg()
    import pyspark

    result = {
        "phases": {k: run.layers[k] for k in (
            "session.start_s", "catalog.register_s", "prepare.s", "collect_s",
            "check_s")},
        "warmup_pass_s": [warm[0]],
        "warmup_query_s": warm[1],
        "timed": timed,
        "check_failed": bad,
        "errors": run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "layers": layers,
        "self_s": self_s,
        "pyspark": pyspark.__version__,
        "java": run.spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    emit("done")


if __name__ == "__main__":
    # A streaming query's non-daemon thread, or a blocked py4j
    # callback server, can keep the interpreter alive after the work
    # is done (bench.py exits the same way); the JVM follows the
    # closed gateway.
    code = 0
    try:
        main()
    except Exception:  # noqa: BLE001 — the run failed; run.py reports it
        import traceback

        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
