"""Benchmark runner for the engine, timed from outside the program.

    python3 perfbench/run.py --workload versioned --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The first run generates the seed-42
sf0.1 fixtures under ``$CARGO_TARGET_DIR/perfbench`` (default
``.bench_build``); every run then

* starts ``client.py`` in a fresh run directory that serves as its
  temp root, Spark local dir and Postgres data dir, on
  ``local[<cpus>]`` (inside a user namespace when run as root, since
  Postgres refuses to run as root);
* warms up with one untimed pass that collects every query's result;
* times one closed-loop client issuing the workload's queries, each
  forced with a ``noop`` write, pass order drawn from ``--seed``, in
  ``round(seconds / 4.5)`` passes, and reports the best of them;
* checks the collected results against their DuckDB oracles;
* samples the RSS of the Spark JVM and its Python workers from
  ``/proc`` during the timed passes;
* stops Postgres and every process it started, deletes the run
  directory, and prints one provenance record line, then the result.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans around the engine's
``sources``/``plans`` entry points, Spark event log, Postgres
statistics); it writes its spans to
``$CARGO_TARGET_DIR/perfbench/traces/<workload>-seed<seed>.jsonl``.
``compare.py`` compares two saved outputs.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PKG = "datafusion_rdbms_ext_spark"
FIXTURE_SEED = 42
FIXTURE_SF = 0.1
#: generated files get this mtime, so bench.py's size+mtime
#: fingerprint is the same in every checkout
FIXTURE_MTIME_NS = 1_700_000_000 * 10**9
#: the whole client must finish well inside the 180 s run limit
CLIENT_TIMEOUT_S = 165
RSS_PERIOD_S = 0.25


def benchmark_spec() -> dict:
    """BENCHMARK.json: the metric names and units this runner reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def build_dir() -> str:
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def ensure_fixtures(base: str) -> str:
    """The fixture directory, generated on first use. It is filled under
    a temporary name and renamed, so a reader never sees a partial set."""
    sf_dir = os.path.join(base, f"sf{FIXTURE_SF}-seed{FIXTURE_SEED}")
    if not os.path.isdir(sf_dir):
        os.makedirs(base, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="fixtures-", dir=base)
        fixtures.generate(tmp, FIXTURE_SEED, FIXTURE_SF)
        for p in glob.glob(os.path.join(tmp, "*.parquet")):
            os.utime(p, ns=(FIXTURE_MTIME_NS, FIXTURE_MTIME_NS))
        try:
            os.rename(tmp, sf_dir)
        except OSError:  # another run generated it first
            shutil.rmtree(tmp, ignore_errors=True)
    return sf_dir


def fixtures_fp(sf_dir: str) -> str:
    """size+mtime digest of the fixture files (bench.py's construction)."""
    parts = []
    for name in fixtures.TABLES:
        st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def source_fp() -> str:
    """Digest of the engine's Python sources: identifies the program
    revision where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_rev() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def free_port() -> int:
    import socket

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# --- processes --------------------------------------------------------------


def _procs() -> dict[int, tuple[int, int, str, int]]:
    """pid -> (ppid, pgid, comm, rss_bytes) for every live process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), int(fields[2]), comm, rss)
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Peak RSS of the client's JVM and of the Python workers below it
    (the client's own interpreter and Postgres are left out), and the
    share of CPU time the hypervisor stole over the same window: a
    run slowed by other tenants of the host shows there."""

    def __init__(self, client_pid: int):
        self.pid = client_pid
        self.jvm_peak = self.workers_peak = self.total_peak = 0
        self.steal_share = None
        self._ticks0 = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._ticks0 = _cpu_ticks()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
            steal, total = (b - a for a, b in zip(self._ticks0, _cpu_ticks()))
            self.steal_share = steal / total if total else 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_PERIOD_S)

    def sample(self) -> None:
        procs = _procs()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _, _, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        jvm = workers = 0
        stack = [(self.pid, False)]
        while stack:
            pid, under_jvm = stack.pop()
            for k in kids.get(pid, []):
                comm, rss = procs[k][2], procs[k][3]
                if comm == "java":
                    jvm += rss
                elif under_jvm and comm.startswith("python"):
                    workers += rss
                stack.append((k, under_jvm or comm == "java"))
        self.jvm_peak = max(self.jvm_peak, jvm)
        self.workers_peak = max(self.workers_peak, workers)
        self.total_peak = max(self.total_peak, jvm + workers)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_postgres(run_dir: str) -> None:
    """Safety net: the postmaster detaches into its own session, so a
    client that died early leaves it outside the process group."""
    try:
        with open(os.path.join(run_dir, "pgdata", "postmaster.pid")) as fh:
            pid = int(fh.readline())
    except (OSError, ValueError):
        return
    _kill_and_wait([pid], signal.SIGQUIT)


def _kill_and_wait(pids: list[int], sig=signal.SIGTERM, timeout: float = 10.0) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        time.sleep(0.1)
        pids = [p for p in pids if _alive(p)]
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _reap_group(pgid: int) -> None:
    """Stop whatever is left of the client's process group and wait
    until every member has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p, v in _procs().items() if v[1] == pgid]
        if not left:
            return
        _kill_and_wait(left, sig, timeout=5.0)


def run_client(cfg: dict, run_dir: str, trace: bool) -> tuple[dict, float, RssSampler]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(cfg["cpus"]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    # the engine's own defaults (driver memory, Spark conf) unless traced
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    env.pop("SPARK_CONF_DIR", None)
    if trace:
        conf = os.path.join(run_dir, "conf")
        os.makedirs(conf)
        os.makedirs(cfg["eventlog_dir"])
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
            fh.write(
                "spark.eventLog.enabled true\n"
                f"spark.eventLog.dir file://{cfg['eventlog_dir']}\n"
                "spark.eventLog.compress false\n"
                "spark.eventLog.rolling.enabled false\n"
            )
        env["SPARK_CONF_DIR"] = conf
    cmd = [sys.executable, os.path.join(HERE, "client.py"), json.dumps(cfg)]
    if os.geteuid() == 0:
        cmd = ["unshare", "--user", "--map-user=65534", "--map-group=65534", *cmd]
    t_launch = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    sampler = RssSampler(proc.pid)
    watchdog = threading.Timer(CLIENT_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    watchdog.start()
    setup_s = None
    done = False
    try:
        for line in proc.stdout:
            if not line.startswith("@@perfbench "):
                sys.stderr.write(line)
                continue
            kind = json.loads(line[len("@@perfbench "):])["kind"]
            if kind == "timed":
                setup_s = time.monotonic() - t_launch
                sampler.start()
            elif kind == "end":
                sampler.stop()
            elif kind == "done":
                done = True
        proc.wait()
    finally:
        watchdog.cancel()
        sampler.stop()
        _reap_group(proc.pid)
        _stop_postgres(run_dir)
    if proc.returncode != 0 or not done or setup_s is None:
        raise RuntimeError(f"client failed (exit {proc.returncode})")
    with open(cfg["result"]) as fh:
        return json.load(fh), setup_s, sampler


def end_to_end(res: dict, setup_s: float, sampler: RssSampler) -> tuple[dict, dict]:
    """The end-to-end metrics and the record fields beside them.

    Each timing is the best of the run's timed passes. A run's passes
    differ by 10-35%: the JIT is still warming up in the first ones,
    and on a shared host other tenants only ever add time. The best
    pass leaves both out. The medians and the pooled percentiles go to
    the record. A metric the timed executions cannot give (a query
    that failed in every timed pass) is None."""
    t = res["timed"]
    samples = t["samples"]
    best = {n: min(v) for n, v in t["per_query"].items() if v}
    complete = bool(best) and len(best) == len(t["per_query"])
    values = {
        "setup_s": setup_s,
        "pass_s": min(t["pass_s"]),
        "query_geomean_s": stats.geomean(list(best.values())) if complete else None,
    }
    extra = {
        "pass_median_s": statistics.median(t["pass_s"]),
        "latency_samples": len(samples),
        "latency_p50_s": statistics.median(samples) if samples else None,
        "latency_max_s": max(samples) if samples else None,
        "query_best_s": best,
        "query_median_s": {n: statistics.median(v) for n, v in t["per_query"].items() if v},
        "query_samples_s": t["per_query"],
        "steal_share": sampler.steal_share,
        "peak_rss_mb": sampler.total_peak / 2**20,
        "rss_jvm_peak_mb": sampler.jvm_peak / 2**20,
        "rss_pyworkers_peak_mb": sampler.workers_peak / 2**20,
    }
    return values, extra


def per_layer(res: dict, sampler: RssSampler) -> dict:
    values = dict(res["layers"])
    values["rss.jvm_peak_mb"] = sampler.jvm_peak / 2**20
    values["rss.pyworkers_peak_mb"] = sampler.workers_peak / 2**20
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    base = build_dir()
    sf_dir = ensure_fixtures(base)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cpus": cpus(),
        "sf_dir": sf_dir,
        "run_dir": run_dir,
        "tmp_dir": os.path.join(run_dir, "tmp"),
        "eventlog_dir": os.path.join(run_dir, "eventlog"),
        "result": os.path.join(run_dir, "result.json"),
        "spans": os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"),
        "pg_port": free_port(),
    }
    load = os.getloadavg()[0]
    try:
        res, setup_s, sampler = run_client(cfg, run_dir, bool(args.trace))
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, extra = end_to_end(res, setup_s, sampler)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cfg["cpus"],
        "fixtures_fp": fixtures_fp(sf_dir),
        "fixtures": f"seed={FIXTURE_SEED} sf={FIXTURE_SF}",
        "git_rev": git_rev(),
        "source_fp": source_fp(),
        "pyspark": res["pyspark"],
        "java": res["java"],
        "loadavg_1m": load,
        "queries": list(WORKLOADS[args.workload]),
        "phases": {**res["phases"], "setup_s": setup_s, "run_s": time.monotonic() - t_start},
        "warmup_pass_s": res["warmup_pass_s"],
        "warmup_query_s": res["warmup_query_s"],
        "timed_pass_s": res["timed"]["pass_s"],
        "pass_trend": stats.trend(res["timed"]["pass_s"]),
        "traced_pass_s": res["timed"]["traced_pass_s"],
        "measured_s": res["timed"]["measured_s"],
        "failed_frac": stats.failed_frac(res["attempted"], res["failed"]),
        "errors": res["errors"],
        "check_failed": res["check_failed"],
        **extra,
        "end_to_end": e2e,
    }
    if args.trace:
        layers = per_layer(res, sampler)
        record["per_layer"] = layers
        record["self_s"] = res["self_s"]
        record["spans"] = os.path.relpath(cfg["spans"], ROOT)
        values, kind = layers, "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps(result_line(res, values, benchmark_spec()[kind])))
    return 0


def result_line(res: dict, values: dict, spec_metrics: list[dict]) -> dict:
    """The last stdout line. It is correct only if no execution failed
    and every metric has a value."""
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
               for m in spec_metrics}
    return {
        "correct": res["failed"] == 0 and all(m["value"] is not None for m in metrics.values()),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
