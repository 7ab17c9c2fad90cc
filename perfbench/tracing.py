"""Tracing for the benchmark's traced run, kept outside the program.

* ``Tracer`` records spans in memory (name, start, end, parent, the
  query execution they belong to) and counters at the same
  boundaries.
* ``instrument`` wraps public functions of the engine's ``sources/``
  and ``plans/``-side modules. Each wrapper replaces the attribute in
  every loaded module of the package that holds the same function
  object, so ``from .x import f`` call sites are covered too.
* ``event_log_layers`` reads Spark's uncompressed event log and sums
  job, stage and task metrics per layer (build or exec).
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import threading
import time
from collections import defaultdict

from stats import self_time

PKG = "datafusion_rdbms_ext_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.exec_id: str | None = None
        self._local = threading.local()
        self._root: dict | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def parent_name(self) -> str | None:
        st = self._stack()
        return st[-1]["name"] if st else None

    def open(self, name: str) -> dict:
        st = self._stack()
        parent = st[-1] if st else self._root
        span = {
            "id": len(self.spans),
            "name": name,
            "exec": self.exec_id,
            "parent": parent["id"] if parent else None,
            "t0": time.perf_counter(),
            "t1": None,
        }
        self.spans.append(span)
        st.append(span)
        if parent is None:
            self._root = span
        return span

    def close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        if span is self._root:
            self._root = None

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def add(self, key: str, value: float = 1.0) -> None:
        self.counters[key] += value

    def durations(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        kids: dict[int, list] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["t0"], s["t1"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += self_time((s["t0"], s["t1"]), kids[s["id"]])
        return dict(out)


def _wrap(tracer: Tracer, name: str, fn, after=None, outer_of=()):
    """Span ``name`` around ``fn``; ``after(tracer, args, result)``
    records counters unless the call is nested inside a span named in
    ``outer_of`` (so a helper called by its own sibling counts once)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        nested = tracer.parent_name() in outer_of
        with tracer.span(name):
            result = fn(*args, **kwargs)
        if after is not None and not nested:
            after(tracer, args, result)
        return result

    return wrapper


def _patch_everywhere(owner, attr: str, wrapper) -> None:
    """Replace ``owner.attr`` and every alias of the same function in
    the package's loaded modules."""
    original = getattr(owner, attr)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for key, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, key, wrapper)
    setattr(owner, attr, wrapper)


def _count(key):
    def after(tracer, args, result):
        tracer.add(key)
    return after


def _pushdown(tracer, args, result):
    tracer.add("pushdown.attempts")
    if result is not None:
        tracer.add("pushdown.fired")


def _zonemap(tracer, args, result):
    tracer.add("skipping.files_total", len(args[0]))
    tracer.add("skipping.files_read", len(result))


def _composed(tracer, args, result):
    tracer.add("skipping.files_total", len(args[2]))
    tracer.add("skipping.files_read", len(result[1]))


def instrument(tracer: Tracer) -> None:
    """Install the span wrappers (the package must be imported)."""
    import importlib

    pgwire = importlib.import_module(f"{PKG}.sources.pgwire")
    pushdown = importlib.import_module(f"{PKG}.sources.pushdown")
    federation = importlib.import_module(f"{PKG}.sources.federation")
    sinks = importlib.import_module(f"{PKG}.sources.sinks")

    cli = pgwire.PgWireClient
    for attr, name in (
        ("__init__", "wire.connect"),
        ("query", "wire.query"),
        ("query_extended", "wire.query"),
        ("copy_csv", "wire.copy_out"),
        ("copy_binary", "wire.copy_out"),
        ("copy_in_text", "wire.copy_in"),
        ("copy_in_binary", "wire.copy_in"),
    ):
        setattr(cli, attr, _wrap(tracer, name, getattr(cli, attr), _count("wire.calls")))

    unparse = ("pushdown.unparse",)
    for attr in ("try_unparse", "unparse_to_dialect"):
        _patch_everywhere(pushdown, attr, _wrap(
            tracer, "pushdown.unparse", getattr(pushdown, attr), _pushdown, unparse))
    for attr in ("compile_scan", "compile_query"):
        _patch_everywhere(federation, attr, _wrap(
            tracer, "federation.compile", getattr(federation, attr)))

    commit = ("sink.commit",)
    for attr in ("branch_commit", "wap_attempt", "cherry_pick"):
        _patch_everywhere(sinks, attr, _wrap(
            tracer, "sink.commit", getattr(sinks, attr), _count("sink.commits"), commit))
    _patch_everywhere(sinks, "vacuum", _wrap(tracer, "sink.vacuum", sinks.vacuum))
    skip = ("skipping.prune",)
    _patch_everywhere(sinks, "zonemap_prune", _wrap(
        tracer, "skipping.prune", sinks.zonemap_prune, _zonemap, skip))
    _patch_everywhere(sinks, "composed_skip_files", _wrap(
        tracer, "skipping.prune", sinks.composed_skip_files, _composed, skip))


# --- Spark event log ---------------------------------------------------------


def event_log_layers(path: str, layer_of) -> dict[str, dict]:
    """Job/stage/task totals per layer from a Spark event log, where
    ``layer_of(job_group, submission_ms)`` names the layer of a job
    (or returns None to leave it out)."""
    stage_layer: dict[int, str] = {}
    tasks: dict[int, list[float]] = defaultdict(list)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                layer = layer_of(group, ev["Submission Time"])
                if layer is None:
                    continue
                out[layer]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer[sid] = layer
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_layer:
                    out[stage_layer[sid]]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                layer = stage_layer.get(sid)
                m = ev.get("Task Metrics")
                if layer is None or not m:
                    continue
                acc = out[layer]
                acc["tasks"] += 1
                acc["task_run_s"] += m["Executor Run Time"] / 1e3
                acc["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                acc["gc_s"] += m["JVM GC Time"] / 1e3
                acc["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                sr = m["Shuffle Read Metrics"]
                acc["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                tasks[sid].append(m["Executor Run Time"])
    for sid, runs in tasks.items():
        if len(runs) > 1:
            med = statistics.median(runs)
            skew = max(runs) / med if med > 0 else 1.0
            acc = out[stage_layer[sid]]
            acc["task_skew"] = max(acc["task_skew"], skew)
    return {k: dict(v) for k, v in out.items()}
