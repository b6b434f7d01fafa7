"""In-memory span tracer used by the traced (``--trace 1``) runs.

A span is recorded at each call boundary the benchmark drives: name,
layer, start, end, parent span and the id of the operation (request,
query or gate) it belongs to. Counters are recorded at the same
boundaries. Nothing is written until :meth:`Tracer.dump` at the end of
the run.

Layers are wrapped from outside the engine: module attributes (and every
``from ... import`` alias of them inside the package) are replaced by
timing wrappers, and a few ``pyspark`` entry points (``collect``,
``count``, ``toPandas`` and the py4j command channel) are patched at the
class level. Untraced runs never install any of this.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "automotive_big_data_analysis_spark"
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_counts: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    def in_layer(self, layer: str) -> bool:
        return any(s["layer"] == layer for s in self._stack())

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": stack[-1]["id"] if stack else None,
            "op": self.current_op(),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one operation; every span and count recorded on
        this thread until it closes carries ``op_id``."""
        self._local.op = op_id
        try:
            with self.span(name, "op") as rec:
                yield rec
        finally:
            self._local.op = None

    def count(self, key: str, value: float = 1.0, op: str | None = None) -> None:
        op = op or self.current_op()
        if op is None:
            return
        with self._lock:
            self.op_counts[op][key] += value

    # ---- wrapping ----------------------------------------------------

    def wrap(self, fn, name: str, layer: str, on_exit=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
            if on_exit is not None:
                on_exit(rec, args, out)
            return out

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def instrument(self, module_name: str, attr: str, layer: str, on_exit=None):
        """Replace ``module.attr`` and every alias of the same object held
        by an already-imported module of the package."""
        mod = importlib.import_module(module_name)
        orig = getattr(mod, attr)
        short = module_name.removeprefix(PACKAGE + ".")
        wrapped = self.wrap(orig, f"{short}.{attr}", layer, on_exit)
        for name, m in list(sys.modules.items()):
            if m is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for key, val in list(vars(m).items()):
                if val is orig:
                    self._set(m, key, wrapped)
        return wrapped

    def patch_method(self, cls, attr: str, wrapper_factory) -> None:
        self._set(cls, attr, wrapper_factory(getattr(cls, attr)))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._restore):
            setattr(owner, attr, val)
        self._restore.clear()

    # ---- output ------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: each span's duration minus the
        part of it its child spans cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - child_time[s["id"]])
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as fh:
            json.dump(
                {
                    "self_time_s": self.self_times(),
                    "op_counts": self.op_counts,
                    "spans": spans,
                    **extra,
                },
                fh,
            )


def install_engine_probes(tracer: Tracer, spark) -> None:
    """Counters and spans on the pyspark side of every layer: py4j
    commands, DataFrame actions with their Catalyst phase times, and
    ``catalog.load_table`` calls and misses."""
    from py4j import clientserver, java_gateway

    local = threading.local()

    def counting(orig):
        def send_command(self, *args, **kwargs):
            if not getattr(local, "quiet", False):
                tracer.count("py4j.calls")
            return orig(self, *args, **kwargs)

        return send_command

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        tracer.patch_method(cls, "send_command", counting)

    def phases(df) -> dict[str, float]:
        local.quiet = True
        try:
            summary = df._jdf.queryExecution().tracker().phases()
            out = {}
            for p in PHASES:
                opt = summary.get(p)
                if opt.isDefined():
                    out[p] = float(opt.get().durationMs())
            return out
        except Exception:  # noqa: BLE001 - a plan without a tracker
            return {}
        finally:
            local.quiet = False

    def action(orig, read_phases: bool):
        def run(self, *args, **kwargs):
            if tracer.in_layer("exec"):
                return orig(self, *args, **kwargs)
            with tracer.span(f"DataFrame.{orig.__name__}", "exec"):
                out = orig(self, *args, **kwargs)
            tracer.count("exec.actions")
            if read_phases:
                for p, ms in phases(self).items():
                    tracer.count(f"catalyst.{p}_ms", ms)
            return out

        return run

    frame = type(spark.range(0))  # the session's concrete DataFrame class
    tracer.patch_method(frame, "collect", lambda f: action(f, True))
    tracer.patch_method(frame, "toPandas", lambda f: action(f, True))
    tracer.patch_method(frame, "count", lambda f: action(f, False))

    from automotive_big_data_analysis_spark import catalog

    def on_load(rec, args, out):
        tracer.count("catalog.load_table_calls")
        tracer.count("catalog.load_table_ms", 1000 * (rec["end"] - rec["start"]))

    tracer.instrument(f"{PACKAGE}.catalog", "load_table", "catalog", on_load)
    fresh = catalog._load_table_fresh

    def counted_fresh(*args, **kwargs):
        tracer.count("catalog.load_table_misses")
        return fresh(*args, **kwargs)

    tracer._set(catalog, "_load_table_fresh", counted_fresh)


def exec_counts(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and failed tasks of every job tagged with one
    of ``groups``, read from the status tracker."""
    st = spark.sparkContext.statusTracker()
    out = {"exec.jobs": 0.0, "exec.stages": 0.0, "exec.tasks": 0.0, "exec.failed_tasks": 0.0}
    for g in groups:
        for job_id in st.getJobIdsForGroup(g):
            out["exec.jobs"] += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                stage = st.getStageInfo(stage_id)
                if stage is None:
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += stage.numTasks
                out["exec.failed_tasks"] += stage.numFailedTasks
    return out
