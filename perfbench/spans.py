"""Tracing for the benchmark's ``--trace 1`` runs.

Three sources, all read from outside the program:

- :class:`Tracer` wraps the public functions of postpy_spark's layer
  modules and records one span per call (name, layer, start, end, parent,
  query).  ``io`` and ``operators.*`` spans also set the Spark local
  property ``perfbench.span``, so every job they start carries the span's
  id into the event log.
- :func:`parse_event_log` reads Spark's JSON event log and sums jobs,
  stages, tasks, executor, shuffle and Python-worker metrics per pass.
- :func:`catalyst_phases` reads a DataFrame's ``QueryExecution`` tracker.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import time
from collections import defaultdict

#: Layer name -> module.  :func:`layer_modules` adds ``operators.<m>`` for
#: each of ``OPERATOR_MODULES``.
BASE_LAYERS = {
    "session": "postpy_spark.session",
    "io": "postpy_spark.io",
    "etl": "postpy_spark.etl",
    "versioned": "postpy_spark.versioned",
    "streaming": "postpy_spark.streaming",
}
OPERATOR_MODULES = ("dedup", "editdist", "graph", "linalg", "similarity")
#: Operator modules whose calls start jobs themselves, before the query's
#: action.  The others only build plans that run in the action, so their
#: job count is always 0 and is not reported.
EAGER_OPERATOR_MODULES = ("graph", "linalg")

#: Layers whose spans tag the jobs they start (besides ``operators.*``).
JOB_LAYERS = ("io",)

MB = 1024.0 * 1024.0

# Spark's PythonSQLMetrics by display name: our key and the divisor from
# the event log's unit (timing metrics are ms, size metrics bytes).
PY_METRICS = {
    "time to start Python workers": ("python.boot_s", 1000.0),
    "time to initialize Python workers": ("python.init_s", 1000.0),
    "time to run Python workers": ("python.run_s", 1000.0),
    "data sent to Python workers": ("python.sent_mb", MB),
    "data returned from Python workers": ("python.received_mb", MB),
}


def layer_modules() -> dict[str, str]:
    layers = dict(BASE_LAYERS)
    for m in OPERATOR_MODULES:
        layers[f"operators.{m}"] = f"postpy_spark.operators.{m}"
    return layers


class Tracer:
    """In-memory span recorder around postpy_spark's layer functions."""

    def __init__(self, sc):
        self._sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._prop: str | None = None
        self.query_id = ""

    # -- spans ---------------------------------------------------------
    def _enter(self, name: str, layer: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.query_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        if layer in JOB_LAYERS or layer.startswith("operators."):
            # Only the layers whose jobs are counted pay the Py4J call.
            span["prev_prop"] = self._prop
            self._prop = str(span["id"])
            self._sc.setLocalProperty("perfbench.span", self._prop)
        return span

    def _exit(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        if "prev_prop" in span:
            self._prop = span["prev_prop"]
            self._sc.setLocalProperty("perfbench.span", self._prop)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self._enter(name, layer) if self.enabled else None
        try:
            yield span
        finally:
            if span is not None:
                self._exit(span)

    def _wrap(self, fn, layer: str, owner: str):
        name = f"{owner}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self._enter(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit(span)

        return wrapper

    def install(self) -> int:
        """Wrap every public function and public method of every class of
        every layer module, and rebind the names other postpy_spark modules
        imported directly.  The wrapper keeps the original ``__module__``
        and ``__qualname__``, so cloudpickle still ships functions to Python
        workers by reference."""
        swaps: dict[int, tuple] = {}
        for layer, modname in layer_modules().items():
            __import__(modname)
            mod = sys.modules[modname]
            short = modname.rsplit(".", 1)[-1]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    w = self._wrap(obj, layer, short)
                    setattr(mod, attr, w)
                    swaps[id(obj)] = (obj, w)
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if inspect.isfunction(fn) and not m.startswith("_"):
                            setattr(obj, m, self._wrap(fn, layer, f"{short}.{attr}"))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("postpy_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = swaps.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
        return len(swaps)

    # -- aggregation ---------------------------------------------------
    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds from the DataFrame's own
    QueryExecution tracker (forces its physical plan if not yet built)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def parse_event_log(path: str) -> dict:
    """Aggregate an uncompressed, non-rolling Spark event log.

    Returns ``{"jobs": {id: job}, "stages": [job id], "tasks": [task]}``:
    each job carries its interval and its ``perfbench.pass`` and
    ``perfbench.span`` local properties, and each completed stage attempt
    and each task its job, so callers can group by pass."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: list[int | None] = []
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                p = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "pass": p.get("perfbench.pass"),
                    "span": p.get("perfbench.span"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages.append(stage_job.get(ev["Stage Info"]["Stage ID"]))
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                t = {
                    "job": stage_job.get(ev["Stage ID"]),
                    "failed": bool(info.get("Failed"))
                    or ev.get("Task End Reason", {}).get("Reason") != "Success",
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "input_mb": m.get("Input Metrics", {}).get("Bytes Read", 0) / MB,
                    "output_mb": m.get("Output Metrics", {}).get("Bytes Written", 0) / MB,
                    "shuffle_write_mb": m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0) / MB,
                    "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0)) / MB,
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                    "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
                }
                for acc in info.get("Accumulables", []):
                    hit = PY_METRICS.get(acc.get("Name"))
                    if hit:
                        key, div = hit
                        t[key] = t.get(key, 0.0) + float(acc.get("Update") or 0) / div
                tasks.append(t)
    return {"jobs": jobs, "stages": stages, "tasks": tasks}
