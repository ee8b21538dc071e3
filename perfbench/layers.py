"""Per-layer tracing for the benchmark, applied from outside the engine.

Nothing here edits the package. A traced run

* wraps the package's public entry points in spans (``install``): the
  session factory, the sources layer (``load_table`` and
  ``stream_events_from_parquet``), the streaming plan builders (counted
  as plan construction), the sink writers, ``release_persisted`` and
  every public function of the operator modules;
* tags every step's Spark jobs with ``setJobGroup`` so the plain JSON
  event log (turned on by ``run.py`` through ``PYSPARK_SUBMIT_ARGS``)
  can be folded back onto steps (``fold_event_log``).

Spans record name, start, end, parent and run id; they are kept in
memory and written once, at the end of the run. Layer spans report
*self* time: the time of a span minus that of the layer spans nested in
it. Operator spans are attribution-only: the first top-level operator
call while a step builds names the module its whole step time is
charged to.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "forest_open_data_pipelines_spark"

OPERATOR_MODULES = (
    "timeseries",
    "freshness",
    "profiling",
    "relational",
    "dedup",
    "similarity",
    "textops",
    "curation",
)


class Tracer:
    """Span recorder; every method is a no-op while ``enabled`` is False."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._attr: list[str] | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def attribute_to(self) -> "_Attribution":
        """Context collecting the top-level operator modules called
        while a step builds."""
        return _Attribution(self)

    def note_operator(self, module: str) -> None:
        if self._attr is not None and getattr(self._local, "op_depth", 0) == 0:
            self._attr.append(module)

    def layer_self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        if not self.t.enabled:
            return self
        st = self.t._stack()
        with self.t._lock:
            self.id = len(self.t.spans)
            self.rec = {
                "id": self.id,
                "name": self.name,
                "parent": st[-1] if st else None,
                "run": self.t.run_id,
                "start": time.time(),
                "end": None,
                **self.attrs,
            }
            self.t.spans.append(self.rec)
        st.append(self.id)
        return self

    def __exit__(self, *exc):
        if hasattr(self, "rec"):
            self.rec["end"] = time.time()
            self.t._stack().pop()
        return False


class _Attribution:
    def __init__(self, tracer: Tracer):
        self.t = tracer
        self.modules: list[str] = []

    def __enter__(self):
        self.t._attr = self.modules
        return self

    def __exit__(self, *exc):
        self.t._attr = None
        return False


def _wrap_layer(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **k):
        with tracer.span(name):
            return fn(*a, **k)

    wrapper.__perfbench_orig__ = fn
    return wrapper


def _wrap_operator(tracer: Tracer, module: str, fn):
    @functools.wraps(fn)
    def wrapper(*a, **k):
        tracer.note_operator(module)
        loc = tracer._local
        loc.op_depth = getattr(loc, "op_depth", 0) + 1
        try:
            return fn(*a, **k)
        finally:
            loc.op_depth -= 1

    wrapper.__perfbench_orig__ = fn
    return wrapper


def _replace_everywhere(orig, wrapper) -> None:
    """Point every loaded package module's reference to ``orig`` at
    ``wrapper`` (catalog lambdas and ``from x import f`` call sites)."""
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def _public_functions(mod):
    return [
        (n, f)
        for n, f in vars(mod).items()
        if inspect.isfunction(f)
        and not n.startswith("_")
        and f.__module__ == mod.__name__
    ]


def install(tracer: Tracer) -> None:
    """Wrap the package's public entry points in spans (traced runs)."""
    import importlib
    import pkgutil

    import forest_open_data_pipelines_spark.streaming as streaming

    for info in pkgutil.iter_modules(streaming.__path__):
        importlib.import_module(f"{PKG}.streaming.{info.name}")
    layers = {
        f"{PKG}.session": ("session.get_spark", {"get_spark"}),
        f"{PKG}.sources.tables": ("sources.load_table", {"load_table"}),
        f"{PKG}.streaming.windowed": (
            "sources.load_table",
            {"stream_events_from_parquet"},
        ),
        f"{PKG}.operators.dedup": ("persist.release", {"release_persisted"}),
        f"{PKG}.sinks.writers": ("sinks.write", None),
    }
    wrapped = set()
    for mname, (span, names) in layers.items():
        mod = importlib.import_module(mname)
        for n, f in _public_functions(mod):
            if names is None or n in names:
                _replace_everywhere(f, _wrap_layer(tracer, span, f))
                wrapped.add(f)
    for info in pkgutil.iter_modules(streaming.__path__):
        mod = sys.modules[f"{PKG}.streaming.{info.name}"]
        for _n, f in _public_functions(mod):
            if f not in wrapped:
                _replace_everywhere(f, _wrap_layer(tracer, "plans.build", f))
                wrapped.add(f)
    for short in OPERATOR_MODULES:
        mod = importlib.import_module(f"{PKG}.operators.{short}")
        for _n, f in _public_functions(mod):
            if f not in wrapped:
                _replace_everywhere(f, _wrap_operator(tracer, short, f))


# ---------------------------------------------------------------------------
# Event log folding
# ---------------------------------------------------------------------------


def _acc(task: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in task["Task Info"].get("Accumulables", [])
        if a.get("Name") == name
    )


def fold_event_log(path: str) -> dict[str, dict]:
    """Fold a plain JSON-lines event log into per-job-group totals; a
    streaming micro-batch's jobs are keyed ``<run id>#<batch id>``.

    Returns ``{group: {jobs, stages, tasks, run_s, cpu_s, gc_s,
    shuffle_write_b, shuffle_read_b, spill_b, python_s, output_b,
    stage_spans: [(start_s, end_s)]}}``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, stage_spans=[])
    )
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                if props.get("streaming.sql.batchId") is not None:
                    g = f"{g}#{props['streaming.sql.batchId']}"
                out[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = stage_group.get(info["Stage ID"], "")
                out[g]["stages"] += 1
                if info.get("Submission Time") and info.get("Completion Time"):
                    out[g]["stage_spans"].append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                    )
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                rec = out[g]
                rec["tasks"] += 1
                rec["run_s"] += m.get("Executor Run Time", 0) / 1e3
                rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                rec["shuffle_read_b"] += sr.get("Local Bytes Read", 0) + sr.get(
                    "Remote Bytes Read", 0
                )
                rec["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                rec["output_b"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                rec["python_s"] += _acc(ev, "time to run Python workers") / 1e3
    return out


def uncovered(window: tuple[float, float], spans: list[tuple[float, float]]) -> float:
    """Seconds of ``window`` during which none of ``spans`` is running."""
    lo, hi = window
    cut = sorted((max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (hi - lo) - covered)
