"""Layer tracing from outside the program.

Three sources, none of which changes a file under ``hadoop_spark/``:

- ``Tracer``: in-memory spans (name, parent, start, end, attributes) that
  the worker opens around each query, its ``plans.build`` call and its
  ``exec`` action, and that the wrappers below open around calls into
  the program's public functions.
- ``Patcher``: replaces a public function with a wrapper in every
  ``hadoop_spark.*`` module that bound it. Builders bind names with
  ``from ... import``, so patching only the defining module would miss
  them; ``Patcher.missed`` reports any binding left unpatched.
- ``StatusReader``: Spark's in-driver status stores (jobs, stages and SQL
  executions), read through the JVM after a pass, outside the timed
  region, and attributed to (query, pass, phase) by the job group the
  worker sets.
"""

from __future__ import annotations

import importlib
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "hadoop_spark"


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.ctx: dict = {}

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **self.ctx,
            **attrs,
            "t0": time.perf_counter(),
            "w0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            rec["w1"] = time.time()

    def with_self_time(self) -> list[dict]:
        """Spans with ``dur`` and ``self`` (duration minus the part of it
        that child spans cover; children nest, so they never overlap)."""
        child = defaultdict(float)
        out = []
        for s in self.spans:
            d = dict(s, dur=s.get("t1", s["t0"]) - s["t0"])
            out.append(d)
            if s["parent"] is not None:
                child[s["parent"]] += d["dur"]
        for d in out:
            d["self"] = d["dur"] - child[d["id"]]
        return out


def _bindings(orig) -> list[tuple[object, str]]:
    """Every (module, attribute) in the package bound to ``orig``."""
    found = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                found.append((mod, attr))
    return found


class Patcher:
    """Install wrappers over package functions and undo them."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []
        self._origs: list[object] = []

    def wrap(self, module: str, attr: str, make) -> int:
        """Replace ``module.attr`` by ``make(orig)`` wherever it is bound;
        returns the number of bindings replaced."""
        orig = getattr(importlib.import_module(module), attr)
        wrapper = make(orig)
        sites = _bindings(orig)
        for mod, name in sites:
            setattr(mod, name, wrapper)
            self._undo.append((mod, name, orig))
        self._origs.append(orig)
        return len(sites)

    def missed(self) -> list[str]:
        """Bindings of a wrapped original that are still unpatched."""
        return [f"{m.__name__}.{a}" for o in self._origs for m, a in _bindings(o)]

    def restore(self) -> None:
        for mod, name, orig in reversed(self._undo):
            setattr(mod, name, orig)
        self._undo.clear()
        self._origs.clear()


def _timed(tracer: Tracer, name: str, note=None):
    """Wrapper factory: one span per call; ``note(span, args, kwargs,
    result)`` may add attributes from the call's result."""

    def make(orig):
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
                if note is not None:
                    note(rec, args, kwargs, result)
                return result

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", name)
        return wrapper

    return make


def _timed_cm(tracer: Tracer, name: str):
    """Wrapper factory for a context-manager function: the span covers the
    whole ``with`` body, which is where a driver loop runs."""

    def make(orig):
        @contextmanager
        def wrapper(*args, **kwargs):
            with tracer.span(name), orig(*args, **kwargs) as value:
                yield value

        wrapper.__wrapped__ = orig
        return wrapper

    return make


def _note_fallback(rec, args, kwargs, result):
    rec["fallback"] = result is None


def _note_new_frame(flag: str):
    """Sets ``flag`` when the call returned another frame than it was given
    (a broadcast hint attached, a scan repartitioned)."""

    def note(rec, args, kwargs, result):
        rec[flag] = result is not (args[0] if args else kwargs.get("df"))

    return note


# (metric prefix, module, attribute, kind, note). The writers are the
# formats/bucketed/layout/cdc/incremental functions that persist output.
WRAPPERS = (
    ("sources.load_table", "hadoop_spark.sources.tables", "load_table", "call", None),
    ("sources.fanout_small", "hadoop_spark.sources.tables", "fanout_small", "call", _note_new_frame("spread")),
    ("sources.shared", "hadoop_spark.sources.tables", "shared", "call", None),
    ("operators.bcast_if_small", "hadoop_spark.operators.join", "bcast_if_small", "call", _note_new_frame("broadcast")),
    ("operators.loop_width", "hadoop_spark.operators.graph", "loop_width", "cm", None),
    ("operators.wedge_closure", "hadoop_spark.operators.graph", "wedge_closure", "call", _note_fallback),
    ("operators.connected_components", "hadoop_spark.operators.dedup", "connected_components", "call", None),
    ("streaming.run_to_memory", "hadoop_spark.streaming.windows", "run_to_memory", "call", None),
    ("sources.write", "hadoop_spark.sources.formats", "write_kv_text", "call", None),
    ("sources.write", "hadoop_spark.sources.formats", "routed_write", "call", None),
    ("sources.write", "hadoop_spark.sources.formats", "write_named_outputs", "call", None),
    ("sources.write", "hadoop_spark.sources.formats", "write_sequence_file", "call", None),
    ("sources.write", "hadoop_spark.sources.formats", "compact", "call", None),
    ("sources.write", "hadoop_spark.sources.bucketed", "write_bucketed", "call", None),
    ("sources.write", "hadoop_spark.operators.layout", "write_zordered", "call", None),
    ("sources.write", "hadoop_spark.operators.cdc", "merge_upsert", "call", None),
    ("sources.write", "hadoop_spark.streaming.incremental", "stream_merge_to_snapshot", "call", None),
)


def install(tracer: Tracer, patcher: Patcher) -> None:
    """Wrap every function in ``WRAPPERS``; raise if a binding is missed."""
    for name, module, attr, kind, note in WRAPPERS:
        make = _timed_cm(tracer, name) if kind == "cm" else _timed(tracer, name, note)
        if patcher.wrap(module, attr, make) == 0:
            raise RuntimeError(f"{module}.{attr} is bound nowhere")
    left = patcher.missed()
    if left:
        raise RuntimeError(f"unpatched bindings: {left}")


# --- Spark status stores -------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "py.boot_s",
    "time to initialize Python workers": "py.init_s",
    "time to run Python workers": "py.run_s",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.returned_mb",
}
_UNITS = {
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0 / 2**20,
    "KiB": 1.0 / 2**10,
    "MiB": 1.0,
    "GiB": 2.0**10,
    "TiB": 2.0**20,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """A SQL metric as the status store formats it, in seconds, MiB or
    units: ``"21 ms"``, ``"1.2 s (...)"``, ``"16.2 MiB"``, ``"100,000"``,
    or a ``"total (min, med, max ...)"`` header followed by such a line."""
    line = text.strip().splitlines()[-1] if text.strip().startswith("total") else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Reads the JVM status stores as JSON through Spark's own Jackson."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._seen_exec = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = defaultdict(list)
        for st in self._json(self._store.stageList(None, False, False, self._no_quantiles, None)):
            out[st["stageId"]].append(st)
        return out

    def new_executions(self) -> list[dict]:
        """SQL executions recorded since the previous call, each with its
        Python-worker metrics summed over its plan's Python nodes."""
        n = int(self._sql.executionsCount())
        start, self._seen_exec = self._seen_exec, n
        out = []
        for ex in self._json(self._sql.executionsList(start, n - start)):
            wanted = {m["accumulatorId"]: m["name"] for m in ex["metrics"] if m["name"] in _PY_METRICS}
            rec = {"description": ex.get("description"), "submitted": ex["submissionTime"] / 1e3, "py": {}}
            if wanted:
                values = self._json(self._sql.executionMetrics(ex["executionId"]))
                for acc, name in wanted.items():
                    key = _PY_METRICS[name]
                    rec["py"][key] = rec["py"].get(key, 0.0) + parse_sql_metric(values.get(str(acc), "0"))
                rec["py"]["py.rows_returned"] = self._python_rows(ex["executionId"], values)
            out.append(rec)
        return out

    def _python_rows(self, execution_id: int, values: dict) -> float:
        """Output rows of the plan nodes that run Python workers
        (``allNodes`` already flattens codegen clusters)."""
        rows = 0.0
        for node in self._json(self._sql.planGraph(execution_id).allNodes()):
            names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
            if "time to run Python workers" in names and "number of output rows" in names:
                rows += parse_sql_metric(values.get(str(names["number of output rows"]), "0"))
        return rows


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
