"""Run-time tracing of the engine's layers, installed from outside the package.

``Tracer.install`` wraps every public function and public method defined in
each layer module (a layer is a package module, named by its dotted path
under the package) and rebinds the wrapped objects wherever other package
modules imported them by name.  Each wrapped call records a span
``{id, name, layer, start, end, parent, op_id}``.  Spans stay in memory and
are written when the run ends.

Counters attributed to the innermost layer span:

- py4j round trips, by wrapping the gateway client's ``send_command``
  (object releases sent by the garbage collector are not counted);
- Spark jobs, stages, tasks, shuffle bytes and spill, from the event log
  (enabled through launch conf).  A span that enters a layer sets a Spark
  job group naming itself; jobs without a group (stream threads) fall back
  to the innermost layer span open when the job was submitted.

Workers re-import the package unwrapped (cloudpickle pickles module-level
functions by reference), so only driver-side work is wrapped; executor work
shows up through the Spark counters of the span whose action ran it.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import glob
import inspect
import json
import os
import re
import sys
import time
from collections import defaultdict

PKG = "priority_data_pipeline_postgres_db_spark"

LAYERS = [
    "api",
    "plans.pipeline",
    "plans.catalog",
    "sources.odata",
    "sources.metadata",
    "sources.control",
    "operators.ingest",
    "operators.staging",
    "streaming.cdc_source",
    "plans.queries",
    "plans.analytics",
    "operators.dedup",
    "operators.corpus",
    "operators.similarity",
    "functions.text",
]
BENCH = "bench"  # benchmark-owned work (checks, instrumentation reads)

_PY_EVAL = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonMapInArrow|"
    r"ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\b"
)
_PY4J_RELEASE = "m\nd\n"  # py4j's memory-delete command
_EXCHANGE = re.compile(r"\b(Exchange|BroadcastExchange|ShuffleExchange)\b")


def plan_counts(df) -> tuple[int, int]:
    """(exchanges, python-eval nodes) in ``df``'s executed physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan)), len(_PY_EVAL.findall(plan))


class Tracer:
    """Spans and counters of one traced run; ``install`` wraps the layers,
    ``uninstall`` restores them."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_id = None
        self.py4j: dict[int, int] = defaultdict(int)  # span id -> round trips
        self._internal = False
        self._patched: list[tuple] = []
        self._next = 0

    # -- spans -----------------------------------------------------------
    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        self._internal = True
        try:
            if span is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"span-{span['id']}", span["name"], False)
        finally:
            self._internal = False

    def enter(self, layer: str, name: str) -> dict:
        parent = self.stack[-1] if self.stack else None
        span = {
            "id": self._next,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op_id": self.op_id,
            "start": time.time(),
            "end": None,
            "entry": parent is None or parent["layer"] != layer,
        }
        self._next += 1
        self.spans.append(span)
        self.stack.append(span)
        if span["entry"]:
            self._set_group(span)
        return span

    def exit(self, span: dict) -> None:
        span["end"] = time.time()
        if self.stack.pop() is not span:
            raise RuntimeError(f"span stack out of order at {span['name']!r}")
        if span["entry"]:
            self._set_group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """A span the benchmark opens around work it attributes to a layer."""
        s = self.enter(layer, name)
        try:
            yield s
        finally:
            self.exit(s)

    # -- wrapping --------------------------------------------------------
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            s = tracer.enter(layer, name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.exit(s)

        return wrapper

    def install(self) -> None:
        import importlib

        originals: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    w = self._wrap(obj, layer, attr)
                    originals[id(obj)] = w
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if mname.startswith("_"):
                            continue
                        if isinstance(meth, (staticmethod, classmethod)):
                            inner = meth.__func__
                            w = type(meth)(self._wrap(inner, layer, f"{attr}.{mname}"))
                        elif inspect.isfunction(meth):
                            w = self._wrap(meth, layer, f"{attr}.{mname}")
                        else:
                            continue
                        self._patched.append((obj, mname, meth))
                        setattr(obj, mname, w)
        # rebind names other package modules imported with ``from x import f``
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PKG) or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and getattr(mod, attr) is not w:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)
        # py4j round trips
        client = self.spark.sparkContext._gateway._gateway_client
        orig_send = client.send_command
        tracer = self

        def send_command(command, *a, **kw):
            # object releases come from Python's garbage collector, on its
            # own schedule, so they are not counted
            if not tracer._internal and not command.startswith(_PY4J_RELEASE):
                top = tracer.stack[-1]["id"] if tracer.stack else -1
                tracer.py4j[top] += 1
            return orig_send(command, *a, **kw)

        client.send_command = send_command
        self._patched.append((client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    # -- event log -------------------------------------------------------
    @staticmethod
    def read_event_logs(log_dir: str) -> dict:
        """jobs: id -> {group, submit_s, stages}; stages: id -> counters."""
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = defaultdict(
            lambda: {"tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "ran": False}
        )
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            app = os.path.basename(path)
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs[(app, ev["Job ID"])] = {
                            "group": props.get("spark.jobGroup.id"),
                            "submit_s": ev["Submission Time"] / 1000.0,
                            "stages": [(app, s) for s in ev["Stage IDs"]],
                        }
                    elif kind == "SparkListenerStageCompleted":
                        stages[(app, ev["Stage Info"]["Stage ID"])]["ran"] = True
                    elif kind == "SparkListenerTaskEnd":
                        st = stages[(app, ev["Stage ID"])]
                        st["tasks"] += 1
                        tm = ev.get("Task Metrics") or {}
                        sw = tm.get("Shuffle Write Metrics") or {}
                        st["shuffle_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
                        st["spill_bytes"] += int(tm.get("Disk Bytes Spilled", 0))
        return {"jobs": jobs, "stages": stages}

    # -- aggregation -----------------------------------------------------
    def layer_metrics(self, events: dict, counted_ops) -> tuple[dict, list[dict]]:
        """Per-layer self time, calls, py4j round trips, jobs, stages,
        tasks, shuffle and spill bytes over spans whose op_id is in
        ``counted_ops``; also returns the per-job attribution list."""
        by_id = {s["id"]: s for s in self.spans}
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))

        def counted(s: dict) -> bool:
            return s["op_id"] in counted_ops

        for s in self.spans:
            if not counted(s) or s["end"] is None:
                continue
            # child spans are nested in time, so their union is their sum
            covered = sum(k["end"] - k["start"] for k in kids[s["id"]] if k["end"])
            s["self_s"] = (s["end"] - s["start"]) - covered
            m = out[s["layer"]]
            m["self_s"] += s["self_s"]
            if s["entry"]:
                m["calls"] += 1
            m["py4j_calls"] += self.py4j.get(s["id"], 0)
        # layer-entry spans ordered by start, for the time fallback
        entries = sorted((s for s in self.spans if s["entry"] and s["end"]), key=lambda s: s["start"])
        starts = [s["start"] for s in entries]
        attributed = []
        for (app, jid), job in sorted(events["jobs"].items(), key=lambda kv: kv[1]["submit_s"]):
            span = None
            g = job["group"]
            if g and g.startswith("span-"):
                span = by_id.get(int(g[5:]))
            if span is None:
                i = bisect.bisect_right(starts, job["submit_s"]) - 1
                while i >= 0 and entries[i]["end"] < job["submit_s"]:
                    i -= 1
                span = entries[i] if i >= 0 else None
            if span is None or not counted(span):
                continue
            m = out[span["layer"]]
            m["jobs"] += 1
            for sid in job["stages"]:
                st = events["stages"].get(sid)
                if st and st["ran"]:
                    m["stages"] += 1
                    m["tasks"] += st["tasks"]
                    m["shuffle_bytes"] += st["shuffle_bytes"]
                    m["spill_bytes"] += st["spill_bytes"]
            attributed.append({"job": jid, "span": span["id"], "layer": span["layer"]})
        return {k: dict(v) for k, v in out.items()}, attributed
