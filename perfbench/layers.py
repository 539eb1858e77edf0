"""Per-layer measurement from outside the engine: span wrappers around the
public functions of each ``kioss_spark`` layer, a py4j command counter,
Catalyst phase times and a reader for Spark's in-process status store.

Nothing here edits engine code.  ``Tracer.install`` swaps wrappers in at run
time: for each wrapped public function, every identical function object found
in a loaded ``kioss_spark.*`` module is replaced, so names bound by
``from ... import`` are caught too.  ``uninstall`` puts the originals back.
Wrappers carry the original's ``__module__``/``__qualname__``, so cloudpickle
still ships a wrapped function to Python workers by reference, where the
worker imports the plain original (functions that only run inside UDFs on
workers are therefore not traced).

Spans stay in memory.  A span's self time is its duration minus the time
covered by its child spans.  A Spark job is attributed to the innermost span
open at its submission time.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import types

#: traced layer -> module; every public function defined in the module is
#: wrapped (``stream`` wraps the public methods of the ``Stream`` class)
MODULE_LAYERS = {
    "kioss_spark.sources": "sources",
    "kioss_spark.operators.dedup": "operators.dedup",
    "kioss_spark.operators.graph": "operators.graph",
    "kioss_spark.operators.similarity": "operators.similarity",
    "kioss_spark.operators.retrieval": "operators.retrieval",
    "kioss_spark.operators.text": "operators.text",
    "kioss_spark.operators.curation": "operators.curation",
    "kioss_spark.operators.skew": "operators.skew.read",
}

#: skew functions that write or maintain table layout and indexes; every
#: other public skew function is a read
SKEW_WRITE = frozenset({
    "manifest_sink", "manifest_merge", "manifest_delete", "compact_manifest",
    "vacuum", "compact_parquet", "compact_incremental", "write_bucketed",
    "stats_index", "stats_index_merge", "member_index", "member_index_merge",
    "manifest_rename_column", "manifest_drop_column", "manifest_restore",
    "manifest_clone",
})

#: every span layer, in report order
SPAN_LAYERS = (
    "stream", "operators.dedup", "operators.graph", "operators.similarity",
    "operators.retrieval", "operators.text", "operators.curation",
    "operators.skew.write", "operators.skew.read",
)


def _public_functions(mod) -> dict[str, types.FunctionType]:
    return {
        name: obj for name, obj in vars(mod).items()
        if isinstance(obj, types.FunctionType) and not name.startswith("_")
        and obj.__module__ == mod.__name__
    }


class Tracer:
    """Collects spans and py4j command counts while installed."""

    def __init__(self, gateway_client):
        self.client = gateway_client
        self.spans: list[list] = []  # [layer, start, end, self_s]
        self._stack: list[list] = []  # [span index, child time]
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.top_s = 0.0  # time inside outermost spans
        self.counting = False
        self._restore: list[tuple] = []
        # job submission times are wall-clock milliseconds
        self._wall = time.time() - time.perf_counter()

    # -- spans -------------------------------------------------------------
    def _wrap(self, fn, layer: str, returns_sink: bool = False):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            stack = tracer._stack
            stack.append([len(tracer.spans), 0.0])
            tracer.spans.append([layer, time.perf_counter(), None, None])
            try:
                out = fn(*args, **kwargs)
            finally:
                idx, child = stack.pop()
                rec = tracer.spans[idx]
                rec[2] = time.perf_counter()
                dur = rec[2] - rec[1]
                rec[3] = dur - child
                if stack:
                    stack[-1][1] += dur
                else:
                    tracer.top_s += dur
            if returns_sink and callable(out):
                out = tracer._wrap(out, layer)
            return out

        return span

    def _targets(self) -> list[tuple]:
        """(owner, attribute, original, layer, returns_sink) to wrap."""
        out = []
        for modname, layer in MODULE_LAYERS.items():
            mod = sys.modules.get(modname)
            if mod is None:
                continue
            for name, fn in _public_functions(mod).items():
                lay = layer
                if modname.endswith(".skew") and name in SKEW_WRITE:
                    lay = "operators.skew.write"
                out.append((fn, lay, name.endswith("_sink")))
        wrapped = {id(fn): (fn, lay, sink) for fn, lay, sink in out}
        targets = []
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == "kioss_spark" or modname.startswith("kioss_spark.")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrapped.get(id(val))
                if hit is not None and hit[0] is val:
                    targets.append((mod, attr) + hit)
        stream = sys.modules.get("kioss_spark.stream")
        if stream is not None:
            cls = stream.Stream
            for attr, val in list(vars(cls).items()):
                methods = (classmethod, staticmethod, types.FunctionType)
                if not attr.startswith("_") and isinstance(val, methods):
                    targets.append((cls, attr, val, "stream", False))
        return targets

    def install(self) -> None:
        cache: dict[int, object] = {}
        for owner, attr, orig, layer, sink in self._targets():
            if isinstance(orig, (classmethod, staticmethod)):
                new = type(orig)(self._wrap(orig.__func__, layer, sink))
            else:
                new = cache.get(id(orig))
                if new is None:
                    new = cache[id(orig)] = self._wrap(orig, layer, sink)
            self._restore.append((owner, attr, orig))
            setattr(owner, attr, new)
        orig_send = self.client.send_command
        tracer = self

        def send_command(command, *args, **kwargs):
            if not tracer.counting or command.startswith("m\n"):
                return orig_send(command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig_send(command, *args, **kwargs)
            finally:
                tracer.py4j_s += time.perf_counter() - t0
                tracer.py4j_calls += 1

        self.client.send_command = send_command
        self._restore.append((self.client, "send_command", None))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(owner, attr)  # the instance attribute shadowing the class method
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    def reset(self) -> None:
        self.spans.clear()
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.top_s = 0.0

    def wall(self, perf: float) -> float:
        return perf + self._wall


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds of ``df``'s own query
    execution.  Reading ``executedPlan`` forces the two lazy phases; it runs
    no Spark job."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        ph = phases.get(key)
        out[key] = ph.get().durationMs() / 1000.0 if ph.isDefined() else 0.0
    return out


def _mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return mapper


def status_snapshot(sc) -> tuple[list[dict], dict[int, dict]]:
    """All retained jobs and stages from the status store, as dicts.  Each
    list crosses py4j once, serialized by Jackson with the Scala module, as
    Spark's REST API serializes the same classes."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = _mapper(jvm)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = json.loads(mapper.writeValueAsString(store.stageList(None, *defaults)))
    by_id: dict[int, dict] = {}
    for st in stages:
        # keep the latest attempt of each stage
        prev = by_id.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            by_id[st["stageId"]] = st
    return jobs, by_id


def job_interval(job: dict) -> tuple[float, float] | None:
    """(submitted, completed) wall seconds; the mapper writes dates as epoch
    milliseconds."""
    start, end = job.get("submissionTime"), job.get("completionTime")
    if start is None or end is None:
        return None
    return start / 1000.0, end / 1000.0


def union_length(intervals) -> float:
    """Seconds covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def innermost_layer(tracer: Tracer, t_submit: float) -> str | None:
    """Layer of the innermost span open at wall time ``t_submit`` (the status
    store keeps milliseconds, hence the tolerance)."""
    best, best_start = None, None
    for layer, start, end, _ in tracer.spans:
        ws, we = tracer.wall(start), tracer.wall(end)
        if ws <= t_submit + 0.001 and t_submit <= we and (best_start is None or ws > best_start):
            best, best_start = layer, ws
    return best
