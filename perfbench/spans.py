"""Span recorder for the traced run.

The library emits no trace of its own, so the benchmark wraps the public
functions of each layer module from outside: every call records a span
(name, layer, start, end, parent), and while a span is the innermost
open one its id is the SparkContext job group, so every Spark job the
call submits is attributed to it. Jobs submitted from other threads
carry no benchmark group and fall back to the innermost span open on
the main thread when they were submitted.

After the run, :meth:`Tracer.harvest` reads job, stage and SQL metrics
from Spark's status stores (the same stores ``tools/profile_query.py``
and ``tools/shuffle_bytes.py`` read) and folds everything into the
per-layer metrics named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "connect_server_spark"
# Layer modules whose public functions are wrapped. A package entry
# wraps every module under it; ``execution`` is narrowed to its stage
# boundary, the one chokepoint every composite goes through.
LAYERS = (
    "tables",
    "plans.filter_compiler",
    "pipeline",
    "operators",
    "execution",
    "storage",
    "sinks",
    "streaming",
)
ONLY = {"execution": ("stage_boundary",)}
OPERATOR_MODULES = (
    "curation",
    "dedup",
    "similarity",
    "retrieval",
    "text",
    "tokenizer",
    "packing",
    "clustering",
)


def _count_filters(args, kwargs) -> int:
    filters = kwargs.get("filters", args[1] if len(args) > 1 else None)
    if isinstance(filters, tuple):
        return 1
    return len(filters) if isinstance(filters, list) else 0


# Work counters recorded at the call boundary, keyed by qualified name.
COUNTERS = {"plans.filter_compiler.compile_filters": _count_filters}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    count: int = 0
    jobs: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


def layer_modules():
    """(layer name, module) for every module the trace wraps."""
    out = []
    for layer in LAYERS:
        mod = importlib.import_module(f"{PKG}.{layer}")
        out.append((layer, mod))
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__):
                sub = importlib.import_module(f"{mod.__name__}.{info.name}")
                out.append((f"{layer}.{info.name}", sub))
    return out


def public_functions(layer: str, mod):
    names = ONLY.get(layer) or getattr(mod, "__all__", None) or [
        n for n in vars(mod) if not n.startswith("_")
    ]
    for name in names:
        obj = getattr(mod, name, None)
        if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
            yield name, obj


class Tracer:
    """Wraps the layer functions while installed; keeps spans in memory."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._local.stack = self._main_stack
        self._patches: list[tuple[object, str, object, object]] = []
        self.spans: list[Span] = []
        self.roots: list[Span] = []

    # -- wrapping -------------------------------------------------------
    def install(self) -> None:
        originals = {}
        for layer, mod in layer_modules():
            for name, fn in public_functions(layer, mod):
                originals[id(fn)] = (fn, self._wrap(f"{layer}.{name}", layer, fn))
        # a module that imported a function by name holds its own
        # reference: patch every loaded module of the package whose
        # attribute is one of the originals
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patches.append((mod, attr, val, hit[1]))
        for mod, attr, _orig, wrapped in self._patches:
            setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for mod, attr, orig, _wrapped in self._patches:
            setattr(mod, attr, orig)
        self._patches = []

    def _wrap(self, qualname: str, layer: str, fn):
        counter = COUNTERS.get(qualname)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(qualname, layer)
            if counter is not None:
                span.count = counter(args, kwargs)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(span)
            # streaming factories return the foreachBatch function that
            # does the work: trace its calls as well
            if layer.startswith("streaming") and inspect.isfunction(result):
                return self._wrap(f"{qualname}.{result.__name__}", layer, result)
            return result

        return traced

    def _stack(self) -> list[Span]:
        """This thread's open spans. A worker thread (the library runs a
        few independent actions concurrently) starts its own stack under
        the main thread's innermost span."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        outer = stack or self._main_stack
        parent = outer[-1].id if outer else None
        with self._lock:  # a span's id is its index in self.spans
            span = Span(len(self.spans), name, layer, parent, time.time())
            self.spans.append(span)
        stack.append(span)
        self._sc.setJobGroup(span.group, name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        if stack:
            self._sc.setJobGroup(stack[-1].group, stack[-1].name)
        else:
            self._sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def root(self, name: str):
        """One benchmark operation: the root span of its calls and jobs."""
        span = self._open(name, "bench")
        self.roots.append(span)
        try:
            yield span
        finally:
            self._close(span)

    # -- harvest ---------------------------------------------------------
    def harvest(self) -> dict:
        """Attribute jobs to spans and fold metrics; returns
        ``{"metrics": {...}, "layers": {...}}`` with per-operation means."""
        store = self._sc._jsc.sc().statusStore()
        by_group = {s.group: s for s in self.spans}
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime() / 1000.0
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
            grp = j.jobGroup().get() if j.jobGroup().isDefined() else None
            jobs.append((int(j.jobId()), t0, t1, grp, [int(x) for x in _seq(j.stageIds())]))
        roots = self.roots
        traced = []
        for jid, t0, t1, grp, stages in jobs:
            root = next((r for r in roots if r.start - 0.002 <= t0 <= r.end + 0.002), None)
            if root is None:
                continue
            span = by_group.get(grp) if grp else None
            if span is None:
                span = self._innermost_at(t0, root)
            span.jobs.append(jid)
            traced.append((jid, t0, t1, stages, span))

        gw = self._sc._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        stage_rows = {}
        for _jid, _t0, _t1, stages, _span in traced:
            for sid in stages:
                if sid in stage_rows:
                    continue
                agg = dict.fromkeys(_STAGE_FIELDS, 0.0)
                agg["completed"] = 0
                for sd in _seq(store.stageData(sid, False, None, False, empty)):
                    for key, getter in _STAGE_FIELDS.items():
                        agg[key] += float(getattr(sd, getter)())
                    if str(sd.status()) == "COMPLETE":
                        agg["completed"] += 1
                stage_rows[sid] = agg

        n_ops = max(len(roots), 1)
        layers: dict[str, dict] = {}
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + (s.end - s.start)
        for s in self.spans:
            row = layers.setdefault(
                s.layer,
                {"calls": 0, "incl_s": 0.0, "self_s": 0.0, "jobs": 0, "count": 0},
            )
            row["calls"] += 1
            # concurrent children can cover more than the parent's wall
            row["self_s"] += max(0.0, (s.end - s.start) - children.get(s.id, 0.0))
            if not self._has_layer_ancestor(s):
                row["incl_s"] += s.end - s.start
            row["jobs"] += len(s.jobs)
            row["count"] += s.count
        for row in layers.values():
            for k in row:
                row[k] = row[k] / n_ops

        def stage_sum(key: str, spans=None) -> float:
            sids = {
                sid
                for _j, _a, _b, stages, span in traced
                if spans is None or span.layer in spans
                for sid in stages
            }
            return sum(stage_rows[sid][key] for sid in sids) / n_ops

        def layer(name: str, key: str) -> float:
            return layers.get(name, {}).get(key, 0.0)

        m = {
            "spark.driver_only_s": self._driver_only(traced) / n_ops,
            "spark.jobs": len(traced) / n_ops,
            "spark.stages": sum(r["completed"] for r in stage_rows.values()) / n_ops,
            "spark.executor_run_s": stage_sum("run_ms") / 1000.0,
            "spark.executor_cpu_s": stage_sum("cpu_ns") / 1e9,
            "spark.gc_s": stage_sum("gc_ms") / 1000.0,
            "spark.shuffle_read_bytes": stage_sum("shuffle_read"),
            "spark.shuffle_write_bytes": stage_sum("shuffle_write"),
            "spark.input_bytes": stage_sum("input"),
            "spark.spill_bytes": stage_sum("spill_mem") + stage_sum("spill_disk"),
            "spark.python_bytes_sent": self._python_bytes(roots) / n_ops,
            "execution.boundaries": layer("execution", "calls"),
            "execution.boundary_s": layer("execution", "incl_s"),
            "filter_compiler.compile_s": layer("plans.filter_compiler", "incl_s"),
            "filter_compiler.filters": layer("plans.filter_compiler", "count"),
            "tables.load_s": layer("tables", "incl_s"),
            "tables.load_calls": layer("tables", "calls"),
            "pipeline.submit_s": layer("pipeline.submit", "incl_s"),
            "pipeline.flow_s": layer("pipeline.flow", "incl_s"),
            "storage.s": layer("storage", "incl_s"),
            "storage.bytes_written": stage_sum("output", {"storage"}),
            "storage.files_written": self._files_written(traced, {"storage"}) / n_ops,
            "sinks.s": layer("sinks", "incl_s"),
            "sinks.bytes_written": stage_sum("output", {"sinks"}),
            "streaming.s": sum(
                v["incl_s"] for k, v in layers.items() if k.startswith("streaming.")
            ),
        }
        for op in OPERATOR_MODULES:
            m[f"operators.{op}_s"] = layer(f"operators.{op}", "self_s")
            m[f"operators.{op}_jobs"] = layer(f"operators.{op}", "jobs")
        return {"metrics": m, "layers": layers, "ops": len(roots)}

    def _has_layer_ancestor(self, s: Span) -> bool:
        p = s.parent
        while p is not None:
            if self.spans[p].layer == s.layer:
                return True
            p = self.spans[p].parent
        return False

    def _innermost_at(self, t: float, root: Span) -> Span:
        best = root
        for s in self.spans[root.id:]:
            if s.start > root.end:
                break
            if s.start <= t <= s.end and s.start >= best.start:
                best = s
        return best

    def _driver_only(self, traced) -> float:
        """Root-span wall time during which no Spark job was running."""
        total = 0.0
        for r in self.roots:
            ivs = sorted(
                (max(t0, r.start), min(t1, r.end))
                for _j, t0, t1, _st, _sp in traced
                if t1 >= r.start and t0 <= r.end
            )
            covered, cur0, cur1 = 0.0, None, None
            for a, b in ivs:
                if cur1 is None or a > cur1:
                    if cur1 is not None:
                        covered += cur1 - cur0
                    cur0, cur1 = a, b
                else:
                    cur1 = max(cur1, b)
            if cur1 is not None:
                covered += cur1 - cur0
            total += (r.end - r.start) - covered
        return total

    def _python_bytes(self, roots) -> float:
        return self._sql_metric(roots, ("Python", "Pandas", "Arrow"), "data sent to Python workers")

    def _files_written(self, traced, layers) -> float:
        jids = {j for j, _a, _b, _s, span in traced if span.layer in layers}
        if not jids:
            return 0.0
        return self._sql_metric(self.roots, ("Write", "Insert"), "number of written files", jids)

    def _sql_metric(self, roots, node_keys, metric, jids=None) -> float:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            t = e.submissionTime() / 1000.0
            if not any(r.start - 0.002 <= t <= r.end + 0.002 for r in roots):
                continue
            if jids is not None:
                ej = e.jobs().keySet().iterator()
                mine = False
                while ej.hasNext():
                    if int(ej.next()) in jids:
                        mine = True
                if not mine:
                    continue
            eid = e.executionId()
            vals = None
            nodes = sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                n = nodes.next()
                if not any(k in n.name() for k in node_keys):
                    continue
                ms = n.metrics().iterator()
                while ms.hasNext():
                    mt = ms.next()
                    if mt.name() != metric:
                        continue
                    if vals is None:
                        vals = sql.executionMetrics(eid)
                    v = vals.get(mt.accumulatorId())
                    if v.isDefined():
                        total += _parse_metric(str(v.get()))
        return total


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input": "inputBytes",
    "output": "outputBytes",
    "shuffle_read": "shuffleReadBytes",
    "shuffle_write": "shuffleWriteBytes",
    "spill_mem": "memoryBytesSpilled",
    "spill_disk": "diskBytesSpilled",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_metric(text: str) -> float:
    """First number of a formatted SQL metric ('8.5 KiB (...)', '1,000')."""
    m = re.match(r"\s*(?:total[^\n]*\n)?\s*([\d,.]+)\s*([KMGT]iB|B)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)

