"""In-memory spans around the package's layers, recorded from outside it.

``Tracer.install`` wraps every public function of each layer module and
rebinds every name that points at the original, in the package's modules and
in the benchmark's own (``from x import f`` bindings included, e.g.
``plans.pipeline.apply_scd_type2``). A span keeps its name, layer, start,
end, parent and run id, plus the Spark job id and codegen compile count at
both boundaries. A layer's self time is its spans' durations minus the time
their child spans cover; its jobs are counted the same way.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
import types
from collections import defaultdict

PACKAGE = "healthcare_rcm_etl_pipeline_spark"

# layer name -> module (relative to the package) whose public functions it owns
LAYER_MODULES = {
    "session": "session",
    "sources.readers": "sources.readers",
    "sources.sinks": "sources.sinks",
    "plans.pipeline": "plans.pipeline",
    "plans.standardize": "plans.standardize",
    "plans.model": "plans.model",
    "plans.analytics": "plans.analytics",
    "operators.quality": "operators.quality",
    "operators.keys": "operators.keys",
    "operators.scd2": "operators.scd2",
    "operators.clustering": "operators.clustering",
    "operators.graph": "operators.graph",
    "operators.dedup": "operators.dedup",
    "operators.corpus": "operators.corpus",
    "streaming.ingest": "streaming.ingest",
}


class Tracer:
    def __init__(self, counters, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[dict, str, object]] = []
        self.overhead_s = 0.0  # time spent reading counters at span boundaries

    def _probe(self) -> tuple[float, int, int]:
        t0 = time.perf_counter()
        jobs, codegen = self.counters.job_id(), self.counters.codegen_compiles()
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        return t1, jobs, codegen

    def begin(self, name: str, layer: str) -> int:
        start, jobs, codegen = self._probe()
        self.spans.append({
            "name": name, "layer": layer, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": start, "jobs0": jobs, "codegen0": codegen,
        })
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self._stack.pop()
        t0 = time.perf_counter()
        jobs, codegen = self.counters.job_id(), self.counters.codegen_compiles()
        span = self.spans[idx]
        span.update(end=t0, jobs1=jobs, codegen1=codegen)
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.begin(name, layer)
        try:
            yield
        finally:
            self.end(idx)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(f"{layer}.{fn.__name__}", layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        originals = {}
        for layer, rel in LAYER_MODULES.items():
            mod = sys.modules.get(f"{PACKAGE}.{rel}")
            if mod is None:
                __import__(f"{PACKAGE}.{rel}")
                mod = sys.modules[f"{PACKAGE}.{rel}"]
            for attr, obj in vars(mod).items():
                if (isinstance(obj, types.FunctionType) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__):
                    originals[id(obj)] = (obj, self._wrap(layer, obj))
        # module namespaces, and registries such as HEALTHCARE_QUERIES that
        # hold the functions as dict values
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith(PACKAGE) or name.startswith("rcmbench")):
                continue
            namespaces = [vars(mod)] + [v for v in vars(mod).values() if isinstance(v, dict)]
            for ns in namespaces:
                for key, obj in list(ns.items()):
                    hit = originals.get(id(obj)) if callable(obj) else None
                    if hit is not None and hit[0] is obj:
                        ns[key] = hit[1]
                        self._undo.append((ns, key, obj))

    def uninstall(self) -> None:
        for ns, key, obj in reversed(self._undo):
            ns[key] = obj
        self._undo.clear()

    def layer_totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Self seconds and self jobs per layer over spans[since:]."""
        child_s: dict[int, float] = defaultdict(float)
        child_jobs: dict[int, int] = defaultdict(int)
        for s in self.spans[since:]:
            if s["parent"] is not None and s["parent"] >= since:
                child_s[s["parent"]] += s["end"] - s["start"]
                child_jobs[s["parent"]] += s["jobs1"] - s["jobs0"]
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"s": 0.0, "jobs": 0})
        for i, s in enumerate(self.spans[since:], start=since):
            out[s["layer"]]["s"] += s["end"] - s["start"] - child_s[i]
            out[s["layer"]]["jobs"] += s["jobs1"] - s["jobs0"] - child_jobs[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
