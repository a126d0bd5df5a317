"""Span recorder installed around the package from outside it.

``Tracer.install`` wraps every public function defined in the
package's modules and rebinds every module-level name (and registry
dict entry) that holds the function, so calls made through
``from X import f`` bindings are traced too. A span is
``(name, start, end, parent, op)``; spans stay in memory and are
written out once, at the end of the run.

Span names are ``<layer>.<module>.<function>`` (``cli.run_bdc``,
``sources.xml_dbgap.render_data_tables``). The benchmark adds its own
spans for the operation (``op``), the query construction
(``construct``) and the timed sink (``action``).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "dug_data_ingest_spark"
LAYERS = (
    "cli",
    "queries",
    "plans",
    "sources",
    "operators",
    "ext",
    "functions",
    "streaming",
    "session",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    op: int


def _package_modules() -> list:
    pkg = importlib.import_module(PACKAGE)
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if info.name.endswith("__main__"):
            continue
        mods.append(importlib.import_module(info.name))
    return mods


def span_layer(name: str) -> str:
    return name.split(".", 1)[0]


def span_module(name: str) -> str:
    """``sources.xml_dbgap.parse_data_tables`` -> ``sources.xml_dbgap``."""
    parts = name.split(".")
    return ".".join(parts[:2]) if len(parts) > 2 else parts[0]


class Tracer:
    """Records nested spans while ``enabled``; a no-op pass-through
    otherwise, so the wrappers can stay installed for untraced passes."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._stack: list[int] = []

    # -- recording -------------------------------------------------------
    def _enter(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _exit(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._enter(name) if self.enabled else None
        try:
            yield
        finally:
            if idx is not None:
                self._exit(idx)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer._enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(idx)

        return traced

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        """Wrap every public function of every layer module and rebind
        each name and registry entry that refers to it."""
        mods = _package_modules()
        wrappers: dict[int, object] = {}
        for mod in mods:
            rel = mod.__name__[len(PACKAGE) + 1 :]
            if not rel or rel.split(".")[0] not in LAYERS:
                continue
            for attr, obj in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or id(obj) in wrappers
                ):
                    continue
                wrappers[id(obj)] = self._wrap(obj, f"{rel}.{attr}")
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrappers:
                    setattr(mod, attr, wrappers[id(obj)])
                elif isinstance(obj, dict):
                    for key, val in list(obj.items()):
                        if id(val) in wrappers:
                            obj[key] = wrappers[id(val)]

    # -- analysis ------------------------------------------------------------
    def self_times(self, spans: list[Span]) -> list[float]:
        """Span duration minus the time its direct children cover
        (children nest strictly: one thread, one stack)."""
        child = [0.0] * len(spans)
        index = {id(s): i for i, s in enumerate(spans)}
        for s in spans:
            if s.parent >= 0:
                p = self.spans[s.parent]
                if id(p) in index:
                    child[index[id(p)]] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(spans, child)]

    def innermost(self, spans: list[Span], t: float) -> Span | None:
        """Deepest span of ``spans`` whose interval holds instant ``t``."""
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def layer_metrics(
    tracer: Tracer, ops: set[int], job_times: dict[int, list[float]]
) -> dict[str, float]:
    """``<layer>.calls/self_s/jobs`` plus ``<layer>.<module>.self_s``
    over the spans of ``ops``. ``job_times`` maps an op id to the
    submission instants of the Spark jobs it started; a job counts for
    the layer of the innermost span open at its submission."""
    spans = [s for s in tracer.spans if s.op in ops]
    out: dict[str, float] = defaultdict(float)
    for s, self_s in zip(spans, tracer.self_times(spans)):
        layer = span_layer(s.name)
        if layer not in LAYERS:
            continue
        out[f"{layer}.calls"] += 1
        out[f"{layer}.self_s"] += self_s
        out[f"{span_module(s.name)}.self_s"] += self_s
    for op, times in job_times.items():
        op_spans = [s for s in spans if s.op == op]
        for t in times:
            s = tracer.innermost(op_spans, t)
            out[f"{span_layer(s.name) if s else 'op'}.jobs"] += 1
    return dict(out)
