"""Span recorder for the traced run.

Layers are timed from the outside: public functions of each layer
module are replaced by wrappers that record a span (name, layer, start,
end, parent, operation id). Every module attribute that is bound to the
same function object is replaced too, so call sites that imported the
function by name (``from .windows import grouped_prefix_sum``) are
covered. Spans stay in memory and are written when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: str | None = None
        self._stack: list[int] = []

    def open(self, name: str, layer: str) -> int:
        idx = len(self.spans)
        self.spans.append({
            "op": self.op_id, "name": name, "layer": layer,
            "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
        })
        self._stack.append(idx)
        return idx

    def close(self, idx: int, **extra) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self.spans[idx].update(extra)
        self._stack.pop()

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def wrap(self, fn, name: str, layer: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.open(name, layer)
            extra = {}
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    extra = on_result(out, args, kwargs)
                return out
            finally:
                tracer.close(idx, **extra)

        return wrapper

    def instrument(self, targets: dict, binders: list) -> None:
        """``targets`` maps layer -> list of (module, function names or
        None for every public function defined in the module, on_result).
        Each wrapped function is rebound in the defining module and in
        every module of ``binders`` that holds the same object."""
        for layer, entries in targets.items():
            for module, names, on_result in entries:
                if names is None:
                    names = [
                        n for n, f in vars(module).items()
                        if not n.startswith("_") and inspect.isfunction(f)
                        and f.__module__ == module.__name__
                    ]
                for n in names:
                    fn = getattr(module, n)
                    w = self.wrap(fn, f"{module.__name__.rsplit('.', 1)[-1]}.{n}",
                                  layer, on_result)
                    for mod in [module, *binders]:
                        for attr, val in list(vars(mod).items()):
                            if val is fn:
                                setattr(mod, attr, w)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def layer_times(self, ops: set[str]) -> dict[str, dict[str, float]]:
        """Per layer: total span time (outermost spans of the layer only)
        and self time (span minus the part its child spans cover), over
        the spans of operations in ``ops``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["op"] in ops:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["op"] not in ops:
                continue
            d = out.setdefault(s["layer"], {"total": 0.0, "self": 0.0, "calls": 0})
            dur = s["end"] - s["start"]
            d["self"] += dur - child[i]
            d["calls"] += 1
            p = s["parent"]
            while p is not None and self.spans[p]["layer"] != s["layer"]:
                p = self.spans[p]["parent"]
            if p is None:
                d["total"] += dur
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer
        self.idx: int | None = None
        self.extra: dict = {}

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer.open(self.name, self.layer)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer.close(self.idx, **self.extra)
        return False


def loaded_modules(prefix: str) -> list:
    return [
        m for name, m in list(sys.modules.items())
        if m is not None and (name == prefix or name.startswith(prefix + "."))
    ]
