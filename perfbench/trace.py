"""Spans for the traced run.

Spans nest workload -> pass -> query -> build/exec -> layer call and are
kept in memory until ``Tracer.dump``.  Layer calls are recorded by wrapping
every public function of each layer module and rebinding every module
attribute that refers to the original (the package re-exports and the
cross-module imports), so the package itself is unchanged and ``unwrap``
restores it.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
import types

from .workloads import LAYERS, PACKAGE


class Tracer:
    def __init__(self):
        self.spans = []
        self._stack = []

    def span(self, kind: str, name: str, **attrs):
        return _Span(self, kind, name, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer, kind, name, attrs):
        self.tracer, self.rec = tracer, dict(kind=kind, name=name, **attrs)

    def __enter__(self):
        t = self.tracer
        self.rec["id"] = len(t.spans)
        self.rec["parent"] = t._stack[-1]["id"] if t._stack else None
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        self.rec["t0"] = time.time() * 1000.0
        return self.rec

    def __exit__(self, *exc):
        self.rec["t1"] = time.time() * 1000.0
        self.tracer._stack.pop()


def _layer_functions():
    """(layer, module, name, function) for each public function defined in
    a layer module."""
    out = []
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        for name, fn in vars(mod).items():
            if (not name.startswith("_") and isinstance(fn, types.FunctionType)
                    and fn.__module__ == mod.__name__):
                out.append((layer, name, fn))
    return out


class LayerWrappers:
    """Install/uninstall the layer-call wrappers."""

    def __init__(self, tracer: Tracer):
        self.wrapped = {}
        for layer, name, fn in _layer_functions():
            self.wrapped[fn] = self._wrap(tracer, layer, name, fn)
        self._bound = []

    @staticmethod
    def _wrap(tracer, layer, name, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span("call", name, layer=layer):
                return fn(*args, **kwargs)
        return call

    def install(self) -> None:
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith(PACKAGE) or mname == "__spark_entry__"
                    or mname.startswith("perfbench")):
                continue
            for attr, val in list(vars(mod).items()):
                w = self.wrapped.get(val) if isinstance(val, types.FunctionType) else None
                if w is not None:
                    setattr(mod, attr, w)
                    self._bound.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in self._bound:
            setattr(mod, attr, val)
        self._bound = []
