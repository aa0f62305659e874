"""Span tracing around the package's layer boundaries, installed from
outside the package and only in traced runs.

``Tracer.install`` wraps every public function defined in the named
modules and rebinds EVERY reference to it in the package's loaded
modules, so callers that did ``from .x import f`` at import time call
the wrapper too. Wrappers keep the original's module and qualified
name, so cloudpickle still ships functions to executors by reference
and the executors run the untouched originals; spans are driver-side.

Spans (name, start, end, parent, execution id, thread) stay in memory
and are written out once at the end. A span's self time is its
duration minus its children's; a span opened on a thread with no open
span (a foreachBatch callback) is parented to the current execution.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time

MARK = "_perfbench_span"


def import_all(package: str) -> None:
    """Import every submodule so lazy imports cannot pull in a module
    after the wrappers are bound."""
    pkg = importlib.import_module(package)
    for info in pkgutil.walk_packages(pkg.__path__, package + "."):
        importlib.import_module(info.name)


class Tracer:
    def __init__(self, package: str):
        self.package = package
        self.spans: list[dict] = []
        self.exec_id: int | None = None
        self.exec_span: int | None = None
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._bindings: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> tuple[int, int | None, float]:
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else self.exec_span
        stack.append(sid)
        return sid, parent, time.perf_counter()

    def end(self, token: tuple[int, int | None, float], name: str) -> None:
        sid, parent, t0 = token
        t1 = time.perf_counter()
        self._stack().pop()
        self.spans.append(
            {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent,
             "exec": self.exec_id, "thread": threading.get_ident()}
        )

    @contextlib.contextmanager
    def span(self, name: str):
        token = self.begin(name)
        try:
            yield token[0]
        finally:
            self.end(token, name)

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            token = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(token, name)

        setattr(wrapper, MARK, name)
        return wrapper

    def install(self, layers: dict[str, str]) -> int:
        """Wrap the public functions of each module in ``layers`` (span
        prefix -> module name) and rebind every reference. Returns the
        number of bindings replaced."""
        import_all(self.package)
        originals: dict[int, object] = {}
        for prefix, modname in layers.items():
            mod = sys.modules[modname]
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not inspect.isgeneratorfunction(fn)
                ):
                    originals[id(fn)] = (fn, self._wrap(fn, f"{prefix}.{attr}"))
        for name, mod in list(sys.modules.items()):
            if not (name == self.package or name.startswith(self.package + ".")):
                continue
            for attr, v in list(vars(mod).items()):
                hit = originals.get(id(v))
                if hit is not None and hit[0] is v:
                    self._bindings.append((mod, attr, v))
                    setattr(mod, attr, hit[1])
        return len(self._bindings)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._bindings):
            setattr(mod, attr, fn)
        self._bindings.clear()

    # -- reports -----------------------------------------------------------

    def self_times(self, spans: list[dict] | None = None) -> dict[str, tuple[int, float]]:
        """name -> (calls, self seconds)."""
        spans = self.spans if spans is None else spans
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, tuple[int, float]] = {}
        for s in spans:
            n, t = out.get(s["name"], (0, 0.0))
            out[s["name"]] = (n + 1, t + max(0.0, s["end"] - s["start"] - child.get(s["id"], 0.0)))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
