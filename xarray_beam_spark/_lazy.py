"""Import-on-first-use module proxies for worker-startup-critical paths.

Spark Python workers fork from a daemon that pre-imports numpy but NOT
pandas/pyarrow, and importing any module of this package executed the
package ``__init__``'s eager re-export chain, which pulled pandas
(~0.4 s) + pyarrow.compute into the worker whether or not the task's
code touches them. Deferring those imports to first use (guide §4.5's
"initialise heavyweight state once", applied to imports) trims the
first-task latency of every executor worker that unpickles a closure
referencing this package, and the startup of every driver-side tool
(bench / oracle / profile scripts) whose path never reaches pandas.

Measured boundaries of the win (r15, traced with an import probe): the
Python DataSource *planner* forks (create_data_source, pushdown,
plan_read) receive their plan objects fully pickled BY VALUE and do not
import this package at all, so their per-query floor is fork + RPC
machinery, unaffected either way; executor task workers are reused
(``spark.python.worker.reuse``), so they pay the remaining deferred
imports once per worker, same as before, just later and smaller.
"""

from __future__ import annotations

import importlib


def _import(name: str):
    """Unpickle target for :class:`LazyModule` (module-level so pickle
    can reference it by name)."""
    return importlib.import_module(name)


class LazyModule:
    """Module proxy that imports the real module on first attribute
    access and swaps itself out of the owning module's globals, so
    steady-state access is a plain module attribute lookup.

    Usage (module scope)::

        pd = LazyModule("pandas", globals(), "pd")

    Safe wherever the name is only *used* inside functions/methods:
    ``from __future__ import annotations`` keeps annotations lazy, and
    cloudpickle serializes global references by name, so unpickling in a
    worker re-resolves through the proxy there too.
    """

    __slots__ = ("_name", "_owner", "_alias")

    def __init__(self, name: str, owner_globals: dict, alias: str) -> None:
        self._name = name
        self._owner = owner_globals
        self._alias = alias

    def _load(self):
        mod = importlib.import_module(self._name)
        # replace the proxy so subsequent LOAD_GLOBALs hit the module
        self._owner[self._alias] = mod
        return mod

    def __getattr__(self, attr: str):
        if attr.startswith("_") and attr in LazyModule.__slots__:
            # slot not yet populated (e.g. mid-unpickle): recursing into
            # _load here would loop forever on self._name
            raise AttributeError(attr)
        return getattr(self._load(), attr)

    def __reduce__(self):
        # Closures defined inside functions (mapInArrow bodies etc.) are
        # pickled BY VALUE by cloudpickle, including the module globals
        # they reference — so a captured proxy must serialize as "import
        # the real module on the other side", never as a proxy carrying a
        # copy of its owner module's globals dict.
        return (_import, (self._name,))

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"<LazyModule {self._name!r} (not yet imported)>"
