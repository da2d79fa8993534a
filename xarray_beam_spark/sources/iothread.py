"""In-task IO threading for latency-bound stores.

The reference hides object-store latency by threading per-variable reads
and writes inside each task (``core.py:528-530``, ``zarr.py:629``, a
16-wide ``ThreadMap``, ``threadmap.py:111``). Same idea here, as a tiny
seam both the library read/write paths and the ``xbs_zarr`` DataSource
share:

- ``io_width(path)`` — how many IO threads a store warrants: 1 for the
  local filesystem (the OS page cache makes threading pure overhead and
  the GIL makes it a loss), ``16`` for backends marked
  ``latency_bound`` (HTTP/S3-style per-request latency). The store
  decides; there is no override.
- ``thread_map(fn, items, width)`` — map with a bounded thread pool.
  Worker threads are flagged so NESTED thread_map calls (per-variable →
  per-chunk) run serial instead of multiplying 16×16 threads.

Python threads work here because chunk IO releases the GIL in every hot
segment: socket reads, file IO, zlib (de)compression, and numpy copies.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable, Sequence, TypeVar

T = TypeVar("T")
R = TypeVar("R")

DEFAULT_WIDTH = 16

_local = threading.local()


def io_width(path: str) -> int:
    """IO-thread width appropriate for ``path``'s storage backend."""
    from xarray_beam_spark.sources import stores

    store, _ = stores.resolve(path)
    return DEFAULT_WIDTH if getattr(store, "latency_bound", False) else 1


def thread_map(fn: Callable[[T], R], items: Iterable[T], width: int) -> list[R]:
    """``[fn(x) for x in items]`` with up to ``width`` concurrent calls.

    Results keep input order; the first exception propagates (remaining
    futures are cancelled-or-drained by the pool shutdown). Inside a
    worker thread of another ``thread_map`` the call degrades to the
    serial loop, so composed levels (variables × chunks) never multiply
    thread counts."""
    seq: Sequence[T] = list(items)
    if width <= 1 or len(seq) <= 1 or getattr(_local, "in_pool", False):
        return [fn(x) for x in seq]

    def run(x: T) -> R:
        _local.in_pool = True
        return fn(x)

    with ThreadPoolExecutor(max_workers=min(width, len(seq))) as ex:
        return list(ex.map(run, seq))
