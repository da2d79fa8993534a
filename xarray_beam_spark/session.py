"""SparkSession factory tuned for chunked-array workloads.

Local testing runs ``local[N]``; the configuration is chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime partition
coalescing + skew-join splitting), Arrow enabled for the Python UDF surface,
and shuffle partition counts sized for the test scale factor while AQE
re-plans for larger inputs. The JVM talks to Python (UDF workers, the
worker daemon, the accumulator server, ``createDataFrame`` from local data)
over Unix domain sockets: on loopback TCP, Nagle's algorithm meeting a
delayed ACK held every Python task ~40 ms before it could read its input.

The same module holds the session store (``memo``, ``persist_scoped``,
``unpersist_checkpoint``, ``reset``, ``snapshot``): the one cache and
persist lifecycle of the driver, scoped to the SparkContext.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import socket
import sys
import tempfile
import weakref
from collections import OrderedDict
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "xarray-beam-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or min(os.cpu_count() or 4, 32)
    from xarray_beam_spark.shipping import runtime_sql_conf

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Chunk payloads are 10-100MB binary cells; keep Arrow batches small
        # in chunk-row stages (the engine also repartitions by bytes).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # local[N] runs the whole engine in the driver JVM: shuffle buffers
        # for chunk payloads + N concurrent Arrow streams need real heap,
        # or GC thrash dominates wide stages (machine has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
    )
    sock_dir = _socket_dir()
    if sock_dir is not None:
        builder = (
            builder.config("spark.python.unix.domain.socket.enabled", "true")
            .config("spark.python.unix.domain.socket.dir", sock_dir)
        )
    # shared runtime-SQL table (see shipping.runtime_sql_conf): applied at
    # build time here, and by tune_session on vanilla/driver sessions
    for key, value in runtime_sql_conf(cpus):
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    path = sc._accumulatorServer.server_address
    if isinstance(path, str) and not hasattr(sc, "_xbs_socket_reaper"):
        # stop() removes the accumulator server's socket; a process that
        # exits without stopping its context would leave it behind
        sc._xbs_socket_reaper = weakref.finalize(sc, _remove_quietly, path)
    return spark


def _remove_quietly(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


# Spark names each socket ``<dir>/.<uuid4>.sock``: the dir plus 43 bytes,
# which must fit ``sun_path`` with its terminating NUL (108 bytes on Linux,
# 104 on the BSDs and macOS).
_SOCK_NAME_BYTES = len(f"/.{'0' * 36}.sock")
_SUN_PATH_BYTES = 108 if sys.platform.startswith("linux") else 104


def _socket_dir() -> str | None:
    """The first of ``tempfile.gettempdir()`` (which honours ``TMPDIR``) and
    ``/tmp`` that is a writable directory in which Spark's socket names fit;
    None, and so Spark's loopback TCP, only without ``AF_UNIX`` or when
    neither fits (a longer path fails the SparkContext in its accumulator
    server: ``OSError: AF_UNIX path too long``)."""
    if not hasattr(socket, "AF_UNIX"):
        return None
    for d in (tempfile.gettempdir(), "/tmp"):
        if (
            len(os.fsencode(d)) + _SOCK_NAME_BYTES < _SUN_PATH_BYTES
            and os.path.isdir(d)
            and os.access(d, os.W_OK | os.X_OK)
        ):
            return d
    return None


# ---------------------------------------------------------------------------
# The session store: every driver-side cache and lazily released persist
# ---------------------------------------------------------------------------
#
# Kept on the SparkContext (as observability.get_counters keeps counters),
# so a restarted context starts empty and a stopped one is not pinned. A
# fixture stays until evicted or process exit; an ephemeral entry is work
# under test, released by reset(). Past MAX_ENTRIES the least recently
# used entry is evicted, which runs its release.

MAX_ENTRIES = 512
_ATTR = "_xbs_store"
_CONTEXTS: "weakref.WeakSet[SparkContext]" = weakref.WeakSet()


def _entries(sc) -> OrderedDict:
    entries = getattr(sc, _ATTR, None)
    if entries is None:
        entries = OrderedDict()  # key -> (value, release, ephemeral), LRU first
        setattr(sc, _ATTR, entries)
        _CONTEXTS.add(sc)
        # registered last, so it runs before the exit hook of the Java
        # gateway launched for this context (an unpersist needs the JVM)
        atexit.unregister(_release_all)
        atexit.register(_release_all)
    return entries


def _release(entries: OrderedDict, keys) -> None:
    for key in list(keys):
        value, release, _ = entries.pop(key)
        if release is not None:
            try:
                release(value)
            except Exception:  # noqa: BLE001 — e.g. the context is stopped
                pass


def _release_all() -> None:
    """The store's single exit hook: release every entry still held."""
    for sc in list(_CONTEXTS):
        _release(getattr(sc, _ATTR), list(getattr(sc, _ATTR)))


def memo(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], Any],
    release: Callable[[Any], None] | None = None,
    ephemeral: bool = False,
) -> Any:
    """``build()``, memoized under ``key`` in the store of ``spark``'s
    context; ``release(value)`` runs on eviction, at exit, and for an
    ``ephemeral`` entry on ``reset()``."""
    entries = _entries(spark.sparkContext)
    hit = entries.get(key)
    if hit is not None:
        entries.move_to_end(key)
        return hit[0]
    value = build()
    if release is not None and isinstance(value, str):
        release = _also_on_collect(spark.sparkContext, release, value)
    entries[key] = (value, release, ephemeral)
    _release(entries, list(entries)[: max(0, len(entries) - MAX_ENTRIES)])
    return value


def _also_on_collect(sc, release: Callable[[str], None], path: str) -> Callable[[str], None]:
    """``release`` of an entry whose value is a path. The dir outlives its
    context, so it is also released when the context is collected first,
    which the exit hook (live contexts only) would miss. The finalizer
    holds the path and not the context, and the entry's release detaches
    it. A persisted frame gets no finalizer: its cache goes with the
    context, and holding the frame would keep the context alive."""
    fin = weakref.finalize(sc, release, path)
    fin.atexit = False  # at exit, the exit hook releases live contexts

    def release_once(value: str) -> None:
        if fin.detach() is not None:
            release(value)

    return release_once


def persist_scoped(df: DataFrame) -> DataFrame:
    """``df.persist()``, unpersisted by the next ``reset()``: for a frame
    that a lazily returned result reads, so its builder cannot unpersist it."""
    return memo(
        df.sparkSession, ("persist", id(df)), df.persist,
        release=DataFrame.unpersist, ephemeral=True,
    )


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD whose blocks hold a ``localCheckpoint``'ed frame, or
    None for any other frame. ``df.rdd`` would build a NEW Python-facing
    pipeline; the checkpointed RDD is the one the analyzed plan's
    ``LogicalRDD`` node wraps."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" else None


def unpersist_checkpoint(df: DataFrame) -> None:
    """Release the block-manager copy behind a ``localCheckpoint``'ed
    frame that nothing reads any more (a superseded round, say). Its
    blocks are the only copy, so a frame built over it fails afterwards;
    for that reason a checkpointed store entry gets no release, and the
    ContextCleaner frees its blocks once no frame refers to them."""
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)


def reset() -> None:
    """Release every ephemeral entry of the active context; fixtures stay.
    No-op without an active context."""
    entries = getattr(SparkContext._active_spark_context, _ATTR, None)
    if entries:
        _release(entries, [k for k, (_, _, eph) in entries.items() if eph])


def snapshot(spark: SparkSession) -> dict:
    """The store's entries (key, ephemeral, ``cached_bytes`` of the frames
    each one persists or checkpoints, from the RDD storage info) and the
    byte totals."""
    from xarray_beam_spark.dataset import Dataset

    sc = spark.sparkContext
    sizes = {i.id(): i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()}
    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached_bytes(value) -> int:
        if isinstance(value, tuple):
            return sum(map(cached_bytes, value))
        df = value.df if isinstance(value, Dataset) else value
        if not isinstance(df, DataFrame):
            return 0
        hit = cache.lookupCachedData(df._jdf)
        if not hit.isDefined():
            rdd = _checkpoint_rdd(df)
            return sizes.get(rdd.id(), 0) if rdd is not None else 0
        builder = hit.get().cachedRepresentation().cacheBuilder()
        loaded = builder.isCachedColumnBuffersLoaded()
        return sizes.get(builder.cachedColumnBuffers().id(), 0) if loaded else 0

    entries = [
        {"key": repr(key)[:160], "ephemeral": eph, "cached_bytes": cached_bytes(value)}
        for key, (value, _, eph) in _entries(sc).items()
    ]
    return {
        "entries": entries,
        "cached_bytes": sum(e["cached_bytes"] for e in entries),
        "ephemeral_bytes": sum(e["cached_bytes"] for e in entries if e["ephemeral"]),
    }
