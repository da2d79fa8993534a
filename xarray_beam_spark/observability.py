"""Pipeline counters (reference ``core.py:42-53`` Beam metrics).

Spark accumulators play the role of Beam's ``Metrics.counter``: executors
increment inside Arrow UDFs, values surface on the driver after each
action. One registry per SparkContext; ``get_counters`` creates every
``KNOWN`` counter on first use.

The counts are at least once. Every counter (``read.*``, ``write.*``,
``map_blocks.*``, ``split.pieces``, ``consolidate.groups``) is
incremented inside a transformation, and Spark may apply a task's update
there more than once: when the task or its stage runs again (a stage
recomputed after lost shuffle output, speculation) and when a second
action re-evaluates an input that is not persisted. A count is exact
only for a run in which each task ran once.

Usage::

    from xarray_beam_spark import observability as obs
    counters = obs.get_counters(spark)
    ds.to_zarr(...)           # engine stages increment as they run
    print(counters.snapshot())  # {'write.chunks': 42, 'write.bytes': ..., ...}
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_ATTR = "_xbs_counters"

# Names mirroring the reference's counter vocabulary
# (read: core.py:533-535; write: zarr.py:778-781; map: dataset.py:344-348).
KNOWN = (
    "read.chunks",
    "read.bytes",
    "write.chunks",
    "write.bytes",
    "map_blocks.inputs",
    "map_blocks.input_bytes",
    "map_blocks.output_bytes",
    "consolidate.groups",
    "split.pieces",
)


class Counters:
    def __init__(self, spark: "SparkSession"):
        sc = spark.sparkContext
        self._acc = {name: sc.accumulator(0) for name in KNOWN}

    def acc(self, name: str):
        """The raw accumulator (capture it in a UDF closure; executor-side
        ``+=`` flows back with task results)."""
        return self._acc[name]

    def snapshot(self) -> dict[str, int]:
        return {name: acc.value for name, acc in self._acc.items() if acc.value}

    def reset(self) -> None:
        for acc in self._acc.values():
            acc._value = 0  # driver-side reset between pipelines


def get_counters(spark: "SparkSession") -> Counters:
    sc = spark.sparkContext
    existing = getattr(sc, _ATTR, None)
    if existing is None:
        existing = Counters(spark)
        setattr(sc, _ATTR, existing)
    return existing
