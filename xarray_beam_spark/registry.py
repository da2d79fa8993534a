"""Central query registry: merges every module's query/oracle tables.

``__spark_entry__.py`` (the driver contract) is a thin shim over this.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# The driver certifies ~50 queries per round, in registry order, and
# writes each round's rows to CORRECTNESS_rNN.json next to the package.
# Registry order is stalest evidence first: a query's round is the
# highest N whose row in CORRECTNESS_rNN.json matched rows, schema and
# hash with no error, and a query with no such row has round 0 and leads.
# A failed row never counts, but a later green row does. Each round's
# committed file refreshes the order, so the oldest evidence is always
# the next to be re-certified.


def registrar(table: dict) -> Callable:
    """The ``@register(name, oracle)`` decorator of one module: it files
    the query function under ``name`` in that module's ``table``."""

    def register(name: str, oracle: str | None):
        def deco(fn):
            table[name] = (fn, oracle)
            return fn

        return deco

    return register


def _certified_rounds(root: Path = Path(__file__).resolve().parents[1]) -> dict[str, int]:
    rounds: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for name, row in json.loads(path.read_text()).items():
            green = all(row.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
            if green and row.get("err") is None:
                rounds[name] = max(rounds.get(name, 0), int(m.group(1)))
    return rounds


def _collect() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    merged: dict[str, tuple[Callable, str | None]] = {}
    import xarray_beam_spark.tabular as tabular

    # module order breaks ties between queries of one certified round
    modules = [tabular]
    for modname in (
        "xarray_beam_spark.functions.text",
        "xarray_beam_spark.operators.dedup",
        "xarray_beam_spark.operators.corpus",
        "xarray_beam_spark.operators.temporal",
        "xarray_beam_spark.operators.simsearch",
        "xarray_beam_spark.operators.sketches",
        "xarray_beam_spark.operators.bpe",
        "xarray_beam_spark.operators.multimodal",
        "xarray_beam_spark.streaming.events_stream",
        "xarray_beam_spark.grid_queries",
    ):
        try:
            mod = __import__(modname, fromlist=["REGISTRY"])
            modules.append(mod)
        except ImportError as exc:
            # every module here is INTERNAL — an import failure is a
            # refactor bug, and silently dropping the module would shrink
            # queries()/oracle_sql() with verify still printing TOTAL
            # FAILS: 0 over the smaller set.  Loud, naming the module.
            raise RuntimeError(
                f"registry module {modname} failed to import: {exc}"
            ) from exc
    for mod in modules:
        for name, entry in mod.REGISTRY.items():
            if name in merged:
                raise ValueError(f"duplicate query name {name!r}")
            merged[name] = entry
    rounds = _certified_rounds()
    names = sorted(merged, key=lambda n: rounds.get(n, 0))  # stable
    return {n: merged[n] for n in names}


def _wrap(fn: Callable) -> Callable:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from xarray_beam_spark.shipping import ensure_shipped

        ensure_shipped(spark)
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, (fn, _) in _collect().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _collect().items() if sql is not None}
