"""Bulk plan hygiene: no accidental cartesian products anywhere.

Builds every registered batch query lazily at sf0.001 and asserts its
physical plan contains no BroadcastNestedLoopJoin / CartesianProduct,
except where a 1-row scalar broadcast is the intended plan (those are
whitelisted explicitly). This is the regression net for the scale rule
"joins never go quadratic": a future edit that knocks a join off its
equi-join keys fails here, not at 100 TB.

The same plans are counted into the committed plan-shape table
(tests/plan_shapes.json): a gate that gains or loses an exchange, a
Python node or a cached input fails until the table is rewritten.
"""

from __future__ import annotations

import json
import re
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pytest

from xarray_beam_spark import registry, session

# Queries whose plan INTENTIONALLY contains a broadcast nested-loop join
# against a 1-row (scalar aggregate) build side — constant-size, benign.
SCALAR_BROADCAST_OK = {
    # q11's 5%-of-total and q15's max-revenue scalars moved to
    # unpartitioned windows over their tiny aggregated frames (r15):
    # no broadcast nested-loop remains in either plan
    "q22_sales_opportunity", # avg acctbal scalar
    # bounded broadcast side by design (the stated all-pairs baseline):
    # the small query set broadcasts against the corpus — linear in the
    # corpus, never corpus×corpus. The scale path is ann_lsh/ann_ivf.
    "ann_brute_force_topk",
    "text_tfidf_topterms",   # corpus-size N scalar (1-row broadcast)
    "events_cms_heavy_hitters",  # total-events scalar (1-row broadcast)
}

# Streaming gates execute eagerly through a sink when called; their join
# safety is covered by their own oracle gates.
SKIP_PREFIXES = ("stream_",)


_PLAN_CACHE: dict = {}


def _collect_lazy_plans(spark, sf_dir):
    """Per batch gate, its physical plan as a ``Node`` tree and its
    ``plan_shape``."""
    # building + physically planning all 90+ registered queries is the
    # dominant cost of this module; every test uses the identical map.
    # Ephemeral persists of earlier runs are released first: a gate that
    # persists a frame equal to one still cached would read that cache,
    # already computed, and plan around its known partitioning.
    key = (id(spark), sf_dir)
    if key in _PLAN_CACHE:
        return _PLAN_CACHE[key]
    session.reset()
    plans, shapes = {}, {}
    for name, fn in sorted(registry.queries().items()):
        if name.startswith(SKIP_PREFIXES):
            continue
        tree = plan_tree(fn(spark, sf_dir)._jdf.queryExecution().executedPlan())
        plans[name], shapes[name] = tree, plan_shape(tree)
    _PLAN_CACHE[key] = plans, shapes
    return plans, shapes


class Node(NamedTuple):
    """One node of a physical plan. ``children`` feed it directly;
    ``inner`` are the plans it holds apart: a cached input's plan (under
    its InMemoryTableScan) and subqueries."""

    name: str
    children: list
    inner: list


def _read_through(jnode):
    """The node a printed plan shows for ``jnode``: an adaptive plan at its
    current plan, a query stage at the plan it ran."""
    while True:
        name = jnode.nodeName()
        if name == "AdaptiveSparkPlan":
            jnode = jnode.executedPlan()
        elif name.endswith("QueryStage"):
            jnode = jnode.plan()
        else:
            return jnode


def plan_tree(jnode) -> Node:
    """A physical plan (a JVM SparkPlan) as a ``Node`` tree, parent and
    child taken from the JVM tree itself, not from a printed indent."""

    def nodes(seq):
        return [plan_tree(seq.apply(i)) for i in range(seq.size())]

    jnode = _read_through(jnode)
    return Node(jnode.nodeName(), nodes(jnode.children()), nodes(jnode.innerChildren()))


def _walk(tree: Node, into_caches: bool = True):
    """Every node of ``tree``, root first; with ``into_caches`` False, not
    the plan behind a cached input."""
    stack = [tree]
    while stack:
        node = stack.pop()
        yield node
        inner = node.inner if into_caches or node.name != "InMemoryTableScan" else []
        stack.extend(reversed(node.children + inner))


def test_no_unintended_cartesian_products(spark, sf_dir):
    plans, _ = _collect_lazy_plans(spark, sf_dir)
    assert len(plans) > 90
    bad = []
    for name, plan in plans.items():
        if _has_nested_loop(plan) and name not in SCALAR_BROADCAST_OK:
            bad.append(name)
    assert not bad, f"unexpected nested-loop/cartesian joins in: {bad}"


def _has_nested_loop(tree: Node) -> bool:
    return any(n.name in ("BroadcastNestedLoopJoin", "CartesianProduct") for n in _walk(tree))


class TestShardReadParallelism:
    """The ingest legs must scale reads like they scale writes: shard
    readers size their task count by cluster parallelism, never a
    constant cap (a 64-task constant serializes a 100k-shard corpus onto
    64 streams on a 1,000-core cluster)."""

    def test_helper_scales_with_cluster(self):
        from xarray_beam_spark.sources import stores

        class _SC:
            def __init__(self, dp):
                self.sparkContext = type("sc", (), {"defaultParallelism": dp})()

        # big cluster, big corpus: one task per core, not a constant
        assert stores.shard_read_partitions(_SC(1000), 100_000) == 1000
        # never more tasks than shards
        assert stores.shard_read_partitions(_SC(1000), 10) == 10
        # small session keeps the 64 floor to overlap network GETs
        assert stores.shard_read_partitions(_SC(8), 100_000) == 64
        assert stores.shard_read_partitions(_SC(8), 0) == 1

    def test_readers_use_cluster_sized_partitions(self, spark, tmp_path):
        """Pinned: with enough shards, the read DF has >= defaultParallelism
        partitions (was capped at a constant 64 before round 12)."""
        from pyspark.sql import functions as F

        from xarray_beam_spark.sources import stores, tfrecord as tfr

        n = 70  # > the 64 floor (test sessions run well under 70 cores)
        df = spark.range(n).select(F.col("id"))
        tfr.write_tfrecords(df.repartition(1), str(tmp_path), shard_records=1)
        back = tfr.read_tfrecords(spark, str(tmp_path))
        got = back.rdd.getNumPartitions()
        dp = spark.sparkContext.defaultParallelism
        assert got == stores.shard_read_partitions(spark, n)
        # partition count is capped by the SHARD count: the invariant is
        # >= min(cluster, shards), not >= cluster (a 96-core session
        # reading 70 shards correctly gets 70 tasks)
        assert got >= min(dp, n)

    def test_no_constant_repartition_caps_in_shard_readers(self):
        """Source sweep: the three shard readers must size partitions via
        the shared helper, not an inline constant."""
        import pathlib

        root = pathlib.Path(__file__).resolve().parents[1] / "xarray_beam_spark"
        for mod in ("sources/warc.py", "sources/tfrecord.py", "sources/webdataset.py"):
            src = (root / mod).read_text()
            assert "shard_read_partitions" in src, mod
            assert "min(len(shard_names), 64)" not in src, mod


def test_export_paths_have_no_unbounded_driver_aggregates():
    """The ONLY .collect() on an export path is the bounded manifest
    aggregate (one totals row + ~25 B/shard name) — now a single shared
    site (stores.finalize_shard_write) that must carry the 'bounded
    driver aggregate' comment; the format modules have none at all."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "xarray_beam_spark"
    for mod in ("sources/warc.py", "sources/tfrecord.py", "sources/webdataset.py"):
        src = (root / mod).read_text()
        assert ".collect()" not in src, f"driver collect crept into {mod}"
        assert "finalize_shard_write" in src, mod
    lines = (root / "sources/stores.py").read_text().splitlines()
    sites = 0
    for i, line in enumerate(lines):
        if ".collect()" not in line:
            continue
        window = "\n".join(lines[max(0, i - 12) : i])
        assert "bounded driver aggregate" in window, f"sources/stores.py:{i + 1}"
        sites += 1
    assert sites == 1


# Python nodes that run a per-chunk map, and every Python map or
# grouped-map node: one stage of the chunk engine runs ONE of them (the
# fused chain), never a map stacked directly on another Python pass.
CHUNK_MAPS = ("MapInArrow", "MapInPandas")
PYTHON_NODES = CHUNK_MAPS + ("FlatMapGroupsInArrow", "FlatMapGroupsInPandas")


def _stacked_python_maps(tree: Node) -> list[tuple[str, str]]:
    """(parent, child) for each Python node that is the direct child of
    another Python node, where either of the two is a chunk map: a map over
    another Python pass's output, or a map's output fed to another Python
    pass. Cached plans are searched too; a cache between two nodes is not
    a direct link."""
    return [
        (node.name, child.name)
        for node in _walk(tree)
        if node.name in PYTHON_NODES
        for child in node.children
        if child.name in PYTHON_NODES
        and (node.name in CHUNK_MAPS or child.name in CHUNK_MAPS)
    ]


def _printed_tree(text: str) -> Node:
    """A hand-written plan fixture as a ``Node`` tree, read from its
    indent (three columns per level)."""
    root, open_nodes = None, []  # (column, node), outermost first
    for line in text.splitlines():
        m = re.match(r"([ :+\-|]*)(\w+)", line)
        col, node = len(m.group(1)), Node(m.group(2), [], [])
        while open_nodes and open_nodes[-1][0] >= col:
            open_nodes.pop()
        if open_nodes:
            open_nodes[-1][1].children.append(node)
        else:
            root = node
        open_nodes.append((col, node))
    return root


def test_stacked_map_detector():
    tree = """MapInArrow fused(a)
+- Project [a]
   +- MapInPandas read(id)
      :- FlatMapGroupsInArrow assemble(a)
      :  +- MapInArrow split(a)
      +- MapInArrow other(id)
         +- Range (0, 4)"""
    assert _stacked_python_maps(_printed_tree(tree)) == [
        ("MapInPandas", "FlatMapGroupsInArrow"),
        ("MapInPandas", "MapInArrow"),
        ("FlatMapGroupsInArrow", "MapInArrow"),
    ]
    # a reduction's merge with to_table's explode stacked on top of it
    tree = """MapInArrow explode(a)
+- FlatMapGroupsInPandas merge_extract(a)
   +- Sort [a ASC NULLS FIRST], false, 0
      +- Exchange hashpartitioning(a, 4)
         +- MapInArrow pre(a)
            +- InMemoryTableScan [a]"""
    assert _stacked_python_maps(_printed_tree(tree)) == [("MapInArrow", "FlatMapGroupsInPandas")]


def test_stacked_map_detector_walks_the_jvm_plan(spark):
    """On a real plan over a computed cache, whose adaptive plan prints its
    "== Final Plan ==" at columns unrelated to the tree: the pair inside
    the cached plan is found once, and the cache between the two halves
    is not a link."""
    def ident(batches):
        return batches

    def two_maps(df):
        return df.mapInArrow(ident, "id long").mapInArrow(ident, "id long")

    cached = two_maps(spark.range(16).repartition(2)).persist()
    cached.count()
    tree = plan_tree(two_maps(cached)._jdf.queryExecution().executedPlan())
    cached.unpersist()
    assert _stacked_python_maps(tree) == [("MapInArrow", "MapInArrow")] * 2


def test_no_xb_gate_stacks_python_chunk_maps(spark, sf_dir):
    plans, _ = _collect_lazy_plans(spark, sf_dir)
    gates = {name: plan for name, plan in plans.items() if name.startswith("xb_")}
    assert len(gates) > 50
    bad = {name: pairs for name, plan in gates.items() if (pairs := _stacked_python_maps(plan))}
    assert not bad, f"unfused Python chunk maps: {bad}"


# pandas map, grouped-map and cogrouped-map nodes: every operator UDF runs
# on Arrow batches (mapInArrow / applyInArrow) instead.
PANDAS_UDF_NODES = {"MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"}


def test_no_gate_plan_runs_a_pandas_udf(spark, sf_dir):
    plans, _ = _collect_lazy_plans(spark, sf_dir)
    bad = sorted(
        name for name, plan in plans.items()
        if PANDAS_UDF_NODES & {node.name for node in _walk(plan)}
    )
    assert not bad, f"gates running a pandas UDF: {bad}"


# The committed plan-shape table: per batch gate, its plan_shape. Only
# scripts/explain_dump.py writes it.
PLAN_SHAPES = Path(__file__).with_name("plan_shapes.json")


def plan_shape(tree: Node) -> dict[str, int]:
    """Shuffle Exchange, BroadcastExchange, Python (map, grouped map,
    cogrouped map and EvalPython) and InMemoryTableScan node counts of a
    physical plan and its subqueries. A cached input counts as one
    InMemoryTableScan; the plan that filled it is not counted, whether or
    not it has run."""
    shape = dict.fromkeys(("Exchange", "BroadcastExchange", "Python", "InMemoryTableScan"), 0)
    for node in _walk(tree, into_caches=False):
        name = node.name
        if name in PYTHON_NODES or name.startswith("FlatMapCoGroupsIn") or name.endswith("EvalPython"):
            shape["Python"] += 1
        elif name in shape:
            shape[name] += 1
    return shape


def test_plan_shape_counts_the_plan_above_its_caches(spark):
    from pyspark.sql import functions as F

    cached = spark.range(100).repartition(3).persist()
    cached.count()  # a computed cache; its exchange is not counted
    df = (
        cached.mapInArrow(lambda batches: batches, "id long")
        .join(F.broadcast(spark.range(5)), "id")
        .repartition(2)
    )
    shape = plan_shape(plan_tree(df._jdf.queryExecution().executedPlan()))
    cached.unpersist()
    assert shape == {"Exchange": 1, "BroadcastExchange": 1, "Python": 1, "InMemoryTableScan": 1}
    scalar = spark.sql("SELECT id FROM range(10) WHERE id > (SELECT max(id) FROM range(3))")
    scalar_plan = plan_tree(scalar._jdf.queryExecution().executedPlan())
    assert plan_shape(scalar_plan)["Exchange"] == 1  # the subquery's


def test_gate_plan_shapes_match_the_committed_table(spark, sf_dir):
    _, got = _collect_lazy_plans(spark, sf_dir)
    want = json.loads(PLAN_SHAPES.read_text())
    diff = [
        f"{name}: table {want.get(name)} != plan {got.get(name)}"
        for name in sorted(got.keys() | want.keys())
        if got.get(name) != want.get(name)
    ]
    assert not diff, (
        "gate plan shapes differ from tests/plan_shapes.json; if the change is "
        "intended, rewrite it with `python scripts/explain_dump.py`:\n" + "\n".join(diff)
    )


def _assert_one_python_pass_per_stage(spark) -> None:
    """The last SQL execution's final (adaptive) plan runs exactly one
    FlatMapGroupsInArrow above an Exchange above one MapInArrow. A cached
    input's own plan is not counted."""
    # the status store is filled by the listener bus, asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    desc = execs.apply(execs.size() - 1).physicalPlanDescription()
    # the tree of the final plan, root first
    final = desc.split("\n\n")[0].split("== Initial Plan ==")[0]
    nodes = re.findall(r"^[ :+\-|]*(?:\*\(\d+\) )?(\w+)", final, re.M)
    if "InMemoryTableScan" in nodes:
        nodes = nodes[: nodes.index("InMemoryTableScan")]
    python = [n for n in nodes if n in PYTHON_NODES or n.endswith("EvalPython")]
    assert python == ["FlatMapGroupsInArrow", "MapInArrow"], final
    between = nodes[nodes.index("FlatMapGroupsInArrow") : nodes.index("MapInArrow")]
    assert "Exchange" in between, final


def test_rechunk_pipeline_runs_one_python_pass_per_stage(spark, tmp_path):
    """from_zarr → map_blocks → rechunk → to_zarr executes exactly two
    Python nodes: the read, map and split in one MapInArrow below the
    exchange, the assemble and write in one FlatMapGroupsInArrow above."""
    from xarray_beam_spark.dataset import Dataset
    from xarray_beam_spark.ndarray_ds import NDDataset
    from xarray_beam_spark.sources import zarr_io

    rng = np.random.default_rng(5)
    src = NDDataset(
        {v: (("time", "lat", "lon"), rng.standard_normal((12, 4, 6)).astype(np.float32)) for v in ("a", "b")},
        {"time": np.arange(12, dtype=np.int64)},
    )
    path = str(tmp_path / "in.zarr")
    zarr_io.to_zarr(Dataset.from_numpy(spark, src, chunks={"time": 4}), path, compressor=None)
    ds = zarr_io.from_zarr(spark, path).map_blocks(lambda d: d.map(lambda a: a - np.float32(1)))
    ds = ds.rechunk({"time": -1, "lat": 2, "lon": 3})
    zarr_io.to_zarr(ds, str(tmp_path / "out.zarr"), compressor=None)
    _assert_one_python_pass_per_stage(spark)


def test_reduction_to_table_runs_one_python_pass_per_stage(spark, sf_dir):
    """mean → to_table on the events grid executes one MapInArrow (the
    pre-aggregate) below the exchange and one FlatMapGroupsInArrow (merge,
    extract and explode) above it; weighted_mean's map_blocks fuse too."""
    from xarray_beam_spark.grid_queries import _events_grid

    grid = _events_grid(spark, sf_dir, chunks={"day": 7})
    assert grid.mean("day").to_table().collect()
    _assert_one_python_pass_per_stage(spark)

    weighted = grid.weighted_mean("hour", np.linspace(0.5, 1.5, 24))
    assert _stacked_python_maps(plan_tree(weighted.df._jdf.queryExecution().executedPlan())) == []


def test_scalar_broadcast_whitelist_is_tight(spark, sf_dir):
    """Every whitelisted query must actually need its scalar broadcast —
    prune the whitelist when a plan improves."""
    plans, _ = _collect_lazy_plans(spark, sf_dir)
    stale = [
        name
        for name in SCALAR_BROADCAST_OK
        if name in plans and not _has_nested_loop(plans[name])
    ]
    assert not stale, f"whitelist entries no longer needed: {stale}"


def test_tune_session_covers_sibling_sessions(spark):
    """tune_session's idempotence flag is per-SESSION: spark.conf is a
    per-session SQLConf, so a context-level flag would leave
    newSession() siblings silently untuned (no Arrow, static 200-way
    shuffles) on vanilla deployments."""
    from xarray_beam_spark.shipping import tune_session

    tune_session(spark)
    s2 = spark.newSession()
    s2.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    tune_session(s2)
    assert s2.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    # and it stays idempotent within one session
    s2.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    tune_session(s2)
    assert s2.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"


def test_fan_out_narrow_scan_semantics(spark, sf_dir):
    """Rebalances only when the scan is narrower than the cluster: a
    one-split parquet read widens to defaultParallelism; an input
    already at/above the cluster width passes through with its plan
    untouched (no shuffle added at scale)."""
    from xarray_beam_spark.tables import fan_out_narrow_scan

    dp = spark.sparkContext.defaultParallelism
    narrow = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert narrow.rdd.getNumPartitions() < dp  # the premise: tiny file, one split
    widened = fan_out_narrow_scan(narrow)
    assert widened.rdd.getNumPartitions() == dp
    assert widened.count() == narrow.count()

    wide = narrow.repartition(dp + 4)
    same = fan_out_narrow_scan(wide)
    assert same is wide  # untouched object — zero plan change, no shuffle
