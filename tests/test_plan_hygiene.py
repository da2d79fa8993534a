"""Bulk plan hygiene: no accidental cartesian products anywhere.

Builds every registered batch query lazily at sf0.001 and asserts its
physical plan contains no BroadcastNestedLoopJoin / CartesianProduct,
except where a 1-row scalar broadcast is the intended plan (those are
whitelisted explicitly). This is the regression net for the scale rule
"joins never go quadratic": a future edit that knocks a join off its
equi-join keys fails here, not at 100 TB.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from xarray_beam_spark import registry

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
    # building + physically planning all 90+ registered queries is the
    # dominant cost of this module; both tests use the identical map
    key = (id(spark), sf_dir)
    if key in _PLAN_CACHE:
        return _PLAN_CACHE[key]
    out = {}
    for name, fn in sorted(registry.queries().items()):
        if name.startswith(SKIP_PREFIXES):
            continue
        df = fn(spark, sf_dir)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    _PLAN_CACHE[key] = out
    return out


def test_no_unintended_cartesian_products(spark, sf_dir):
    plans = _collect_lazy_plans(spark, sf_dir)
    assert len(plans) > 90
    bad = []
    for name, plan in plans.items():
        has_nested = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        if has_nested and name not in SCALAR_BROADCAST_OK:
            bad.append(name)
    assert not bad, f"unexpected nested-loop/cartesian joins in: {bad}"


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


def _plan_nodes(tree: str) -> list[tuple[int, str]]:
    """(depth column, node name) per line of a printed plan tree."""
    nodes = []
    for line in tree.splitlines():
        m = re.match(r"([ :+\-|]*)(?:\* )?(\w+)", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))
    return nodes


def _stacked_python_maps(tree: str) -> list[tuple[str, str]]:
    """(parent, child) for each chunk-map node that is the direct child
    of another Python node in the tree."""
    nodes = _plan_nodes(tree)
    bad = []
    for i, (col, name) in enumerate(nodes):
        if name not in PYTHON_NODES:
            continue
        for ccol, child in nodes[i + 1 :]:
            if ccol <= col:
                break
            if ccol == col + 3 and child in CHUNK_MAPS:
                bad.append((name, child))
    return bad


def test_stacked_map_detector():
    tree = """MapInArrow fused(a)
+- Project [a]
   +- MapInPandas read(id)
      :- FlatMapGroupsInArrow assemble(a)
      :  +- MapInArrow split(a)
      +- MapInArrow other(id)
         +- Range (0, 4)"""
    assert _stacked_python_maps(tree) == [
        ("MapInPandas", "MapInArrow"),
        ("FlatMapGroupsInArrow", "MapInArrow"),
    ]


def test_no_xb_gate_stacks_python_chunk_maps(spark, sf_dir):
    plans = _collect_lazy_plans(spark, sf_dir)
    gates = {name: plan for name, plan in plans.items() if name.startswith("xb_")}
    assert len(gates) > 50
    bad = {name: pairs for name, plan in gates.items() if (pairs := _stacked_python_maps(plan))}
    assert not bad, f"unfused Python chunk maps: {bad}"


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
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    desc = execs.apply(execs.size() - 1).physicalPlanDescription()
    # the tree of the final (adaptive) plan, root first
    final = desc.split("\n\n")[0].split("== Initial Plan ==")[0]
    nodes = [name for _, name in _plan_nodes(final)]
    python = [n for n in nodes if n in PYTHON_NODES or n.endswith("EvalPython")]
    assert python == ["FlatMapGroupsInArrow", "MapInArrow"], final
    between = nodes[nodes.index("FlatMapGroupsInArrow") : nodes.index("MapInArrow")]
    assert "Exchange" in between, final


def test_scalar_broadcast_whitelist_is_tight(spark, sf_dir):
    """Every whitelisted query must actually need its scalar broadcast —
    prune the whitelist when a plan improves."""
    plans = _collect_lazy_plans(spark, sf_dir)
    stale = [
        name
        for name in SCALAR_BROADCAST_OK
        if name in plans
        and "BroadcastNestedLoopJoin" not in plans[name]
        and "CartesianProduct" not in plans[name]
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
