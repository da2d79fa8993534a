"""Physical-plan shape assertions: the optimizations the engine claims
(predicate pushdown to parquet, column pruning, broadcast joins) must be
visible in the executed plan, not just intended."""

from __future__ import annotations

import contextlib
import io

from xarray_beam_spark import tabular


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_pushdown_and_pruning(spark, sf_dir):
    plan = _formatted_plan(tabular.q6_revenue_change(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    assert "LessThan(l_shipdate" in plan
    # column pruning: the 11-column lineitem scan reads only the 4 needed
    read = [l for l in plan.splitlines() if l.strip().startswith("ReadSchema")][0]
    assert "l_quantity" in read and "l_extendedprice" in read
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _formatted_plan(tabular.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_parts_broadcasts_part(spark, sf_dir):
    plan = _formatted_plan(tabular.topk_parts_by_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # part is a broadcast dim, never shuffled


def test_q1_partial_aggregation_no_python(spark, sf_dir):
    """The hot aggregation path does map-side partial aggregation before
    the shuffle and keeps Python out of the loop entirely."""
    df = tabular.q1_pricing_summary(spark, sf_dir)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in simple  # map-side combine before the Exchange
    assert simple.index("partial_sum") > simple.index("Exchange")  # partial below exchange in tree
    assert "ArrowEvalPython" not in simple and "BatchEvalPython" not in simple


def test_grid_mean_preaggregates_before_shuffle(spark, sf_dir):
    """The chunk engine's combiner lift: the mean plan must show a narrow
    Python map stage (per-chunk pre-aggregation) BELOW the exchange, and a
    grouped-map stage above it — i.e. partial aggregation happens before
    any data moves (applyInPandas has no partial agg of its own)."""
    from xarray_beam_spark.grid_queries import _events_grid

    d = _events_grid(spark, sf_dir, chunks={"day": 7})
    plan = d.mean("day").df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # merge+finalize (wide)
    assert "MapInArrow" in plan  # pre-aggregate (narrow)
    # tree order: the narrow pre-agg sits deeper than the grouped stage
    assert plan.index("MapInArrow") > plan.index("FlatMapGroupsInPandas")


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Co-bucketed fact tables must join with zero Exchange — the storage
    layout that makes repeated fact-fact joins viable at 100 TB."""
    from pyspark.sql import functions as F

    from xarray_beam_spark import sinks
    from xarray_beam_spark.tables import load

    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdemo LOCATION '{tmp_path}'")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tables = sinks.cobucket_tables(
            spark,
            {
                "li_b": (load(spark, sf_dir, "lineitem"), ["l_orderkey"]),
                "ord_b": (load(spark, sf_dir, "orders"), ["o_orderkey"]),
            },
            n_buckets=8,
            database="buckdemo",
        )
        joined = (
            tables["li_b"]
            .join(tables["ord_b"], F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = _formatted_plan(joined)
        # the TREE section (before the first blank line) prints root-first
        # with the join subtree BELOW the join node; the old
        # split("HashAggregate")[0] slice was only the header above the
        # root aggregate and could never contain an Exchange (vacuous)
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree
        join_kw = "SortMergeJoin" if "SortMergeJoin" in tree else "ShuffledHashJoin"
        below_join = tree.split(join_kw, 1)[1]
        assert "Exchange" not in below_join, tree  # bucket metadata co-locates both scans
        # the ONLY exchange in the whole tree is the post-join aggregate's
        assert tree.count("Exchange") == 1, tree
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS buckdemo.li_b")
        spark.sql("DROP TABLE IF EXISTS buckdemo.ord_b")
        spark.sql("DROP DATABASE IF EXISTS buckdemo")
