"""Streaming → Zarr bridge: foreachBatch region-writes into a shared
pre-set-up store; the final store equals the batch-computed grid."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from xarray_beam_spark.sources import zarr_io
from xarray_beam_spark.streaming.events_stream import stream_to_zarr_hourly
from xarray_beam_spark.tables import load


def test_stream_to_zarr_hourly(spark, sf_dir, tmp_path):
    out = str(tmp_path / "stream_grid")
    info = stream_to_zarr_hourly(spark, sf_dir, out)
    assert info["days"] > 0
    back = zarr_io.from_zarr(spark, out)
    got = back.to_table(dropna=False)
    # oracle: batch aggregation of the same events
    want = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.hour("ts").cast("long").alias("hour"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    g = {(r["day"], r["hour"], r["event_type"]): r["cnt"] for r in got.collect()}
    total = 0.0
    for r in want.collect():
        assert g[(r["day"], r["hour"], r["event_type"])] == r["cnt"]
        total += r["cnt"]
    # absent cells were written as the fill value 0, not NaN
    assert sum(g.values()) == total


def test_contiguous_runs():
    """ADVICE r1: batches region-write only PRESENT days (per contiguous
    run), never a min-to-max slab that zero-fills absent interior days."""
    from xarray_beam_spark.streaming.events_stream import contiguous_runs

    assert contiguous_runs([]) == []
    assert contiguous_runs([5]) == [(5, 6)]
    assert contiguous_runs([0, 1, 2]) == [(0, 3)]
    assert contiguous_runs([0, 2, 4]) == [(0, 1), (2, 3), (4, 5)]
    assert contiguous_runs([1, 2, 5, 6, 7, 9]) == [(1, 3), (5, 8), (9, 10)]


class TestStreamZarrAppend:
    def test_append_ingest_equals_batch_grid(self, spark, sf_dir, tmp_path):
        """Three day-ordered micro-batches growing one store == the
        whole-table grid (sf0.001 for speed; the sf0.01 gate certifies)."""

        from xarray_beam_spark.sources import zarr_io
        from xarray_beam_spark.streaming import events_stream as es
        from xarray_beam_spark.tables import load

        sf = sf_dir
        out = str(tmp_path / "grid.zarr")
        es.stream_append_to_zarr(spark, sf, out)
        back = zarr_io.from_zarr(spark, out).to_table(dropna=True)
        want = (
            load(spark, sf, "events")
            .groupBy(
                F.date_trunc("day", F.col("ts")).alias("day"),
                F.hour("ts").cast("long").alias("hour"),
                F.col("event_type"),
            )
            .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        )
        got = sorted(map(tuple, back.collect()))
        exp = sorted(map(tuple, want.select(back.columns).collect()))
        assert got == exp

    def test_out_of_order_day_rejected(self, spark, sf_dir, tmp_path):
        """Re-delivering already-ingested days must fail loudly, not
        silently double-append: a second full run against the same store
        (fresh checkpoint, so every batch replays) hits the order guard."""
        import pytest

        from xarray_beam_spark.streaming import events_stream as es

        sf = sf_dir
        out = str(tmp_path / "grid.zarr")
        es.stream_append_to_zarr(spark, sf, out)
        os.remove(out + "_highwater")  # simulate a feed replaying old days
        persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
        with pytest.raises(Exception, match="out-of-order ingest"):
            es.stream_append_to_zarr(spark, sf, out)
        # the rejected batch's persisted cells frame is released
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted


def test_append_commit_crash_replay_not_wedged(spark, sf_dir, tmp_path):
    """Crash window between the Zarr append and the high-water commit:
    the replayed final batch finds its own days already at the store's
    tail and must be a no-op — previously it raised the out-of-order
    error on EVERY restart, permanently wedging the stream."""

    from xarray_beam_spark.sources import zarr_io
    from xarray_beam_spark.streaming import events_stream as es

    sf = sf_dir
    out = str(tmp_path / "grid.zarr")
    es.stream_append_to_zarr(spark, sf, out)
    before = zarr_io.from_zarr(spark, out).to_table(dropna=True)
    rows_before = sorted(map(tuple, before.collect()))
    marker = out + "_highwater"
    last = int(open(marker).read())
    # roll the marker back one batch: the rerun replays ONLY the final
    # batch, exactly the crash-between-append-and-commit window
    open(marker, "w").write(str(last - 1))
    es.stream_append_to_zarr(spark, sf, out)  # must not raise
    after = zarr_io.from_zarr(spark, out).to_table(dropna=True)
    assert sorted(map(tuple, after.collect())) == rows_before
    assert int(open(marker).read()) == last


def test_hourly_same_day_across_batches_is_loud(spark, sf_dir, tmp_path):
    """A day split across micro-batches would be silently clobbered by
    whole-chunk region writes; the day→batch ledger turns it into a loud
    error (idempotent same-batch retries stay allowed)."""
    import json

    import pytest

    from xarray_beam_spark.streaming import events_stream as es

    sf = sf_dir
    out = str(tmp_path / "grid.zarr")
    es.stream_to_zarr_hourly(spark, sf, out)
    ledger_path = out + "_daybatches"
    ledger = json.loads(open(ledger_path).read())
    assert ledger  # every written day is recorded
    # pretend day 0 was written by a DIFFERENT batch id, then replay:
    # the rerun's fresh checkpoint replays batch 0 carrying day 0
    ledger[min(ledger, key=int)] = 99
    open(ledger_path, "w").write(json.dumps(ledger))
    # fresh checkpoint → the rerun re-delivers every day under new batch
    # ids, so the doctored day now collides with a "different" batch
    import shutil

    shutil.rmtree(out + "_ckpt")
    with pytest.raises(Exception, match="already written by another batch"):
        es.stream_to_zarr_hourly(spark, sf, out)
