"""The fused per-chunk chain: each Spark stage runs one Python pass
(source → map_blocks / split steps → sink), with the same counters and
the same in-place-mutation contract for ``map_blocks`` functions as when
every step was its own Python node."""

from __future__ import annotations

import sys

import numpy as np
import pytest
from pyspark import cloudpickle

from xarray_beam_spark import observability as obs
from xarray_beam_spark.dataset import Dataset
from xarray_beam_spark.ndarray_ds import NDDataset, Variable
from xarray_beam_spark.sources import zarr_io

# executors cannot import this file: ship its functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

T, LAT, LON = 24, 4, 6
STORE_T = 2  # time steps per store chunk


def _source() -> NDDataset:
    rng = np.random.default_rng(11)
    return NDDataset(
        {
            "t": (("time", "lat", "lon"), rng.standard_normal((T, LAT, LON)).astype(np.float32)),
            # no time axis: every time chunk and every time piece of a
            # split carries the whole array
            "elev": (("lat", "lon"), rng.standard_normal((LAT, LON))),
        },
        {
            "time": np.arange(T, dtype=np.int64),
            "lat": np.linspace(-1.0, 1.0, LAT),
            "lon": np.arange(float(LON)),
        },
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fused") / "in.zarr")
    # 12 chunks: several of them share each task
    zarr_io.to_zarr(
        Dataset.from_numpy(spark, _source(), chunks={"time": STORE_T}), path, compressor=None
    )
    return path


# A module constant returned by a map_blocks function: a later map_blocks
# that mutates its input in place must not reach it.
_ONES = np.ones((LAT, LON))


def _mutate(ds: NDDataset) -> NDDataset:
    """Doubles-plus-one every data array IN PLACE and scribbles over its
    input coordinates after copying them for the output."""
    for var in ds.data_vars.values():
        a = var.values
        a *= 2
        a += 1
    coords = {k: Variable(c.dims, c.values.copy()) for k, c in ds.coords.items()}
    for c in ds.coords.values():
        c.values[...] = -7
    return NDDataset(dict(ds.data_vars), coords, ds.attrs)


def _with_ones(ds: NDDataset) -> NDDataset:
    return NDDataset({**ds.data_vars, "ones": (("lat", "lon"), _ONES)}, ds.coords, ds.attrs)


def _assert_matches(got: NDDataset, want: dict[str, np.ndarray]) -> None:
    src = _source()
    assert sorted(got.data_vars) == sorted(want)
    for v, arr in want.items():
        np.testing.assert_array_equal(got.data_vars[v].values, arr, err_msg=v)
    for k, c in src.coords.items():
        np.testing.assert_array_equal(got.coords[k].values, c.values, err_msg=k)


def test_map_blocks_may_mutate_in_place_anywhere_in_the_chain(spark, store):
    src = _source()
    once = {v: var.values * 2 + 1 for v, var in src.data_vars.items()}
    scan = zarr_io.from_zarr(spark, store)
    # assign_attrs drops the scan rewrite, so rechunk plans real stages
    plain = scan.assign_attrs(origin="test")

    # straight after the read
    _assert_matches(scan.map_blocks(_mutate).collect(), once)

    # after a split-only rechunk (time chunks 2 → 1): both pieces of a
    # chunk carry the same whole elev array
    split = plain.rechunk({"time": 1, "lat": LAT, "lon": LON})
    assert split._source.group_by is None and len(split._steps) == 1
    _assert_matches(split.map_blocks(_mutate).collect(), once)

    # after a consolidate (time chunks 2 → 8): the grouped source
    merged = plain.rechunk({"time": 8, "lat": LAT, "lon": LON})
    assert merged._source.group_by is not None and not merged._steps
    _assert_matches(merged.map_blocks(_mutate).collect(), once)

    # two chained map_blocks, the first returning a shared constant
    twice = scan.map_blocks(_with_ones).map_blocks(_mutate).map_blocks(_mutate)
    want = {v: arr * 2 + 1 for v, arr in once.items()}
    want["ones"] = np.full((LAT, LON), 7.0)
    _assert_matches(twice.collect(), want)
    np.testing.assert_array_equal(_ONES, 1.0)


def test_df_is_memoized_and_a_persisted_chain_is_reused(spark, store):
    counters = obs.get_counters(spark)
    fused = zarr_io.from_zarr(spark, store).map_blocks(lambda ds: ds.map(lambda a: a + 1))
    assert fused.df is fused.df
    fused.df.persist()
    try:
        counters.reset()
        assert fused.df.count() == T // STORE_T
        assert counters.snapshot()["read.chunks"] == T // STORE_T
        out = fused.map_blocks(lambda ds: ds.map(lambda a: a * 3))
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        got = out.collect()
        # the ops built on the persisted Dataset read its cached rows:
        # the store is not read again
        assert counters.snapshot()["read.chunks"] == T // STORE_T
        src = _source()
        for v, var in src.data_vars.items():
            np.testing.assert_array_equal(got.data_vars[v].values, (var.values + 1) * 3)
    finally:
        fused.df.unpersist()


def test_counters_of_read_map_rechunk_write(spark, tmp_path):
    """Exact counters of from_zarr → map_blocks → rechunk → to_zarr. The
    read, write and map_blocks counts are those the unfused engine
    reported for this pipeline; ``split.pieces`` and
    ``consolidate.groups`` count the split step's pieces and the
    consolidate source's groups."""
    rng = np.random.default_rng(3)
    src = NDDataset(
        {v: (("time", "lat", "lon"), rng.standard_normal((12, 4, 6)).astype(np.float32)) for v in ("a", "b")},
        {"time": np.arange(12, dtype=np.int64), "lat": np.linspace(-1.0, 1.0, 4), "lon": np.arange(6.0)},
    )
    path = str(tmp_path / "in.zarr")
    zarr_io.to_zarr(Dataset.from_numpy(spark, src, chunks={"time": 4}), path, compressor=None)
    counters = obs.get_counters(spark)
    counters.reset()
    ds = zarr_io.from_zarr(spark, path).map_blocks(lambda d: d.map(lambda a: a + np.float32(1)))
    ds = ds.rechunk({"time": -1, "lat": 2, "lon": 3})
    stats = zarr_io.to_zarr(ds, str(tmp_path / "out.zarr"), compressor=None)
    assert stats == {"chunks_written": 8, "bytes_written": 2304}
    assert counters.snapshot() == {
        "read.chunks": 3,
        "read.bytes": 2640,
        "map_blocks.inputs": 3,
        "map_blocks.input_bytes": 2640,
        "map_blocks.output_bytes": 2640,
        "write.chunks": 8,
        "write.bytes": 2304,
        # 3 time pancakes × (2 lat × 2 lon) pieces, into 4 pencils
        "split.pieces": 12,
        "consolidate.groups": 4,
    }
    back = zarr_io.from_zarr(spark, str(tmp_path / "out.zarr")).collect()
    for v in ("a", "b"):
        np.testing.assert_array_equal(back.data_vars[v].values, src.data_vars[v].values + np.float32(1))
