"""The fused per-chunk chain: each Spark stage runs one Python pass
(source → map_blocks / split steps → sink), with the same counters and
the same in-place-mutation contract for ``map_blocks`` functions as when
every step was its own Python node."""

from __future__ import annotations

import re
import sys

import numpy as np
import pytest
from pyspark import cloudpickle

from xarray_beam_spark import observability as obs
from xarray_beam_spark import session
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


def _whole_numbers() -> NDDataset:
    """Integer-valued float64, so sums are exact in any order."""
    rng = np.random.default_rng(12)
    return NDDataset(
        {"t": (("time", "lat", "lon"), rng.integers(-50, 50, (T, LAT, LON)).astype(np.float64))},
        {"time": np.arange(T, dtype=np.int64), "lat": np.linspace(-1.0, 1.0, LAT), "lon": np.arange(float(LON))},
    )


def _assert_mutated(got: NDDataset, result: np.ndarray, coords: dict[str, np.ndarray]) -> None:
    np.testing.assert_array_equal(got.data_vars["t"].values, result * 2 + 1)
    for k, c in coords.items():
        np.testing.assert_array_equal(got.coords[k].values, c, err_msg=k)


def test_map_blocks_may_mutate_in_place_after_a_reduction(spark):
    """The final merge and extract is the reduced Dataset's grouped
    source; a map_blocks after it runs in the same pass."""
    src = _whole_numbers()
    a = src.data_vars["t"].values
    d = Dataset.from_numpy(spark, src, chunks={"time": STORE_T})
    # the source's own arrays: map_blocks' driver-side inference on a
    # dummy chunk must not scribble on them either
    latlon = {k: src.coords[k].values for k in ("lat", "lon")}

    mean = d.mean("time")
    assert mean._source.group_by is not None and not mean._steps
    _assert_mutated(mean.map_blocks(_mutate).collect(), a.mean(axis=0), latlon)

    labels = np.arange(T) % 3
    by_group = d.groupby_reduce("time", labels, op="mean")
    want = np.stack([a[labels == g].mean(axis=0) for g in range(3)])
    _assert_mutated(by_group.map_blocks(_mutate).collect(), want, latlon)
    # the reductions themselves are untouched by the mutating maps
    np.testing.assert_array_equal(by_group.collect().data_vars["t"].values, want)


_X = np.arange(5000, dtype=np.int64) * 3  # over the inline limit: the join path
_FX = np.array([0.5, 1.5, 2.5, 3.5, 4.5])
_CAT = np.array(["a", "b", "c"])

# case → (rows, schema, coords, var_cols, chunks, fill_value); dims are
# the coords' keys. Rows with a value missing from the coords drop.
_FROM_TABLE_CASES = {
    "empty": ([], "x long, cat string, v double", {"x": _X[:10], "cat": _CAT}, ["v"], {"x": 4}, np.nan),
    "large_int_axis": (
        [(int(_X[i]), c, float(i)) for i, c in [(0, "a"), (7, "b"), (4999, "c"), (2500, "a")]]
        + [(1, "a", 99.0)],
        "x long, cat string, v double",
        {"x": _X, "cat": _CAT},
        ["v"],
        {"x": 1000, "cat": 2},
        np.nan,
    ),
    # no row lands in the cell fx ∈ [2.5, 3.5]
    "float_axis_missing_cell": (
        [(0.5, 1.0), (1.5, 2.0), (4.5, 5.0), (9.5, 7.0)],
        "fx double, v double",
        {"fx": _FX},
        ["v"],
        {"fx": 2},
        np.nan,
    ),
    "fill_zero": (
        [(1, "b", 3.0), (8, "c", 4.0)],
        "x long, cat string, v double",
        {"x": np.arange(10, dtype=np.int64), "cat": _CAT},
        ["v"],
        {"x": 3},
        0.0,
    ),
    "extra_columns": (
        [(2, "a", 1.5, "junk", 9), (0, "c", -2.0, "more", 8)],
        "x long, cat string, v double, note string, w long",
        {"cat": _CAT, "x": np.arange(4, dtype=np.int64)},
        ["v"],
        {"x": 2},
        np.nan,
    ),
}


def _placed(rows, names, coords, var_cols, fill_value) -> dict[str, np.ndarray]:
    """Eager NumPy placement of table rows on the dense grid."""
    dims = list(coords)
    out = {v: np.full([len(coords[d]) for d in dims], fill_value) for v in var_cols}
    for row in rows:
        rec = dict(zip(names, row))
        hits = [np.flatnonzero(coords[d] == rec[d]) for d in dims]
        if all(len(h) for h in hits):
            for v in var_cols:
                out[v][tuple(int(h[0]) for h in hits)] = rec[v]
    return out


@pytest.mark.parametrize("case", sorted(_FROM_TABLE_CASES))
def test_from_table_matches_eager_placement(spark, case):
    rows, schema, coords, var_cols, chunks, fill_value = _FROM_TABLE_CASES[case]
    table = spark.createDataFrame(rows, schema)
    grid = Dataset.from_table(table, list(coords), coords, var_cols, chunks, fill_value)
    got = grid.collect()
    want = _placed(rows, table.columns, coords, var_cols, fill_value)
    for v, arr in want.items():
        assert got.data_vars[v].dims == tuple(coords)
        np.testing.assert_array_equal(got.data_vars[v].values, arr, err_msg=v)
    for d, c in coords.items():
        np.testing.assert_array_equal(got.coords[d].values, c, err_msg=d)


def test_from_table_is_one_grouped_python_node(spark):
    rows, schema, coords, var_cols, chunks, fill_value = _FROM_TABLE_CASES["fill_zero"]
    grid = Dataset.from_table(spark.createDataFrame(rows, schema), list(coords), coords, var_cols, chunks, fill_value)
    plan = grid.df._jdf.queryExecution().executedPlan().toString()
    python = re.findall(r"\b(?:MapInArrow|MapInPandas|FlatMapGroupsIn\w+|\w*EvalPython)\b", plan)
    assert python == ["FlatMapGroupsInArrow"], plan


def test_map_blocks_may_mutate_in_place_after_from_table(spark):
    rows, schema, coords, _, chunks, _ = _FROM_TABLE_CASES["fill_zero"]
    table = spark.createDataFrame(rows, schema.replace(" v double", " t double"))
    grid = Dataset.from_table(table, list(coords), coords, ["t"], chunks, 0.0)
    want = _placed(rows, table.columns, coords, ["t"], 0.0)["t"]
    _assert_mutated(grid.map_blocks(_mutate).collect(), want, coords)
    np.testing.assert_array_equal(grid.collect().data_vars["t"].values, want)


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


def test_consolidate_key_is_the_target_cell_offset(spark, store):
    """consolidate's ``__tgt_<dim>`` is ``off - off % tgt``, both after
    the split pass that makes the rows and over the rows of a held frame.
    A dim with one target chunk gets no column."""
    pieces = zarr_io.from_zarr(spark, store).split_chunks({"time": 5, "lat": 2})
    held = pieces.df.localCheckpoint(eager=True)
    target = {"time": 5, "lat": 2, "lon": LON}
    want = {v: var.values for v, var in _source().data_vars.items()}
    try:
        for ds in (pieces, Dataset(spark, held, pieces.template, pieces.chunks)):
            out = ds.consolidate_chunks(target)
            keyed = out._source.frame
            assert "__tgt_lon" not in keyed.columns
            rows = keyed.select("off_time", "off_lat", "__tgt_time", "__tgt_lat").collect()
            # 12 time chunks, [4, 6) and [14, 16) cut at 5 and 15; lat in halves
            assert len(rows) == (T // STORE_T + 2) * 2
            for r in rows:
                assert r["__tgt_time"] == r["off_time"] - r["off_time"] % 5
                assert r["__tgt_lat"] == r["off_lat"] - r["off_lat"] % 2
            _assert_matches(out.collect(), want)
    finally:
        session.unpersist_checkpoint(held)


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
