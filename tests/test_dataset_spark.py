"""Distributed Dataset vs single-machine NumPy oracle.

Same oracle strategy as the reference (``dataset_test.py``,
``integration_test.py``): the distributed result must equal the
single-machine computation on the identical fixture.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

import xarray_beam_spark.dataset as dsmod
from xarray_beam_spark.dataset import Dataset, Template, off_col
from xarray_beam_spark.ndarray_ds import NDDataset


def dummy_era5(n_time=24, n_lat=7, n_lon=9, n_vars=2, seed=0):
    """Mock of the reference's dummy_era5_surface_dataset
    (``test_util.py:76-99``), scaled down for fast tests."""
    rng = np.random.default_rng(seed)
    names = ["asn", "d2m", "e", "mn2t"][:n_vars]
    data_vars = {
        n: (("time", "latitude", "longitude"),
            rng.normal(size=(n_time, n_lat, n_lon)).astype(np.float32))
        for n in names
    }
    coords = {
        "time": np.arange(n_time, dtype=np.int64),
        "latitude": np.linspace(90, -90, n_lat),
        "longitude": np.linspace(0, 360, n_lon, endpoint=False),
    }
    return NDDataset(data_vars, coords, {"global_attr": "yes"})


@pytest.fixture(scope="module")
def era5():
    return dummy_era5()


def test_from_numpy_collect_roundtrip(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    assert d.chunk_count == 3
    assert d.collect().identical(era5)


def test_from_numpy_split_vars(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10}, split_vars=True)
    assert d.chunk_count == 6
    got = d.consolidate_variables().collect()
    assert got.identical(era5)


def test_getitem_projection(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    got = d["asn"].collect()
    assert got.identical(era5[["asn"]])


def test_head(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    got = d.head(time=5).collect()
    assert got.identical(era5.isel({"time": slice(0, 5)}))


def test_transpose(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    got = d.transpose("longitude", "latitude", "time").collect()
    assert got.identical(era5.transpose("longitude", "latitude", "time"))


def test_map_blocks_elementwise(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    got = d.map_blocks(lambda ds: ds.map(lambda a: a * 2 + 1)).collect()
    assert got.allclose(era5.map(lambda a: a * 2 + 1))


def test_rechunk_identity_roundtrip(spark, era5):
    # pancake -> pencil rechunk, the reference's canonical integration test
    # (integration_test.py:68-120): result must be identical to the source.
    d = Dataset.from_numpy(spark, era5, chunks={"time": 1})
    r = d.rechunk({"time": -1, "latitude": 3, "longitude": 4})
    assert r.chunks == {"time": 24, "latitude": 3, "longitude": 4}
    assert r.collect().identical(era5)


def test_rechunk_multistage_forced(spark, era5):
    # force multistage by a tiny max_mem (like max_mem=10MB in the reference)
    d = Dataset.from_numpy(spark, era5, chunks={"time": 1})
    r = d.rechunk({"time": -1, "latitude": 1, "longitude": 2}, max_mem=20_000)
    assert r.collect().identical(era5)


def test_rechunk_min_mem_kwarg(spark, era5):
    # reference rechunk.py:562-563 surface: explicit intermediate floor
    d = Dataset.from_numpy(spark, era5, chunks={"time": 1})
    r = d.rechunk(
        {"time": -1, "latitude": 1, "longitude": 2},
        max_mem=20_000,
        min_mem=1_000,
    )
    assert r.collect().identical(era5)


def test_rechunk_uneven_tails(spark):
    src = dummy_era5(n_time=13, n_lat=5, n_lon=7)
    d = Dataset.from_numpy(spark, src, chunks={"time": 4, "latitude": 2})
    r = d.rechunk({"time": 5, "longitude": 3})
    assert r.collect().identical(src)


def test_map_blocks_error_contracts(spark):
    # reference dataset_test.py:1074-1110: the three plan-time guards —
    # a dropped multi-chunk dim, a chunk-grid-changing chunks= override,
    # and a var-set change under split_vars — must raise at map_blocks()
    # time, not corrupt offsets / vars columns and fail at collect
    src = NDDataset({"foo": (("x",), np.arange(8.0))})
    d = Dataset.from_numpy(spark, src, chunks={"x": 4})
    with pytest.raises(ValueError, match="has multiple chunks on the source"):
        d.map_blocks(lambda ds: ds.mean("x"))
    with pytest.raises(
        ValueError, match="has 2 chunks on the source dataset and 8"
    ):
        d.map_blocks(lambda ds: ds, chunks={"x": 1})
    ds_split = Dataset.from_numpy(spark, src, chunks={"x": 4}).split_variables()
    with pytest.raises(ValueError, match="different set of\\s+variables"):
        ds_split.map_blocks(
            lambda ds: NDDataset({"bar": ds.data_vars["foo"]})
        )
    # the legitimate shapes stay legal: explicit consistent chunks,
    # per-chunk size changes that keep the chunk count, reductions over
    # single-chunk dims
    assert d.map_blocks(lambda ds: ds, chunks={"x": 4}).collect().identical(src)
    halved = d.map_blocks(lambda ds: ds.isel({"x": slice(0, 2)}), chunks={"x": 2})
    assert halved.collect().sizes == {"x": 4}
    src2 = NDDataset({"foo": (("x", "y"), np.arange(20.0).reshape(4, 5))})
    d2 = Dataset.from_numpy(spark, src2, chunks={"x": 2})
    assert d2.map_blocks(lambda ds: ds.median("y")).collect().sizes == {"x": 4}
    # a func-ADDED dim must be single-chunk: every output row writes
    # offset 0 along it, so a multi-chunk spec would lie about the grid
    def add_dim(ds):
        v = ds.data_vars["foo"].values
        return NDDataset(
            {"foo": (("x", "y"), v), "bar": (("x", "z"), np.tile(v[:, :1], (1, 10)))}
        )

    with pytest.raises(ValueError, match="new dimension 'z'.*single\\s+chunk"):
        d2.map_blocks(add_dim, chunks={"x": 2, "y": 5, "z": 5})
    # explicit template that drops a SINGLE-chunk dim with chunks=None:
    # source chunks must be filtered to the template dims, not rejected
    tmpl = d2.map_blocks(lambda ds: ds.median("y")).template
    got = d2.map_blocks(lambda ds: ds.median("y"), template=tmpl).collect()
    assert got.sizes == {"x": 4}


def test_rechunk_inconsistent_dimensions_split_vars(spark):
    # reference rechunk_test.py:794-810: variables on DIFFERENT dims,
    # split-vars layout, x-chunked -> y-chunked; bar('y') lacks 'x'
    # entirely and must come through the plan untouched
    rs = np.random.RandomState(0)
    src = NDDataset(
        {"foo": (("x", "y"), rs.rand(2, 3)), "bar": (("y",), rs.rand(3))}
    )
    d = Dataset.from_numpy(spark, src, chunks={"x": 1}).split_variables()
    r = d.rechunk({"x": -1, "y": 1})
    assert r.collect().identical(src)


def test_rechunk_same_source_and_target_is_elided(spark):
    # reference rechunk_test.py:811-829 asserts stage_in/stage_out are
    # empty for a no-op rechunk; our strongest equivalent: the SAME
    # DataFrame object comes back (zero added stages, zero shuffles)
    rs = np.random.RandomState(0)
    src = NDDataset({"foo": (("x", "y"), rs.rand(2, 3))})
    d = Dataset.from_numpy(spark, src, chunks={"x": 1})
    r = d.rechunk({"x": 1})
    assert r.df is d.df
    assert r.collect().identical(src)


def test_mean_over_dim(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    got = d.mean("time").collect()
    want = _np_mean(era5, "time")
    assert got.allclose(want, rtol=1e-6)


def _np_mean(ds: NDDataset, dim: str) -> NDDataset:
    out = {}
    for name, var in ds.data_vars.items():
        ax = var.dims.index(dim)
        out[name] = (
            tuple(d for d in var.dims if d != dim),
            np.nanmean(var.values.astype(np.float64), axis=ax),
        )
    coords = {k: v for k, v in ds.coords.items() if dim not in v.dims}
    return NDDataset(out, coords, ds.attrs)


def test_mean_with_nans_skipna(spark):
    src = dummy_era5(n_time=12)
    arr = src.data_vars["asn"].values.copy()
    arr[::3] = np.nan
    src2 = NDDataset(
        {**{k: v for k, v in src.data_vars.items()}, "asn": (("time", "latitude", "longitude"), arr)},
        src.coords,
        src.attrs,
    )
    d = Dataset.from_numpy(spark, src2, chunks={"time": 5})
    got = d.mean("time").collect()
    want = _np_mean(src2, "time")
    assert got.allclose(want, rtol=1e-6)


def test_sum_min_max_std(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    foo = era5.data_vars["asn"].values.astype(np.float64)
    got_sum = d.sum("time").collect().data_vars["asn"].values
    np.testing.assert_allclose(got_sum, foo.sum(axis=0), rtol=1e-10)
    got_min = d.min("time").collect().data_vars["asn"].values
    np.testing.assert_array_equal(got_min, era5.data_vars["asn"].values.min(axis=0))
    got_std = d.std("time", ddof=1).collect().data_vars["asn"].values
    np.testing.assert_allclose(got_std, foo.std(axis=0, ddof=1), rtol=1e-6)


def test_mean_multiple_dims(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7, "latitude": 3})
    got = d.mean(["time", "latitude"]).collect().data_vars["asn"].values
    want = np.nanmean(era5.data_vars["asn"].values.astype(np.float64), axis=(0, 1))
    np.testing.assert_allclose(got, want, rtol=1e-10)


def test_table_bridge_roundtrip(spark):
    src = dummy_era5(n_time=6, n_lat=3, n_lon=4, n_vars=1)
    d = Dataset.from_numpy(spark, src, chunks={"time": 2})
    table = d.to_table(dropna=False)
    assert table.count() == 6 * 3 * 4
    back = Dataset.from_table(
        table,
        dims=["time", "latitude", "longitude"],
        coords={k: v.values for k, v in src.coords.items()},
        var_cols=["asn"],
        chunks={"time": 3},
    )
    got = back.collect()
    np.testing.assert_allclose(
        got.data_vars["asn"].values,
        src.data_vars["asn"].values.astype(np.float64),
        rtol=1e-7,
    )


@pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.uint32])
def test_table_bridge_keeps_unsigned_maxima(spark, dtype):
    vals = np.array([0, 1, np.iinfo(dtype).max - 1, np.iinfo(dtype).max], dtype=dtype)
    src = NDDataset({"v": (("x",), vals)}, {"x": vals.copy()})
    table = Dataset.from_numpy(spark, src, chunks={"x": 2}).to_table()
    assert sorted((r.x, r.v) for r in table.collect()) == [(int(v), int(v)) for v in vals]
    back = Dataset.from_table(table, dims=["x"], coords={"x": vals}, var_cols=["v"], chunks={"x": 3})
    np.testing.assert_array_equal(back.collect().data_vars["v"].values, vals)


def test_to_table_refuses_uint64_when_building_the_schema(spark):
    src = NDDataset({"v": (("x",), np.arange(4, dtype=np.uint64))}, {"x": np.arange(4)})
    with pytest.raises(TypeError, match="uint64"):
        Dataset.from_numpy(spark, src).to_table()


def test_tail(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    got = d.tail(time=7).collect()
    want = era5.isel({"time": slice(-7, None)})
    assert got.equals(want)
    # unaligned straddle: tail window cuts mid-chunk
    got2 = d.tail(time=13, latitude=3).collect()
    want2 = era5.isel({"time": slice(-13, None), "latitude": slice(-3, None)})
    assert got2.equals(want2)


def test_groupby_reduce_mean(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    labels = (np.arange(24) % 5).astype(np.int64)  # 5 uneven groups
    got = d.groupby_reduce("time", labels, op="mean", new_dim="phase").collect()
    arr = era5.data_vars["asn"].values.astype(np.float64)
    want = np.stack([arr[labels == g].mean(axis=0) for g in range(5)])
    np.testing.assert_allclose(got.data_vars["asn"].values, want, rtol=1e-12)
    np.testing.assert_array_equal(got.coords["phase"].values, np.arange(5))


def test_groupby_reduce_min_max_sum(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 5, "latitude": 4})
    labels = (np.arange(24) % 3).astype(np.int64)
    arr = era5.data_vars["asn"].values.astype(np.float64)
    for op, fn in [("sum", np.sum), ("min", np.min), ("max", np.max)]:
        got = d.groupby_reduce("time", labels, op=op, new_dim="g").collect()
        want = np.stack([fn(arr[labels == g], axis=0) for g in range(3)])
        np.testing.assert_allclose(got.data_vars["asn"].values, want, rtol=1e-12)


def test_groupby_reduce_multi_key(spark, era5):
    # two keys in one pass: result dims replace time with (phase, parity),
    # values equal the brute-force two-level NumPy groupby
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    phase = (np.arange(24) % 3).astype(np.int64)
    parity = (np.arange(24) % 2).astype(np.int64)
    got = d.groupby_reduce("time", {"phase": phase, "parity": parity}, op="mean").collect()
    arr = era5.data_vars["asn"].values.astype(np.float64)
    want = np.stack(
        [
            np.stack(
                [
                    arr[(phase == p) & (parity == q)].mean(axis=0)
                    for q in range(2)
                ]
            )
            for p in range(3)
        ]
    )
    assert got.data_vars["asn"].dims[-2:] == ("phase", "parity")
    # collect() returns dims in variable order: (..., phase, parity)
    g = np.moveaxis(got.data_vars["asn"].values, (-2, -1), (0, 1))
    np.testing.assert_allclose(g, want, rtol=1e-12)
    np.testing.assert_array_equal(got.coords["phase"].values, np.arange(3))
    np.testing.assert_array_equal(got.coords["parity"].values, np.arange(2))


def test_groupby_reduce_multi_key_min_empty_cells(spark, era5):
    # keys whose product has an empty combination: that cell is NaN, the
    # rest equal brute force; min preserves exact values
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    a = (np.arange(24) < 12).astype(np.int64)  # 0 then 1
    b = (np.arange(24) >= 12).astype(np.int64)  # (a=0,b=0) and (a=1,b=1) never co-occur... actually inverted
    got = d.groupby_reduce("time", {"a": a, "b": b}, op="min").collect()
    arr = era5.data_vars["asn"].values.astype(np.float64)
    g = np.moveaxis(got.data_vars["asn"].values, (-2, -1), (0, 1))
    for ai in range(2):
        for bi in range(2):
            mask = (a == ai) & (b == bi)
            cell = g[ai, bi]
            if mask.any():
                np.testing.assert_allclose(cell, arr[mask].min(axis=0), rtol=0)
            else:
                assert np.isnan(cell).all()


def test_groupby_reduce_single_key_mapping(spark, era5):
    # one-entry mapping degrades to the plain path with the key's name
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    labels = (np.arange(24) % 5).astype(np.int64)
    got = d.groupby_reduce("time", {"phase": labels}, op="mean").collect()
    want = d.groupby_reduce("time", labels, op="mean", new_dim="phase").collect()
    assert got.identical(want)


def test_groupby_reduce_rejects_bad_q(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    labels = (np.arange(24) % 5).astype(np.int64)
    with pytest.raises(ValueError, match="q must be"):
        d.groupby_reduce("time", labels, op="quantile", q=1.5)
    with pytest.raises(ValueError, match="fixes q"):
        d.groupby_reduce("time", labels, op="median", q=0.7)


def test_roll_matches_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    for n in (5, -3, 24, 29):
        got = d.roll("time", n).collect()
        for v in era5.data_vars:
            ax = era5.data_vars[v].dims.index("time")
            want = np.roll(era5.data_vars[v].values, n % 24, axis=ax)
            np.testing.assert_array_equal(got.data_vars[v].values, want)
        np.testing.assert_array_equal(
            got.coords["time"].values, np.roll(era5.coords["time"].values, n % 24)
        )
        # non-dim coords untouched
        np.testing.assert_array_equal(
            got.coords["latitude"].values, era5.coords["latitude"].values
        )


def test_roll_fixed_coords(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    got = d.roll("time", 7, roll_coords=False).collect()
    arr = era5.data_vars["asn"].values
    ax = era5.data_vars["asn"].dims.index("time")
    np.testing.assert_array_equal(got.data_vars["asn"].values, np.roll(arr, 7, axis=ax))
    np.testing.assert_array_equal(got.coords["time"].values, era5.coords["time"].values)


def test_roll_zero_is_identity(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    assert d.roll("time", 0) is d
    assert d.roll("time", 48) is d


def test_interp_matches_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    # fractional positions incl. exact hits and out-of-range points
    old_x = np.arange(24, dtype=np.float64)
    new_x = np.array([-0.5, 0.0, 0.25, 3.5, 7.0, 22.75, 23.0, 23.5, 30.0])
    # era5 fixture has an integer time coordinate? use template coord
    tvals = d.template.coords["time"].values
    if tvals.dtype.kind == "M":
        unit = np.datetime_data(tvals.dtype)[0]
        base = tvals.view("int64")
        new_t = ((base[0] + (new_x * (base[1] - base[0]))).astype("int64")).view(
            tvals.dtype
        )
    else:
        new_t = tvals[0] + new_x * (tvals[1] - tvals[0])
    got = d.interp("time", new_t).collect()
    arr = era5.data_vars["asn"].values.astype(np.float64)
    ax = era5.data_vars["asn"].dims.index("time")
    moved = np.moveaxis(arr, ax, 0)
    want = np.empty((len(new_x),) + moved.shape[1:])
    for i, x in enumerate(new_x):
        if x < 0 or x > 23:
            want[i] = np.nan
        else:
            lo, hi = int(np.floor(x)), min(int(np.floor(x)) + 1, 23)
            w = x - np.floor(x)
            if x == int(x):
                lo = hi = int(x)
                w = 0.0
            want[i] = moved[lo] + (moved[hi] - moved[lo]) * w
    g = np.moveaxis(got.data_vars["asn"].values, ax, 0)
    np.testing.assert_allclose(g, want, rtol=1e-12, equal_nan=True)
    # exact hits are bit-identical to source
    np.testing.assert_array_equal(g[1], moved[0])
    np.testing.assert_array_equal(g[6], moved[23])


def test_interp_rejects_non_monotone(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    # construction stays OUTSIDE the raises block: only interp's own
    # monotonicity guard is under test (if from_numpy ever validated
    # coords itself, the old form would keep passing with interp's
    # guard deleted)
    d2 = Dataset.from_numpy(
        spark,
        NDDataset(
            {"v": (("t",), np.arange(4.0))},
            {"t": np.array([0.0, 2.0, 1.0, 3.0])},
        ),
        chunks={"t": 2},
    )
    with pytest.raises(ValueError, match="strictly increasing"):
        d2.interp("t", np.array([0.5]))


def test_groupby_reduce_string_keys(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    labels = np.array(["b" if i % 2 else "a" for i in range(24)])
    got = d.groupby_reduce("time", labels, op="mean", new_dim="parity").collect()
    np.testing.assert_array_equal(got.coords["parity"].values, np.array(["a", "b"]))


def test_validate_passes_good_chunks(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    v = Dataset.from_dataframe(spark, d.df, d.template, d.chunks, validate=True)
    assert v.collect().identical(era5)


def test_validate_catches_bad_offset(spark, era5):
    import pytest as _pytest
    from pyspark.sql import functions as F

    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    broken = d.df.withColumn("off_time", F.col("off_time") + 1)
    v = Dataset.from_dataframe(spark, broken, d.template, d.chunks, validate=True)
    with _pytest.raises(Exception, match="not a\n?\\s*multiple|multiple of chunk"):
        v.collect()


def test_pipe_and_expand_dims(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    assert d.pipe(lambda x, k: x.chunks[k], "time") == 10
    e = d.expand_dims(member=3)
    got = e.collect()
    assert got.sizes["member"] == 3
    np.testing.assert_array_equal(
        got.data_vars["asn"].values[0], got.data_vars["asn"].values[2]
    )


def test_squeeze_inverse_of_expand_dims(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    e = d.expand_dims(member=1)
    back = e.squeeze("member").collect()
    assert back.identical(era5)
    # squeeze() with no dim drops every size-1 dim
    back2 = e.squeeze().collect()
    assert back2.identical(era5)
    with pytest.raises(ValueError, match="cannot squeeze"):
        d.squeeze("time")
    with pytest.raises(KeyError):
        d.squeeze("nope")
    # no size-1 dims -> identity object
    assert d.squeeze() is d


def test_observability_counters(spark, era5):
    from xarray_beam_spark.observability import get_counters

    c = get_counters(spark)
    c.reset()
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    d.map_blocks(lambda ds: ds.map(lambda a: a + 1)).collect()
    snap = c.snapshot()
    assert snap.get("map_blocks.inputs", 0) >= 4
    assert snap.get("map_blocks.input_bytes", 0) > 0


def test_isel_window(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10, "latitude": 3})
    got = d.isel(time=slice(5, 17), latitude=slice(2, 6)).collect()
    want = era5.isel({"time": slice(5, 17), "latitude": slice(2, 6)})
    assert got.equals(want)
    # aligned start stays narrow and exact
    got2 = d.isel(time=slice(10, 22)).collect()
    assert got2.equals(era5.isel({"time": slice(10, 22)}))
    # negative-stop slice via python semantics
    got3 = d.isel(time=slice(-9, None)).collect()
    assert got3.equals(era5.isel({"time": slice(-9, None)}))


def test_sel_labels(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    got = d.sel(time=slice(5, 12)).collect()   # inclusive label slice
    want = era5.isel({"time": slice(5, 13)})
    assert got.equals(want)
    got2 = d.sel(time=7).collect()
    assert got2.equals(era5.isel({"time": slice(7, 8)}))


def test_coarsen_mean_vs_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 8})
    got = d.coarsen({"time": 4}, op="mean").collect()
    arr = era5.data_vars["asn"].values.astype(np.float64)
    want = arr.reshape(6, 4, 7, 9).mean(axis=1)
    np.testing.assert_allclose(got.data_vars["asn"].values, want, rtol=1e-12)
    np.testing.assert_array_equal(got.coords["time"].values, np.arange(0, 24, 4))


def test_coarsen_unaligned_chunks_rechunks_first(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 5})  # 5 % 4 != 0
    got = d.coarsen({"time": 4}, op="max").collect()
    want = era5.data_vars["asn"].values.reshape(6, 4, 7, 9).max(axis=1)
    np.testing.assert_array_equal(got.data_vars["asn"].values, want)


def test_consolidate_fully(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7, "latitude": 3}, split_vars=True)
    one = d.consolidate_fully()
    assert one.df.count() == 1
    assert one.collect().identical(era5)


def test_repr_human_sizes(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    r = repr(d)
    # parenthesized: the old `A and B and C or D or E` parsed as
    # `(A and B and C) or D or E`, so a stray "KB" anywhere in the repr
    # made the whole assertion vacuous
    assert "time=24/10" in r and "split_vars=False" in r
    assert "B " in r or "B>" in r or "KB" in r


def test_count_reduction(spark):
    arr = np.array([[1.0, np.nan, 3.0], [np.nan, np.nan, 6.0]])
    src = NDDataset({"v": (("t", "x"), arr)}, {"t": np.arange(2), "x": np.arange(3)})
    d = Dataset.from_numpy(spark, src, chunks={"t": 1})
    got = d.count("t").collect()
    np.testing.assert_array_equal(got.data_vars["v"].values, [1, 0, 2])
    assert got.data_vars["v"].values.dtype == np.int64


class TestDistributedProperties:
    """Hypothesis over the distributed engine itself: random grids and
    chunkings must round-trip split→consolidate and rechunk exactly."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(
        nt=st.integers(3, 17),
        nx=st.integers(2, 9),
        c1=st.integers(1, 8),
        c2=st.integers(1, 8),
        s1=st.integers(1, 6),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_rechunk_roundtrip_random(self, spark, nt, nx, c1, c2, s1):
        rng = np.random.default_rng(nt * 100 + nx)
        src = NDDataset(
            {"v": (("t", "x"), rng.normal(size=(nt, nx)))},
            {"t": np.arange(nt), "x": np.arange(nx)},
        )
        d = Dataset.from_numpy(spark, src, chunks={"t": min(c1, nt)})
        # force the shuffle path (drop the scan rewrite)
        d = Dataset.from_dataframe(spark, d.df, d.template, d.chunks, validate=False)
        r = d.rechunk({"t": min(c2, nt), "x": min(s1, nx)})
        assert r.collect().equals(src)


def test_median_quantile(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    got = d.median("time").collect()
    arr = era5.data_vars["asn"].values.astype(np.float64)
    np.testing.assert_allclose(got.data_vars["asn"].values, np.median(arr, axis=0), rtol=0)
    got_q = d.quantile(0.25, "time").collect()
    np.testing.assert_allclose(
        got_q.data_vars["asn"].values, np.quantile(arr, 0.25, axis=0), rtol=0
    )


def test_consolidate_missing_chunk_fails_loudly(spark, era5):
    """Reference parity (rechunk.py:85-163): an incomplete consolidate
    group must raise, not silently mis-assemble."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    s = d.split_chunks({"time": 2})
    # drop one sub-chunk, then try to consolidate back
    broken = Dataset.from_dataframe(
        spark, s.df.filter(F.col("off_time") != 2), s.template, s.chunks, validate=False
    )
    with _pytest.raises(Exception, match="missing|sub-chunks"):
        broken.consolidate_chunks({"time": 6}).collect()


def test_merge_conflict_fails_loudly(spark, era5):
    import pytest as _pytest

    d = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    bumped = d.map_blocks(lambda ds: ds.map(lambda a: a + 1))
    # same offsets, same var names, different values → merge must raise
    both = Dataset.from_dataframe(
        spark, d.df.union(bumped.df), d.template, d.chunks, validate=False
    )
    both = Dataset(spark, both.df, d.template, d.chunks, split_vars=True)
    with _pytest.raises(Exception, match="merge conflict|conflict"):
        both.consolidate_variables().collect()


def test_min_max_skipna_false_propagates_nan(spark):
    """ADVICE r1: skipna=False min/max must propagate a NaN partial across
    chunk boundaries (combiner must be minimum/maximum, not fmin/fmax)."""
    src = dummy_era5(n_time=12, n_vars=1)
    arr = src.data_vars["asn"].values.copy()
    arr[2, 0, 0] = np.nan  # NaN lives in the FIRST time-chunk only
    src = NDDataset({"asn": (("time", "latitude", "longitude"), arr)}, src.coords, src.attrs)
    d = Dataset.from_numpy(spark, src, chunks={"time": 4})
    got_strict = d.min("time", skipna=False).collect().data_vars["asn"].values
    assert np.isnan(got_strict[0, 0])  # NaN poisons the reduced cell
    want = np.nanmin(arr.astype(np.float64), axis=0)
    got_skip = d.min("time", skipna=True).collect().data_vars["asn"].values
    np.testing.assert_array_equal(got_skip, want)
    got_max = d.max("time", skipna=False).collect().data_vars["asn"].values
    assert np.isnan(got_max[0, 0])


def test_sel_slice_unsorted_coord_raises(spark):
    """ADVICE r1: label slices on an unsorted coordinate must raise, not
    silently return a wrong window."""
    import pytest as _pytest

    src = dummy_era5(n_time=8, n_vars=1)
    shuffled = np.array([3, 1, 7, 0, 5, 2, 6, 4], dtype=np.int64)
    src = NDDataset(
        dict(src.data_vars.items()),
        {**{k: v for k, v in src.coords.items()}, "time": shuffled},
        src.attrs,
    )
    d = Dataset.from_numpy(spark, src, chunks={"time": 4})
    with _pytest.raises(ValueError, match="monoton"):
        d.sel(time=slice(1, 5))


def test_groupby_minmax_preserves_infinities(spark):
    """ADVICE r1: legitimate ±inf data must survive groupby min/max
    (empty-group detection via counts, not isinf)."""
    src = dummy_era5(n_time=12, n_vars=1)
    arr = src.data_vars["asn"].values.astype(np.float64)
    arr[1, 0, 0] = -np.inf
    arr[5, 1, 1] = np.inf
    src = NDDataset({"asn": (("time", "latitude", "longitude"), arr)}, src.coords, src.attrs)
    d = Dataset.from_numpy(spark, src, chunks={"time": 4})
    labels = (np.arange(12) % 3).astype(np.int64)
    got_min = d.groupby_reduce("time", labels, op="min", new_dim="g").collect()
    want_min = np.stack([arr[labels == g].min(axis=0) for g in range(3)])
    np.testing.assert_array_equal(got_min.data_vars["asn"].values, want_min)
    assert got_min.data_vars["asn"].values[1, 0, 0] == -np.inf
    got_max = d.groupby_reduce("time", labels, op="max", new_dim="g").collect()
    want_max = np.stack([arr[labels == g].max(axis=0) for g in range(3)])
    np.testing.assert_array_equal(got_max.data_vars["asn"].values, want_max)
    assert got_max.data_vars["asn"].values[2, 1, 1] == np.inf


def test_staged_tree_merge_high_fanin(spark, monkeypatch):
    """VERDICT r1 #2: a reduction with ≥4k chunks per output cell must run
    through ≥2 intermediate tree-merge rounds (reference MultiStageMean,
    combiners.py:294-394) and produce the single-stage result exactly."""
    from pyspark.sql import functions as SF

    n = 4096
    rng = np.random.default_rng(1)
    arr = rng.integers(0, 1000, size=(n, 1, 1)).astype(np.float64)
    src = NDDataset({"v": (("t", "y", "x"), arr)}, {"t": np.arange(n, dtype=np.int64)}, {})
    d = Dataset.from_numpy(spark, src, chunks={"t": 1})  # 4096-chunk fan-in

    monkeypatch.setattr(dsmod, "DEFAULT_MERGE_FANIN", 16)
    staged = d.mean("t")  # 4096 → 256 → 16 → final
    plan = staged.df._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInArrow") == 3  # two partial rounds + final
    monkeypatch.setattr(dsmod, "DEFAULT_MERGE_FANIN", n + 1)
    single = d.mean("t")  # forced single-stage
    got, want = staged.collect(), single.collect()
    np.testing.assert_array_equal(got.data_vars["v"].values, want.data_vars["v"].values)
    np.testing.assert_array_equal(got.data_vars["v"].values, arr.mean(axis=0))

    # default fan-in threshold: small reductions stay single-stage
    monkeypatch.undo()
    small = Dataset.from_numpy(spark, dummy_era5(), chunks={"time": 10}).mean("time")
    assert small.df._jdf.queryExecution().analyzed().toString().count("FlatMapGroupsInArrow") == 1


def test_staged_tree_merge_groupby(spark, monkeypatch):
    """groupby_reduce stages its merge the same way; result identical."""
    n = 256
    rng = np.random.default_rng(2)
    arr = rng.integers(0, 100, size=(n, 2)).astype(np.float64)
    src = NDDataset({"v": (("t", "y"), arr)}, {"t": np.arange(n, dtype=np.int64)}, {})
    d = Dataset.from_numpy(spark, src, chunks={"t": 1})
    labels = (np.arange(n) % 7).astype(np.int64)
    monkeypatch.setattr(dsmod, "DEFAULT_MERGE_FANIN", 8)
    staged = d.groupby_reduce("t", labels, op="sum", new_dim="g")  # 256 → 32 → 4 → final
    assert staged.df._jdf.queryExecution().analyzed().toString().count("FlatMapGroupsInArrow") == 3
    got = staged.collect()
    want = np.stack([arr[labels == g].sum(axis=0) for g in range(7)])
    np.testing.assert_array_equal(got.data_vars["v"].values, want)


def _fanin_source() -> NDDataset:
    """Integer-valued float64 with scattered NaNs and one all-NaN column."""
    rng = np.random.default_rng(11)
    a = rng.integers(0, 10, size=(8, 3)).astype(np.float64)
    b = rng.integers(0, 10, size=(8, 3)).astype(np.float64)
    a[[1, 4], 0] = np.nan
    a[:, 2] = np.nan
    b[3, 1] = np.nan
    return NDDataset(
        {"a": (("t", "y"), a), "b": (("t", "y"), b)},
        {"t": np.arange(8, dtype=np.int64), "y": np.arange(3, dtype=np.int64)},
        {},
    )


_FANIN_LABELS = np.array([0, 1, 1, 0, 2, 2, 1, 0])
# key combination (k1=0, k2=1) never occurs: an empty group
_FANIN_KEYS = {
    "k1": np.array([0, 0, 0, 1, 1, 1, 0, 1]),
    "k2": np.array([0, 0, 0, 0, 1, 1, 0, 1]),
}

# case → (build, grouped-map rounds at fan-in 2, at the default fan-in).
# 8 chunks along t: 8 → 4 → 2 takes two merge rounds before the final one.
_FANIN_CASES = {
    "mean": (lambda d: d.mean("t"), 3, 1),
    "mean_t_y": (lambda d: d.mean(["t", "y"]), 4, 1),  # 16 chunks: 3 rounds
    "sum": (lambda d: d.sum("t"), 3, 1),
    "min": (lambda d: d.min("t"), 3, 1),
    "max": (lambda d: d.max("t"), 3, 1),
    "min_keepnan": (lambda d: d.min("t", skipna=False), 3, 1),
    "max_keepnan": (lambda d: d.max("t", skipna=False), 3, 1),
    "std": (lambda d: d.std("t"), 3, 1),
    "std_ddof1": (lambda d: d.std("t", ddof=1), 3, 1),
    "var": (lambda d: d.var("t"), 3, 1),
    "var_ddof1": (lambda d: d.var("t", ddof=1), 3, 1),
    "count": (lambda d: d.count("t"), 3, 1),
    "argmin": (lambda d: d.argmin("t"), 3, 1),
    "argmax": (lambda d: d.argmax("t"), 3, 1),
    "trend": (lambda d: d.trend("t"), 3, 1),
    "corr": (lambda d: d.corr("a", "b", "t"), 3, 1),
    "gb_mean": (lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="mean"), 3, 1),
    "gb_sum": (lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="sum"), 3, 1),
    "gb_min": (lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="min"), 3, 1),
    "gb_max": (lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="max"), 3, 1),
    "gb_std": (lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="std"), 3, 1),
    "gb_var": (lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="var"), 3, 1),
    "gb_median": (lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="median"), 3, 1),
    "gb_quantile": (
        lambda d: d.groupby_reduce("t", _FANIN_LABELS, op="quantile", q=0.25), 3, 1
    ),
    "gb_two_keys": (lambda d: d.groupby_reduce("t", _FANIN_KEYS, op="mean"), 3, 1),
    "histogram": (lambda d: d.histogram("t", np.array([0.0, 2.0, 5.0, 9.0])), 3, 1),
}


@pytest.mark.parametrize("case", sorted(_FANIN_CASES))
def test_tree_merge_rounds_do_not_change_results(spark, monkeypatch, case):
    """Every grid reduction gives the same numbers whether its accumulators
    merge in one final round or through extra tree-merge rounds."""
    build, staged_rounds, single_rounds = _FANIN_CASES[case]
    d = Dataset.from_numpy(spark, _fanin_source(), chunks={"t": 1, "y": 2})

    def grouped_maps(r):
        return r.df._jdf.queryExecution().analyzed().toString().count(
            "FlatMapGroupsInArrow"
        )

    single = build(d)
    monkeypatch.setattr(dsmod, "DEFAULT_MERGE_FANIN", 2)
    staged = build(d)
    assert grouped_maps(single) == single_rounds
    assert grouped_maps(staged) == staged_rounds
    got, want = staged.collect(), single.collect()
    assert set(got.data_vars) == set(want.data_vars)
    for v in want.data_vars:
        assert got.data_vars[v].dims == want.data_vars[v].dims
        assert got.data_vars[v].values.dtype == want.data_vars[v].values.dtype
        np.testing.assert_array_equal(got.data_vars[v].values, want.data_vars[v].values)


@pytest.mark.parametrize("op", ["std", "var"])
def test_std_var_nan_where_count_at_most_ddof(spark, op):
    """Cells with count <= ddof are NaN, as in np.nanvar / xarray: one
    value with ddof=2 (the bare formula gives 0.0) and two values with
    ddof=2 (the bare formula divides by zero: inf)."""
    vals = np.array([[1.0, 0.1, 3.0], [np.nan, 0.2, 5.0], [np.nan, np.nan, 4.0]])
    d = Dataset.from_numpy(spark, NDDataset({"v": (("t", "y"), vals)}, {}, {}), chunks={"t": 1})
    for ddof in (1, 2):
        got = getattr(d, op)("t", ddof=ddof).collect().data_vars["v"].values
        with np.errstate(all="ignore"), pytest.warns(RuntimeWarning):
            want = np.nanvar(vals, axis=0, ddof=ddof)
        if op == "std":
            want = np.sqrt(want)
        np.testing.assert_allclose(got, want, rtol=1e-12)
        assert np.isnan(got[0]) and (np.isnan(got[1]) if ddof == 2 else np.isfinite(got[1]))


@pytest.mark.parametrize(
    "edges",
    [[0.0, np.nan, 2.0], [0.0, np.inf, np.inf], [0.0, 1.0, 1.0], [1.0], [[0.0, 1.0]]],
    ids=["nan", "repeated_inf", "repeated", "single", "2d"],
)
def test_histogram_rejects_bad_edges(spark, era5, edges):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 12})
    with pytest.raises(ValueError, match="strictly increasing"):
        d.histogram("time", np.array(edges))


@pytest.mark.parametrize(
    "reduce",
    [
        lambda d: d.mean("x"),
        lambda d: d.groupby_reduce("x", np.zeros(24)),
        lambda d: d.histogram("x", np.array([0.0, 1.0])),
    ],
    ids=["agg", "groupby_reduce", "histogram"],
)
@pytest.mark.parametrize("split_vars", [False, True])
def test_reduction_over_missing_dim_names_the_dim(spark, era5, reduce, split_vars):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 12}, split_vars=split_vars)
    with pytest.raises(KeyError, match="no dimension 'x'"):
        reduce(d)


def test_from_numpy_broadcast_budget_guard(spark):
    """VERDICT r1 #7: from_numpy refuses sources over the broadcast budget
    and points at the Zarr path."""
    import pytest as _pytest

    src = dummy_era5(n_time=24)
    with _pytest.raises(ValueError, match="broadcast budget.*from_zarr"):
        Dataset.from_numpy(spark, src, chunks={"time": 10}, max_broadcast_bytes=1024)
    # raising the budget explicitly still works
    d = Dataset.from_numpy(spark, src, chunks={"time": 10}, max_broadcast_bytes=10**9)
    assert d.chunk_count == 3


def _np_lag_diff(vals, n, axis):
    out = np.full(vals.shape, np.nan)
    src = [slice(None)] * vals.ndim
    src[axis] = slice(n, None)
    prev = [slice(None)] * vals.ndim
    prev[axis] = slice(None, max(0, vals.shape[axis] - n))
    out[tuple(src)] = vals[tuple(src)].astype(np.float64) - vals[tuple(prev)]
    return out


def test_diff_halo_exchange(spark, era5):
    """diff across chunk boundaries equals the single-array lag diff."""
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    got = d.diff("time").collect()
    for v, var in era5.data_vars.items():
        np.testing.assert_array_equal(
            got.data_vars[v].values,
            _np_lag_diff(var.values, 1, var.dims.index("time")),
        )
    # coords and grid preserved
    assert got.sizes == era5.sizes


def test_diff_n2_and_single_chunk(spark, era5):
    d_multi = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    d_one = Dataset.from_numpy(spark, era5, chunks={"time": 24})
    a = d_multi.diff("time", n=2).collect()
    b = d_one.diff("time", n=2).collect()
    for v in era5.data_vars:
        np.testing.assert_array_equal(a.data_vars[v].values, b.data_vars[v].values)


def test_diff_halo_wider_than_chunk_falls_back(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 3})
    got = d.diff("time", n=5).collect()
    for v, var in era5.data_vars.items():
        np.testing.assert_array_equal(
            got.data_vars[v].values,
            _np_lag_diff(var.values, 5, var.dims.index("time")),
        )


def test_diff_lag_at_least_the_dim_is_all_nan(spark, era5):
    """n >= the dim's 24 steps leaves no position with its lag: all NaN,
    on one whole chunk and on a multi-chunk grid gathered first."""
    for chunk, n in ((24, 24), (24, 30), (7, 30)):
        got = Dataset.from_numpy(spark, era5, chunks={"time": chunk}).diff("time", n=n).collect()
        for v, var in era5.data_vars.items():
            want = _np_lag_diff(var.values, n, var.dims.index("time"))
            assert np.isnan(want).all()
            np.testing.assert_array_equal(got.data_vars[v].values, want)


def test_shift_matches_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    for n in (3, 30):  # 30 > the 24 steps: all NaN
        got = d.shift("time", n=n).collect()
        for v, var in era5.data_vars.items():
            ax = var.dims.index("time")
            want = np.full(var.values.shape, np.nan)
            src = [slice(None)] * var.values.ndim
            src[ax] = slice(n, None)
            prev = [slice(None)] * var.values.ndim
            prev[ax] = slice(None, max(0, var.values.shape[ax] - n))
            want[tuple(src)] = var.values[tuple(prev)]
            np.testing.assert_array_equal(got.data_vars[v].values, want)


def test_rolling_reduce_matches_pandas(spark, era5):
    import pandas as _pd

    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    for op in ("mean", "sum", "min", "max"):
        got = d.rolling_reduce("time", 5, op=op).collect()
        for v, var in era5.data_vars.items():
            ax = var.dims.index("time")
            flat = np.moveaxis(var.values.astype(np.float64), ax, 0)
            rolled = getattr(
                _pd.DataFrame(flat.reshape(flat.shape[0], -1)).rolling(5, min_periods=1),
                op,
            )().to_numpy().reshape(flat.shape)
            want = np.moveaxis(rolled, 0, ax)
            np.testing.assert_allclose(got.data_vars[v].values, want, rtol=1e-12)


def test_groupby_reduce_std_var(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 5, "latitude": 4})
    labels = (np.arange(24) % 3).astype(np.int64)
    arr = era5.data_vars["asn"].values.astype(np.float64)
    for op, fn in [("var", np.var), ("std", np.std)]:
        got = d.groupby_reduce("time", labels, op=op, new_dim="g").collect()
        want = np.stack([fn(arr[labels == g], axis=0) for g in range(3)])
        np.testing.assert_allclose(got.data_vars["asn"].values, want, rtol=1e-10)


def test_groupby_reduce_std_skipna_and_staged_merge(spark, era5, monkeypatch):
    import copy

    vals = era5.data_vars["asn"].values.astype(np.float64).copy()
    vals[::4] = np.nan
    from xarray_beam_spark.ndarray_ds import NDDataset

    nd = NDDataset(
        {"asn": (era5.data_vars["asn"].dims, vals)}, dict(era5.coords), {}
    )
    d = Dataset.from_numpy(spark, nd, chunks={"time": 2})
    labels = (np.arange(24) % 3).astype(np.int64)
    # fan-in 2 forces multiple tree-merge rounds over the 12 chunks
    monkeypatch.setattr(dsmod, "DEFAULT_MERGE_FANIN", 2)
    got = d.groupby_reduce("time", labels, op="std", new_dim="g").collect()
    want = np.stack(
        [
            np.sqrt(np.nanvar(vals[labels == g], axis=0))
            for g in range(3)
        ]
    )
    np.testing.assert_allclose(got.data_vars["asn"].values, want, rtol=1e-10)


def test_groupby_reduce_median_quantile(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 5, "latitude": 4})
    labels = (np.arange(24) % 3).astype(np.int64)
    arr = era5.data_vars["asn"].values.astype(np.float64)
    got = d.groupby_reduce("time", labels, op="median", new_dim="g").collect()
    want = np.stack([np.median(arr[labels == g], axis=0) for g in range(3)])
    np.testing.assert_allclose(got.data_vars["asn"].values, want, rtol=1e-12)
    got_q = d.groupby_reduce("time", labels, op="quantile", new_dim="g", q=0.25).collect()
    want_q = np.stack([np.quantile(arr[labels == g], 0.25, axis=0) for g in range(3)])
    np.testing.assert_allclose(got_q.data_vars["asn"].values, want_q, rtol=1e-12)


def test_groupby_median_nan_and_tree_merge(spark, era5, monkeypatch):
    from xarray_beam_spark.ndarray_ds import NDDataset

    vals = era5.data_vars["asn"].values.astype(np.float64).copy()
    vals[::3] = np.nan
    nd = NDDataset({"asn": (era5.data_vars["asn"].dims, vals)}, dict(era5.coords), {})
    d = Dataset.from_numpy(spark, nd, chunks={"time": 2})
    labels = (np.arange(24) % 4).astype(np.int64)
    monkeypatch.setattr(dsmod, "DEFAULT_MERGE_FANIN", 2)
    got = d.groupby_reduce("time", labels, op="median", new_dim="g").collect()
    want = np.stack(
        [np.nanmedian(vals[labels == g], axis=0) for g in range(4)]
    )
    np.testing.assert_allclose(got.data_vars["asn"].values, want, rtol=1e-12)


def test_stack_matches_numpy_reshape(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    s = d.stack("z", ["latitude", "longitude"]).collect()
    for v, var in era5.data_vars.items():
        want = var.values.reshape(var.values.shape[0], -1)
        np.testing.assert_array_equal(s.data_vars[v].values, want)
        assert s.data_vars[v].dims == ("time", "z")


def test_stack_unstack_roundtrip(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7, "latitude": 3})
    s = d.stack("z", ["latitude", "longitude"])
    # stacking rechunked latitude to whole; z chunk = lat_chunk * n_lon
    back = s.unstack(
        "z",
        {"latitude": 7, "longitude": 9},
        coords={
            "latitude": era5.coords["latitude"].values,
            "longitude": era5.coords["longitude"].values,
        },
    ).collect()
    got = back.transpose("time", "latitude", "longitude")
    for v, var in era5.data_vars.items():
        np.testing.assert_array_equal(got.data_vars[v].values, var.values)
    np.testing.assert_array_equal(
        got.coords["latitude"].values, era5.coords["latitude"].values
    )


def test_stack_product_coords(spark, era5):
    # MultiIndex-style coords: each stacked dim keeps its index coordinate
    # on the new dim, expanded over the C-order product (xarray semantics)
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    s = d.stack("z", ["time", "latitude", "longitude"]).collect()
    nt, nlat, nlon = 24, 7, 9
    np.testing.assert_array_equal(
        s.coords["time"].values,
        np.repeat(era5.coords["time"].values, nlat * nlon),
    )
    np.testing.assert_array_equal(
        s.coords["latitude"].values,
        np.tile(np.repeat(era5.coords["latitude"].values, nlon), nt),
    )
    np.testing.assert_array_equal(
        s.coords["longitude"].values,
        np.tile(era5.coords["longitude"].values, nt * nlat),
    )
    assert s.coords["time"].dims == ("z",)


def test_stack_first_dim_stays_chunked(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    s = d.stack("z", ["time", "latitude", "longitude"])
    assert s.chunks["z"] == 6 * 7 * 9
    offs = sorted(r["off_z"] for r in s.df.select("off_z").collect())
    assert offs == [0, 378, 756, 1134]
    vals = s.collect().data_vars["asn"].values
    np.testing.assert_array_equal(vals, era5.data_vars["asn"].values.reshape(-1))


def test_sortby_restores_shuffled_order(spark, era5):
    rng = np.random.default_rng(3)
    perm = rng.permutation(era5.sizes["time"])
    shuffled = era5.isel({"time": perm})
    d = Dataset.from_numpy(spark, shuffled, chunks={"time": 6})
    got = d.sortby("time").collect()
    for v in era5.data_vars:
        np.testing.assert_array_equal(got.data_vars[v].values, era5.data_vars[v].values)
    np.testing.assert_array_equal(got.coords["time"].values, era5.coords["time"].values)


def test_sortby_descending_and_identity(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    assert d.sortby("time") is d  # already sorted: no job at all
    got = d.sortby("time", ascending=False).collect()
    np.testing.assert_array_equal(
        got.coords["time"].values, era5.coords["time"].values[::-1]
    )
    for v in era5.data_vars:
        ax = era5.data_vars[v].dims.index("time")
        np.testing.assert_array_equal(
            got.data_vars[v].values,
            np.flip(era5.data_vars[v].values, axis=ax),
        )


def test_sortby_requires_coordinate(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    with pytest.raises(ValueError, match="coordinate"):
        d.sortby("nonexistent_dim")


def test_shift_negative_matches_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 7})
    for n in (-1, -5, -30):
        got = d.shift("time", n=n).collect()
        for v, var in era5.data_vars.items():
            if "time" not in var.dims:
                np.testing.assert_array_equal(got.data_vars[v].values, var.values)
                continue
            ax = var.dims.index("time")
            k = -n
            want = np.full(var.values.shape, np.nan)
            m = var.values.shape[ax]
            if k < m:
                dst = [slice(None)] * var.values.ndim
                dst[ax] = slice(None, m - k)
                src = [slice(None)] * var.values.ndim
                src[ax] = slice(k, None)
                want[tuple(dst)] = var.values[tuple(src)]
            np.testing.assert_array_equal(got.data_vars[v].values, want)
    assert d.shift("time", 0) is d


class TestArithmetic:
    """xarray-ergonomics operators: scalar ops are narrow map_blocks,
    Dataset ops ride zip_map's chunk-grid equi-join."""

    def _pair(self, spark):
        rng = np.random.default_rng(3)
        a = NDDataset(
            {"v": (("x", "y"), rng.normal(size=(8, 5)) + 5)},
            coords={"x": np.arange(8)},
        )
        b = NDDataset(
            {"v": (("y", "x"), rng.normal(size=(5, 8)) + 2)},  # transposed dims
            coords={"x": np.arange(8)},
        )
        return (
            a, b,
            Dataset.from_numpy(spark, a, chunks={"x": 3}),
            Dataset.from_numpy(spark, b, chunks={"x": 3}),
        )

    def test_scalar_ops(self, spark):
        a, _, da, _ = self._pair(spark)
        got = ((da * 2 + 1) / 4 - 3).collect().data_vars["v"].values
        np.testing.assert_allclose(got, (a.data_vars["v"].values * 2 + 1) / 4 - 3)
        got_r = (10.0 / da).collect().data_vars["v"].values
        np.testing.assert_allclose(got_r, 10.0 / a.data_vars["v"].values)
        np.testing.assert_allclose(
            (-da).collect().data_vars["v"].values, -a.data_vars["v"].values
        )

    def test_dataset_ops_align_dims(self, spark):
        a, b, da, db = self._pair(spark)
        got = (da - db).collect().data_vars["v"].values
        want = a.data_vars["v"].values - b.data_vars["v"].values.T
        np.testing.assert_allclose(got, want)
        got2 = (da / db).collect().data_vars["v"].values
        np.testing.assert_allclose(
            got2, a.data_vars["v"].values / b.data_vars["v"].values.T
        )

    def test_mismatched_vars_rejected(self, spark):
        a, _, da, _ = self._pair(spark)
        c = NDDataset(
            {"w": (("x", "y"), np.ones((8, 5)))}, coords={"x": np.arange(8)}
        )
        dc = Dataset.from_numpy(spark, c, chunks={"x": 3})
        with pytest.raises(Exception, match="matching variables"):
            (da + dc).collect()


def test_numpy_defers_to_dataset_ops(spark):
    """ndarray <op> Dataset must defer to our reflected methods (via the
    __array_ufunc__ opt-out), not coerce the Dataset to an object array."""
    nd = NDDataset({"v": (("x",), np.arange(4.0) + 1)})
    d = Dataset.from_numpy(spark, nd, chunks={"x": 2})
    res = np.float64(2.0) * d
    assert isinstance(res, Dataset)
    np.testing.assert_allclose(
        res.collect().data_vars["v"].values, 2.0 * (np.arange(4.0) + 1)
    )


class TestSelMethodAndElementwise:
    def _ds(self, spark):
        nd = NDDataset(
            {"v": (("t",), np.array([1.5, -2.25, 3.75, -0.5]))},
            coords={"t": np.array([0.0, 10.0, 20.0, 30.0])},
        )
        return nd, Dataset.from_numpy(spark, nd, chunks={"t": 2})

    def test_sel_nearest_ffill_bfill(self, spark):
        nd, d = self._ds(spark)
        assert d.sel(t=12.0, method="nearest").collect().data_vars["v"].values[0] == -2.25
        assert d.sel(t=16.0, method="nearest").collect().data_vars["v"].values[0] == 3.75
        # exact midpoint ties resolve to the HIGHER label (pandas/xarray parity)
        assert d.sel(t=15.0, method="nearest").collect().data_vars["v"].values[0] == 3.75
        assert d.sel(t=19.0, method="ffill").collect().data_vars["v"].values[0] == -2.25
        assert d.sel(t=19.0, method="bfill").collect().data_vars["v"].values[0] == 3.75
        # exact labels still work with a method set
        assert d.sel(t=20.0, method="nearest").collect().data_vars["v"].values[0] == 3.75
        with pytest.raises(KeyError):
            d.sel(t=12.0)  # inexact without method still fails loudly
        with pytest.raises(KeyError, match="outside"):
            d.sel(t=-5.0, method="ffill")

    def test_take_and_fancy_indexing(self, spark):
        rng = np.random.default_rng(0)
        nd = NDDataset(
            {"v": (("t", "x"), rng.normal(size=(10, 4)))},
            coords={
                "t": np.arange(10, dtype=np.int64) * 2,
                "x": np.arange(4, dtype=np.int64),
            },
        )
        d = Dataset.from_numpy(spark, nd, chunks={"t": 3})
        vals = nd.data_vars["v"].values
        # take: arbitrary order + repeats, coords follow
        got = d.take("t", [7, 2, 2, 5]).collect()
        np.testing.assert_array_equal(got.data_vars["v"].values, vals[[7, 2, 2, 5]])
        np.testing.assert_array_equal(
            got.coords["t"].values, nd.coords["t"].values[[7, 2, 2, 5]]
        )
        # isel with a non-contiguous integer list gathers
        got2 = d.isel(t=[0, 3, 9]).collect()
        np.testing.assert_array_equal(got2.data_vars["v"].values, vals[[0, 3, 9]])
        # a contiguous ascending list takes the pruning window path
        got3 = d.isel(t=[2, 3, 4]).collect()
        np.testing.assert_array_equal(got3.data_vars["v"].values, vals[2:5])
        # sel with a label list (order preserved), with and without method
        got4 = d.sel(t=[14, 4, 0]).collect()
        np.testing.assert_array_equal(got4.data_vars["v"].values, vals[[7, 2, 0]])
        got5 = d.sel(t=[13, 5], method="nearest").collect()
        np.testing.assert_array_equal(got5.data_vars["v"].values, vals[[7, 3]])
        # mixed window + gather
        got6 = d.sel(t=[4, 0], x=slice(1, 2)).collect()
        np.testing.assert_array_equal(
            got6.data_vars["v"].values, vals[[2, 0]][:, 1:3]
        )
        # thin = strided take (xarray Dataset.thin)
        got7 = d.thin(t=3).collect()
        np.testing.assert_array_equal(got7.data_vars["v"].values, vals[::3])
        np.testing.assert_array_equal(
            got7.coords["t"].values, nd.coords["t"].values[::3]
        )
        assert d.thin(t=1) is d  # step 1 is the identity
        with pytest.raises(IndexError):
            d.take("t", [99])
        with pytest.raises(ValueError, match="non-empty"):
            d.take("t", [])
        with pytest.raises(KeyError):
            d.sel(t=[999])  # unknown label without method

    def test_clip_abs_round(self, spark):
        nd, d = self._ds(spark)
        arr = nd.data_vars["v"].values
        np.testing.assert_array_equal(
            d.clip(min=-1.0, max=2.0).collect().data_vars["v"].values,
            np.clip(arr, -1.0, 2.0),
        )
        np.testing.assert_array_equal(
            abs(d).collect().data_vars["v"].values, np.abs(arr)
        )
        np.testing.assert_array_equal(
            d.round().collect().data_vars["v"].values, np.round(arr)
        )


class TestCalculus:
    def _ds(self, spark):
        rng = np.random.default_rng(5)
        nd = NDDataset(
            {"v": (("t", "x"), rng.normal(size=(12, 4)))},
            coords={
                "t": np.arange(12, dtype=np.int64) * 3,  # uniform spacing 3
                "x": np.arange(4, dtype=np.int64),
            },
        )
        return nd, Dataset.from_numpy(spark, nd, chunks={"t": 4})

    def test_differentiate_matches_np_gradient(self, spark):
        nd, d = self._ds(spark)
        got = d.differentiate("t").collect()
        want = np.gradient(nd.data_vars["v"].values, np.arange(12) * 3.0, axis=0, edge_order=1)
        np.testing.assert_array_equal(got.data_vars["v"].values, want)

    def test_integrate_matches_np_trapz(self, spark):
        nd, d = self._ds(spark)
        got = d.integrate("t").collect()
        want = np.trapz(nd.data_vars["v"].values, np.arange(12) * 3.0, axis=0)
        assert got.data_vars["v"].dims == ("x",)
        np.testing.assert_array_equal(got.data_vars["v"].values, want)

    def test_datetime_coordinate_needs_unit(self, spark):
        rng = np.random.default_rng(6)
        nd = NDDataset(
            {"v": (("t",), rng.normal(size=6))},
            coords={"t": np.arange("2024-01-01", 6, dtype="datetime64[h]").astype("datetime64[us]")},
        )
        d = Dataset.from_numpy(spark, nd, chunks={"t": 3})
        import pytest

        with pytest.raises(ValueError, match="datetime_unit"):
            d.differentiate("t")
        got = d.differentiate("t", datetime_unit="h").collect()
        want = np.gradient(nd.data_vars["v"].values, np.arange(6, dtype=np.float64), edge_order=1)
        np.testing.assert_array_equal(got.data_vars["v"].values, want)
        # integral over hours == trapz against the hour axis
        gi = d.integrate("t", datetime_unit="h").collect()
        np.testing.assert_array_equal(
            gi.data_vars["v"].values, np.trapz(nd.data_vars["v"].values, np.arange(6.0))
        )


class TestMerge:
    def test_merge_unions_variables(self, spark):
        rng = np.random.default_rng(8)
        base = {"coords": {"t": np.arange(8, dtype=np.int64)}}
        a = Dataset.from_numpy(
            spark, NDDataset({"u": (("t",), rng.normal(size=8))}, base["coords"]), chunks={"t": 4}
        )
        b = Dataset.from_numpy(
            spark, NDDataset({"v": (("t",), rng.normal(size=8))}, base["coords"]), chunks={"t": 4}
        )
        m = a.merge(b).collect()
        assert set(m.data_vars) == {"u", "v"}

    def test_merge_conflict_raises(self, spark):
        rng = np.random.default_rng(8)
        c = {"t": np.arange(4, dtype=np.int64)}
        a = Dataset.from_numpy(spark, NDDataset({"u": (("t",), rng.normal(size=4))}, c), chunks={"t": 4})
        b = Dataset.from_numpy(spark, NDDataset({"u": (("t",), rng.normal(size=4))}, c), chunks={"t": 4})
        with pytest.raises(ValueError, match="merge conflict"):
            a.merge(b)


def test_gather_dim_preserves_other_chunking_and_caps_memory(spark, era5):
    """VERDICT r7 #1 integration: the whole-dim gather behind
    cumulative/rank/sortby/... keeps other dims chunked (it no longer
    collapses the dataset to ONE chunk) and auto-splits them further when
    the gathered chunk would exceed max_mem — values unchanged."""
    d = Dataset.from_numpy(
        spark, era5, chunks={"time": 10, "latitude": 7, "longitude": 9}
    )
    g = d._gather_dim("time")
    assert g.chunks == {"time": 24, "latitude": 7, "longitude": 9}
    # tight budget: 24 * 7 * 9 * 2 vars * 4 bytes ≈ 12 kB > 3 kB → other
    # dims must split until each gathered slab fits
    from xarray_beam_spark.plans import rechunk_plan

    itemsize = d.template.itemsize(d.split_vars)
    tight = d._gather_dim("time", max_mem=3_000)
    assert tight.chunks["time"] == 24
    assert rechunk_plan.chunk_nbytes(tight.chunks, itemsize) <= 3_000
    assert tight.collect().identical(d.collect())
    # irreducible case raises with the remedy, not an executor OOM
    with pytest.raises(ValueError, match="Raise max_mem"):
        d._gather_dim("time", max_mem=24 * itemsize - 1)


def test_cumulative_multichunk_other_dims(spark, era5):
    """Order-dependent scan with OTHER dims chunked: per-series results
    must match numpy exactly even though each task now sees only a
    lat/lon sub-slab (the post-guard execution shape)."""
    d = Dataset.from_numpy(
        spark, era5, chunks={"time": 6, "latitude": 3, "longitude": 4}
    )
    got = d.cumulative("time").collect()
    for v, var in era5.data_vars.items():
        want = np.nancumsum(var.values.astype(np.float64), axis=0)
        np.testing.assert_array_equal(got.data_vars[v].values, want)


def test_gather_dim_ops_multichunk_other_dims(spark, era5):
    """Every _gather_dim-backed op under MULTI-CHUNK other dims (the
    post-guard execution shape: before round 8, rechunk({dim:-1})
    collapsed the whole dataset to one chunk, so per-series tasks never
    saw lat/lon sub-slabs). Each op must match numpy exactly."""
    chunks = {"time": 6, "latitude": 3, "longitude": 4}
    d = Dataset.from_numpy(spark, era5, chunks=chunks)
    arr = era5.data_vars["asn"].values  # (time, lat, lon)

    got = d.roll("time", 5).collect()
    np.testing.assert_array_equal(
        got.data_vars["asn"].values, np.roll(arr, 5, axis=0)
    )

    got = d.sortby("time", ascending=False).collect()
    np.testing.assert_array_equal(got.data_vars["asn"].values, arr[::-1])
    np.testing.assert_array_equal(
        got.coords["time"].values, era5.coords["time"].values[::-1]
    )

    idx = [3, 0, 17, 3, 23]
    got = d.take("time", idx).collect()
    np.testing.assert_array_equal(got.data_vars["asn"].values, arr[idx])

    got = d.shift("time", -2).collect()  # negative n: the gather fallback
    want = np.full_like(arr, np.nan)
    want[:-2] = arr[2:]
    np.testing.assert_array_equal(got.data_vars["asn"].values, want)

    got = d.rank("time", method="min").collect()
    want = np.empty_like(arr)
    # min-rank via sort+searchsorted per series (matches SQL RANK())
    for i in range(arr.shape[1]):
        for j in range(arr.shape[2]):
            s = np.sort(arr[:, i, j])
            want[:, i, j] = np.searchsorted(s, arr[:, i, j], side="left") + 1
    np.testing.assert_array_equal(got.data_vars["asn"].values, want)


def test_fill_ops_multichunk_other_dims(spark):
    """ffill/bfill/interpolate_na with NaN gaps AND chunked other dims."""
    rng = np.random.default_rng(7)
    vals = rng.normal(size=(12, 6, 5))
    vals[rng.random(vals.shape) < 0.4] = np.nan
    ds = NDDataset(
        {"v": (("t", "y", "x"), vals)},
        {"t": np.arange(12), "y": np.arange(6), "x": np.arange(5)},
        {},
    )
    d = Dataset.from_numpy(spark, ds, chunks={"t": 4, "y": 2, "x": 3})

    import pandas as pd

    flat = vals.reshape(12, -1)
    ff = pd.DataFrame(flat).ffill().to_numpy().reshape(vals.shape)
    bf = pd.DataFrame(flat).bfill().to_numpy().reshape(vals.shape)
    got_ff = d.ffill("t").collect().data_vars["v"].values
    got_bf = d.bfill("t").collect().data_vars["v"].values
    np.testing.assert_array_equal(got_ff, ff)
    np.testing.assert_array_equal(got_bf, bf)

    got_in = d.interpolate_na("t").collect().data_vars["v"].values
    # leading/trailing NaN stay NaN; interior gaps linear in index space
    for i in range(6):
        for j in range(5):
            s = vals[:, i, j]
            w = got_in[:, i, j]
            nz = np.nonzero(~np.isnan(s))[0]
            for k in range(12):
                if not np.isnan(s[k]):
                    assert w[k] == s[k]
                elif len(nz) and nz[0] < k < nz[-1]:
                    pi = nz[nz < k][-1]
                    ni = nz[nz > k][0]
                    expect = s[pi] + (s[ni] - s[pi]) * ((k - pi) / (ni - pi))
                    assert w[k] == expect, (i, j, k)
                else:
                    assert np.isnan(w[k])


def _np_ffill(vals: np.ndarray) -> np.ndarray:
    out = vals.copy()
    for i in range(1, len(out)):
        out[i] = np.where(np.isnan(out[i]), out[i - 1], out[i])
    return out


def _np_interpolate_na(vals: np.ndarray) -> np.ndarray:
    out = vals.copy()
    steps = np.arange(len(vals))
    for j in range(vals.shape[1]):
        ok = ~np.isnan(vals[:, j])
        inside = (steps > steps[ok].min()) & (steps < steps[ok].max()) & ~ok
        out[inside, j] = np.interp(steps[inside], steps[ok], vals[ok, j])
    return out


def _np_rank_min(vals: np.ndarray) -> np.ndarray:
    out = np.full(vals.shape, np.nan)
    for j in range(vals.shape[1]):
        ok = ~np.isnan(vals[:, j])
        out[ok, j] = np.searchsorted(np.sort(vals[ok, j]), vals[ok, j]) + 1
    return out


_T = np.array([0.0, 1.0, 3.0, 4.0, 7.0, 8.0, 9.0, 12.0, 13.0, 15.0, 16.0, 20.0])
_T_NEW = np.array([0.5, 2.0, 7.0, 19.0])


def _np_shift_back2(a: np.ndarray) -> np.ndarray:
    out = np.full(a.shape, np.nan)
    out[:-2] = a[2:]
    return out


def _np_interp(a: np.ndarray) -> np.ndarray:
    return np.stack([np.interp(_T_NEW, _T, a[:, j]) for j in range(a.shape[1])], axis=1)


# op name -> (the op on a Dataset, the same op on the (t, x) array of `a`)
_WHOLE_DIM_OPS = {
    "cumulative": (lambda d: d.cumulative("t"),
                   lambda a: np.where(np.isnan(a), np.nan, np.nancumsum(a, axis=0))),
    "differentiate": (lambda d: d.differentiate("t"),
                      lambda a: np.gradient(a, _T, axis=0, edge_order=1)),
    "integrate": (lambda d: d.integrate("t"),
                  lambda a: (getattr(np, "trapezoid", None) or np.trapz)(a, _T, axis=0)),
    "ffill": (lambda d: d.ffill("t"), _np_ffill),
    "bfill": (lambda d: d.bfill("t"), lambda a: _np_ffill(a[::-1])[::-1]),
    "interpolate_na": (lambda d: d.interpolate_na("t"), _np_interpolate_na),
    "interp": (lambda d: d.interp("t", _T_NEW), _np_interp),
    "rank": (lambda d: d.rank("t", method="min"), _np_rank_min),
    "take": (lambda d: d.take("t", [5, 0, 11, 5]), lambda a: a[[5, 0, 11, 5]]),
    "thin": (lambda d: d.thin(t=5), lambda a: a[::5]),
    "isel": (lambda d: d.isel(t=[3, 1, 2]), lambda a: a[[3, 1, 2]]),
    "sel": (lambda d: d.sel(t=[9.0, 0.0]), lambda a: a[[6, 0]]),
    "roll": (lambda d: d.roll("t", 5), lambda a: np.roll(a, 5, axis=0)),
    "sortby": (lambda d: d.sortby("t", ascending=False), lambda a: a[::-1]),
    "shift": (lambda d: d.shift("t", -2), _np_shift_back2),
    "median": (lambda d: d.median("t"), lambda a: np.nanmedian(a, axis=0)),
    "quantile": (lambda d: d.quantile(0.25, "t"), lambda a: np.nanquantile(a, 0.25, axis=0)),
}


@pytest.mark.parametrize("op", sorted(_WHOLE_DIM_OPS))
def test_whole_dim_ops_pass_dimless_variables_through(spark, op):
    """A variable without the op's dim (``b(x)`` next to ``a(t, x)``)
    comes back unchanged in values and dtype, under every whole-dim op;
    ``a`` matches NumPy."""
    rng = np.random.default_rng(12)
    a = rng.normal(size=(12, 5))
    a[rng.random(a.shape) < 0.25] = np.nan
    a[0, :] = rng.normal(size=5)  # every series has a first and a last value
    a[-1, :] = rng.normal(size=5)
    b = np.arange(5, dtype=np.int32) * 7
    nd = NDDataset(
        {"a": (("t", "x"), a), "b": (("x",), b)},
        {"t": _T, "x": np.arange(5)},
    )
    d = Dataset.from_numpy(spark, nd, chunks={"t": 4, "x": 2})
    run, oracle = _WHOLE_DIM_OPS[op]
    out = run(d)
    assert out.template.var_meta["b"] == (("x",), b.dtype.str)
    got = out.collect()
    assert got.data_vars["b"].values.dtype == np.int32
    np.testing.assert_array_equal(got.data_vars["b"].values, b)
    want = oracle(a)
    if op in ("interpolate_na", "interp", "differentiate", "integrate"):
        # NumPy's own formula, not the op's expression tree: a few ulps
        np.testing.assert_allclose(got.data_vars["a"].values, want, rtol=1e-12, atol=1e-12)
    else:
        np.testing.assert_array_equal(got.data_vars["a"].values, want)


def test_median_gathers_under_the_memory_guard(spark):
    """median/quantile gather the dim through ``_gather_dim``: a gathered
    slab over ``max_mem`` splits the other dims (metadata only, no job)."""
    from xarray_beam_spark.dataset import chunk_row_schema
    from xarray_beam_spark.plans import rechunk_plan

    sizes = {"time": 4096, "x": 65536}
    tmpl = Template(sizes=sizes, var_meta={"v": (("time", "x"), "<f8")})
    chunks = {"time": 64, "x": 65536}
    # 4096 * 65536 * 8 bytes = 2 GiB per gathered slab
    want = rechunk_plan.gather_dim_chunks(sizes, chunks, "time", 8)
    assert want["x"] < sizes["x"]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rows = spark.createDataFrame([], chunk_row_schema(sorted(sizes)))
    d = Dataset(spark, rows, tmpl, chunks)
    assert d.median("time").chunks == {"x": want["x"]}
    assert d.quantile(0.9, "time").chunks == {"x": want["x"]}
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


@pytest.mark.parametrize("op", ["roll", "take", "sortby", "shift", "interp"])
def test_whole_dim_ops_keep_split_variables(spark, era5, op):
    """Each kernel runs per variable, so split-variable input needs no
    consolidate: the result stays split and collects to the same dataset
    as the op on unsplit input."""
    run = {
        "roll": lambda d: d.roll("time", 5),
        "take": lambda d: d.take("time", [3, 0, 17, 3]),
        "sortby": lambda d: d.sortby("time", ascending=False),
        "shift": lambda d: d.shift("time", -2),
        "interp": lambda d: d.interp("time", np.array([0.5, 3.0, 22.25])),
    }[op]
    chunks = {"time": 6, "latitude": 3}
    split = run(Dataset.from_numpy(spark, era5, chunks=chunks, split_vars=True))
    whole = run(Dataset.from_numpy(spark, era5, chunks=chunks))
    assert split.split_vars
    assert split.collect().identical(whole.collect())


def test_beam_compat_pipe_chain(spark, era5):
    """Reference-spelled pipeline (compat.py shims): `nd | DatasetToChunks
    | SplitChunks | Mean | ...` must equal the native method chain, and
    every reference top-level name must be importable."""
    import xarray_beam_spark as xbs

    for name in (
        "Mean", "Key", "DatasetToChunks", "ValidateEachChunk",
        "offsets_to_slices", "Dataset", "normalize_chunks",
        "ConsolidateChunks", "ConsolidateVariables", "SplitChunks",
        "SplitVariables", "Rechunk", "in_memory_rechunk", "open_zarr",
        "make_template", "replace_template_dims", "setup_zarr",
        "ChunksToZarr", "DatasetToZarr", "dask_to_xbeam_chunks",
    ):
        assert hasattr(xbs, name), name

    piped = (
        era5
        | xbs.DatasetToChunks(spark, {"time": 10})
        | xbs.SplitChunks({"time": 5})
        | xbs.ValidateEachChunk()
        | xbs.Rechunk({"time": 12})
        | xbs.Mean("time")
    ).collect()
    native = (
        Dataset.from_numpy(spark, era5, chunks={"time": 10})
        .split_chunks({"time": 5})
        .validate()
        .rechunk({"time": 12})
        .mean("time")
        .collect()
    )
    assert piped.identical(native)
    # Mean.Globally reduces every dim
    g = (era5 | xbs.DatasetToChunks(spark, {"time": 10}) | xbs.Mean.Globally()).collect()
    for v, var in era5.data_vars.items():
        np.testing.assert_allclose(
            g.data_vars[v].values, np.nanmean(var.values.astype(np.float64))
        )


def test_beam_compat_zarr_shims(spark, era5, tmp_path):
    import xarray_beam_spark as xbs

    out = str(tmp_path / "compat.zarr")
    stats = (
        era5
        | xbs.DatasetToChunks(spark, {"time": 12})
        | xbs.ChunksToZarr(out, zarr_chunks={"time": 6})
    )
    assert stats and isinstance(stats, dict)
    template, chunks = xbs.open_zarr(out)
    assert chunks == {"time": 6, "latitude": 7, "longitude": 9}
    assert set(template.var_meta) == set(era5.data_vars)
    back = xbs.from_zarr(spark, out).collect()
    assert back.identical(era5)
    t = xbs.make_template(era5)
    assert dict(t.sizes) == {"time": 24, "latitude": 7, "longitude": 9}


def test_rechunk_accepts_dask_tuples(spark, era5):
    """ds.rechunk({'time': (6, 6, 6, 6)}) — dask-style expanded chunks
    collapse through normalize_chunks (reference core.py:366-383) and
    rechunk end-to-end."""
    d = Dataset.from_numpy(spark, era5, chunks={"time": 8})
    r = d.rechunk({"time": (6, 6, 6, 6), "latitude": 7, "longitude": 9})
    assert r.chunks["time"] == 6
    assert r.collect().identical(era5)
    import pytest

    with pytest.raises(ValueError, match="inconsistent dask chunks"):
        d.rechunk({"time": (6, 5, 6)})


def test_beam_compat_mean_per_key(spark, era5):
    """Mean.PerKey shim == groupby_reduce: the reference's re-key →
    keyed-mean climatology in Beam spelling."""
    import xarray_beam_spark as xbs

    keys = (np.arange(24) % 2).astype(np.int64)  # even/odd-hour climatology
    piped = (
        era5
        | xbs.DatasetToChunks(spark, {"time": 6})
        | xbs.Mean.PerKey("time", keys, new_dim="parity")
    ).collect()
    native = (
        Dataset.from_numpy(spark, era5, chunks={"time": 6})
        .groupby_reduce("time", keys, op="mean", new_dim="parity")
        .collect()
    )
    assert piped.identical(native)
    want = era5.data_vars["asn"].values[::2].mean(axis=0)
    np.testing.assert_allclose(  # float32 data: ~1e-6 relative error
        piped.data_vars["asn"].values[0].astype(np.float64), want, rtol=1e-5
    )


def test_beam_compat_per_chunk_write_functions(spark, era5, tmp_path):
    """validate_zarr_chunk / write_chunk_to_zarr as per-chunk free
    functions (the reference's DoFn trio): a custom writer validates and
    region-writes chunk slices; misaligned offsets are rejected loudly."""
    import xarray_beam_spark as xbs
    from xarray_beam_spark.sources import zarr_io

    out = str(tmp_path / "custom.zarr")
    template = xbs.make_template(era5)
    zarr_io.setup_zarr(template, out, {"time": 8})

    for t0 in (0, 8, 16):
        chunk = era5.isel({"time": slice(t0, t0 + 8)})
        xbs.validate_zarr_chunk({"time": t0}, chunk, out)
        n = xbs.write_chunk_to_zarr({"time": t0}, chunk, out)
        assert n > 0
    back = zarr_io.from_zarr(spark, out).collect()
    assert back.identical(era5)

    import pytest

    with pytest.raises(ValueError, match="not aligned"):
        xbs.validate_zarr_chunk({"time": 3}, era5.isel({"time": slice(3, 11)}), out)
    with pytest.raises(ValueError, match="not aligned"):
        xbs.write_chunk_to_zarr({"time": 3}, era5.isel({"time": slice(3, 11)}), out)


def test_free_functions_in_custom_mapinpandas_pipeline(spark, era5):
    """The reference's per-chunk free functions power custom pipelines: a
    hand-rolled mapInPandas splitter built on the free split_chunks must
    reproduce the engine's distributed Dataset.split_chunks exactly."""
    import pandas as pd

    from xarray_beam_spark import split_chunks as split_chunks_free
    from xarray_beam_spark.codec import decode_chunk, encode_chunk
    from xarray_beam_spark.dataset import chunk_row_schema, off_col

    ds = Dataset.from_numpy(spark, era5, chunks={"time": 10})
    dims = sorted(ds.sizes)
    schema = chunk_row_schema(dims)
    target = {"time": 5}

    def splitter(batches):
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                offs = {d: int(r[off_col(d)]) for d in dims}
                for k, sub in split_chunks_free(offs, decode_chunk(r["payload"]), target):
                    row = {off_col(d): k.offsets_dict.get(d, 0) for d in dims}
                    row["vars"] = r["vars"]
                    row["payload"] = encode_chunk(sub)
                    out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    custom = Dataset(
        spark,
        ds.df.mapInPandas(splitter, schema),
        ds.template,
        {**ds.chunks, "time": 5},
        ds.split_vars,
    )
    native = ds.split_chunks({"time": 5})
    assert custom.df.count() == native.df.count()
    assert custom.collect().identical(native.collect())


def test_free_function_meta_cache_survives_store_recreate(tmp_path, era5):
    """ADVICE r8 (medium): the per-chunk free functions' metadata memo
    must not serve stale shapes after the store at the same path is
    recreated with a different extent — a stale smaller edge would let a
    partial-unit INTERIOR write through."""
    import shutil

    import pytest

    import xarray_beam_spark as xbs
    from xarray_beam_spark.sources import zarr_io

    out = str(tmp_path / "recreated.zarr")
    zarr_io.setup_zarr(xbs.make_template(era5), out, {"time": 8})
    # prime the per-process memo with the 24-long store
    xbs.validate_zarr_chunk({"time": 16}, era5.isel({"time": slice(16, 24)}), out)

    shutil.rmtree(out)
    half = era5.isel({"time": slice(0, 12)})
    zarr_io.setup_zarr(xbs.make_template(half), out, {"time": 8})

    # stale ACCEPTANCE: under the old 24-long meta this is a full edge
    # chunk; under the new 12-long store it is out of bounds. The
    # fingerprint probe must catch the recreate.
    with pytest.raises(ValueError):
        xbs.validate_zarr_chunk(
            {"time": 16}, era5.isel({"time": slice(16, 24)}), out
        )
    # stale REJECTION: the new store's edge chunk (8..12, partial) was an
    # interior partial under the old meta — must now validate clean.
    xbs.validate_zarr_chunk({"time": 8}, half.isel({"time": slice(8, 12)}), out)


def test_free_function_meta_refetch_on_failure(tmp_path, era5, monkeypatch):
    """Even with fingerprint probing relaxed (META_RECHECK_SECONDS high,
    the immutable-store throughput mode), a validation failure must
    re-fetch metadata once before raising — so a just-resized store never
    yields a stale rejection."""
    import shutil

    import xarray_beam_spark as xbs
    from xarray_beam_spark import compat
    from xarray_beam_spark.sources import zarr_io

    monkeypatch.setattr(compat, "META_RECHECK_SECONDS", 600.0)
    out = str(tmp_path / "relaxed.zarr")
    zarr_io.setup_zarr(xbs.make_template(era5), out, {"time": 8})
    xbs.validate_zarr_chunk({"time": 0}, era5.isel({"time": slice(0, 8)}), out)

    shutil.rmtree(out)
    half = era5.isel({"time": slice(0, 12)})
    zarr_io.setup_zarr(xbs.make_template(half), out, {"time": 8})
    # stale meta says 8..12 is an interior partial (reject); the failure
    # path re-fetches and sees the new 12-long edge chunk (accept).
    xbs.validate_zarr_chunk({"time": 8}, half.isel({"time": slice(8, 12)}), out)


def test_free_function_meta_fingerprint_taken_before_fetch(
    tmp_path, era5, monkeypatch
):
    """ADVICE r9 (low): the memo must fingerprint BEFORE fetching the
    metadata. If the store is recreated DURING the fetch, caching the
    post-recreate fingerprint next to the pre-recreate metas would make
    every later probe match and serve stale shapes forever."""
    import shutil

    import xarray_beam_spark as xbs
    from xarray_beam_spark import compat
    from xarray_beam_spark.sources import zarr_io

    monkeypatch.setattr(compat, "META_RECHECK_SECONDS", 0.0)  # probe always
    out = str(tmp_path / "midfetch.zarr")
    zarr_io.setup_zarr(xbs.make_template(era5), out, {"time": 8})
    half = era5.isel({"time": slice(0, 12)})

    real_open = zarr_io.open_zarr_meta

    def racing_open(path):
        metas = real_open(path)  # read the OLD (24-long) store...
        shutil.rmtree(out)  # ...then a concurrent writer recreates it
        zarr_io.setup_zarr(xbs.make_template(half), out, {"time": 8})
        return metas  # torn read: stale metas, store already new

    monkeypatch.setattr(zarr_io, "open_zarr_meta", racing_open)
    stale = compat._arrays_meta(out, refresh=True)
    assert stale["asn"].shape[0] == 24  # cached the torn read
    monkeypatch.setattr(zarr_io, "open_zarr_meta", real_open)

    # The cached fingerprint predates the recreate, so the next probe
    # MUST mismatch and re-fetch the new 12-long store.
    fresh = compat._arrays_meta(out)
    assert fresh["asn"].shape[0] == 12


def test_compat_chunks_none_raises(spark, era5):
    """ADVICE r8: DatasetToChunks(chunks=None) must raise like the
    reference (no dask chunks to infer from), not default to one giant
    whole-array chunk."""
    import pytest

    import xarray_beam_spark as xbs

    with pytest.raises(ValueError, match="chunks must be provided"):
        era5 | xbs.DatasetToChunks(spark)


def test_compat_chunks_to_zarr_template_validated(spark, era5, tmp_path):
    """ADVICE r8: an explicit ChunksToZarr template that disagrees with
    the dataset must raise (structure) or warn (attrs), never be silently
    discarded."""
    import warnings

    import pytest

    import xarray_beam_spark as xbs
    from xarray_beam_spark.ndarray_ds import NDDataset

    ds = Dataset.from_numpy(spark, era5, chunks={"time": 8})
    wrong = era5.isel({"time": slice(0, 12)})  # different sizes
    with pytest.raises(ValueError, match="disagrees"):
        ds | xbs.ChunksToZarr(str(tmp_path / "a.zarr"), template=wrong)

    attrs_differ = NDDataset(
        dict(era5.data_vars), dict(era5.coords), {"global_attr": "other"}
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        stats = ds | xbs.ChunksToZarr(
            str(tmp_path / "b.zarr"), template=attrs_differ
        )
    assert any("attrs differ" in str(x.message) for x in w)
    assert stats["chunks_written"] > 0

    # a faithful template (the documented `make_template(ds)` spelling)
    # passes silently
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ds | xbs.ChunksToZarr(str(tmp_path / "c.zarr"), template=era5)
    assert not [x for x in w if "attrs differ" in str(x.message)]


def test_split_chunks_keep_whole_and_coarser_targets(spark, era5):
    """Distributed split_chunks: -1 / coarser-than-current targets leave
    the dim untouched and the chunk-grid metadata must describe the rows'
    ACTUAL layout (a claimed-coarser grid desyncs every later grid-keyed
    consolidation — collect() raised merge conflicts before the fix)."""
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    s = d.split_chunks({"time": -1, "latitude": 4})
    assert s.chunks["time"] == 6 and s.chunks["latitude"] == 4
    assert s.collect().identical(era5)
    # explicit coarser numeric target keeps the rechunk-stage contract:
    # rows tile the 24-cell (no new cuts here since 6 divides 24) and the
    # metadata IS the target grid, consumed by a following consolidate
    s2 = d.split_chunks({"time": 24})
    assert s2.chunks["time"] == 24
    assert s2.consolidate_chunks({"time": 24}).collect().identical(era5)


class TestR13CompatReviewRegressions:
    """Round-13 deep-review fixes in compat.py's per-chunk free functions."""

    def _dt_store(self, tmp_path, fmt=3):
        import xarray_beam_spark as xbs
        from xarray_beam_spark.ndarray_ds import NDDataset
        from xarray_beam_spark.sources import zarr_io

        nd = NDDataset(
            {
                "when": (
                    ("time",),
                    np.arange(16).astype("datetime64[s]").astype("datetime64[ns]"),
                ),
                "val": (("time",), np.arange(16.0)),
            },
        )
        out = str(tmp_path / f"dt{fmt}.zarr")
        zarr_io.setup_zarr(xbs.make_template(nd), out, {"time": 8}, zarr_format=fmt)
        return nd, out

    def test_wrapped_dtype_chunk_validates_and_writes(self, spark, tmp_path):
        """A v3 non-core dtype (datetime64) is stored as uint8 with a
        TRAILING __bytes__ axis; validate_zarr_chunk previously paired a
        PREPENDED axis with the offsets, rejecting every correct write
        to a wrapped variable."""
        import xarray_beam_spark as xbs
        from xarray_beam_spark.sources import zarr_io

        nd, out = self._dt_store(tmp_path)
        for t0 in (0, 8):
            chunk = nd.isel({"time": slice(t0, t0 + 8)})
            xbs.validate_zarr_chunk({"time": t0}, chunk, out)  # must not raise
            assert xbs.write_chunk_to_zarr({"time": t0}, chunk, out) > 0
        back = zarr_io.from_zarr(spark, out).collect()
        assert back.identical(nd)
        # misalignment on a wrapped variable is still loud
        import pytest

        with pytest.raises(ValueError, match="not aligned"):
            xbs.validate_zarr_chunk({"time": 3}, nd.isel({"time": slice(3, 11)}), out)

    def test_transposed_chunk_rejected_by_free_functions(self, tmp_path):
        """Square-grid transposed chunk: every size/alignment check passes,
        so the free functions need the same dim-ORDER guard the library
        write path applies (silent corruption otherwise)."""
        import pytest

        import xarray_beam_spark as xbs
        from xarray_beam_spark.ndarray_ds import NDDataset, Variable
        from xarray_beam_spark.sources import zarr_io

        nd = NDDataset(
            {"f": (("time", "lat"), np.arange(64.0).reshape(8, 8))},
        )
        out = str(tmp_path / "sq.zarr")
        zarr_io.setup_zarr(xbs.make_template(nd), out, {"time": 8, "lat": 8})
        flipped = NDDataset(
            {"f": Variable(("lat", "time"), nd.data_vars["f"].values.T.copy())}
        )
        with pytest.raises(ValueError, match="transpose"):
            xbs.validate_zarr_chunk({"time": 0, "lat": 0}, flipped, out)
        with pytest.raises(ValueError, match="transpose"):
            xbs.write_chunk_to_zarr({"time": 0, "lat": 0}, flipped, out)
        # the correctly-ordered chunk passes
        xbs.validate_zarr_chunk({"time": 0, "lat": 0}, nd, out)
        assert xbs.write_chunk_to_zarr({"time": 0, "lat": 0}, nd, out) > 0

    def test_unconsolidated_v3_root_is_not_a_staleness_probe(self, tmp_path):
        """An UNconsolidated v3 root zarr.json never changes when a child
        array is resized — hashing it would serve stale shapes forever.
        _meta_fingerprint must return None for such stores (falling back
        to the refetch-on-validation-failure path)."""
        import json

        from xarray_beam_spark import compat

        nd, out = self._dt_store(tmp_path)
        assert compat._meta_fingerprint(out) is not None  # consolidated: real probe
        root = os.path.join(out, "zarr.json")
        doc = json.loads(open(root).read())
        doc.pop("consolidated_metadata", None)
        open(root, "w").write(json.dumps(doc))
        assert compat._meta_fingerprint(out) is None


class TestR13DatasetReviewRegressions:
    """Round-13 deep-review fixes in dataset.py."""

    def test_stack_keeps_other_dims_chunked(self, spark, era5):
        # stack rechunks dims[1:] to single chunks — the OTHER dims must
        # keep their chunking (a partial rechunk mapping used to collapse
        # them to one whole-dim chunk each)
        d = Dataset.from_numpy(
            spark, era5, chunks={"time": 6, "latitude": 7, "longitude": 3}
        )
        st = d.stack("z", ["latitude", "longitude"])
        assert st.chunks["time"] == 6  # unrelated dim chunking preserved
        got = st.collect()
        want = era5.data_vars["asn"].values.reshape(24, -1)
        np.testing.assert_array_equal(got.data_vars["asn"].values, want)

    def test_unstack_keeps_other_dims_chunked(self, spark, era5):
        d = Dataset.from_numpy(
            spark, era5, chunks={"time": 6, "latitude": 7, "longitude": 3}
        )
        st = d.stack("z", ["latitude", "longitude"])
        back = st.unstack(
            "z",
            sizes={"latitude": 7, "longitude": 9},
            coords={
                "latitude": era5.coords["latitude"].values,
                "longitude": era5.coords["longitude"].values,
            },
        )
        assert back.chunks["time"] == 6
        assert back.collect().equals(era5.transpose("time", "latitude", "longitude"))

    def test_from_table_sparse_cells_fill(self, spark):
        # a grid cell with ZERO table rows must still exist (fill_value
        # chunk), not leave a hole that silently truncates collect()
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "x": [0, 1, 2, 7, 8, 9],  # nothing lands in cell x∈[3,6)
                "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            }
        )
        tbl = spark.createDataFrame(pdf)
        d = Dataset.from_table(
            tbl,
            dims=["x"],
            coords={"x": np.arange(10, dtype=np.int64)},
            var_cols=["v"],
            chunks={"x": 3},
            fill_value=np.nan,
        )
        got = d.collect()
        assert got.sizes["x"] == 10
        vals = got.data_vars["v"].values
        assert np.isnan(vals[3:7]).all()
        assert vals[0] == 1.0 and vals[9] == 6.0

    def test_collect_incomplete_grid_is_loud(self, spark, era5):
        d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
        broken = Dataset(
            spark,
            d.df.filter(F.col(off_col("time")) != 6),
            d.template,
            d.chunks,
            d.split_vars,
        )
        with pytest.raises(ValueError, match="missing chunk rows"):
            broken.collect()

    def test_getitem_unknown_var_is_loud(self, spark, era5):
        d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
        with pytest.raises(KeyError, match="temperture"):
            d["temperture"]
        ds = Dataset.from_numpy(spark, era5, chunks={"time": 6}, split_vars=True)
        with pytest.raises(KeyError, match="temperture"):
            ds["temperture"]

    def test_expand_dims_existing_dim_is_loud(self, spark, era5):
        d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
        with pytest.raises(ValueError, match="already exist"):
            d.expand_dims(time=5)

    def test_sel_exact_on_unsorted_coord(self, spark):
        nd = NDDataset(
            {"f": (("t",), np.array([10.0, 20.0, 30.0]))},
            coords={"t": np.array([2020, 2021, 2019], dtype=np.int64)},
        )
        d = Dataset.from_numpy(spark, nd, chunks={"t": 3})
        got = d.sel(t=2019).collect()
        assert got.data_vars["f"].values.tolist() == [30.0]
        # duplicates: first occurrence wins
        nd2 = NDDataset(
            {"f": (("t",), np.array([1.0, 2.0, 3.0]))},
            coords={"t": np.array([7, 3, 7], dtype=np.int64)},
        )
        d2 = Dataset.from_numpy(spark, nd2, chunks={"t": 3})
        assert d2.sel(t=7).collect().data_vars["f"].values.tolist() == [1.0]

    def test_groupby_min_int_empty_group_is_loud(self, spark):
        nd = NDDataset(
            {"f": (("t",), np.arange(6, dtype=np.int64))},
        )
        d = Dataset.from_numpy(spark, nd, chunks={"t": 3})
        # multi-key: the composite covers the FULL a x b product, so the
        # (0, 1) and (1, 0) combinations are empty
        by = {
            "a": np.array([0, 0, 0, 1, 1, 1]),
            "b": np.array([0, 0, 0, 1, 1, 1]),
        }
        with pytest.raises(Exception, match="integer dtype"):
            d.groupby_reduce("t", by, op="min", new_dim="g").collect()
        # float variables represent empties as NaN, no error
        ndf = NDDataset({"f": (("t",), np.arange(6, dtype=np.float64))})
        df_ = Dataset.from_numpy(spark, ndf, chunks={"t": 3})
        got = df_.groupby_reduce("t", by, op="min", new_dim="g").collect()
        vals = got.data_vars["f"].values
        assert vals[0, 0] == 0.0 and vals[1, 1] == 3.0
        assert np.isnan(vals[0, 1]) and np.isnan(vals[1, 0])

    def test_agg_with_non_identifier_dim_name(self, spark):
        nd = NDDataset(
            {"f": (("lat-lon",), np.arange(8.0))},
        )
        d = Dataset.from_numpy(spark, nd, chunks={"lat-lon": 4})
        got = d.mean("lat-lon").collect()
        assert float(got.data_vars["f"].values) == 3.5
