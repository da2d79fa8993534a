"""concat / weighted_mean / fillna operator semantics vs in-memory NumPy."""

from __future__ import annotations

import numpy as np
import pytest

from xarray_beam_spark import dataset as dsmod
from xarray_beam_spark.dataset import Dataset
from xarray_beam_spark.ndarray_ds import NDDataset

from tests.test_dataset_spark import dummy_era5


@pytest.fixture(scope="module")
def era5():
    return dummy_era5(n_time=24)


def test_concat_identity_roundtrip(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    a = d.isel(time=slice(0, 12))
    b = d.isel(time=slice(12, 24))
    got = dsmod.concat([a, b], "time").collect()
    assert got.identical(era5)


def test_concat_three_way_uneven_tail(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    parts = [d.isel(time=slice(0, 6)), d.isel(time=slice(6, 18)), d.isel(time=slice(18, 23))]
    got = dsmod.concat(parts, "time").collect()
    assert got.identical(era5.isel({"time": slice(0, 23)}))


def test_concat_offsets_stay_on_grid(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    out = dsmod.concat([d.isel(time=slice(0, 12)), d.isel(time=slice(12, 24))], "time")
    offs = sorted(r["off_time"] for r in out.df.select("off_time").collect())
    assert offs == [0, 6, 12, 18]


def test_concat_rejects_misaligned_split(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    a = d.isel(time=slice(0, 8))  # 8 % 6 != 0
    b = d.isel(time=slice(8, 24))
    with pytest.raises(ValueError, match="not a multiple of chunk"):
        dsmod.concat([a, b], "time")


def test_concat_rejects_oversized_single_chunk_tail(spark, era5):
    # A final single-chunk input LARGER than the shared chunk size must be
    # rejected: declaring chunks[time]=6 over an 18-row chunk would let
    # offset pruning (bounded by off + chunks) silently drop 12 rows.
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    a = d.isel(time=slice(0, 6))
    tail = Dataset.from_numpy(spark, era5.isel({"time": slice(6, 24)}), chunks={"time": 18})
    with pytest.raises(ValueError, match="chunk mismatch"):
        dsmod.concat([a, tail], "time")


def test_concat_rejects_size_mismatch(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    a = d.isel(time=slice(0, 6))
    b = d.isel(time=slice(6, 12), latitude=slice(0, 3))
    with pytest.raises(ValueError, match="size mismatch"):
        dsmod.concat([a, b], "time")


def test_weighted_mean_matches_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    w = np.linspace(1.0, 3.0, 24)
    got = d.weighted_mean("time", w).collect()
    for v, var in era5.data_vars.items():
        vals = var.values.astype(np.float64)
        want = np.tensordot(w, vals, axes=(0, 0)) / w.sum()
        np.testing.assert_allclose(got.data_vars[v].values, want, rtol=1e-12)


def test_weighted_mean_skips_nan_cells(spark):
    vals = np.array([[1.0, np.nan], [3.0, 5.0], [np.nan, np.nan]])
    src = NDDataset(
        {"x": (("t", "y"), vals)},
        {"t": np.arange(3, dtype=np.int64), "y": np.arange(2, dtype=np.int64)},
    )
    d = Dataset.from_numpy(spark, src, chunks={"t": 2})
    w = np.array([2.0, 3.0, 5.0])
    got = d.weighted_mean("t", w).collect().data_vars["x"].values
    # col 0: (2*1 + 3*3) / (2+3); col 1: (3*5)/3
    np.testing.assert_allclose(got, [11.0 / 5.0, 5.0])


def test_weighted_mean_all_nan_cell_is_nan(spark):
    vals = np.array([[np.nan], [np.nan]])
    src = NDDataset({"x": (("t", "y"), vals)},
                    {"t": np.arange(2, dtype=np.int64), "y": np.arange(1, dtype=np.int64)})
    d = Dataset.from_numpy(spark, src, chunks={"t": 1})
    got = d.weighted_mean("t", np.array([1.0, 1.0])).collect()
    assert np.isnan(got.data_vars["x"].values).all()


def test_weighted_mean_rejects_bad_shape(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    with pytest.raises(ValueError, match="weights shape"):
        d.weighted_mean("time", np.ones(7))


def test_fillna(spark):
    vals = np.array([1.0, np.nan, 3.0])
    src = NDDataset({"x": (("t",), vals)}, {"t": np.arange(3, dtype=np.int64)})
    d = Dataset.from_numpy(spark, src, chunks={"t": 2})
    got = d.fillna(-1.0).collect().data_vars["x"].values
    np.testing.assert_array_equal(got, [1.0, -1.0, 3.0])


def test_concat_plan_has_no_exchange(spark, era5):
    """concat must be a pure union of offset-shifted scans — no shuffle."""
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    out = dsmod.concat([d.isel(time=slice(0, 12)), d.isel(time=slice(12, 24))], "time")
    plan = out.df._sc._jvm.PythonSQLUtils.explainString(
        out.df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "Union" in plan


def test_rename_astype_dropvars_assign_attrs(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    r = d.rename({"asn": "snow"})
    assert "snow" in r.template.var_names and "asn" not in r.template.var_names
    got = r.collect()
    np.testing.assert_array_equal(got.data_vars["snow"].values, era5.data_vars["asn"].values)

    c = d.astype("float64")
    assert all(m[1] == "<f8" for m in c.template.var_meta.values())
    np.testing.assert_allclose(
        c.collect().data_vars["asn"].values, era5.data_vars["asn"].values.astype("float64")
    )

    dv = d.drop_vars("asn")
    assert dv.template.var_names == ["d2m"]

    aa = d.assign_attrs(source="unit-test")
    assert aa.template.attrs["source"] == "unit-test"
    assert aa.df is d.df  # metadata-only: no new plan


def test_rename_collision_raises(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    import pytest as _pt
    with _pt.raises(ValueError, match="collides"):
        d.rename({"asn": "d2m"})


def test_argmin_argmax_vs_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    got_min = d.argmin("time").collect()
    got_max = d.argmax("time").collect()
    for v, var in era5.data_vars.items():
        np.testing.assert_array_equal(
            got_min.data_vars[v].values, np.argmin(var.values, axis=0).astype(np.float64)
        )
        np.testing.assert_array_equal(
            got_max.data_vars[v].values, np.argmax(var.values, axis=0).astype(np.float64)
        )


def test_argmin_ties_and_nans_chunking_independent(spark):
    vals = np.array(
        [[5.0, np.nan, 1.0], [2.0, np.nan, 1.0], [2.0, np.nan, 0.5], [9.0, np.nan, 0.5]]
    )
    src = NDDataset(
        {"x": (("t", "y"), vals)},
        {"t": np.arange(4, dtype=np.int64), "y": np.arange(3, dtype=np.int64)},
    )
    for c in (1, 2, 3, 4):
        got = Dataset.from_numpy(spark, src, chunks={"t": c}).argmin("t").collect()
        res = got.data_vars["x"].values
        assert res[0] == 1.0  # min 2.0 first occurs at t=1 (tie with t=2)
        assert np.isnan(res[1])  # all-NaN series
        assert res[2] == 2.0  # min 0.5 first occurs at t=2


def test_cumulative_matches_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 6})
    got = d.cumulative("time", op="sum").collect()
    for v, var in era5.data_vars.items():
        np.testing.assert_allclose(
            got.data_vars[v].values,
            np.cumsum(var.values.astype(np.float64), axis=0),
            rtol=1e-12,
        )


def _nan_era5(era5, seed=5, frac=0.35):
    rng = np.random.default_rng(seed)
    dvs = {}
    for v, var in era5.data_vars.items():
        vals = var.values.astype(np.float64).copy()
        vals[rng.random(vals.shape) < frac] = np.nan
        dvs[v] = (var.dims, vals)
    return NDDataset(dvs, dict(era5.coords), dict(era5.attrs))


@pytest.mark.parametrize("limit", [None, 2])
def test_ffill_bfill_match_pandas(spark, era5, limit):
    import pandas as pd

    nd = _nan_era5(era5)
    d = Dataset.from_numpy(spark, nd, chunks={"time": 6})
    for method in ("ffill", "bfill"):
        got = getattr(d, method)("time", limit=limit).collect()
        for v, var in nd.data_vars.items():
            flat = var.values.reshape(var.values.shape[0], -1)
            want = (
                getattr(pd.DataFrame(flat), method)(limit=limit)
                .to_numpy()
                .reshape(var.values.shape)
            )
            np.testing.assert_array_equal(got.data_vars[v].values, want, err_msg=f"{method} {v}")


def test_ffill_all_nan_series_stays_nan(spark):
    nd = NDDataset(
        {"x": (("time",), np.full(10, np.nan))},
        {"time": np.arange(10, dtype=np.int64)},
        {},
    )
    d = Dataset.from_numpy(spark, nd, chunks={"time": 4})
    assert np.all(np.isnan(d.ffill("time").collect().data_vars["x"].values))


@pytest.mark.parametrize("method", ["average", "min", "max", "dense"])
def test_rank_matches_pandas(spark, era5, method):
    import pandas as pd

    nd = _nan_era5(era5, seed=9)
    # integer-quantize so ties actually occur
    nd = NDDataset(
        {v: (var.dims, np.floor(var.values * 2.0)) for v, var in nd.data_vars.items()},
        dict(nd.coords),
        dict(nd.attrs),
    )
    d = Dataset.from_numpy(spark, nd, chunks={"time": 6})
    got = d.rank("time", method=method).collect()
    for v, var in nd.data_vars.items():
        flat = var.values.reshape(var.values.shape[0], -1)
        want = (
            pd.DataFrame(flat).rank(method=method).to_numpy().reshape(var.values.shape)
        )
        np.testing.assert_array_equal(got.data_vars[v].values, want, err_msg=f"{v}")


def test_interpolate_na_matches_pandas(spark, era5):
    import pandas as pd

    nd = _nan_era5(era5, seed=13, frac=0.4)
    d = Dataset.from_numpy(spark, nd, chunks={"time": 6})
    got = d.interpolate_na("time").collect()
    for v, var in nd.data_vars.items():
        flat = var.values.reshape(var.values.shape[0], -1)
        want = (
            pd.DataFrame(flat)
            .interpolate(method="linear", limit_area="inside")
            .to_numpy()
            .reshape(var.values.shape)
        )
        np.testing.assert_allclose(
            got.data_vars[v].values, want, rtol=1e-12, err_msg=v
        )


def test_trend_matches_polyfit(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 5})
    got = d.trend("time").collect()
    for v, var in era5.data_vars.items():
        vals = var.values.astype(np.float64)
        flat = vals.reshape(vals.shape[0], -1)
        want = np.polyfit(np.arange(vals.shape[0]), flat, 1)[0].reshape(vals.shape[1:])
        np.testing.assert_allclose(got.data_vars[v].values, want, rtol=1e-8, err_msg=v)


def test_trend_skipna_and_degenerate(spark):
    vals = np.array(
        [[1.0, np.nan, 5.0], [2.0, np.nan, np.nan], [3.0, np.nan, np.nan], [4.0, 7.0, 2.0]]
    )
    nd = NDDataset(
        {"x": (("time", "s"), vals)},
        {"time": np.arange(4, dtype=np.int64), "s": np.arange(3, dtype=np.int64)},
        {},
    )
    d = Dataset.from_numpy(spark, nd, chunks={"time": 2})
    got = d.trend("time").collect().data_vars["x"].values
    assert np.isclose(got[0], 1.0)  # perfect line
    assert np.isnan(got[1])  # single point -> undefined
    # two points at i=0 (y=5) and i=3 (y=2): slope -1
    assert np.isclose(got[2], -1.0)


def test_corr_matches_numpy(spark, era5):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 5})
    got = d.corr("asn", "d2m", "time").collect()
    a = era5.data_vars["asn"].values.astype(np.float64)
    b = era5.data_vars["d2m"].values.astype(np.float64)
    flat_a = a.reshape(a.shape[0], -1)
    flat_b = b.reshape(b.shape[0], -1)
    want = np.array(
        [np.corrcoef(flat_a[:, j], flat_b[:, j])[0, 1] for j in range(flat_a.shape[1])]
    ).reshape(a.shape[1:])
    np.testing.assert_allclose(got.data_vars["corr"].values, want, rtol=1e-10)


def test_corr_pairwise_nan_and_constant(spark):
    x = np.array([[1.0, 1.0], [2.0, 1.0], [np.nan, 1.0], [4.0, 1.0]])
    y = np.array([[2.0, 3.0], [4.0, 4.0], [9.0, 5.0], [8.0, 6.0]])
    nd = NDDataset(
        {"x": (("time", "s"), x), "y": (("time", "s"), y)},
        {"time": np.arange(4, dtype=np.int64), "s": np.arange(2, dtype=np.int64)},
        {},
    )
    d = Dataset.from_numpy(spark, nd, chunks={"time": 2})
    got = d.corr("x", "y", "time").collect().data_vars["corr"].values
    # series 0: pairwise-drop the NaN row -> corr of (1,2,4) vs (2,4,8) = 1
    assert np.isclose(got[0], 1.0)
    assert np.isnan(got[1])  # constant x -> undefined


def test_histogram_matches_numpy(spark, era5):
    nd = _nan_era5(era5, seed=21)
    d = Dataset.from_numpy(spark, nd, chunks={"time": 6})
    edges = np.linspace(-3.0, 3.0, 13)
    got = d.histogram("time", edges).collect()
    for v, var in nd.data_vars.items():
        vals = var.values
        flat = vals.reshape(vals.shape[0], -1)
        want = np.stack(
            [
                np.histogram(col[~np.isnan(col)], bins=edges)[0]
                for col in flat.T
            ],
            axis=1,
        ).reshape((len(edges) - 1,) + vals.shape[1:])
        # np.histogram closes the last bin on the right; our semantics are
        # half-open everywhere, so drop any value exactly == edges[-1]
        exact_top = np.nansum(flat == edges[-1], axis=0).reshape(vals.shape[1:])
        want[-1] = want[-1] - exact_top
        np.testing.assert_array_equal(got.data_vars[v].values, want, err_msg=v)
    assert got.coords["bin"].values.tolist() == list(range(12))


def test_histogram_tree_merge_and_out_of_range(spark, era5, monkeypatch):
    d = Dataset.from_numpy(spark, era5, chunks={"time": 2})
    edges = np.array([-0.5, 0.0, 0.5])
    monkeypatch.setattr(dsmod, "DEFAULT_MERGE_FANIN", 2)
    got = d.histogram("time", edges).collect()
    single = Dataset.from_numpy(spark, era5, chunks={"time": 24}).histogram(
        "time", edges
    ).collect()
    for v in era5.data_vars:
        np.testing.assert_array_equal(
            got.data_vars[v].values, single.data_vars[v].values
        )
        vals = era5.data_vars[v].values
        in_range = ((vals >= -0.5) & (vals < 0.5)).sum(axis=0)
        np.testing.assert_array_equal(got.data_vars[v].values.sum(axis=0), in_range)
